package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Intervals.{ValidFrom, ValidUntil, intervalsOverlap}

/** Bitemporal interval joins.
  *
  * `truncate`: intersect each secondary feature table with the primary's
  * validity on their shared `key_*` columns
  * (reference: R/truncate_interlace.R:94-114).
  *
  * `interlace`: merge N bitemporal tables into one, segmenting each key's
  * timeline on the union of all validity breakpoints (the SCDB::interlace
  * step used at R/truncate_interlace.R:117).
  *
  * Spark-first design: `truncate` is an equi-join on the key columns with
  * a range residual predicate, so Catalyst plans a shuffle/broadcast hash
  * join keyed on `key_*`. `interlace` is one window per key over the
  * union of its inputs (one shuffle), not a join per table; nothing is
  * cached and no per-key loop runs outside Spark. Per key, interlace does
  * O(events × rows) work, the same bound as a per-key range join.
  */
object Interlace {

  private def payloadCols(df: DataFrame, keys: Seq[String]): Seq[String] =
    df.columns.filterNot(c =>
      keys.contains(c) || c == ValidFrom || c == ValidUntil).toSeq

  /** Truncate one secondary table to the primary's validity.
    *
    * Inner overlap join on the shared keys; the intersected interval is
    * computed with the same CASE expressions the reference's dplyr code
    * translates to on SQL backends (R/truncate_interlace.R:109-112).
    * Output schema: primary columns (intervals intersected) ++ secondary
    * payload columns.
    */
  def truncateOne(primary: DataFrame, secondary: DataFrame,
                  keys: Seq[String]): DataFrame = {
    val p = primary.alias("p")
    val s = secondary.alias("s")
    val keyEq = keys.map(k => col(s"p.$k") <=> col(s"s.$k")).reduce(_ && _)
    val overlap = intervalsOverlap(
      col(s"p.$ValidFrom"), col(s"p.$ValidUntil"),
      col(s"s.$ValidFrom"), col(s"s.$ValidUntil"))
    val pPayload = payloadCols(primary, keys)
    val sPayload = payloadCols(secondary, keys)
    p.join(s, keyEq && overlap, "inner")
      .select(
        keys.map(k => col(s"p.$k")) ++
          pPayload.map(c => col(s"p.$c")) ++
          sPayload.map(c => col(s"s.$c")) ++ Seq(
            when(col(s"p.$ValidFrom") >= col(s"s.$ValidFrom"),
              col(s"p.$ValidFrom")).otherwise(col(s"s.$ValidFrom"))
              .as(ValidFrom),
            when(col(s"p.$ValidUntil") <= col(s"s.$ValidUntil"),
              col(s"p.$ValidUntil")).otherwise(col(s"s.$ValidUntil"))
              .as(ValidUntil)
          ): _*)
  }

  /** Interlace N bitemporal tables sharing `keys`: one output row per
    * (key, segment) where segments are delimited by the union of all
    * tables' breakpoints; each payload column takes the value valid in
    * that segment (NULL when that table has no valid row there). Payload
    * columns appearing in several tables (e.g. the primary's columns
    * repeated through `truncateOne`) are coalesced in first-table order.
    * Segments covered by no table are dropped. Rows of one table that
    * overlap within a key combine as SCDB's do: one output row per
    * combination of the tables' valid rows.
    *
    * One pass over the union of the inputs: each row becomes a start
    * event at `valid_from`, carrying its payload in its table's own
    * struct column, and an end event at `valid_until`. One window per
    * key ordered by event date collects the rows started so far and
    * `lead` finds the next distinct date; a higher-order `filter` keeps
    * the rows still valid there, and one `explode_outer` per table forms
    * the combinations. A NULL date cuts nothing: an open end adds no
    * breakpoint and a row with no start is never valid, while empty and
    * inverted rows still cut the others. Cost per key: O(events × rows)
    * work, the bound of a per-key range join.
    */
  def interlace(tables: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "interlace needs at least one table")
    if (tables.size == 1) return tables.head
    val keyCols = keys.map(col)
    val payloads = tables.map(payloadCols(_, keys))
    val rowCols = tables.indices.map(i => s"__r$i")
    // table i's rows carry (payload, valid_until) in `__r$i`, NULL in
    // every other table's rows
    val rows = tables.indices.map { i =>
      tables(i).select(keyCols ++ Seq(
        struct(payloads(i).map(col) :+ col(ValidUntil): _*).as(rowCols(i)),
        col(ValidFrom), col(ValidUntil)): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val events = rows
      .select(keyCols ++ rowCols.map(col) :+ explode(array(
        struct(col(ValidFrom).as("d"), lit(true).as("start")),
        struct(col(ValidUntil).as("d"), lit(false).as("start")))).as("__e"): _*)
      .filter(col("__e.d").isNotNull)
      .select(keyCols ++ rowCols.map(r => when(col("__e.start"), col(r)).as(r))
        :+ col("__e.d").as("__d"): _*)

    // Every event of a date sees the same RANGE frame; only the last one
    // of them has the next distinct date as its `lead`.
    val d = col("__d")
    val w = Window.partitionBy(keyCols: _*).orderBy(d)
    val upTo = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val segs = events
      .select(keyCols ++ rowCols.map(r =>
          filter(collect_list(col(r)).over(upTo),
            x => x(ValidUntil) > d || x(ValidUntil).isNull).as(r)) ++
        Seq(d.as(ValidFrom), lead(d, 1).over(w).as(ValidUntil)): _*)
      .filter((col(ValidUntil).isNull || col(ValidUntil) > col(ValidFrom)) &&
        rowCols.map(r => size(col(r)) > 0).reduce(_ || _))
    val combos = rowCols.foldLeft(segs)((df, r) =>
      df.withColumn(r, explode_outer(col(r))))

    val outCols =
      keyCols ++
        payloads.flatten.distinct.map { c =>
          val sources = tables.indices.filter(i => payloads(i).contains(c))
            .map(i => col(rowCols(i)).getField(c))
          (if (sources.size == 1) sources.head else coalesce(sources: _*))
            .as(c)
        } ++ Seq(col(ValidFrom), col(ValidUntil))
    combos.select(outCols: _*)
  }

  /** truncate_interlace: truncate each secondary to the primary, then
    * interlace the truncated tables (reference: R/truncate_interlace.R:80-120).
    * Keys default to the primary's `key_*` columns shared with each
    * secondary.
    */
  def truncateInterlace(primary: DataFrame,
                        secondary: Seq[DataFrame]): DataFrame = {
    if (secondary.isEmpty) return primary
    val primaryKeys = graft.core.Intervals.keyCols(primary)
    val truncated = secondary.map { s =>
      val common = primaryKeys.intersect(graft.core.Intervals.keyCols(s))
      require(common.nonEmpty, "No common keys found to interlace by!")
      truncateOne(primary, s, common)
    }
    interlace(truncated, Seq(primaryKeys.head))
  }
}
