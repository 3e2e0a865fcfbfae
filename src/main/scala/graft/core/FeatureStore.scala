package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Interlace

/** The flagship query of the engine: turn interval-valid feature rows into
  * a per-day (× stratification) time series.
  *
  * Semantics mirror the reference's `key_join_features`
  * (reference: R/DiseasystoreBase.R:286-506):
  *   1. clamp observable + stratification features to [start, end+1)
  *   2. truncate-interlace the stratifications onto the observable
  *   3. aggregate "added" mass at `valid_from` and "removed" mass at
  *      `valid_until` per (stratification, date)
  *   4. emit `observable = cumsum(n_add) - cumsum(n_remove)` for every
  *      stratum on every day of [start, end]
  *
  * Spark-first re-architecture (not a port): the reference runs two
  * group-bys (t_add, t_remove), materializes both, and right-joins them
  * onto the date × strata grid. Here both aggregations are fused into ONE
  * shuffle: each interlaced row explodes into an add mark at
  * `valid_from`, a remove mark at `valid_until` and an empty mark at
  * `start`, aggregated once with conditional aggregates (map-side partial
  * aggregation shrinks the shuffled volume). No grid is built:
  * [[dailySeries]] takes the prefix sum at each change date, in a window
  * partitioned by strata (bounded cardinality) over the already-tiny
  * delta, and run-length expands it to the days up to the next change.
  * Nothing is cached, with any number of strata (the interlace of 2+
  * strata is one window), so nothing outlives the query.
  */
object KeyJoinFeatures {

  /** @param observable     bitemporal table holding `feature`
    * @param observableName output column name (e.g. "n_positive")
    * @param feature        column of `observable` to aggregate
    * @param agg            key-join aggregator (sum/min/max/count)
    * @param stratifications bitemporal tables carrying the strat columns,
    *                        joined on shared `key_*`s
    * @param stratCols      stratification column names in the output
    * @param start          study start date "yyyy-MM-dd" (inclusive)
    * @param endInclusive   study end date (inclusive)
    */
  def apply(
      observable: DataFrame,
      observableName: String,
      feature: String,
      agg: KeyJoinAggregator,
      stratifications: Seq[DataFrame],
      stratCols: Seq[String],
      start: String,
      endInclusive: String): DataFrame =
    withExprs(observable, observableName, feature, agg, stratifications,
      stratCols.map(c => c -> col(c)), start, endInclusive)

  /** Generalized stratification: each output stratum is a named
    * EXPRESSION evaluated over the interlaced rows (the reference
    * accepts arbitrary quosures — constants, derived cuts, renames — not
    * just feature columns; R/DiseasystoreBase.R:428-452
    * `group_by(!!!stratification)`). Columns referenced by the
    * expressions must exist on the observable or an interlaced
    * stratification table. */
  def withExprs(
      observable: DataFrame,
      observableName: String,
      feature: String,
      agg: KeyJoinAggregator,
      stratifications: Seq[DataFrame],
      stratExprs: Seq[(String, Column)],
      start: String,
      endInclusive: String): DataFrame = {

    val stratCols = stratExprs.map(_._1)
    val endExcl =
      java.time.LocalDate.parse(endInclusive).plusDays(1).toString
    def clamp(df: DataFrame) = Intervals.clamp(df, start, endExcl)
    val interlaced0 = Interlace.truncateInterlace(clamp(observable),
      stratifications.map(clamp))
    // evaluate the stratification expressions into real columns before
    // the delta aggregation (a plain projection — Catalyst merges it)
    val interlaced = stratExprs.foldLeft(interlaced0) {
      case (d, (n, e)) => d.withColumn(n, e)
    }

    val sc = stratCols.map(col)
    val featC = col(feature)

    // Fused add/remove delta aggregation: one scan (explode, not a
    // two-armed union that would read the source twice) and one shuffle.
    // The third, empty mark puts a row at `start` in every stratum, which
    // the series emitter needs; it aggregates to nothing.
    val delta = interlaced
      .select(sc :+ explode(array(
        struct(col(Intervals.ValidFrom).as("date"),
          lit(true).as("is_add"), featC.as("f")),
        struct(col(Intervals.ValidUntil).as("date"),
          lit(false).as("is_add"), featC.as("f")),
        struct(to_date(lit(start)).as("date"),
          lit(null).cast("boolean").as("is_add"), featC.as("f")))).as("__d"): _*)
      .groupBy((sc :+ col("__d.date").as("date")): _*)
      .agg(
        agg.aggWhere(col("__d.f"), col("__d.is_add")).as("n_add"),
        agg.aggWhere(col("__d.f"), !col("__d.is_add")).as("n_remove"))

    dailySeries(delta, stratCols, observableName, start, endInclusive)
  }

  /** Per stratum and day of [start, endInclusive]: `cumsum(n_add) -
    * cumsum(n_remove)` over the rows of `delta` (stratCols, `date`,
    * `n_add`, `n_remove`; NULL counts 0) dated in [start, day]. `delta`
    * must hold a `start` row for every stratum (with no strata one is
    * added here, so an empty period reads 0); rows may tie. The running
    * sum is taken per change date over a RANGE frame (ties share it and
    * all but one are dropped), then expanded to the day before the next
    * change, or to the end. */
  def dailySeries(delta: DataFrame, stratCols: Seq[String],
                  observableName: String, start: String,
                  endInclusive: String): DataFrame = {
    val startD = to_date(lit(start))
    val endD = to_date(lit(endInclusive))
    val marked =
      if (stratCols.nonEmpty) delta
      else delta.unionByName(delta.sparkSession.range(1).select(
        startD.as("date"), lit(null).as("n_add"), lit(null).as("n_remove")))
    val w = Window.partitionBy(stratCols.map(col): _*).orderBy(col("date"))
    val upTo = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    def cum(c: String): Column = sum(coalesce(col(c), lit(0))).over(upTo)
    marked
      .filter(col("date") >= startD)
      .select((stratCols.map(col) :+ col("date")) ++ Seq(
        (cum("n_add") - cum("n_remove")).as(observableName),
        lead(col("date"), 1).over(w).as("__next")): _*)
      .filter(col("date") <= endD &&
        (col("__next").isNull || col("__next") > col("date")))
      .select((explode(sequence(col("date"),
          least(date_sub(col("__next"), 1), endD))).as("date") +:
        stratCols.map(col)) :+ col(observableName): _*)
  }
}
