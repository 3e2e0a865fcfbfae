package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bitemporal interval conventions.
  *
  * A feature table carries `key_*` columns, feature value columns, and an
  * event-validity interval `valid_from` (inclusive) / `valid_until`
  * (exclusive; NULL = open-ended), matching the reference contract
  * (reference: R/2_FeatureHandler.R:56-63).
  *
  * All helpers are plain column predicates/projections — they stay inside
  * whole-stage codegen and push down to parquet scans.
  */
object Intervals {
  val ValidFrom = "valid_from"
  val ValidUntil = "valid_until"

  def keyCols(df: DataFrame): Seq[String] =
    df.columns.filter(_.startsWith("key_")).toSeq

  /** Row is valid somewhere inside [start, endExclusive)?
    * Mirrors the reference's period join condition
    * (reference: R/DiseasystoreBase.R:266-269):
    * `valid_from <= end AND (valid_until > start OR valid_until IS NULL)`.
    * Note the reference compares `valid_from <= valid_until.p` with the
    * period's `valid_until` being the *inclusive* end date. */
  def overlapsPeriod(start: Column, endInclusive: Column): Column =
    col(ValidFrom) <= endInclusive &&
      (col(ValidUntil) > start || col(ValidUntil).isNull)

  /** Slice a feature table to the study period (the tail of `get_feature`). */
  def slice(df: DataFrame, start: String, endInclusive: String): DataFrame =
    df.filter(overlapsPeriod(to_date(lit(start)), to_date(lit(endInclusive))))

  /** Clamp validity to [start, endExclusive): open ends are closed at
    * `endExclusive` (reference: R/DiseasystoreBase.R:313-322). */
  def clamp(df: DataFrame, start: String, endExclusive: String): DataFrame = {
    val s = to_date(lit(start))
    val e = to_date(lit(endExclusive))
    df.withColumn(ValidFrom, greatest(col(ValidFrom), s))
      .withColumn(ValidUntil, least(coalesce(col(ValidUntil), e), e))
  }

  /** Merge overlapping/touching validity intervals per key (interval
    * UNION — gaps-and-islands): `[a,b) ∪ [b,c) = [a,c)`. One shuffle on
    * the keys; islands found with a running max-end window, no
    * self-join. NULL `valid_until` (open-ended) swallows everything
    * from its `valid_from` on. Output: one row per merged span with the
    * key columns + `valid_from`/`valid_until`. */
  def mergePerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    // Island detection is insensitive to where ties/NULLs sort (equal
    // rows produce identical running maxima), but the running max must
    // treat an open end as +infinity — a far sentinel used ONLY inside
    // the window. Openness is tracked as its own flag rather than
    // round-tripped through the sentinel, so a legitimate
    // `valid_until = 9999-12-31` row stays closed in the output.
    val sentinel = to_date(lit("9999-12-31"))
    val ord = Seq(col(ValidFrom), col(ValidUntil))
    val w = Window.partitionBy(kc: _*).orderBy(ord: _*)
    val prevMax = max(coalesce(col(ValidUntil), sentinel))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = df
      .withColumn("__ni",
        (prevMax.isNull || col(ValidFrom) > prevMax).cast("int"))
      .withColumn("__island",
        sum(col("__ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    islands.groupBy(kc :+ col("__island"): _*)
      .agg(min(col(ValidFrom)).as(ValidFrom),
        max(col(ValidUntil)).as("__u"),
        max(col(ValidUntil).isNull.cast("int")).as("__open"))
      .select(kc :+ col(ValidFrom) :+
        when(col("__open") === 1, lit(null).cast("date"))
          .otherwise(col("__u")).as(ValidUntil): _*)
  }

  /** Daily NON-INVERTIBLE aggregates over multi-day validity intervals
    * (min / max / count-distinct per active day). The delta + prefix-sum
    * trick behind `KeyJoinFeatures` needs an invertible aggregator —
    * subtraction at `valid_until` — which min/max/distinct don't have;
    * the reference dodges this with a 1-day-validity quirk. The general
    * path: explode each interval into its study-period days and
    * aggregate per (date, strata). Fanout is bounded by interval length
    * × rows, and partial aggregation collapses it map-side before the
    * one shuffle on (date, strata) — the same scan-heavy/shuffle-light
    * shape as the delta pipeline. */
  def dailyAgg(df: DataFrame, start: String, endInclusive: String,
               stratCols: Seq[String],
               aggs: Seq[Column]): DataFrame = {
    val s = to_date(lit(start))
    val e = to_date(lit(endInclusive))
    // the zero-length guard matters: sequence(a, b) with a > b yields a
    // DESCENDING sequence, so an empty [x, x) interval would fabricate
    // two phantom active days instead of none
    df.filter(overlapsPeriod(s, e) &&
        (col(ValidUntil).isNull || col(ValidFrom) < col(ValidUntil)))
      .withColumn("date", explode(sequence(
        greatest(col(ValidFrom), s),
        least(coalesce(date_sub(col(ValidUntil), 1), e), e))))
      .groupBy((col("date") +: stratCols.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Per-key interval DIFFERENCE a ∖ b: the parts of `a`'s validity not
    * covered by `b` (e.g. hospital episodes minus ICU stays). Composed
    * from the engine's own machinery: tag both sides, segment on the
    * per-key breakpoint union (`Interlace.interlace` — one window per
    * key over both sides, no join), keep segments covered only by `a`,
    * re-merge touching survivors. */
  def subtractPerKey(a: DataFrame, b: DataFrame,
                     keys: Seq[String]): DataFrame =
    tagSegmentFilter(a, b, keys,
      col("__in_a") === 1 && col("__in_b").isNull)

  /** Per-key interval INTERSECTION a ∩ b (merged spans covered by both
    * sides; the validity-only counterpart of `Interlace.truncateOne`,
    * which also carries payload columns). */
  def intersectPerKey(a: DataFrame, b: DataFrame,
                      keys: Seq[String]): DataFrame =
    tagSegmentFilter(a, b, keys,
      col("__in_a") === 1 && col("__in_b") === 1)

  private def tagSegmentFilter(a: DataFrame, b: DataFrame,
                               keys: Seq[String],
                               keep: Column): DataFrame = {
    val kc = keys.map(col)
    val iv = Seq(col(ValidFrom), col(ValidUntil))
    val aT = a.select(kc ++ iv :+ lit(1).as("__in_a"): _*)
    val bT = b.select(kc ++ iv :+ lit(1).as("__in_b"): _*)
    // interlace ends each segment at the next DISTINCT breakpoint of
    // the key (lead() past the ties), so every emitted segment is
    // non-empty by construction — no sliver filtering needed
    val seg = graft.operators.Interlace.interlace(Seq(aT, bT), keys)
    mergePerKey(seg.filter(keep).select(kc ++ iv: _*), keys)
  }

  /** Two intervals overlap (strictly; empty intersections excluded),
    * open ends (NULL) treated as +infinity. */
  def intervalsOverlap(
      from1: Column, until1: Column, from2: Column, until2: Column): Column =
    (from1 < until2 || until2.isNull) && (until1 > from2 || until1.isNull)

  /** Keyed interval-overlap JOIN as a bucketized equi-join: explode each
    * side's CLOSED interval into coarse `bucketDays`-sized epoch buckets,
    * equi-join on (keys, bucket), verify the exact overlap predicate, and
    * dedupe pairs that met in several buckets.
    *
    * This is the range join that Spark would otherwise plan as a
    * BroadcastNestedLoopJoin (or a per-key sort-merge with full fanout):
    * bucketing bounds candidate pairs to same-epoch collisions, so the
    * plan survives when neither side is broadcastable. Fanout per row is
    * `⌈span / bucketDays⌉` — pick `bucketDays` near the typical span.
    *
    * Output: both sides' payload + `overlap_from` / `overlap_until`
    * (the intersection, always non-empty). Open ends are not supported
    * here (an open interval has unbounded buckets); close them first
    * with `clamp`. EMPTY input intervals (`from >= until`) are dropped
    * before bucketing — the join's overlap semantics are
    * "non-empty intersection", not the raw `af < bu AND bf < au`
    * predicate (the two differ only for empty inputs).
    */
  def overlapJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
                  bucketDays: Int): DataFrame = {
    require(bucketDays > 0, "bucketDays must be positive")
    def bucketed(df: DataFrame, fromC: String, untilC: String): DataFrame =
      df.filter(col(untilC).isNotNull && col(fromC) < col(untilC))
        .withColumn("__bkt", explode(sequence(
          expr(s"unix_date($fromC) div $bucketDays"),
          // valid_until is exclusive → last occupied day is until-1
          expr(s"unix_date(date_sub($untilC, 1)) div $bucketDays"))))
    val aT = bucketed(
      a.withColumnRenamed(ValidFrom, "__af")
        .withColumnRenamed(ValidUntil, "__au"), "__af", "__au")
    val bT = bucketed(
      b.withColumnRenamed(ValidFrom, "__bf")
        .withColumnRenamed(ValidUntil, "__bu"), "__bf", "__bu")
    val out = aT.join(bT, keys :+ "__bkt")
      .filter(col("__af") < col("__bu") && col("__bf") < col("__au"))
      .withColumn("overlap_from", greatest(col("__af"), col("__bf")))
      .withColumn("overlap_until", least(col("__au"), col("__bu")))
      // A pair spanning several shared buckets matched once per bucket:
      // keep only the bucket containing the overlap START. The overlap
      // start lies inside both sides' bucket ranges, so exactly one
      // match survives per pair — no distinct() (which would need an
      // extra full-output shuffle AND would collapse genuinely
      // duplicate input rows that a true join must preserve).
      .filter(col("__bkt") ===
        expr(s"unix_date(overlap_from) div $bucketDays"))
      .drop("__bkt")
    out
      .withColumnRenamed("__af", ValidFrom)
      .withColumnRenamed("__au", ValidUntil)
      .withColumnRenamed("__bf", s"${ValidFrom}_b")
      .withColumnRenamed("__bu", s"${ValidUntil}_b")
  }

  /** Allen's interval algebra (Allen, CACM 1983): classify every
    * ordered pair of a key's intervals into exactly one of the 13
    * relations — the vocabulary for auditing bitemporal feature tables
    * ("which validity windows meet vs overlap vs nest?") on the
    * half-open `[valid_from, valid_until)` convention this store uses.
    * Pair (a, b) is ordered by `idCol` (a.id < b.id) and labelled with
    * a's relation to b: `before/meets/overlaps/starts/during/finishes/
    * equal` plus the primed inverses (`after/met_by/overlapped_by/
    * started_by/contains/finished_by`). The CASE ladder tests
    * equalities first, so every pair lands in exactly one arm — dates
    * compare exactly, nothing floats.
    *
    * Scale: the pair set is a per-key self-join — quadratic in the
    * key's interval COUNT, never in rows — REQUIREd under `maxPerKey`
    * before the join runs (the [[graft.operators.Eval.kendall]] cell
    * posture; unlike [[overlapJoin]] this must see DISJOINT pairs too,
    * so banding cannot bound it). Open-ended intervals
    * (NULL `valid_until`) are rejected — close them with a horizon
    * date first. Output: key cols + (id_a, id_b, relation). */
  def allenRelations(df: DataFrame, keys: Seq[String], idCol: String,
                     maxPerKey: Long = 1L << 10): DataFrame = {
    require(keys.nonEmpty, "allenRelations: at least one key column")
    val base = df.select(
      keys.map(col) :+ col(idCol).as("__id") :+
        col(ValidFrom).as("__f") :+ col(ValidUntil).as("__u"): _*)
      .withColumn("__u", coalesce(col("__u"),
        raise_error(lit("allenRelations: open-ended interval " +
          "(NULL valid_until) — close with a horizon date first"))
          .cast(df.schema(ValidUntil).dataType)))
      .localCheckpoint(true) // guard + both join sides share one scan
    val worst = base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    require(worst <= maxPerKey,
      s"allenRelations: a key holds $worst intervals (> maxPerKey=" +
        s"$maxPerKey) — the pair set is quadratic per key; split the " +
        "key or raise maxPerKey deliberately.")
    val b = base.select(
      keys.map(c => col(c).as(s"__k_$c")) :+ col("__id").as("__idb") :+
        col("__f").as("__fb") :+ col("__u").as("__ub"): _*)
    val joined = base.join(b,
      keys.map(c => col(c) === col(s"__k_$c"))
        .reduce(_ && _) && col("__id") < col("__idb"))
    val rel = when(col("__f") === col("__fb") && col("__u") === col("__ub"),
        lit("equal"))
      .when(col("__u") < col("__fb"), lit("before"))
      .when(col("__ub") < col("__f"), lit("after"))
      .when(col("__u") === col("__fb"), lit("meets"))
      .when(col("__ub") === col("__f"), lit("met_by"))
      .when(col("__f") === col("__fb"),
        when(col("__u") < col("__ub"), lit("starts"))
          .otherwise(lit("started_by")))
      .when(col("__u") === col("__ub"),
        when(col("__f") > col("__fb"), lit("finishes"))
          .otherwise(lit("finished_by")))
      .when(col("__f") > col("__fb"),
        when(col("__u") < col("__ub"), lit("during"))
          .otherwise(lit("overlapped_by")))
      .otherwise(
        when(col("__u") > col("__ub"), lit("contains"))
          .otherwise(lit("overlaps")))
    joined.withColumn("relation", rel)
      .select(keys.map(col) :+ col("__id").as("id_a") :+
        col("__idb").as("id_b") :+ col("relation"): _*)
  }
}
