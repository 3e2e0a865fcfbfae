package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT order statistics without full-group window sorts.
  *
  * The classic scale defect of `row_number()/ntile` over
  * `Window.partitionBy(group)` is that every group is sorted in ONE
  * task: a domain-sized group ("web" = most of a 100 TB corpus) becomes
  * a multi-billion-row single-task external sort. Both primitives here
  * keep the exact semantics of the rank window but bound every sort by
  * a CONSTANT (the bucket fan-out), not by group size:
  *
  * - [[valueAtRanks]]: the value at given 1-based ranks of the
  *   ascending value order per group, via a two-level equi-width bucket
  *   histogram (65536-way per level ⇒ ~2^32 effective buckets — robust
  *   to Zipf-shaped value ranges where a single level would dump nearly
  *   all rows into bucket 0) plus a tie-collapsed refinement inside the
  *   boundary sub-bucket. Ranks are resolved on per-bucket COUNTS
  *   (partial-agg shuffles); the only sort over raw values is within
  *   one sub-bucket, after collapsing duplicates to (value, count)
  *   rows, so a hot tied value costs one aggregate row, not a sort.
  * - [[hashRankFilter]]: keep the first `keep` rows of each group in
  *   `(md5-bucket, id)` order. The md5 bucket IS the histogram —
  *   uniform by construction — so one level suffices; the rank window
  *   runs per (group, bucket), a 1e6-way split of every group.
  *
  * Driver-side materialization is limited to model-sized frames (one
  * row per group for bounds, one row per requested rank for boundary
  * buckets and the final result) — the same class of collect as IVF
  * centroids. [[valueAtRanks]] returns its (tiny) result as a literal
  * relation, so downstream joins broadcast rows instead of re-running
  * the selection lineage per action. The input is scanned two-to-three
  * times (bounds; bucket counts; a refinement pass only for boundary
  * buckets holding >1 distinct value) — a deliberate trade:
  * re-reading a column-pruned scan beats persisting a corpus-sized
  * projection at target scale. Callers whose input is an expensive
  * derived frame should checkpoint it themselves.
  *
  * Both primitives have a driver fast path under ONE budget
  * ([[DriverBudgetRows]], 1M rows), decided from the bounds scan:
  * - [[valueAtRanks]]: when the per-(group, 2^16-wide) bucket
  *   histogram fits (any ≤2^36-wide value range, i.e. all practical
  *   integral data), the prefix sums and rank walk run on driver
  *   arrays over the collected histogram;
  * - [[rankRows]]: when the distinct (group, value) cells fit
  *   (Σ_g min(span + 1, n)), the (group, value, count) tally is
  *   collected, ranked on the driver and broadcast as a per-group
  *   sorted table that each row binary-searches.
  * Same exact semantics, but each job is ONE lean aggregate instead of
  * a window+join shuffle plan — at local parallelism the job floor, not
  * row work, dominates (BENCH_r05's selection family; q179's 30 → 16
  * jobs). Over budget, the two-level shuffled resolution takes over
  * unchanged; it is the only path for inputs with more distinct values
  * than the budget.
  */
object Selection {

  /** Per-level bucket fan-out. 65536^2 ≈ 4.3e9 effective buckets keeps
    * the boundary sub-bucket width at max(1, range/2^32): for any value
    * range up to 32 bits the refinement sees a single distinct value
    * per sub-bucket, and wider ranges still collapse ties first. */
  private val B = 65536L

  /** Hash-order bucket fan-out (matches [[Splits.bucket]]'s 1e6). */
  private val HB = 1000000

  /** Driver budget, in rows, of every driver-side table in this family:
    * [[valueAtRanks]]' bucket histogram, [[rankRows]]' distinct-value
    * tally and [[Profile.quantileNormalize]]'s global value tally. At
    * or below it the table is collected and walked on the driver;
    * above it the distributed path runs. Results are identical on both
    * sides. */
  private[graft] val DriverBudgetRows: Int = 1 << 20

  /** Bucket widths over the group's [min, max] span — ONE formula for
    * [[valueAtRanks]] and [[rankRows]], computed driver-side AFTER
    * [[requireSaneRanges]] so an overflowing span fails with the clear
    * error, not ANSI arithmetic-overflow inside a task. */
  private[graft] def bucketWidths(mn: Long, mx: Long): (Long, Long) = {
    val w1 = (mx - mn) / B + 1L
    (w1, (w1 - 1) / B + 1L)
  }

  /** `__mx - __mn` must be a valid non-negative long: a group spanning
    * more than half the long domain wraps the subtraction and would
    * silently corrupt every bucket id — fail fast instead (rescale or
    * split such a column upstream). */
  private def requireSaneRanges(rows: Iterable[Row], mnIdx: Int,
                                mxIdx: Int): Unit =
    rows.foreach { r =>
      val mn = r.getLong(mnIdx); val mx = r.getLong(mxIdx)
      require(mx - mn >= 0,
        s"group value range [$mn, $mx] exceeds Long.MaxValue")
    }

  /** Rebuild a tiny DataFrame as a literal local relation so every
    * downstream reuse is a broadcast of rows, not a re-run of the
    * aggregation lineage (which would re-scan the input per reuse). */
  private def collectAsLiteral(df: DataFrame): DataFrame = {
    val rows: Array[Row] = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Fast path of [[valueAtRanks]]: the per-(group, 2^16-wide floor
    * bucket) histogram fits the driver budget (guaranteed by the
    * caller's bound from scan 1), so bucket location, prefix sums, and
    * the rank walk all happen on model-sized driver arrays — no
    * windows, no broadcast-join cascade. Scan 2 collects the bucket
    * stats; a bucket whose min == max resolves its targets by
    * arithmetic, and only genuinely mixed boundary buckets pay scan 3
    * (tie-collapsed (value, count) rows inside those buckets — ≤ 2^16
    * distinct values per bucket by construction). `shiftright` is
    * floor division, so bucket order is exact for negative values and
    * no subtraction can overflow — this path needs no sane-range
    * guard. */
  private def fastValueAtRanks(spark: org.apache.spark.sql.SparkSession,
      gType: org.apache.spark.sql.types.DataType,
      outSchema: org.apache.spark.sql.types.StructType,
      facts: DataFrame, aggRows: Array[Row],
      targets: Seq[(String, String)], groupCol: String,
      weighted: Boolean): DataFrame = {
    def tally: org.apache.spark.sql.Column =
      if (!weighted) count(lit(1)) else sum(col("__w"))
    val nByG: Map[Any, Long] =
      aggRows.map(r => r.get(0) -> r.getLong(3)).toMap

    // rank expressions evaluate over a LITERAL (__g, __n) relation so
    // the SQL strings keep exact integer semantics (LocalTableScan —
    // milliseconds, no shuffle)
    val nSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__g", gType),
      org.apache.spark.sql.types.StructField("__n",
        org.apache.spark.sql.types.LongType)))
    val nRows: Array[Row] = aggRows.map(r => Row(r.get(0), r.getLong(3)))
    val reqRows = spark.createDataFrame(
        java.util.Arrays.asList(nRows: _*), nSchema)
      .select(col("__g"), col("__n"),
        explode(array(targets.map { case (lbl, rankSql) =>
          struct(lit(lbl).as("l"), expr(rankSql).cast("long").as("r"))
        }: _*)).as("__t"))
      .select(col("__g"), col("__t.l").as("__label"),
        col("__t.r").as("__r"), col("__n"))
      .collect()
      .filter(r => r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(3))
    if (reqRows.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](), outSchema)

    // scan 2 — bucket histogram, collected (≤ driverBudgetRows by the
    // caller's bound)
    val bRows = facts
      .groupBy(col("__g"), shiftright(col("__v"), 16).as("__b"))
      .agg(tally.as("__c"), min(col("__v")).as("__bmn"),
        max(col("__v")).as("__bmx"))
      .collect()
    // per group: buckets in id order with exclusive prefix counts
    val byG: Map[Any, Array[(Long, Long, Long, Long, Long)]] =
      bRows.groupBy(r => r.get(0)).map { case (g, rs) =>
        val bs = rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).sortBy(_._1)
        var cum = 0L
        g -> bs.map { case (b, c, mn, mx) =>
          val pre = cum; cum += c; (b, c, mn, mx, pre)
        }
      }

    // locate each target's bucket by binary search on prefix counts
    val located = reqRows.map { rr =>
      val g = rr.get(0); val lbl = rr.getString(1); val r = rr.getLong(2)
      val arr = byG(g)
      var lo = 0; var hi = arr.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid)._5 + arr(mid)._2 < r) lo = mid + 1 else hi = mid
      }
      val (b, _, mn, mx, pre) = arr(lo)
      (g, lbl, b, mn, mx, r - pre) // r within the bucket, 1-based
    }
    val (direct, needRefine) = located.partition(t => t._4 == t._5)
    val refined: Seq[(Any, String, Long)] =
      if (needRefine.isEmpty) Seq.empty
      else {
        // scan 3 — tie-collapsed values inside the mixed boundary
        // buckets only
        val pairs = needRefine.map(t => (t._1, t._3)).distinct
        val pSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__pg", gType),
          org.apache.spark.sql.types.StructField("__pb",
            org.apache.spark.sql.types.LongType)))
        val pRows: Seq[Row] = pairs.map(p => Row(p._1, p._2)).toIndexedSeq
        val pDf = spark.createDataFrame(
          java.util.Arrays.asList(pRows: _*), pSchema)
        val vRows = facts.withColumn("__b", shiftright(col("__v"), 16))
          .join(broadcast(pDf),
            col("__g") <=> col("__pg") && col("__b") === col("__pb"))
          .groupBy(col("__g"), col("__b"), col("__v"))
          .agg(tally.as("__vc"))
          .collect()
        val byPair = vRows.groupBy(r => (r.get(0), r.getLong(1)))
          .map { case (k, rs) =>
            k -> rs.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
          }
        needRefine.toSeq.map { case (g, lbl, b, _, _, r1) =>
          val vs = byPair((g, b))
          var cum = 0L; var j = 0
          while (j < vs.length && cum + vs(j)._2 < r1) {
            cum += vs(j)._2; j += 1
          }
          (g, lbl, vs(j)._1)
        }
      }
    val outRows: Seq[Row] =
      (direct.toSeq.map(t => (t._1, t._2, t._4)) ++ refined)
        .map { case (g, lbl, v) => Row(g, lbl, v, nByG(g)) }
    spark.createDataFrame(
      java.util.Arrays.asList(outRows.toIndexedSeq: _*), outSchema)
  }

  /** The value at requested per-group ranks of the ascending non-null
    * value order.
    *
    * `targets` are `(label, rankSql)` pairs where `rankSql` is a SQL
    * expression over `__n` (the group's non-null row count) evaluating
    * to the 1-based rank — SQL strings so callers keep exact `div`/`%`
    * integer arithmetic (a Column formula would force float division).
    * Targets that evaluate to rank < 1 or > `__n` produce no row.
    *
    * Output: one row per resolved target — (groupCol, label, value, n).
    * Group cardinality is assumed broadcast-small (the same contract as
    * [[Profile.histogram]]/[[Profile.minMaxScale]]); null group keys
    * are preserved (null-safe joins throughout). Null values are
    * ignored — ranks are over the values that exist.
    *
    * With `weightCol`, `__n` and every bucket tally become Σweight and
    * a rank addresses the cumulative WEIGHT in ascending value order —
    * weighted quantiles ("the doc length at which half the TOKEN mass
    * sits") at the same two-to-three aggregate-scan cost; weights must
    * be integral >= 1 (enforced per row).
    */
  def valueAtRanks(df: DataFrame, groupCol: String, valueCol: String,
                   targets: Seq[(String, String)],
                   driverBudgetRows: Int = DriverBudgetRows,
                   weightCol: Option[String] = None): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    val spark = df.sparkSession
    val gType = df.schema(groupCol).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(groupCol, gType),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
    // weighted mode: __n and every bucket tally become Σweight instead
    // of row counts, so a target rank addresses the cumulative WEIGHT
    // order (weighted quantiles). Weights must be >= 1 (enforced per
    // row) — the fast-path budget decision uses the separate ROW count
    // (non-empty buckets <= rows; Σweight only addresses rank targets)
    // so heavy weights never force the slow path; weights >= 1 keeps
    // rank semantics unambiguous.
    val wExpr = weightCol match {
      case None => lit(1L)
      case Some(wc) =>
        val w = col(wc).cast("long")
        when(w.isNull || w < 1L,
          raise_error(lit(s"valueAtRanks: weight $wc must be >= 1"))
            .cast("long")).otherwise(w)
    }
    val facts = df
      .select(col(groupCol).as("__g"), col(valueCol).cast("long").as("__v"),
        wExpr.as("__w"))
      .filter(col("__v").isNotNull)
    def tally: org.apache.spark.sql.Column =
      if (weightCol.isEmpty) count(lit(1)) else sum(col("__w"))

    // scan 1 — one row per group: min/max/count (or Σweight, plus the
    // plain ROW count — the bucket-bound must use rows, not weight
    // mass, or heavy-weight groups needlessly fall to the multi-scan
    // slow path). Drives the histogram sizing on BOTH paths and the
    // budget decision.
    val aggRows = facts.groupBy(col("__g")).agg(
        min(col("__v")).as("__mn"), max(col("__v")).as("__mx"),
        tally.as("__n"), count(lit(1)).as("__rc")).collect()

    // Non-empty 2^16-wide floor buckets are bounded by
    // min(span >> 16, rowCount) per group; when the TOTAL fits the
    // driver budget, the whole histogram is model-sized and the rank
    // walk runs driver-side — two lean aggregate jobs instead of the
    // window+broadcast-join shuffle cascade (the local[32] job floor,
    // not row work, dominated q113/q86/q91 in BENCH_r05). The shifts
    // are overflow-safe on any long range, so the fast path needs no
    // sane-range guard at all.
    var bucketBound = 0L
    aggRows.foreach { r =>
      val span = (r.getLong(2) >> 16) - (r.getLong(1) >> 16) + 1L
      bucketBound = math.min(driverBudgetRows.toLong + 1L,
        bucketBound + math.min(span, r.getLong(4)))
    }
    if (bucketBound <= driverBudgetRows)
      return fastValueAtRanks(spark, gType, outSchema, facts, aggRows,
        targets, groupCol, weighted = weightCol.nonEmpty)

    requireSaneRanges(aggRows, mnIdx = 1, mxIdx = 2)
    val boundRows: Array[Row] = aggRows.map { r =>
      val (w1, w2) = bucketWidths(r.getLong(1), r.getLong(2))
      Row(r.get(0), r.getLong(1), r.getLong(2), r.getLong(3), w1, w2)
    }
    val bounds = spark.createDataFrame(
      java.util.Arrays.asList(boundRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__g", gType)) ++
        Seq("__mn", "__mx", "__n", "__w1", "__w2").map(
          org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.LongType))))

    // one row per requested rank: (group, label, global rank) — derived
    // from the literal bounds, so no job runs here
    val reqs = bounds.select(col("__g").as("__tg"), col("__n"),
        explode(array(targets.map { case (lbl, rankSql) =>
          struct(lit(lbl).as("l"), expr(rankSql).cast("long").as("r"))
        }: _*)).as("__t"))
      .select(col("__tg"), col("__t.l").as("__label"), col("__t.r").as("__r"))
      .filter(col("__r") >= 1L)

    // rows tagged with both bucket levels (two integer divs per row)
    val scoped = facts
      .join(broadcast(bounds.select(col("__g").as("__bg"), col("__mn"),
        col("__w1"), col("__w2"))), col("__g") <=> col("__bg"))
      .drop("__bg")
      .withColumn("__b1", expr("(__v - __mn) div __w1"))
      .withColumn("__b2", expr("(__v - __mn - __b1 * __w1) div __w2"))

    // scan 2 — level 1: per-(group, bucket) counts, cumulative in
    // bucket order. ≤ 65536 count rows per group see the window —
    // constant-bounded, never the fact rows themselves.
    val w1 = Window.partitionBy(col("__g")).orderBy(col("__b1"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum1 = scoped.groupBy(col("__g"), col("__b1"))
      .agg(tally.as("__c1"))
      .withColumn("__cb1", coalesce(sum(col("__c1")).over(w1), lit(0L)))
    // each rank lands in exactly one bucket: cb < r <= cb + c
    val hit1 = collectAsLiteral(
      cum1.join(broadcast(reqs), col("__g") <=> col("__tg") &&
          col("__cb1") < col("__r") &&
          col("__r") <= col("__cb1") + col("__c1"))
        .select(col("__g"), col("__label"), col("__b1"),
          (col("__r") - col("__cb1")).as("__r1")))

    // scan 3 — level 2: same resolution inside the boundary level-1
    // buckets only (≤ one bucket per requested rank survives)
    val bb1 = hit1.select(col("__g").as("__jg"), col("__b1").as("__jb1"))
      .distinct()
    val lvl2 = scoped.join(broadcast(bb1),
      col("__g") <=> col("__jg") && col("__b1") === col("__jb1"))
      .drop("__jg", "__jb1")
    val w2 = Window.partitionBy(col("__g"), col("__b1")).orderBy(col("__b2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum2 = lvl2.groupBy(col("__g"), col("__b1"), col("__b2"))
      .agg(tally.as("__c2"))
      .withColumn("__cb2", coalesce(sum(col("__c2")).over(w2), lit(0L)))
    val hit2 = cum2.join(broadcast(hit1
          .select(col("__g").as("__hg"), col("__label"),
            col("__b1").as("__hb1"), col("__r1"))),
        col("__g") <=> col("__hg") && col("__b1") === col("__hb1") &&
          col("__cb2") < col("__r1") &&
          col("__r1") <= col("__cb2") + col("__c2"))
        .select(col("__g"), col("__label"), col("__b1"), col("__b2"),
          (col("__r1") - col("__cb2")).as("__r2"))

    // The result is model-sized (one row per resolved target), so it is
    // returned as a LITERAL relation: consumers joining it back onto a
    // fact table broadcast a handful of rows instead of re-executing
    // the whole selection lineage per downstream action.
    val w2max = boundRows.iterator.map(_.getLong(5)).maxOption.getOrElse(1L)
    if (w2max == 1L) {
      // Every group's value range fits in B² (≈4.3e9 — any 32-bit-wide
      // long range, which is all practical integral data): sub-bucket
      // width is 1, so the level-2 bucket IS the value offset and
      // value = mn + b1·w1 + b2 by arithmetic — no third pass over the
      // values, no sort anywhere.
      val byG = boundRows
        .map(r => r.get(0) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
        .toMap // __g -> (mn, n, w1)
      val rows = hit2.collect().map { r =>
        val (mn, n, w1v) = byG(r.get(0))
        Row(r.get(0), r.getString(1),
          mn + r.getLong(2) * w1v + r.getLong(3), n)
      }
      spark.createDataFrame(
        java.util.Arrays.asList(rows.toIndexedSeq: _*), outSchema)
    } else {
      // Degenerate >2³²-wide range: refine inside the boundary
      // sub-bucket, collapsing ties to (value, count) first so the only
      // value-ordered window sees distinct values of ONE sub-bucket.
      val hit2l = collectAsLiteral(hit2)
      val bb2 = hit2l.select(col("__g").as("__jg"),
        col("__b1").as("__jb1"), col("__b2").as("__jb2")).distinct()
      val wv = Window.partitionBy(col("__g"), col("__b1"), col("__b2"))
        .orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val vcum = scoped.join(broadcast(bb2),
          col("__g") <=> col("__jg") && col("__b1") === col("__jb1") &&
            col("__b2") === col("__jb2"))
        .groupBy(col("__g"), col("__b1"), col("__b2"), col("__v"))
        .agg(tally.as("__vc"))
        .withColumn("__cbv", coalesce(sum(col("__vc")).over(wv), lit(0L)))
      val resolved = vcum.join(broadcast(hit2l
          .select(col("__g").as("__hg"), col("__label"),
            col("__b1").as("__hb1"), col("__b2").as("__hb2"), col("__r2"))),
        col("__g") <=> col("__hg") && col("__b1") === col("__hb1") &&
          col("__b2") === col("__hb2") &&
          col("__cbv") < col("__r2") &&
          col("__r2") <= col("__cbv") + col("__vc"))
        .join(broadcast(bounds.select(col("__g").as("__ng"), col("__n"))),
          col("__g") <=> col("__ng"))
        .select(col("__g").as(groupCol), col("__label").as("label"),
          col("__v").as("value"), col("__n").as("n"))
      spark.createDataFrame(
        java.util.Arrays.asList(resolved.collect().toIndexedSeq: _*),
        outSchema)
    }
  }

  /** Fast path of [[rankRows]]: the (group, value, count) tally fits
    * the driver budget (the caller's distinct-cell bound), so it is
    * collected in one aggregate job and ranked on the driver: per
    * group, its distinct values ascending and, aligned, rank = 1 + rows
    * with a smaller value. The rows pick up their group's index and `n`
    * from a literal of the bound rows by ONE broadcast equi-join, and
    * their rank by a binary search in the broadcast table — no window,
    * no shuffled join. (A literal lookup relation of the whole tally,
    * joined on (group, value), was measured slower than the bucket path
    * at sf0.1: its 5·10^5-row broadcast alone took 3-5 s.) */
  private def driverRanked(df: DataFrame, facts: DataFrame,
      groupCol: String, gType: org.apache.spark.sql.types.DataType,
      boundRows: Array[Row]): DataFrame = {
    val spark = df.sparkSession
    val gi: Map[Any, Int] = boundRows.iterator.map(_.get(0)).zipWithIndex.toMap
    val byG = facts.groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1))).collect().groupBy(r => gi(r.get(0)))
    val table: Array[(Array[Long], Array[Long])] =
      Array.tabulate(boundRows.length) { i =>
        val vcs = byG(i).map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
        (vcs.map(_._1), vcs.scanLeft(1L)(_ + _._2))
      }
    val bc = spark.sparkContext.broadcast(table)
    // boxed inputs: Spark wraps a primitive-input UDF in a null check,
    // which would make `rank` nullable unlike the bucket path's
    val rankOf = udf { (i: java.lang.Integer, v: java.lang.Long) =>
      val (vs, ranks) = bc.value(i)
      ranks(java.util.Arrays.binarySearch(vs, v))
    }.asNonNullable()
    val groups = spark.createDataFrame(
      java.util.Arrays.asList(boundRows.indices.map(i =>
        Row(boundRows(i).get(0), i, boundRows(i).getLong(3))): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__rg", gType),
        org.apache.spark.sql.types.StructField("__gi",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__rn",
          org.apache.spark.sql.types.LongType))))
    facts.join(broadcast(groups), col(groupCol) <=> col("__rg"))
      .select(df.columns.map(col) :+ rankOf(col("__gi"), col("__v"))
        .as("rank") :+ col("__rn").as("n"): _*)
  }

  /** EXACT per-row rank within its group — SQL `RANK()` semantics
    * (rank = 1 + rows with strictly smaller value; ties share) —
    * WITHOUT any group-partitioned window over fact rows, completing
    * the selection family: [[valueAtRanks]] answers "value at rank k",
    * this answers "rank of every value" (the per-row CDF — percentile
    * features, calibration curves, exact normalization).
    *
    * rank = (rows in lower level-1 buckets) + (rows in lower level-2
    * buckets of the same level-1 bucket) + (strictly smaller ties in
    * the same sub-bucket) + 1. The first two terms come from cumsum
    * windows over per-bucket COUNT rows (≤ 65536 per group / per
    * (group, b1) — constant-bounded); for value ranges ≤ 2^32 the
    * sub-bucket holds exactly one value, so the third term is ZERO by
    * arithmetic and no value-ordered window exists at all. Wider
    * ranges collapse ties to (value, count) rows first, so the only
    * value window sees distinct values of single sub-buckets. Ranks
    * re-attach to rows by an aggregate-shaped (group, bucket[, value])
    * join — a domain-sized hot group ranks in parallel.
    *
    * Fast path: when the distinct (group, value) cells — bounded by
    * Σ_g min(max − min + 1, n) from the bounds scan — fit
    * [[DriverBudgetRows]], one aggregate job collects the (group,
    * value, count) tally, the driver ranks each distinct value, and
    * each row finds its rank in the broadcast table: two collects, no
    * window and no shuffled join. The bucket machinery above runs only
    * over the budget.
    *
    * Output: the input columns plus `rank` and the group's non-null
    * count `n`. Nulls in `valueCol` fail fast ([[Profile.winsorize]]'s
    * contract); group cardinality is assumed broadcast-small. */
  def rankRows(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    rankRowsWithBounds(df, groupCol, valueCol)._1

  /** [[rankRows]] plus the per-group (group, min, max, n, w1, w2)
    * bound rows its driver collect already computed — callers that
    * need GLOBAL value bounds (quantileNormalize's inverse-CDF head)
    * fold these instead of paying a second full scan of the facts
    * (r18, guide §6 read-once). */
  private[graft] def rankRowsWithBounds(df: DataFrame, groupCol: String,
      valueCol: String, driverBudgetRows: Int = DriverBudgetRows)
      : (DataFrame, Array[Row]) = {
    val spark = df.sparkSession
    val guarded = coalesce(col(valueCol).cast("long"),
      raise_error(lit(s"rankRows: null value in $valueCol")).cast("long"))
    val facts = df.withColumn("__v", guarded)
    val gType = df.schema(groupCol).dataType
    val bSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__bg", gType) +:
        Seq("__mn", "__mx", "__n", "__w1", "__w2").map(
          org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.LongType)))
    val aggRows = facts.groupBy(col(groupCol)).agg(
        min(col("__v")).as("__mn"), max(col("__v")).as("__mx"),
        count(lit(1)).as("__n")).collect()
    requireSaneRanges(aggRows, mnIdx = 1, mxIdx = 2)
    val boundRows: Array[Row] = aggRows.map { r =>
      val (w1, w2) = bucketWidths(r.getLong(1), r.getLong(2))
      Row(r.get(0), r.getLong(1), r.getLong(2), r.getLong(3), w1, w2)
    }
    if (boundRows.isEmpty) return (facts.drop("__v")
      .withColumn("rank", lit(null).cast("long"))
      .withColumn("n", lit(null).cast("long"))
      .filter(lit(false)), boundRows)

    // A group holds at most min(span + 1, n) distinct values; when the
    // total fits the driver budget, the (group, value, count) tally is
    // model-sized and the ranks are a driver walk over it. The span is
    // sane after the guard above, min(span, n - 1) + 1 cannot wrap, and
    // the sum saturates at budget + 1.
    val cap = driverBudgetRows.toLong + 1L
    val cellBound = boundRows.foldLeft(0L) { (acc, r) =>
      val cells = math.min(r.getLong(2) - r.getLong(1), r.getLong(3) - 1L) + 1L
      math.min(cap, acc + math.min(cells, cap))
    }
    if (cellBound <= driverBudgetRows)
      return (driverRanked(df, facts, groupCol, gType, boundRows), boundRows)

    val bounds = spark.createDataFrame(
      java.util.Arrays.asList(boundRows: _*), bSchema)

    val scoped = facts
      .join(broadcast(bounds), col(groupCol) <=> col("__bg"))
      .drop("__bg")
      .withColumn("__b1", expr("(__v - __mn) div __w1"))
      .withColumn("__b2", expr("(__v - __mn - __b1 * __w1) div __w2"))

    // per-bucket prefix counts — windows over COUNT rows only. The
    // cumulative frames FUSE on the aggregate side (cum1 joins into
    // cum2, and — on the wide-range branch — into the tie-collapsed
    // value frame) so the FACT rows pay exactly ONE equi-join to pick
    // up their rank base, not a two-to-three join cascade (the r8
    // q187/q179 bench finding: each fact join is a full shuffle of
    // the corpus, the aggregate-frame joins are noise; a driver-side
    // cum1 was ALSO tried and reverted — its collect is an extra full
    // pass over the scan, costlier than the saved stages).
    val w1 = Window.partitionBy(col(groupCol)).orderBy(col("__b1"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum1 = scoped.groupBy(col(groupCol), col("__b1"))
      .agg(count(lit(1)).as("__c1"))
      .withColumn("__cb1", coalesce(sum(col("__c1")).over(w1), lit(0L)))
      .select(col(groupCol).as("__g1"), col("__b1").as("__rb1"),
        col("__cb1"))
    val w2 = Window.partitionBy(col(groupCol), col("__b1"))
      .orderBy(col("__b2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum12 = scoped.groupBy(col(groupCol), col("__b1"), col("__b2"))
      .agg(count(lit(1)).as("__c2"))
      .withColumn("__cb2", coalesce(sum(col("__c2")).over(w2), lit(0L)))
      .join(cum1, col(groupCol) <=> col("__g1") &&
        col("__b1") === col("__rb1"))
      .select(col(groupCol).as("__gb"), col("__b1").as("__bb1"),
        col("__b2").as("__bb2"),
        (col("__cb1") + col("__cb2")).as("__base"))

    val w2max = boundRows.iterator.map(_.getLong(5)).maxOption.getOrElse(1L)
    val ranked =
      if (w2max == 1L)
        // sub-bucket width 1: one value per sub-bucket, no ties below —
        // the single fact join attaches the fused base directly
        scoped.join(cum12, col(groupCol) <=> col("__gb") &&
            col("__b1") === col("__bb1") && col("__b2") === col("__bb2"))
          .withColumn("rank", col("__base") + 1L)
      else {
        // >2^32-wide range: strictly-smaller ties within the sub-bucket
        // from tie-collapsed (value, count) rows; the base fuses into
        // the value frame so facts still join ONCE (on the value key)
        val wv = Window.partitionBy(col(groupCol), col("__b1"),
            col("__b2")).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val vcum = scoped
          .groupBy(col(groupCol), col("__b1"), col("__b2"), col("__v"))
          .agg(count(lit(1)).as("__vc"))
          .withColumn("__cbv", coalesce(sum(col("__vc")).over(wv), lit(0L)))
        val vbase = vcum
          .join(cum12, col(groupCol) <=> col("__gb") &&
            col("__b1") === col("__bb1") && col("__b2") === col("__bb2"))
          .select(col(groupCol).as("__gv"), col("__b1").as("__vb1"),
            col("__b2").as("__vb2"), col("__v").as("__vv"),
            (col("__base") + col("__cbv")).as("__vbase"))
        scoped.join(vbase, col(groupCol) <=> col("__gv") &&
            col("__b1") === col("__vb1") &&
            col("__b2") === col("__vb2") && col("__v") === col("__vv"))
          .withColumn("rank", col("__vbase") + 1L)
      }
    (ranked.select(df.columns.map(col) :+ col("rank") :+
      col("__n").as("n"): _*), boundRows)
  }

  /** EXACT exclusive prefix sums per group: for each row, the sum of
    * `weightCol` over the rows of its group with STRICTLY SMALLER
    * `orderCol` — the distributed replacement for
    * `sum(w) over (partition by g order by o rows unbounded preceding)
    * − w`, WITHOUT a per-group single-task sort (the [[rankRows]]
    * machinery with weights instead of counts: two-level 65536-way
    * bucket decomposition, cumulative windows only over bucket-
    * aggregate rows, facts pay ONE rank-attach equi-join). The shape
    * behind byte-offset assignment in export manifests (.idx files),
    * cumulative-capacity packing, and any "position = total size
    * before me" bookkeeping.
    *
    * `orderCol` must be UNIQUE within its group (offsets are
    * ill-defined under ties) — REQUIREd up front. `weightCol` must be
    * a non-negative long; per-group totals must fit a long (callers
    * with 10^19-byte groups have other problems, but the overflow
    * would be ANSI-loud, not silent). Output: input columns +
    * (`offset` = exclusive prefix sum, `total` = group total). */
  def prefixSums(df: DataFrame, groupCol: String, orderCol: String,
                 weightCol: String): DataFrame = {
    val spark = df.sparkSession
    val guardedV = coalesce(col(orderCol).cast("long"),
      raise_error(lit(s"prefixSums: null order in $orderCol")).cast("long"))
    val guardedW = coalesce(col(weightCol).cast("long"),
      raise_error(lit(s"prefixSums: null weight in $weightCol")).cast("long"))
    val facts = df.withColumn("__v", guardedV).withColumn("__wt", guardedW)
    val gType = df.schema(groupCol).dataType
    val bSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__bg", gType) +:
        Seq("__mn", "__mx", "__tot", "__w1", "__w2").map(
          org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.LongType)))
    val aggRows = facts.groupBy(col(groupCol)).agg(
        min(col("__v")).as("__mn"), max(col("__v")).as("__mx"),
        count(lit(1)).as("__n"), count_distinct(col("__v")).as("__ndv"),
        sum(col("__wt")).as("__tot"), min(col("__wt")).as("__wmn"))
      .collect()
    aggRows.foreach { r =>
      require(r.getLong(3) == r.getLong(4),
        s"prefixSums: $orderCol is not unique within group ${r.get(0)} " +
          s"(${r.getLong(3)} rows, ${r.getLong(4)} distinct)")
      require(r.getLong(6) >= 0,
        s"prefixSums: negative weight in group ${r.get(0)}")
    }
    requireSaneRanges(aggRows, mnIdx = 1, mxIdx = 2)
    val boundRows: Array[Row] = aggRows.map { r =>
      val (w1, w2) = bucketWidths(r.getLong(1), r.getLong(2))
      Row(r.get(0), r.getLong(1), r.getLong(2), r.getLong(5), w1, w2)
    }
    if (boundRows.isEmpty) return facts.drop("__v", "__wt")
      .withColumn("offset", lit(null).cast("long"))
      .withColumn("total", lit(null).cast("long"))
      .filter(lit(false))
    val bounds = spark.createDataFrame(
      java.util.Arrays.asList(boundRows: _*), bSchema)
    val scoped = facts
      .join(broadcast(bounds), col(groupCol) <=> col("__bg"))
      .drop("__bg")
      .withColumn("__b1", expr("(__v - __mn) div __w1"))
      .withColumn("__b2", expr("(__v - __mn - __b1 * __w1) div __w2"))
    // cum1 fuses into cum12 aggregate-side (the rankRows finding):
    // facts pay exactly ONE equi-join to pick up their offset base
    val w1 = Window.partitionBy(col(groupCol)).orderBy(col("__b1"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum1 = scoped.groupBy(col(groupCol), col("__b1"))
      .agg(sum(col("__wt")).as("__c1"))
      .withColumn("__cb1", coalesce(sum(col("__c1")).over(w1), lit(0L)))
      .select(col(groupCol).as("__g1"), col("__b1").as("__rb1"),
        col("__cb1"))
    val w2 = Window.partitionBy(col(groupCol), col("__b1"))
      .orderBy(col("__b2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum12 = scoped.groupBy(col(groupCol), col("__b1"), col("__b2"))
      .agg(sum(col("__wt")).as("__c2"))
      .withColumn("__cb2", coalesce(sum(col("__c2")).over(w2), lit(0L)))
      .join(cum1, col(groupCol) <=> col("__g1") &&
        col("__b1") === col("__rb1"))
      .select(col(groupCol).as("__gb"), col("__b1").as("__bb1"),
        col("__b2").as("__bb2"),
        (col("__cb1") + col("__cb2")).as("__base"))
    val w2max = boundRows.iterator.map(_.getLong(5)).maxOption.getOrElse(1L)
    val based =
      if (w2max == 1L)
        // sub-bucket width 1 + unique order values ⇒ one row per
        // sub-bucket: the fused base IS the exclusive prefix sum
        scoped.join(cum12, col(groupCol) <=> col("__gb") &&
            col("__b1") === col("__bb1") && col("__b2") === col("__bb2"))
          .withColumn("offset", col("__base"))
      else {
        // >2^32-wide order range: strictly-smaller weights within the
        // sub-bucket (unique values ⇒ one row per value, the window
        // sees ≤ sub-bucket-row-count aggregate rows)
        val wv = Window.partitionBy(col(groupCol), col("__b1"),
            col("__b2")).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val vcum = scoped
          .groupBy(col(groupCol), col("__b1"), col("__b2"), col("__v"))
          .agg(sum(col("__wt")).as("__vc"))
          .withColumn("__cbv", coalesce(sum(col("__vc")).over(wv), lit(0L)))
        val vbase = vcum
          .join(cum12, col(groupCol) <=> col("__gb") &&
            col("__b1") === col("__bb1") && col("__b2") === col("__bb2"))
          .select(col(groupCol).as("__gv"), col("__b1").as("__vb1"),
            col("__b2").as("__vb2"), col("__v").as("__vv"),
            (col("__base") + col("__cbv")).as("__vbase"))
        scoped.join(vbase, col(groupCol) <=> col("__gv") &&
            col("__b1") === col("__vb1") &&
            col("__b2") === col("__vb2") && col("__v") === col("__vv"))
          .withColumn("offset", col("__vbase"))
      }
    based.select(df.columns.map(col) :+ col("offset") :+
      col("__tot").as("total"): _*)
  }

  /** EXACT top-`k` rows per group by `valueCol` DESCENDING — the
    * `row_number() over (partition by group order by value desc) <= k`
    * query WITHOUT ever sorting a whole group in one task, with an
    * ENGINE-PORTABLE deterministic tie-break: rows tied at the cutoff
    * value rank by `(md5-bucket(id), id)` (the [[Splits.bucket]]
    * recipe, reproducible in any engine from the md5 formula).
    *
    * Resolution: [[valueAtRanks]] finds each group's cutoff value (the
    * k-th largest) on bucket-count histograms; rows STRICTLY above the
    * cutoff pass by comparison (scan-local, broadcast cut literals);
    * only the boundary tie set — bounded by the multiplicity of one
    * value — competes through [[hashRankFilter]]'s 1e6-way bucket
    * split. Output: exactly min(k, |group|) input rows per group.
    * `valueCol` casts to long and must not contain Long.MinValue (the
    * ANSI negation guard fires mid-task otherwise) nor NULL: a NULL
    * has no rank here (unlike `row_number`'s NULLS-LAST slots, which
    * count toward k), so rather than silently returning fewer than
    * min(k, |group|) rows the scan fails fast — filter or coalesce
    * NULLs upstream to choose their semantics explicitly. */
  def topKPerGroup(df: DataFrame, groupCol: String, valueCol: String,
                   idCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    val tagged = df.withColumn("__negv",
        when(col(valueCol).isNull, raise_error(lit(
          s"topKPerGroup: NULL $valueCol has no rank; filter or " +
            "coalesce NULLs upstream")).cast("long"))
          .otherwise(-col(valueCol).cast("long")))
      .localCheckpoint(true) // cut resolve + above/tie filters share it
    val cuts = valueAtRanks(tagged, groupCol, "__negv",
      Seq("cut" -> s"least(${k.toLong}L, __n)"))
      .collect().map(r => r.get(0) -> (r.getLong(2), r.getLong(3)))
      .toMap // group -> (cutNegV, n)
    if (cuts.isEmpty) return tagged.drop("__negv").filter(lit(false))
    val gType = df.schema(groupCol).dataType
    val cutSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__cg", gType),
      org.apache.spark.sql.types.StructField("__cut",
        org.apache.spark.sql.types.LongType)))
    val cutRows: Array[Row] =
      cuts.toArray.map { case (g, (c, _)) => Row(g, c) }
    val cutLit = spark.createDataFrame(
      java.util.Arrays.asList(cutRows: _*), cutSchema)
    val joined = tagged.join(broadcast(cutLit),
      col(groupCol) <=> col("__cg")).drop("__cg")
    val above = joined.filter(col("__negv") < col("__cut"))
    val nAbove: Map[Any, Long] = above.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__na")).collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    val slotSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__sg", gType),
      org.apache.spark.sql.types.StructField("__ts",
        org.apache.spark.sql.types.LongType)))
    val slotRows: Array[Row] = cuts.toArray.map { case (g, (_, n)) =>
      Row(g, math.min(k.toLong, n) - nAbove.getOrElse(g, 0L))
    }
    val slotLit = spark.createDataFrame(
      java.util.Arrays.asList(slotRows: _*), slotSchema)
    val ties = hashRankFilter(
      joined.filter(col("__negv") === col("__cut"))
        .join(broadcast(slotLit), col(groupCol) <=> col("__sg"))
        .drop("__sg"),
      groupCol, idCol, Splits.bucket(col(idCol), 1000000), "__ts")
    above.select(df.columns.map(col): _*)
      .unionByName(ties.select(df.columns.map(col): _*))
  }

  /** Tie-collapsed GLOBAL multiset min-ranks of a value column: one
    * row per DISTINCT value with its 1-based min-rank (`__lo`) and
    * multiplicity (`__c`) — the anchor table of an inverse CDF —
    * plus the total row count. Computed from per-value tallies with
    * the width-scaled two-level bucket cumsum: level-1 buckets number
    * ≤ B+1 REGARDLESS of the value span (width scales with the span),
    * so the only unpartitioned window runs over ≤ B+1 aggregate count
    * rows; level-2 windows partition by the level-1 bucket. Unlike
    * [[rankRows]] there is no per-row rank attach — ONE driver action
    * (the bounds head), everything else composes into the caller's
    * plan. Sub-bucket value windows see one value each for any span
    * ≤ 2^32·B; wider degenerate spans collapse ties first (the
    * [[rankRows]] caveat). */
  private[graft] def distinctMinRanks(df: DataFrame,
                                      valueCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    val facts = df.select(col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val head = facts.agg(min(col("__v")).as("__mn"),
      max(col("__v")).as("__mx"), count(lit(1)).as("__n")).head()
    val n = head.getLong(2)
    if (n == 0L) {
      import spark.implicits._
      return (Seq.empty[(Long, Long, Long)].toDF("__v", "__lo", "__c"), 0L)
    }
    val (mn, mx) = (head.getLong(0), head.getLong(1))
    require(mx - mn >= 0,
      s"value range [$mn, $mx] exceeds Long.MaxValue")
    val (w1, w2) = bucketWidths(mn, mx)
    val tally = facts.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
      .withColumn("__b1", expr(s"(__v - ${mn}L) div ${w1}L"))
      .withColumn("__b2",
        expr(s"(__v - ${mn}L - __b1 * ${w1}L) div ${w2}L"))
    val wb1 = Window.orderBy(col("__b1"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum1 = tally.groupBy(col("__b1")).agg(sum(col("__c")).as("__t1"))
      .withColumn("__cb1", coalesce(sum(col("__t1")).over(wb1), lit(0L)))
      .select(col("__b1"), col("__cb1"))
    val wb2 = Window.partitionBy(col("__b1")).orderBy(col("__b2"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum2 = tally.groupBy(col("__b1"), col("__b2"))
      .agg(sum(col("__c")).as("__t2"))
      .withColumn("__cb2", coalesce(sum(col("__t2")).over(wb2), lit(0L)))
      .select(col("__b1"), col("__b2"), col("__cb2"))
    val wv = Window.partitionBy(col("__b1"), col("__b2"))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val anchors = tally
      .withColumn("__cbv", coalesce(sum(col("__c")).over(wv), lit(0L)))
      .join(cum1, Seq("__b1"))
      .join(cum2, Seq("__b1", "__b2"))
      .select(col("__v"),
        (col("__cb1") + col("__cb2") + col("__cbv") + 1L).as("__lo"),
        col("__c"))
    (anchors, n)
  }

  /** Keep, per group, the first `keepCol` rows in
    * `(md5-bucket(1e6), idCol)` ascending order — the exact semantics
    * of `row_number() over (partition by group order by hash, id)
    * <= keep`, without ever sorting a whole group in one task.
    *
    * `df` must already carry `keepCol` (a per-group-constant LONG, e.g.
    * attached by a broadcast join) and `hashCol` (the uniform bucket in
    * [0, 1e6), e.g. [[Splits.bucket]]). Phase 1 aggregates per-(group,
    * bucket) counts and finds the candidate buckets (cumulative count
    * below the keep threshold); phase 2 rank-windows ONLY candidate
    * rows, partitioned by (group, bucket) — a 1e6-way split, so the
    * hottest group's sort is ~|group|/1e6 rows per task. The input is
    * scanned twice (counts + candidate join).
    *
    * Returns the candidate-filtered rows with `__rank` (LONG, the exact
    * global rank in the group order) for rows with rank <= keep.
    */
  private[graft] def hashRankFilter(df: DataFrame, groupCol: String,
                                    idCol: String, hashCol: Column,
                                    keepCol: String): DataFrame = {
    val tagged = df.withColumn("__h", hashCol)
    // per-(group, bucket) counts; keep is group-constant, ride along
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cand = tagged.groupBy(col(groupCol), col("__h"))
      .agg(count(lit(1)).as("__hc"), max(col(keepCol)).as("__k"))
      .withColumn("__cb", coalesce(sum(col("__hc")).over(w), lit(0L)))
      .filter(col("__cb") < col("__k"))
      .select(col(groupCol).as("__cg"), col("__h").as("__ch"), col("__cb"))
    // rank only candidate rows, split 1e6 ways per group
    val wr = Window.partitionBy(col(groupCol), col("__h"))
      .orderBy(col(idCol))
    tagged.join(cand,
        col(groupCol) <=> col("__cg") && col("__h") === col("__ch"))
      .withColumn("__rank", col("__cb") + row_number().over(wr))
      .filter(col("__rank") <= col(keepCol))
      .drop("__h", "__cg", "__ch", "__cb")
  }
}
