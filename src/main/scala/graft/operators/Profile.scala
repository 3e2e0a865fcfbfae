package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling: distribution summaries a corpus pipeline runs
  * before/after every transformation to catch drift.
  */
object Profile {

  /** Per-group equi-width histogram of an integral column — all-integer
    * arithmetic (width = (max-min) div nBuckets + 1), so exactly
    * oracle-checkable, unlike float bin edges.
    *
    * Plan: one partial-agg shuffle for per-group min/max (group
    * cardinality is small), broadcast back, one partial-agg shuffle for
    * the buckets. The raw values never sort.
    *
    * Output: (group, bucket, lo, hi_exclusive, n).
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
                nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val bounds = df.groupBy(col(groupCol))
      .agg(min(col(valueCol)).cast("long").as("__mn"),
        max(col(valueCol)).cast("long").as("__mx"))
      .withColumn("__w",
        expr(s"(__mx - __mn) div ${nBuckets.toLong}") + lit(1L))
    df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .join(broadcast(bounds), Seq(groupCol))
      .withColumn("bucket", expr("(__v - __mn) div __w").cast("int"))
      .groupBy(col(groupCol), col("bucket"), col("__mn"), col("__w"))
      .agg(count(lit(1)).as("n"))
      .select(col(groupCol), col("bucket"),
        (col("__mn") + col("bucket") * col("__w")).as("lo"),
        (col("__mn") + (col("bucket") + 1) * col("__w")).as("hi"),
        col("n"))
  }

  /** Per-group integer min-max feature scaling: map an integral column
    * onto [0, outMax] with floor division — `(v - mn) * outMax div
    * (mx - mn)` — so the scaled feature is exactly reproducible by any
    * engine (float standardization is not). A constant group (mx == mn)
    * scales to 0. Appends `scaled`; one tiny bounds aggregate broadcast
    * back, the fact table never re-shuffles. */
  def minMaxScale(df: DataFrame, groupCol: String, valueCol: String,
                  outMax: Long): DataFrame = {
    require(outMax > 0, "outMax must be positive")
    val bounds = df.groupBy(col(groupCol))
      .agg(min(col(valueCol)).cast("long").as("__mn"),
        max(col(valueCol)).cast("long").as("__mx"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("scaled",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(expr(
            s"(($valueCol - __mn) * ${outMax}L) div (__mx - __mn)")))
      .drop("__mn", "__mx")
  }

  /** Per-group approximate quantiles (Greenwald-Khanna via
    * `approx_percentile`). Sketch-based → rows-only; ScaleOpsSpec bounds
    * the rank error against exact percentiles.
    *
    * Output is LONG format — one scalar `(group, prob, value)` row per
    * requested probability (arrays don't survive generic row-wise
    * comparison tooling, and long format is what drift dashboards join
    * against anyway). */
  def quantiles(df: DataFrame, groupCol: String, valueCol: String,
                probs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty, "probs must be non-empty")
    df.groupBy(col(groupCol))
      .agg(percentile_approx(col(valueCol),
        array(probs.map(lit): _*), lit(accuracy)).as("__qs"))
      .select(col(groupCol), posexplode(col("__qs")).as(Seq("__pos", "value")))
      .select(col(groupCol),
        element_at(array(probs.map(lit): _*), col("__pos") + 1).as("prob"),
        col("value"))
  }

  /** Per-group winsorization of an integral column: clamp values to the
    * group's [pLo, pHi] DISCRETE percentiles — the outlier treatment a
    * feature pipeline applies before scaling, exact and
    * engine-reproducible (no interpolation, no float rank math).
    * Percentile bounds are in basis points (1/10000), the value at rank
    * `max(1, ceil(n·bp/10000))` of the ascending sort — all-integer
    * rank arithmetic, and ties share a value so rank tie-breaks can't
    * change the result. Values must be NON-NULL (enforced with a
    * per-row guard): a null would rank nulls-first here but nulls-last
    * in most SQL engines, silently shifting the bounds.
    *
    * Plan: [[Selection.valueAtRanks]] resolves both bound ranks on
    * bucket-count histograms — no group-partitioned sort of the fact
    * table anywhere, so the hottest group winsorizes in parallel — and
    * the two bounds broadcast back onto the input. Appends `winsorized`
    * (and keeps the input columns). Degenerate groups (n smaller than
    * the rank span) clamp to their own min/max — a no-op, as
    * winsorizing should be. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                loBp: Int, hiBp: Int): DataFrame = {
    require(loBp >= 0 && hiBp <= 10000 && loBp < hiBp,
      "need 0 <= loBp < hiBp <= 10000")
    // fail fast on nulls instead of computing silently-shifted bounds
    val guarded = coalesce(col(valueCol).cast("long"),
      raise_error(lit(s"winsorize: null value in $valueCol"))
        .cast("long"))
    val picked = Selection.valueAtRanks(
      df.select(col(groupCol), guarded.as("__v")), groupCol, "__v",
      Seq(
        "lo" -> s"greatest(1L, (__n * ${loBp}L + 9999L) div 10000L)",
        "hi" -> s"greatest(1L, (__n * ${hiBp}L + 9999L) div 10000L)"))
    val bounds = picked.groupBy(col(groupCol)).agg(
      max(when(col("label") === "lo", col("value"))).as("__lo"),
      max(when(col("label") === "hi", col("value"))).as("__hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("winsorized",
        least(greatest(guarded, col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Dataset card: the per-source summary a curation pipeline
    * publishes next to the data — docs, tokens, characters, empty and
    * exact-duplicate counts, integer-cents mean length, and the
    * language mix — in long format (source, metric, value), all exact
    * integers so the whole card is oracle-checkable. Duplicates use
    * [[Dedup.exact]]'s global canonical-min-id rule and are counted
    * against the DUPLICATE's source (the source that shipped the
    * redundant copy). Shuffle shape: two source-keyed partial
    * aggregates + the exact-dedup text-hash groupBy; the unions are
    * plan-level only. */
  def datasetCard(df: DataFrame, sourceCol: String, idCol: String,
                  langCol: String, textCol: String): DataFrame = {
    val base = df.groupBy(col(sourceCol)).agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.words(col(textCol))))
          .cast("long").as("n_tokens"),
        sum(length(col(textCol))).cast("long").as("total_chars"),
        sum(when(trim(col(textCol)) === "", 1L).otherwise(0L))
          .as("n_empty"))
      .withColumn("avg_tokens_c",
        expr("n_tokens * 100L div greatest(n_docs, 1L)"))
      .localCheckpoint(true) // five stack rows + the dup left join
    val longBase = base.select(col(sourceCol), expr(
      """stack(5,
        |  'n_docs', n_docs, 'n_tokens', n_tokens,
        |  'total_chars', total_chars, 'n_empty', n_empty,
        |  'avg_tokens_c', avg_tokens_c) AS (metric, value)"""
        .stripMargin))
    val dups = Dedup.exact(df, idCol, textCol)
      .filter(col("is_dup") === 1)
      .join(df.select(col(idCol), col(sourceCol)), Seq(idCol))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val dupRows = base.select(col(sourceCol))
      .join(dups, Seq(sourceCol), "left")
      .select(col(sourceCol), lit("n_exact_dup").as("metric"),
        coalesce(col("__n"), lit(0L)).as("value"))
    val langRows = df.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("value"))
      .select(col(sourceCol),
        concat(lit("n_lang_"), col(langCol)).as("metric"), col("value"))
    longBase.unionByName(dupRows).unionByName(langRows)
  }

  /** Robust per-group outlier scoring on EXACT order statistics:
    * median and MAD (median absolute deviation) both resolve through
    * [[Selection.valueAtRanks]] bucket histograms — no group-partitioned
    * sort of fact rows anywhere, so a domain-sized group scores in
    * parallel (the same scale argument as [[winsorize]]). Lower-median
    * rank `(n+1) div 2` on both passes: exact, deterministic,
    * engine-reproducible. Appends `median`, `mad`,
    * `score_bp = |v - median| * 10000 div max(mad, 1)` (robust z in
    * MAD units, basis points) and `is_outlier = score_bp >= threshBp`.
    * All-integer: requires |v| * 10000 to fit in a long. Nulls fail
    * fast, as in [[winsorize]] — a silently shifted median is worse
    * than an error. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     threshBp: Long): DataFrame = {
    require(threshBp > 0, "threshBp must be positive")
    val guarded = coalesce(col(valueCol).cast("long"),
      raise_error(lit(s"robustOutliers: null value in $valueCol"))
        .cast("long"))
    val lowerMedian = Seq("med" -> "(__n + 1L) div 2L")
    val med = Selection.valueAtRanks(
        df.select(col(groupCol), guarded.as("__v")), groupCol, "__v",
        lowerMedian)
      .groupBy(col(groupCol))
      .agg(max(col("value")).as("median"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("__dev", abs(guarded - col("median")))
    val mad = Selection.valueAtRanks(
        dev.select(col(groupCol), col("__dev")), groupCol, "__dev",
        lowerMedian)
      .groupBy(col(groupCol))
      .agg(max(col("value")).as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .withColumn("score_bp",
        expr("__dev * 10000L div greatest(mad, 1L)"))
      .withColumn("is_outlier",
        (col("score_bp") >= threshBp).cast("int"))
      .drop("__dev")
  }

  /** Per-group approximate distinct count (HyperLogLog++) next to the
    * relative standard deviation it was run at. Sketch-based → rows-only
    * (DuckDB's HLL differs); ScaleOpsSpec asserts the error bound against
    * exact counts. */
  def approxDistinct(df: DataFrame, groupCol: String, valueCol: String,
                     rsd: Double = 0.02): DataFrame =
    df.groupBy(col(groupCol))
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** ANALYZE-style per-column table statistics in long format — the
    * numbers a cost-based optimizer (or a drift monitor) wants per
    * column: row count, nulls, exact distinct count, min/max. One
    * aggregate pass per column (exact NDV shuffles that column's
    * values once; swap in [[approxDistinct]] where approximate is
    * acceptable at scale). min/max aggregate on the NATIVE type and
    * cast the result — casting first would compare "10" < "9". Pick
    * columns whose string rendering is engine-portable (ints, strings,
    * dates; not raw doubles). */
  def tableStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        count_distinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_value"),
        max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)
  }

  /** Per-group equi-DEPTH histogram (the quantile-bucket complement of
    * [[histogram]]'s equi-width), with `ntile(nBuckets)` SEMANTICS:
    * tile t of an n-row group spans ranks
    * `[(t-1)·q + min(t-1, m) + 1, …+size]` with `q = n div nBuckets`,
    * `m = n mod nBuckets`, `size = q + (t <= m ? 1 : 0)` — the first m
    * tiles carry one extra row, exactly as `ntile` assigns them. Rows
    * with equal values are interchangeable, so each tile's value
    * MULTISET — and therefore every output number — is deterministic
    * and engine-exact, even though a tile assignment of individual tied
    * rows would not be.
    *
    * Unlike an actual `ntile` window (a single-task full-group sort),
    * the 2·nBuckets tile-boundary ranks are resolved via
    * [[Selection.valueAtRanks]] bucket histograms; tile counts follow
    * from n by arithmetic. No row of the fact table is ever sorted by
    * a group-partitioned window. */
  def equiDepthHistogram(df: DataFrame, groupCol: String,
                         valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val k = nBuckets
    val targets = (1 to k).flatMap { t =>
      val start = s"((${t - 1}L * (__n div $k)) + least(${t - 1}L, __n % $k))"
      val size = s"((__n div $k) + (case when ${t}L <= __n % $k then 1L else 0L end))"
      // empty tiles (n < nBuckets) evaluate to rank 0 → no output row,
      // matching ntile (which never assigns tiles beyond n)
      Seq(s"lo:$t" -> s"case when $size >= 1L then $start + 1L else 0L end",
        s"hi:$t" -> s"case when $size >= 1L then $start + $size else 0L end")
    }
    Selection.valueAtRanks(
        df.select(col(groupCol), col(valueCol).cast("long").as("__v")),
        groupCol, "__v", targets)
      .withColumn("bucket",
        split(col("label"), ":").getItem(1).cast("int"))
      .withColumn("__which", split(col("label"), ":").getItem(0))
      .groupBy(col(groupCol), col("bucket"))
      .agg(
        max(expr(s"(n div $k) + (case when bucket <= n % $k then 1L else 0L end)"))
          .as("n"),
        max(when(col("__which") === "lo", col("value"))).as("lo"),
        max(when(col("__which") === "hi", col("value"))).as("hi"))
  }

  /** Per-group closed-form OLS trend over integral (x, y) pairs,
    * reported as EXACT integer numerator/denominator pairs:
    * `slope = slope_num / slope_den` with
    * `slope_num = n·Σx'y − Σx'·Σy`, `slope_den = n·Σx'² − (Σx')²`,
    * and `intercept_num / slope_den` the fitted value AT THE GROUP'S
    * FIRST x — x is CENTERED at the per-group minimum (`x' = x −
    * min(x)`) before any product, which leaves the slope mathematically
    * unchanged but keeps the 64-bit products bounded by series LENGTH
    * rather than absolute epoch offsets (raw epoch-day x with large
    * counts would silently wrap n·Σxy past 2^63). The division never
    * happens inside the engine, so the fit is engine-exact and
    * hash-checkable — float regression never is. Two partial-agg
    * passes over the (grid-sized) input: per-group min, broadcast
    * back, then the five sums. A constant-x group reports
    * slope_den = 0 (caller-visible "no trend defined"). */
  def trendFit(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val raw = df.select(col(groupCol), col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y"))
    val mins = raw.groupBy(col(groupCol))
      .agg(min(col("__x")).as("__mn"))
    raw.join(broadcast(mins), Seq(groupCol))
      .withColumn("__x", col("__x") - col("__mn"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(col(groupCol), col("n"),
        (col("n") * col("__sxy") - col("__sx") * col("__sy"))
          .as("slope_num"),
        (col("n") * col("__sxx") - col("__sx") * col("__sx"))
          .as("slope_den"),
        (col("__sy") * col("__sxx") - col("__sx") * col("__sxy"))
          .as("intercept_num"))
  }

  /** Join-skew diagnosis: the `topN` heaviest keys with their share and
    * cumulative share of all rows, in exact basis points. THE check to
    * run before keying a shuffle at corpus scale — a key above a few
    * hundred bp is a straggler (salt it, or broadcast the other side).
    * One partial-agg shuffle to key counts; only `topN` tiny rows see
    * the rank window. */
  def heavyHitters(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN > 0, "topN must be positive")
    import org.apache.spark.sql.expressions.Window
    // checkpointed: the total and the top-N both read the aggregated
    // key counts — without it the base table is scanned twice (the
    // total is just the sum of the counts, never a second pass over
    // df). A localCheckpoint, not a cache, so the count blocks don't
    // outlive the call as a session-lifetime InMemoryRelation.
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    // max(1): an empty input yields no output rows, but the share
    // expressions must still be well-formed literals
    val total = math.max(
      counts.agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0), 1L)
    // orderBy + limit compiles to TakeOrderedAndProject (per-partition
    // top-N, merged) — the full key-count table is never globally
    // sorted; only the topN survivors see the single-partition window
    val w = Window.orderBy(col("n").desc, col(keyCol))
    counts.orderBy(col("n").desc, col(keyCol)).limit(topN)
      .withColumn("rank", row_number().over(w))
      .withColumn("__cum", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col(keyCol), col("n"),
        expr(s"n * 10000L div ${total}L").as("share_bp"),
        expr(s"__cum * 10000L div ${total}L").as("cum_share_bp"))
  }

  /** Exact Gini concentration index per group (the Lorenz-curve
    * inequality diagnosis: how concentrated order revenue, token
    * counts, or link mass is across keys — 0 bp = perfectly even,
    * →10000 bp = one key holds everything). Formula
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over values sorted
    * ascending, emitted in floored basis points.
    *
    * Exactness with ties: [[Selection.rankRows]] assigns MIN-rank to
    * tied values, so Σ rank·v undercounts the ordinal Σ i·xᵢ by
    * exactly Σ_values v·c·(c−1)/2 — one extra (group, value) count
    * aggregate recovers it. Since tied values are equal, the ordinal
    * sum is permutation-invariant and any engine reproduces it.
    *
    * Scale: rankRows' bucket-histogram machinery ranks a hot group in
    * parallel (no group window over fact rows); both correction sums
    * are partial aggregates in decimal(38,0) (rank·value overflows a
    * long at warehouse scale). The per-group finals are collected
    * (group cardinality is broadcast-small by rankRows' contract) and
    * the division runs driver-side in BigInt — ANSI Spark would
    * otherwise throw mid-task on the widened products. */
  def giniConcentration(df: DataFrame, groupCol: String,
                        valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val ranked = Selection.rankRows(
      df.select(col(groupCol), col(valueCol)), groupCol, valueCol)
    val main = ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("long")).as("s0"),
        sum(expr(s"cast(rank as $dec) * cast($valueCol as $dec)"))
          .as("s1rows"))
    val corr = df.groupBy(col(groupCol), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(expr(s"cast(__v as $dec) * cast(__c as $dec) * " +
        s"cast(__c - 1L as $dec) / 2")).as("s1corr"))
    val rows = main.join(corr, Seq(groupCol))
      .select(col(groupCol).cast("string"), col("n"), col("s0"),
        (col("s1rows") + col("s1corr")).cast(dec).as("s1"))
      .collect()
    val out = rows.map { r =>
      val (g, n, s0) = (r.getString(0), r.getLong(1), r.getLong(2))
      val s1 = BigInt(r.getDecimal(3).toBigInteger)
      require(s0 > 0, s"giniConcentration: non-positive total in group $g")
      val gini = (BigInt(2) * s1 - BigInt(n + 1) * BigInt(s0)) *
        BigInt(10000) / (BigInt(n) * BigInt(s0))
      (g, n, s0, gini.toLong)
    }
    out.toSeq.toDF(groupCol, "n", "total", "gini_bp")
  }

  /** RFM customer segmentation (the classic direct-marketing /
    * lifecycle report): per key, recency (days from last event to
    * `refDate`), frequency (event count) and monetary (integer amount
    * sum), each cut into `buckets` EXACT quantile buckets — value at
    * rank `i·n div buckets` under ascending order, bucket = 1 + number
    * of cuts strictly below the value, so ties never straddle a cut
    * and any engine reproduces the assignment bit-for-bit. Bucket 1 =
    * lowest values on every axis (for recency that means MOST recent).
    *
    * Scale: one per-key aggregate (partial-agg shuffle), then the
    * bucket edges resolve through [[Selection.valueAtRanks]] on the
    * key-sized frame — histogram rank walk, no global sort — and come
    * back as `buckets−1` literals per axis folded into a codegen'd
    * comparison chain. No windows over key rows. */
  def rfm(df: DataFrame, keyCol: String, dateCol: String,
          centsCol: String, refDate: String, buckets: Int = 5): DataFrame = {
    require(buckets >= 2 && buckets <= 100, "buckets in [2, 100]")
    val per = df.groupBy(col(keyCol))
      .agg(
        datediff(lit(refDate).cast("date"), max(to_date(col(dateCol))))
          .cast("long").as("recency"),
        count(lit(1)).as("frequency"),
        sum(col(centsCol)).as("monetary"))
      .localCheckpoint(true) // 3 rank resolutions + final bucket pass
    val targets = (1 until buckets).map(i =>
      s"c$i" -> s"greatest(1L, (__n * ${i}L) div ${buckets}L)")
    // all three axes resolve in ONE valueAtRanks pass over a tagged
    // union (the Pq.train lesson: m separate rank collects pay the
    // job-scheduling floor m times)
    val stacked = per.select(explode(array(
        struct(lit("recency").as("__ms"), col("recency").as("__v")),
        struct(lit("frequency").as("__ms"), col("frequency").as("__v")),
        struct(lit("monetary").as("__ms"), col("monetary").as("__v"))))
        .as("s"))
      .select(col("s.__ms").as("__ms"), col("s.__v").as("__v"))
    val cutsByMeasure: Map[String, Seq[Long]] =
      Selection.valueAtRanks(stacked, "__ms", "__v", targets)
        .select(col("__ms"), col("label"), col("value")).collect()
        .groupBy(_.getString(0))
        .map { case (ms, rows) =>
          ms -> rows.map(r => r.getString(1).drop(1).toInt -> r.getLong(2))
            .sortBy(_._1).map(_._2).toSeq
        }
    def bucketOf(measure: String): org.apache.spark.sql.Column =
      cutsByMeasure(measure).foldLeft(lit(1L)) { (acc, c) =>
        acc + when(col(measure) > c, 1L).otherwise(0L) }
    val out = per
      .withColumn("r", bucketOf("recency"))
      .withColumn("f", bucketOf("frequency"))
      .withColumn("m", bucketOf("monetary"))
    out.withColumn("segment",
      col("r") * 100L + col("f") * 10L + col("m"))
  }

  /** Hierarchical rollup report: exact integer totals at every prefix
    * level of `dims` (the classic region → nation → (all) subtotal
    * pyramid), via Spark's native `rollup` — ONE pass, partial aggs
    * absorb each level map-side, no self-union of the input. Subtotal
    * rows label their collapsed dimensions `(all)` (inputs must not
    * contain that literal or NULL in a dim — enforced), so the report
    * is string/integer exact and hash-checks against `GROUP BY ROLLUP`
    * in any engine. Output: (dims..., n, total). */
  def rollupReport(df: DataFrame, dims: Seq[String],
                   valueCol: String): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    require(!dims.contains("n") && !dims.contains("total"),
      "dims may not be named 'n' or 'total' (output columns)")
    val guarded = dims.foldLeft(df) { (d, c) =>
      d.withColumn(c, coalesce(
        when(col(c).cast("string") === "(all)",
          raise_error(lit(s"rollupReport: '(all)' literal in $c"))
            .cast("string"))
          .otherwise(col(c).cast("string")),
        raise_error(lit(s"rollupReport: null in $c")).cast("string")))
    }
    guarded
      .rollup(dims.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
      .select(dims.map(c => coalesce(col(c), lit("(all)")).as(c)) ++
        Seq(col("n"), col("total")): _*)
  }

  /** Index of dispersion (Fano factor) of the per-(group, date) count
    * series, in floored basis points: `F = var/mean` — 10000 bp for a
    * Poisson-like (memoryless) arrival process, higher = bursty,
    * lower = metronomic. The burstiness diagnosis next to
    * [[Rolling.cusum]]'s level-shift detection. Exact-integer
    * cross-multiplied form `F_bp = 10000·(n·Σx² − S²) div (n·S)` over
    * population variance, so any engine reproduces it; products ride
    * decimal(38,0) against warehouse-scale overflow. Output:
    * (group, n_days, total, fano_bp).
    *
    * Scale: one shuffle to daily counts, one partial agg per group —
    * no windows, no driver data. */
  def dispersionIndex(df: DataFrame, groupCol: String,
                      tsCol: String): DataFrame =
    df.groupBy(col(groupCol), to_date(col(tsCol)).as("__d"))
      .agg(count(lit(1)).as("__x"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"), sum(col("__x")).as("total"),
        sum(col("__x") * col("__x")).as("__sq"))
      .withColumn("fano_bp", expr(
        """cast(10000L as decimal(38,0)) *
          |  (n_days * cast(__sq as decimal(38,0)) - cast(total as decimal(38,0)) * total)
          |  div (n_days * cast(total as decimal(38,0)))""".stripMargin)
        .cast("long"))
      .drop("__sq")

  /** Snapshot diff — the CDC/audit primitive: classify every key of
    * two table versions as `added`, `removed`, `changed`, or `same`,
    * comparing non-key columns by a canonical md5 row fingerprint
    * (column-name-sorted `name=value` list, NULL spelled explicitly —
    * so the verdict is engine-reproducible). Output: (key..., verdict,
    * fp_old, fp_new) with NULL fingerprints on the absent side.
    *
    * Scale: ONE full-outer equi-join on the key — fingerprints are
    * computed per-row in the scan (codegen concat/md5, no shuffle
    * beyond the join), so 100 TB diffs like any co-partitioned join;
    * keys are assumed unique per snapshot (enforce upstream — a dup
    * key would fan out the join). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    def fp(d: DataFrame): DataFrame = {
      val rest = d.columns.filterNot(keyCols.contains).sorted
      require(rest.nonEmpty, "snapshotDiff: no non-key columns")
      // \u0001 between pieces and a \u0002-prefixed NULL sentinel keep
      // the fingerprint unambiguous ("a=b c=" vs "a=b c" can never
      // collide) while staying expressible as chr(1)/chr(2) in SQL
      d.select(keyCols.map(col) :+
        md5(concat_ws("\u0001", rest.map(c =>
          concat(lit(c + "="),
            coalesce(col(c).cast("string"), lit("\u0002NULL")))): _*))
          .as("__fp"): _*)
    }
    fp(oldDf).withColumnRenamed("__fp", "fp_old")
      .join(fp(newDf).withColumnRenamed("__fp", "fp_new"),
        keyCols, "full_outer")
      .withColumn("verdict",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "same")
          .otherwise("changed"))
  }

  /** Exact central moments per group — mean, variance, and the raw 3rd
    * and 4th central moments in fixed point (`scale`, default 10^4),
    * from single-pass integer power sums. Central moments are
    * shift-invariant, so values are first anchored to the per-group
    * minimum: the power sums then grow with the value RANGE, not the
    * absolute magnitude, which is what keeps `s1^4` inside
    * decimal(38,0) at warehouse scale (exact while n·range < ~3·10^9;
    * beyond that, pre-bucket or rescale the values).
    *
    * `var_fp  = scale·(n·s2 − s1²) div n²`           (population)
    * `m3_fp   = scale·(n²·s3 − 3n·s1·s2 + 2s1³) div n³`  (signed —
    *            sign factored out so truncation is engine-portable)
    * `m4_fp   = scale·(n³·s4 − 4n²·s1·s3 + 6n·s1²·s2 − 3s1⁴) div n⁴`
    *
    * Scale: one small groupBy for the anchors (broadcast back), one
    * partial-agg shuffle for the power sums — raw values never sort,
    * nothing driver-side. Output: (group, n, mean_fp, var_fp, m3_fp,
    * m4_fp). */
  def moments(df: DataFrame, groupCol: String, valueCol: String,
              scale: Long = 10000L): DataFrame = {
    val anchors = df.groupBy(col(groupCol))
      .agg(min(col(valueCol).cast("long")).as("__mn"))
    val x = col("__x").cast("decimal(38,0)")
    df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .join(broadcast(anchors), Seq(groupCol))
      .withColumn("__x", col("__v") - col("__mn"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        min(col("__mn")).cast("decimal(38,0)").as("__mn"),
        sum(x).as("__s1"), sum(x * x).as("__s2"),
        sum(x * x * x).as("__s3"), sum(x * x * x * x).as("__s4"))
      .select(col(groupCol), col("__n").cast("long").as("n"),
        expr(s"cast(($scale * (__mn * __n + __s1)) div __n as long)")
          .as("mean_fp"),
        expr(s"""cast(($scale * (__n * __s2 - __s1 * __s1))
                |  div (__n * __n) as long)""".stripMargin).as("var_fp"),
        expr(
          s"""cast(case
             |  when __n*__n*__s3 - 3*__n*__s1*__s2 + 2*__s1*__s1*__s1 >= 0
             |    then ($scale * (__n*__n*__s3 - 3*__n*__s1*__s2 +
             |          2*__s1*__s1*__s1)) div (__n*__n*__n)
             |  else -(($scale * -(__n*__n*__s3 - 3*__n*__s1*__s2 +
             |          2*__s1*__s1*__s1)) div (__n*__n*__n))
             |  end as long)""".stripMargin).as("m3_fp"),
        expr(
          s"""cast(($scale * (__n*__n*__n*__s4 - 4*__n*__n*__s1*__s3 +
             |  6*__n*__s1*__s1*__s2 - 3*__s1*__s1*__s1*__s1))
             |  div (__n*__n*__n*__n) as long)""".stripMargin).as("m4_fp"))
  }

  /** k-anonymity audit: the re-identification-risk complement to the
    * PII redaction battery. Every combination of the quasi-identifier
    * columns gets its anonymity-set size and an `at_risk` verdict
    * (size < k ⇒ the combination singles people out and must be
    * suppressed or generalized before release).
    *
    * Scale: ONE partial-agg shuffle on the QI combination — the audit
    * costs the same as any groupBy-count at 100 TB. Output:
    * (qiCols..., group_size, at_risk). */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Int): DataFrame = {
    require(qiCols.nonEmpty && k > 0, "need QI columns and k > 0")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .withColumn("at_risk", col("group_size") < k)
  }

  /** l-diversity audit — the release gate k-anonymity misses: a QI
    * group can be large (k-anonymous) yet give away the sensitive
    * attribute because everyone in it shares ONE value. Every QI
    * combination gets its size, its count of DISTINCT sensitive
    * values, and an `at_risk` verdict (`l_distinct < l` ⇒ the group
    * leaks; Machanavajjhala et al. 2007, public definition).
    *
    * Scale: one partial-agg shuffle on the QI combination; the
    * distinct count is Spark's two-phase distinct aggregate (expand +
    * partial), never a collect. Output: (qiCols..., group_size,
    * l_distinct, at_risk). */
  def lDiversity(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                 l: Int): DataFrame = {
    require(qiCols.nonEmpty && l > 0, "need QI columns and l > 0")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        count_distinct(col(sensitiveCol)).as("l_distinct"))
      .withColumn("at_risk", col("l_distinct") < l)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian ICDE'07, public
    * formulation, ordered-domain variant): per quasi-identifier group,
    * the maximum cumulative-share gap between the group's sensitive-
    * value distribution and the GLOBAL one — the equal-distance EMD
    * for an ordered domain — in exact floored basis points:
    * `t_bp = max_v (10^4·|cum_g(v)·N − cum_G(v)·n_g|) div (n_g·N)`
    * (one division at the end; the max runs over the cross-multiplied
    * integer numerators, so no rational ever rounds before the max).
    * The release gate after [[kAnonymity]]/[[lDiversity]]: a group can
    * be large and diverse yet still leak by skewing toward one value.
    *
    * Scale: rows collapse to (group, value) and (value) tallies (two
    * partial-agg shuffles); the CDF windows run over the groups ×
    * sensitive-DOMAIN grid (the sanctioned bounded crossJoin shape of
    * [[Survival.logRank]]), guarded TWICE: [[Eval.boundedTally]]'s
    * maxSeries contract on the tally itself, and a |groups|·|domain|
    * ≤ maxSeries REQUIRE on the materialized grid row count (a tally
    * can pass the first while its cross product would not — both
    * counts come from the same one-row aggregate, no extra pass).
    * Never over raw rows; products ride decimal(38,0). Output:
    * (qi..., n, t_bp). */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
                 sensitiveCol: String,
                 maxSeries: Long = 1L << 22): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qiCols.nonEmpty, "need QI columns")
    val tal = Eval.boundedTally(
      df.select((qiCols.map(col) :+
          col(sensitiveCol).cast("long").as("__v")): _*)
        .groupBy((qiCols.map(col) :+ col("__v")): _*)
        .agg(count(lit(1)).as("__c"))
        .withColumn("__g", lit(0)),
      "__g", maxSeries, "tCloseness").drop("__g")
    val glob = tal.groupBy(col("__v")).agg(sum(col("__c")).as("__gc"))
    val groups = tal.groupBy(qiCols.map(col): _*)
      .agg(sum(col("__c")).as("__n"))
    val nRow = tal.agg(sum(col("__c")),
      count_distinct(col("__v")),
      count_distinct(struct(qiCols.map(col): _*))).collect()(0)
    require(!nRow.isNullAt(0), "tCloseness: empty input")
    val nTotal = nRow.getLong(0)
    val gridCells = nRow.getLong(2) * nRow.getLong(1)
    require(gridCells <= maxSeries,
      s"tCloseness: groups x domain grid has $gridCells cells " +
        s"(> maxSeries=$maxSeries). Coarsen the sensitive domain " +
        "(bucket it) or the QI columns, or raise maxSeries deliberately.")
    // groups × domain grid, each cell carrying the group tally (0 when
    // absent) and the global tally
    val grid = groups.crossJoin(broadcast(glob))
      .join(tal, qiCols :+ "__v", "left")
      .na.fill(0L, Seq("__c"))
    val wg = Window.partitionBy(qiCols.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NOTE: names differing only in case collide under Spark's
    // case-insensitive resolution — keep these two fully distinct
    grid
      .withColumn("__cum_grp", sum(col("__c")).over(wg))
      .withColumn("__cum_all", sum(col("__gc")).over(wg))
      .withColumn("__num", abs(
        col("__cum_grp").cast("decimal(38,0)") * lit(nTotal) -
          col("__cum_all").cast("decimal(38,0)") * col("__n")))
      .groupBy((qiCols.map(col) :+ col("__n")): _*)
      .agg(max(col("__num")).as("__mx"))
      .withColumnRenamed("__n", "n")
      .withColumn("t_bp", expr(
        s"cast((10000 * __mx) div (cast(n as decimal(38,0)) * ${nTotal}L)" +
          " as long)"))
      .drop("__mx")
  }

  /** Lorenz concentration curve per group: for each decile of
    * ENTITIES (ranked ascending by their total value), the cumulative
    * entity count and value share in floored basis points — the
    * curve behind [[StatsPack]]'s Gini scalar ("the bottom 80% of
    * customers hold 23% of spend"). RANK (min-rank) semantics via
    * [[Selection.rankRows]] keep tied entities in ONE decile, so the
    * report is engine-deterministic; decile of rank r is
    * `(r−1)·10 div n + 1`.
    *
    * Scale: one (group, entity) partial agg; rankRows runs over the
    * ENTITY-sized aggregate frame (never raw rows); the decile rollup
    * and its cumsum window see ≤ 10 rows per group. Values must be
    * non-negative; share products ride decimal(38,0). Output:
    * (group, decile, n_entities_cum, value_cum, share_bp). */
  def lorenz(df: DataFrame, groupCol: String, entityCol: String,
             valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(groupCol), col(entityCol))
      .agg(sum(col(valueCol).cast("long")).as("__v"))
    val guarded = per.withColumn("__v",
      when(col("__v") < 0L, raise_error(
        lit("lorenz: negative entity total")).cast("long"))
        .otherwise(col("__v")))
    val ranked = Selection.rankRows(guarded, groupCol, "__v")
      .withColumn("decile", expr("((rank - 1) * 10) div n + 1"))
    val wg = Window.partitionBy(col(groupCol)).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.groupBy(col(groupCol), col("decile"))
      .agg(count(lit(1)).as("__ne"), sum(col("__v")).as("__dv"),
        max(col("n")).as("__n"))
      .withColumn("n_entities_cum", sum(col("__ne")).over(wg))
      .withColumn("value_cum", sum(col("__dv")).over(wg))
      .join(per.groupBy(col(groupCol))
        .agg(sum(col("__v")).as("__tot")), Seq(groupCol))
      .withColumn("share_bp", expr(
        """cast(case when __tot > 0
          |  then (10000 * cast(value_cum as decimal(38,0))) div __tot
          |  else 0 end as long)""".stripMargin))
      .select(col(groupCol), col("decile"), col("n_entities_cum"),
        col("value_cum"), col("share_bp"))
  }

  /** Schema & column-stats drift report between two frames (table
    * versions, replica vs source, yesterday vs today): one row per
    * (column, metric) with both sides and the delta — the first thing
    * an on-call engineer pulls when a pipeline "looks wrong". Metrics
    * per column: presence (1/0 — catches added/dropped columns), row
    * count, null count, exact distinct count. All exact integers.
    *
    * Scale: ONE aggregate pass per side computes every column's stats
    * together (the column loop builds the expression list, it never
    * iterates data); the single stats row collects (model-sized) and
    * the report is a literal-frame full-outer join. Output:
    * (column, metric, a, b, delta). */
  def schemaDrift(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    def longStats(df: DataFrame): DataFrame = {
      val cols = df.columns.toSeq
      if (cols.isEmpty)
        return Seq.empty[(String, String, Long)]
          .toDF("column", "metric", "value")
      // coalesce: sum() over an EMPTY side is NULL — an empty frame
      // must report zeros, not crash the row decode
      val aggs = count(lit(1)).as("__n") +: cols.flatMap { c => Seq(
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)),
        count_distinct(col(c))) }
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = r.getLong(0)
      val rows = cols.zipWithIndex.flatMap { case (c, i) =>
        Seq((c, "present", 1L), (c, "n_rows", n),
          (c, "n_nulls", r.getLong(1 + 2 * i)),
          (c, "n_distinct", r.getLong(2 + 2 * i)))
      }
      rows.toDF("column", "metric", "value")
    }
    val sa = longStats(a).select(col("column"), col("metric"),
      col("value").as("a"))
    val sb = longStats(b).select(col("column"), col("metric"),
      col("value").as("b"))
    sa.join(sb, Seq("column", "metric"), "full_outer")
      .na.fill(0L, Seq("a", "b"))
      .withColumn("delta", col("b") - col("a"))
  }

  /** Herfindahl–Hirschman concentration index per group, exact: with
    * per-entity masses v_i and total T, `hhi_e8 = Σv_i² · 10^8 div T²`
    * — 10^8 at single-entity monopoly, →0 when mass is spread thin.
    * The squared-share sum is computed as ONE exact rational (no
    * per-entity share division), on decimal(38,0) so cent-scale masses
    * square without ANSI overflow (Σv_i² ≤ T² ≤ ~10^30 at 100 TB cent
    * sums — inside decimal(38) headroom).
    *
    * Complements [[StatsPack]]'s Gini: HHI weights the head
    * quadratically, the standard market/source-dominance alarm.
    *
    * Scale: two partial-agg shuffles (group×entity, then group) — the
    * same shape as any two-level rollup. Output: (group, n_entities,
    * total, hhi_e8); requires a non-negative integral value column. */
  def herfindahl(df: DataFrame, groupCol: String, entityCol: String,
                 valueCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol), col(entityCol))
      .agg(sum(col(valueCol)).as("__v"))
    per.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_entities"), sum(col("__v")).as("total"),
        sum(col("__v").cast("decimal(38,0)") *
          col("__v").cast("decimal(38,0)")).as("__ss"))
      .withColumn("hhi_e8", expr(
        """cast((__ss * 100000000) div
          |  (cast(total as decimal(38,0)) * total) as long)"""
          .stripMargin))
      .drop("__ss")
  }

  /** Exact per-group trimmed mean — the robust location estimate
    * [[winsorize]]'s clamp is not: values OUTSIDE the group's
    * [loBp, hiBp] discrete-percentile VALUE bounds are dropped, and
    * the mean is over the survivors:
    * `mean_fp = (100·Σv) div n_kept` (sign-factored). Bounds use the
    * same `max(1, ceil(n·bp/10000))` rank arithmetic as winsorize, and
    * trimming by value (ties included) keeps the result independent of
    * rank tie-breaks — any engine reproduces it.
    *
    * Scale: [[Selection.valueAtRanks]] resolves both bounds on bucket
    * histograms (no group sort), broadcast back, ONE conditional
    * partial agg. Output: (group, n, n_kept, mean_fp). */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  loBp: Int, hiBp: Int): DataFrame = {
    require(loBp >= 0 && hiBp <= 10000 && loBp < hiBp,
      "need 0 <= loBp < hiBp <= 10000")
    val vals = df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
    val picked = Selection.valueAtRanks(vals, groupCol, "__v",
      Seq("lo" -> s"greatest(1L, (__n * ${loBp}L + 9999L) div 10000L)",
        "hi" -> s"greatest(1L, (__n * ${hiBp}L + 9999L) div 10000L)"))
    val bounds = picked.groupBy(col(groupCol)).agg(
      max(when(col("label") === "lo", col("value"))).as("__lo"),
      max(when(col("label") === "hi", col("value"))).as("__hi"))
    vals.join(broadcast(bounds), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v").between(col("__lo"), col("__hi")), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("__v").between(col("__lo"), col("__hi")), col("__v"))
          .otherwise(lit(0L))).as("__s"))
      .withColumn("mean_fp", expr(
        """case when n_kept = 0 then cast(null as bigint)
          |  when __s >= 0 then (100 * __s) div n_kept
          |  else -((100 * -__s) div n_kept) end""".stripMargin))
      .drop("__s")
  }

  /** Order-insensitive content digest per group — the replication /
    * migration audit: every row hashes once (md5 of a `|`-joined
    * canonical string rendering, first 8 hex digits as an integer —
    * the portable-hash recipe any engine reproduces), and the group
    * digest is the SUM of row hashes modulo 2^62 — a commutative fold,
    * so partition order, shuffle order, and engine parallelism cannot
    * change it. Two copies of a table disagree ⇒ digests differ with
    * probability ≈ 1 (birthday-bounded); equal digests + equal counts
    * is the cheap "replica matches" check that needs NO join and moves
    * no data between the copies.
    *
    * Callers must render value columns deterministically BEFORE
    * calling (integers/strings; never raw doubles or timestamps —
    * engine string renderings differ). Nulls encode as \u0001.
    *
    * Scale: one partial-agg shuffle to group-sized output; the row
    * hash is per-row codegen. Sums ride decimal(38,0) (10^10 rows ×
    * 2^32 ≈ 4·10^19 overflows a long). Output: (group, n_rows,
    * digest). */
  /** The per-row portable hash [[contentDigest]] folds — shared with
    * the streaming twin so both sides digest identically. */
  private[graft] def rowHash(cols: Seq[String]): org.apache.spark.sql.Column = {
    require(cols.nonEmpty, "need at least one content column")
    val repr = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*)
    conv(substring(md5(repr), 1, 8), 16, 10).cast("long")
  }

  def contentDigest(df: DataFrame, groupCol: String,
                    cols: Seq[String]): DataFrame = {
    df.select(col(groupCol), rowHash(cols).as("__h"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__h").cast("decimal(38,0)")).as("__s"))
      .withColumn("digest",
        expr("cast(__s % 4611686018427387904 as bigint)"))
      .drop("__s")
  }

  /** Benford-law first-digit fp of log10(1 + 1/d), d = 1..9 — embed the
    * SAME literals in any oracle (they are pure math constants). */
  val BenfordFp: Seq[Long] =
    (1 to 9).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  /** Benford first-significant-digit audit per group over a positive
    * integral column — the classic fabricated-data / corrupted-feed
    * tripwire. Each observed leading digit gets its count against the
    * Benford expectation and an exact-integer χ² contribution:
    * `chi2_fp = (10^6·n_d − n·p_fp)² div (n·p_fp) div 10^6`
    * (= 10^6·(n_d − e_d)²/e_d with e_d = n·p_fp/10^6; nested floor
    * division equals single floor division for positive divisors).
    *
    * Scale: digits come from a per-row substring of the decimal
    * rendering (codegen, no shuffle); then one partial-agg shuffle to
    * ≤ 9 rows per group. Output: (group, digit, n_digit, n, p_fp,
    * chi2_fp); digits with zero count emit no row (their contribution
    * n·p_fp div 10^6 is reportable from the present rows). */
  def benford(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val digits = df
      .filter(col(valueCol) > 0)
      .select(col(groupCol),
        substring(col(valueCol).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
      .groupBy(col(groupCol), col("digit"))
      .agg(count(lit(1)).as("n_digit"))
    val totals = digits.groupBy(col(groupCol))
      .agg(sum(col("n_digit")).as("n"))
    val pFp = (1 to 9).zip(BenfordFp)
      .foldLeft(lit(null).cast("long")) { case (acc, (d, p)) =>
        when(col("digit") === d, p).otherwise(acc) }
    digits.join(broadcast(totals), Seq(groupCol))
      .withColumn("p_fp", pFp)
      .withColumn("chi2_fp", expr(
        """cast((
          |  (cast(1000000 as decimal(38,0)) * n_digit -
          |   cast(n as decimal(38,0)) * p_fp) *
          |  (cast(1000000 as decimal(38,0)) * n_digit -
          |   cast(n as decimal(38,0)) * p_fp)
          |) div (cast(n as decimal(38,0)) * p_fp) div 1000000
          |as long)""".stripMargin))
  }

  /** ABC / Pareto classification per group: items ranked by total
    * value; an item is class A while the cumulative share BEFORE it is
    * under `cutABp` (so the item straddling 80% still counts as A), B
    * until `cutBBp`, else C — the inventory/corpus triage "20% of
    * sources carry 80% of tokens". The cut test is the exact
    * cross-multiplication `10000·cum_prev < cut·grand` on
    * decimal(38,0) — no percentage division at all.
    *
    * Scale: raw rows collapse to (group, item) totals in one partial-
    * agg shuffle; the rank/cumsum windows partition by group over the
    * ITEM-domain-bounded totals, never raw rows. Deterministic
    * (total desc, item asc) order. Output: (group, item, total, rank,
    * abc_class). */
  def abcClassify(df: DataFrame, groupCol: String, itemCol: String,
                  valueCol: String, cutABp: Int = 8000,
                  cutBBp: Int = 9500): DataFrame = {
    require(0 < cutABp && cutABp <= cutBBp && cutBBp <= 10000,
      "need 0 < cutABp <= cutBBp <= 10000")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col(groupCol))
      .orderBy(col("total").desc, col(itemCol))
    df.groupBy(col(groupCol), col(itemCol))
      .agg(sum(col(valueCol)).cast("long").as("total"))
      .withColumn("__prev", coalesce(sum(col("total")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__grand",
        sum(col("total")).over(Window.partitionBy(col(groupCol))))
      .withColumn("rank", row_number().over(wOrd))
      .withColumn("abc_class", expr(
        s"""case
           |  when 10000 * cast(__prev as decimal(38,0)) <
           |       $cutABp * cast(__grand as decimal(38,0)) then 'A'
           |  when 10000 * cast(__prev as decimal(38,0)) <
           |       $cutBBp * cast(__grand as decimal(38,0)) then 'B'
           |  else 'C' end""".stripMargin))
      .select(col(groupCol), col(itemCol), col("total"), col("rank"),
        col("abc_class"))
  }

  /** Signed fixed-point r² (coefficient of determination, carrying the
    * correlation's sign) per group. Pearson r needs a square root, so
    * the EXACT portable form squares instead: magnitudes are first
    * fp-NORMALIZED — `cov_n = scale·cov div n²`, `vx_n = scale·vx div
    * n²`, `vy_n = scale·vy div n²` with cov/vx/vy the classic
    * n·ΣXY − ΣX·ΣY forms over min-anchored values — then
    * `r2_fp = sign(cov)·scale·cov_n² div (vx_n·vy_n)`. Normalizing by
    * n² first keeps every operand bounded by scale·range² regardless
    * of row count (the naive cov² overflows decimal(38,0) at
    * warehouse scale); the metric is DEFINED as this declared-order
    * procedure, so any engine reproduces it bit-for-bit.
    *
    * Scale: anchor groupBy (broadcast back) + one partial-agg shuffle;
    * scalar math after. Constant columns (vx_n or vy_n = 0) emit NULL.
    * Output: (group, n, r2_fp). */
  def corrR2(df: DataFrame, groupCol: String, xCol: String, yCol: String,
             scale: Long = 1000000L): DataFrame =
    corrOver(df, Seq(groupCol), xCol, yCol, scale)

  /** [[corrR2]] over a composite group key — shared with
    * [[Rolling.autocorr]], whose group is (series, lag). */
  private[operators] def corrOver(df: DataFrame, groupCols: Seq[String],
      xCol: String, yCol: String, scale: Long): DataFrame = {
    val anchors = df.groupBy(groupCols.map(col): _*)
      .agg(min(col(xCol).cast("long")).as("__ax"),
        min(col(yCol).cast("long")).as("__ay"))
    val x = col("__x").cast("decimal(38,0)")
    val y = col("__y").cast("decimal(38,0)")
    df.select(groupCols.map(col) ++ Seq(
        col(xCol).cast("long").as("__rx"),
        col(yCol).cast("long").as("__ry")): _*)
      .join(broadcast(anchors), groupCols)
      .withColumn("__x", col("__rx") - col("__ax"))
      .withColumn("__y", col("__ry") - col("__ay"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("decimal(38,0)").as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"), sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"), sum(x * y).as("__sxy"))
      .withColumn("__cov", expr("__n * __sxy - __sx * __sy"))
      .withColumn("__covn", expr(
        s"""case when __cov >= 0
           |  then ($scale * __cov) div (__n * __n)
           |  else -(($scale * -__cov) div (__n * __n)) end""".stripMargin))
      .withColumn("__vxn", expr(
        s"($scale * (__n * __sxx - __sx * __sx)) div (__n * __n)"))
      .withColumn("__vyn", expr(
        s"($scale * (__n * __syy - __sy * __sy)) div (__n * __n)"))
      .withColumn("r2_fp", expr(
        s"""cast(case
           |  when __vxn = 0 or __vyn = 0 then null
           |  when __covn >= 0
           |    then ($scale * cast(__covn as decimal(38,0)) * __covn)
           |         div (cast(__vxn as decimal(38,0)) * __vyn)
           |  else -(($scale * cast(__covn as decimal(38,0)) * __covn)
           |         div (cast(__vxn as decimal(38,0)) * __vyn))
           |  end as long)""".stripMargin))
      .select(groupCols.map(col) ++ Seq(
        col("__n").cast("long").as("n"), col("r2_fp")): _*)
  }

  /** Weighted per-group quantiles: the value at cumulative-WEIGHT
    * ranks — e.g. the doc length below which half the corpus TOKEN
    * mass sits, which unweighted quantiles misstate badly on skewed
    * length distributions. `bps` are (label, basis points); rank =
    * max(1, Σw·bp div 10^4). Rides [[Selection.valueAtRanks]]'s
    * weighted bucket histograms — two-to-three aggregate scans, no
    * sorts, no per-group windows over facts. Output: (group, label,
    * value, n = Σweight). */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                        weightCol: String,
                        bps: Seq[(String, Int)]): DataFrame = {
    require(bps.nonEmpty && bps.forall(b => b._2 >= 1 && b._2 <= 10000),
      "bps must be in [1, 10000]")
    Selection.valueAtRanks(df, groupCol, valueCol,
      bps.map { case (lbl, bp) =>
        lbl -> s"greatest(1L, (__n * ${bp}L) div 10000L)" },
      weightCol = Some(weightCol))
  }

  /** Spearman rank correlation as signed fp r² — monotone association
    * where [[corrR2]] only sees linear: both columns are replaced by
    * their PERCENTILE ranks (10^4·rank div n, RANK() tie semantics via
    * [[Selection.rankRows]] — no group window over facts), then the
    * same fp-normalized r² procedure runs on the percentiles. Using
    * percentile ranks (domain-bounded 0..10^4) rather than raw ranks
    * keeps the corr procedure's operands n-independent — raw ranks
    * would overflow decimal(38,0) past ~10^5 rows. The metric is the
    * declared integer procedure, engine-exact.
    *
    * Output: (group, n, r2_fp). */
  def spearmanR2(df: DataFrame, groupCol: String, xCol: String,
                 yCol: String, scale: Long = 1000000L): DataFrame = {
    // Pin pass 1 before pass 2 (r18, guide §5/§6 read-once): rankRows
    // executes its input three times (the bounds collect, then the
    // driver rank table's tally collect and rank probe — or, over the
    // budget, two bucket aggregates and the rank-attach probe), so an
    // UNCHECKPOINTED rx makes pass 2 recompute pass 1's scan and join
    // each time — the r18 before-plan of q179 showed 18 parquet scans /
    // 58 exchanges on the bucket path. On the driver-table path the
    // checkpoint still pays: without it q179 ran the same 16 jobs but
    // 0.5 s slower (3 traced train_pipeline pairs, 4 cores). Project to the
    // three columns pass 2 and corrOver actually need (x is consumed by
    // pass 1) before the checkpoint so the pinned frame is as narrow as
    // possible (§2.3).
    val rx = Selection.rankRows(
        df.select(col(groupCol), col(xCol), col(yCol)), groupCol, xCol)
      .withColumn("__px", expr("(10000 * rank) div n"))
      .select(col(groupCol), col(yCol), col("__px"))
      .localCheckpoint(true)
    val rxy = Selection.rankRows(rx, groupCol, yCol)
      .withColumn("__py", expr("(10000 * rank) div n"))
      .drop("rank", "n")
    corrOver(rxy, Seq(groupCol), "__px", "__py", scale)
  }

  /** Quantile normalization: replace each value with the GLOBAL value
    * at its within-group percentile — the distribution-alignment
    * transform (batch-effect correction) that makes groups comparable
    * without destroying order. Declared integer procedure, engine-
    * exact: per-row `pct_bp = scale·rank_g div n_g` (RANK() semantics
    * via [[Selection.rankRows]] — no group window over facts), then
    * `normalized = global value at multiset rank
    * max(1, pct_bp·N div scale)`.
    *
    * Scale: TWO rankRows passes (bucket histograms — the Spearman
    * posture), no ordered window anywhere. Pass 1 gives the per-group
    * percentiles; pass 2 (constant group) gives every row its GLOBAL
    * multiset rank, which tie-collapses to per-distinct-value anchors
    * `[lo, lo+c)` that partition the rank axis 1..N. Each anchor then
    * answers its probe ranks `r_p = max(1, p·N div scale)` by EXACT
    * integer inversion — the probe indices p falling inside an
    * anchor's rank interval form a closed-form range, emitted with
    * `explode(sequence(...))` — so the inverse CDF is pure per-row
    * arithmetic over the distributed anchor frame: a corpus-wide or
    * near-continuous value domain never serializes into one task. The
    * exactly-scale+1-row lookup broadcasts back onto the rows.
    * Output: input columns + pct_bp + normalized. */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        scale: Long = 10000L): DataFrame = {
    require(scale >= 1 && scale <= 1000000L, "scale in [1, 10^6]")
    val (ranked0, boundRows) =
      Selection.rankRowsWithBounds(df, groupCol, valueCol)
    val ranked = ranked0
      .withColumn("pct_bp", expr(s"($scale * rank) div n"))
      .drop("rank", "n")
      .localCheckpoint(true) // rankRows lineage is multi-scan; pin it
    // Inverse CDF via tie-collapsed global anchors. FAST PATH (the
    // [[Selection.valueAtRanks]] driver-histogram posture): when the
    // distinct-value bound min(span+1, n) fits the driver budget, the
    // per-value tally collects and the whole scale+1-row lookup is a
    // driver walk — two lean jobs. Over budget, the distributed
    // anchors come from [[Selection.distinctMinRanks]] (windows only
    // over ≤B-row bucket-count frames — never a single-task sort).
    val facts = df.select(col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    // global (min, max, n) fold from rankRows' per-group bound rows —
    // rankRows already collected them, and it raise_errors on null
    // values, so the global fold over groups equals the old full-scan
    // aggregate over non-null facts (r18, guide §6 read-once: one
    // fewer full scan of the fact table)
    val n = boundRows.iterator.map(_.getLong(3)).sum
    require(n > 0, "quantileNormalize: empty input")
    // (hi+1)·scale and lo·scale + n must stay in Long (ANSI throws
    // mid-task otherwise); fail fast driver-side with the clear error
    require(n <= Long.MaxValue / (scale + 1) - 1,
      s"quantileNormalize: n=$n too large for scale=$scale")
    val mn = boundRows.iterator.map(_.getLong(1)).min
    val mx = boundRows.iterator.map(_.getLong(2)).max
    require(mx - mn >= 0,
      s"quantileNormalize: value range [$mn, $mx] exceeds Long.MaxValue")
    val span = mx - mn
    val budget = Selection.DriverBudgetRows.toLong
    val distinctBound =
      if (span >= budget) n else math.min(span + 1L, n)
    // probe p answers rank r_p = max(1, (p·N) div scale); anchor
    // [lo, hi] answers p in [ceil(lo·scale/N), ((hi+1)·scale−1) div N]
    // (lo ≤ 1 extends down to p = 0 to absorb the max(1,·) clamp).
    // The anchor intervals partition 1..N, so every p in 0..scale
    // lands in exactly one anchor.
    val lookup: DataFrame =
      if (distinctBound <= budget) {
        val tl = facts.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val out = new Array[Long](scale.toInt + 1)
        var lo = 1L; var ai = 0; var p = 0L
        while (p <= scale) {
          val r = math.max(1L, (p * n) / scale)
          while (lo + tl(ai)._2 - 1L < r) { lo += tl(ai)._2; ai += 1 }
          out(p.toInt) = tl(ai)._1
          p += 1L
        }
        val spark = df.sparkSession
        import spark.implicits._
        out.toIndexedSeq.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }
          .toDF("pct_bp", "normalized")
      } else {
        val (anchors, _) = Selection.distinctMinRanks(df, valueCol)
        anchors
          .withColumn("__hi", col("__lo") + col("__c") - 1L)
          .withColumn("__pLo", when(col("__lo") <= 1L, lit(0L))
            .otherwise(expr(s"(__lo * ${scale}L + ${n}L - 1L) div ${n}L")))
          .withColumn("__pHi", least(lit(scale),
            expr(s"((__hi + 1L) * ${scale}L - 1L) div ${n}L")))
          .filter(col("__pLo") <= col("__pHi"))
          .select(explode(sequence(col("__pLo"), col("__pHi")))
            .as("pct_bp"), col("__v").as("normalized"))
      }
    ranked.join(broadcast(lookup), Seq("pct_bp"))
      .select(df.columns.map(col) ++
        Seq(col("pct_bp"), col("normalized")): _*)
  }

  /** Exact per-group MODE of an integral column with a deterministic
    * tie-break (the SMALLEST value among the max-count ties — any
    * engine reproduces it). The categorical location statistic the
    * mean/median family lacks: top value of a domain, per segment.
    *
    * Scale: one partial-agg shuffle to (group, value) tallies, then
    * the per-group argmax folds as `min(struct(-count, value))` — a
    * plain aggregate, no window, no sort; a domain-sized hot group
    * tallies in parallel. Output: (group, mode_value, mode_count, n,
    * n_distinct). */
  def modeValue(df: DataFrame, groupCol: String,
                valueCol: String): DataFrame =
    df.groupBy(col(groupCol), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(min(struct((-col("__c")).as("nc"), col("__v").as("v")))
          .as("__m"),
        sum(col("__c")).as("n"), count(lit(1)).as("n_distinct"))
      .select(col(groupCol), col("__m.v").as("mode_value"),
        (-col("__m.nc")).as("mode_count"), col("n"), col("n_distinct"))

  /** Functional-dependency audit: does `lhs` determine `rhs`? Reports,
    * per violating determinant group (a lhs tuple mapping to MORE than
    * one distinct rhs value), the distinct-rhs count and row count —
    * plus the majority-rhs row count, so `rows - majority` is the
    * minimal number of rows to repair for the FD to hold (the data-
    * cleaning budget). Deterministic majority tie-break as in
    * [[modeValue]].
    *
    * Scale: one partial-agg shuffle to (lhs, rhs) tallies, one to lhs
    * groups — aggregates end to end, no windows. Top-`k` violating
    * groups by (distinct rhs, rows, lhs) via TakeOrderedAndProject.
    * Output: (lhs..., n_rhs_values, n_rows, majority_rows). */
  def fdAudit(df: DataFrame, lhs: Seq[String], rhs: String,
              k: Int = 100): DataFrame = {
    require(lhs.nonEmpty, "lhs must be non-empty")
    require(k > 0, "k must be positive")
    df.groupBy((lhs.map(col) :+ col(rhs).as("__r")): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rhs_values"), sum(col("__c")).as("n_rows"),
        max(col("__c")).as("majority_rows"))
      .filter(col("n_rhs_values") > 1)
      .orderBy(col("n_rhs_values").desc +: col("n_rows").desc +:
        lhs.map(col(_).asc): _*)
      .limit(k)
  }

  /** Hodges–Lehmann robust location estimator per group: the LOWER
    * MEDIAN of the n(n+1)/2 Walsh averages `(x_i + x_j)/2, i ≤ j` —
    * the rank-based center with ~30% breakdown that pairs with the
    * trimmed mean ([[trimmedMean]]) and MAD ([[madOutliers]]). Kept
    * exact by working on PAIR SUMS: the reported `med_sum2` is the
    * rank-`(P+1) div 2` smallest value of (x_i + x_j) and
    * `hl_fp = med_sum2 · scale div 2` (scale even ⇒ exact halving).
    *
    * Scale: rows collapse to per-(group, value) tallies in ONE
    * partial-agg shuffle; Walsh-average counting is a within-group
    * tally self-join — quadratic in DISTINCT VALUES (cells), never
    * rows, [[Eval.boundedTally]]-REQUIREd under `maxCells` — with pair
    * multiplicities `c_a·c_b` (a < b) and `c_a·(c_a+1)/2` (a = b) on
    * decimal(38,0); the median comes from a cumulative window over the
    * ≤ 2·cells-sized distinct-sum tally. Pre-quantize continuous
    * values — that is the contract, enforced fail-fast.
    * Output: (group, n, n_pairs, med_sum2, hl_fp). */
  def hodgesLehmann(df: DataFrame, groupCol: String, valueCol: String,
                    scale: Long = 1000000L,
                    maxCells: Long = 1L << 11): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(scale % 2 == 0, "hodgesLehmann: scale must be even")
    val tal = Eval.boundedTally(
      df.groupBy(col(groupCol).cast("string").as("__g"),
          col(valueCol).cast("long").as("__v"))
        .agg(count(lit(1)).as("__c")),
      "__g", maxCells, "hodgesLehmann")
    val a = tal.select(col("__g"), col("__v").as("__va"),
      col("__c").as("__ca"))
    val b = tal.select(col("__g").as("__gb"), col("__v").as("__vb"),
      col("__c").as("__cb"))
    val sums = a.join(b,
        col("__g") === col("__gb") && col("__va") <= col("__vb"))
      .select(col("__g"), (col("__va") + col("__vb")).as("__s"),
        when(col("__va") === col("__vb"),
            expr("cast(__ca as decimal(38,0)) * (__ca + 1) div 2"))
          .otherwise(expr("cast(__ca as decimal(38,0)) * __cb"))
          .as("__w"))
      .groupBy(col("__g"), col("__s"))
      .agg(sum(col("__w")).as("__sw"))
    val totals = tal.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"),
        expr("cast(sum(__c) as decimal(38,0)) * (sum(__c) + 1) div 2")
          .as("__p"))
    val wS = Window.partitionBy(col("__g")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums
      .withColumn("__ce", sum(col("__sw")).over(wS))
      .join(totals, Seq("__g"))
      .filter(col("__ce") >= expr("(__p + 1) div 2"))
      .groupBy(col("__g"), col("n"), col("__p"))
      .agg(min(col("__s")).as("med_sum2"))
      .select(col("__g").as(groupCol), col("n"),
        col("__p").cast("long").as("n_pairs"),
        col("med_sum2"),
        // scale even ⇒ (s/2)·scale = s·(scale/2) exactly, no division
        (col("med_sum2") * lit(scale / 2)).as("hl_fp"))
  }

  /** Differentially-private count release — the ε-DP geometric
    * mechanism (Ghosh, Roughgarden & Sundararajan 2009: universally
    * optimal for sensitivity-1 counts), ±`t`-truncated, at ε = ln 2:
    * each cell's count is perturbed by two-sided geometric noise
    * `P(k) ∝ 2^−|k|` with the tail mass folded into ±t. The privacy
    * gate [[kAnonymity]]/[[lDiversity]]/t-closeness can only AUDIT;
    * this RELEASES. Noise draws are portable md5 of the cell key (a
    * cryptographic hash as the DP PRNG — the standard deployment
    * practice; one release per `seed`, and re-releasing with fresh
    * seeds spends budget like any DP system).
    *
    * SECURITY CONTRACT on `seed`: the noise is a DETERMINISTIC function
    * of (cell key, seed), so the ε-DP guarantee holds ONLY if the seed
    * is secret, high-entropy, and used for exactly one release — anyone
    * who learns the seed inverts the noise exactly and recovers the
    * true counts, voiding the release's privacy. Treat the seed as a
    * key: generate it from a CSPRNG, never embed it in published code
    * or query text next to the released table, and never reuse it
    * across releases (reuse correlates the noise, compounding leakage).
    * Test fixtures here use literal seeds for reproducibility — those
    * releases are NOT private. All 2^−|k| masses over
    * denominator 3·2^t are EXACT integers, embedded as generated
    * literal thresholds — the Poisson-bootstrap pattern — so the
    * release hash-checks across engines. Negative noisy counts are
    * released as-is (unbiasedness over clamping).
    *
    * Scale: one partial-agg shuffle to cells, then per-cell codegen'd
    * hash + literal-array lookup — no second pass, no driver state.
    * Output: (dims..., n_noisy); the true count never leaves. */
  def dpCounts(df: DataFrame, dims: Seq[String], seed: String,
               t: Int = 10): DataFrame = {
    require(dims.nonEmpty, "at least one release dimension")
    require(t >= 1 && t <= 30, s"truncation $t outside [1, 30]")
    val m = 3L * (1L << t)
    val cum = geomCum(t)
    require(!seed.contains("'"), "seed must not contain quotes")
    // chr(1)-separated cell key (a bare concat would collide
    // ("ab","c") with ("a","bc")); NULL dims hash as chr(0)
    val keySql = "concat_ws(chr(1), " + dims.map(d =>
      s"coalesce(cast(`$d` as string), chr(0))").mkString(", ") +
      s", '$seed')"
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__u", expr(
        s"cast(conv(substring(md5($keySql), 1, 8), 16, 10) " +
          s"as bigint) % $m"))
      .withColumn("__noise", expr(
        s"size(filter(array(${cum.mkString("L,")}L), x -> __u >= x)) " +
          s"- $t"))
      .select(dims.map(col) :+
        (col("__n") + col("__noise")).as("n_noisy"): _*)
  }

  /** Cumulative draw thresholds of the ±t-truncated two-sided
    * geometric over denominator 3·2^t — exact cell masses, extremes
    * folding the tail (always mass 2). Shared with oracle generation. */
  private[graft] def geomCum(t: Int): Seq[Long] = {
    val probs = (-t to t).map(k =>
      if (math.abs(k) == t) 2L else (1L << t) >> math.abs(k))
    require(probs.sum == 3L * (1L << t),
      "geometric masses must partition the draw")
    probs.scanLeft(0L)(_ + _).slice(1, 2 * t + 1) // exclusive of total
  }

  /** Unary inclusion-dependency audit (de Marchi 2002 / Bell &
    * Brockhausen 1995 lineage — the foreign-key DISCOVERY pass of
    * schema profiling): for every ordered pair of labeled key columns,
    * how much of A's distinct value set lies inside B's
    * (`inclusion_bp`, exact), and whether A ⊆ B outright — the
    * candidate FK edges of an undocumented warehouse.
    *
    * Scale: every column collapses to DISTINCT (label, value) pairs in
    * one tagged union + one value-keyed aggregate that folds each
    * value's label set into a BITMASK; masks roll up to ≤ 2^m combo
    * counts (m = |columns| REQUIREd ≤ maxCols) — the ONLY collected
    * artifact, Shapley-posture model-sized. All m² pair statistics
    * derive from the combo table on the driver: adding a column never
    * adds a shuffle, and a billion-row fact column costs one distinct
    * + one aggregate regardless of how many pairs it participates in.
    * Values compare as strings (exact, type-stable).
    *
    * Output: (a, b, n_a, n_both, inclusion_bp, is_subset) for every
    * ordered label pair a ≠ b. */
  def inclusionAudit(cols: Seq[(String, DataFrame, String)],
                     maxCols: Int = 16): DataFrame = {
    require(cols.nonEmpty && cols.size <= maxCols,
      s"${cols.size} columns outside the 2^m combo budget [1, $maxCols]")
    val labels = cols.map(_._1)
    require(labels.distinct.size == labels.size,
      "column labels must be unique")
    val spark = cols.head._2.sparkSession
    import spark.implicits._
    val tagged = cols.map { case (lbl, df, c) =>
      df.select(lit(lbl).as("__lbl"), col(c).cast("string").as("__v"))
        .filter(col("__v").isNotNull)
    }.reduce(_ unionByName _).distinct()
    val bit = labels.zipWithIndex.foldLeft(lit(0L)) { case (acc, (l, i)) =>
      when(col("__lbl") === l, lit(1L << i)).otherwise(acc)
    }
    // (label, value) is distinct, so the per-value mask is a plain sum
    val combos = tagged.withColumn("__bit", bit)
      .groupBy(col("__v")).agg(sum(col("__bit")).as("__mask"))
      .groupBy(col("__mask")).agg(count(lit(1)).as("__n"))
      .as[(Long, Long)].collect()
    val rows = for {
      i <- labels.indices; j <- labels.indices; if i != j
    } yield {
      val nA = combos.collect {
        case (m, n) if (m & (1L << i)) != 0 => n }.sum
      val nBoth = combos.collect {
        case (m, n) if (m & (1L << i)) != 0 && (m & (1L << j)) != 0 => n
      }.sum
      val bp = // BigInt: ×10^4 overflows long past ~10^15 distincts
        if (nA > 0) Some((BigInt(nBoth) * 10000 / nA).toLong) else None
      (labels(i), labels(j), nA, nBoth, bp, nA > 0 && nBoth == nA)
    }
    rows.toDF("a", "b", "n_a", "n_both", "inclusion_bp", "is_subset")
  }
}
