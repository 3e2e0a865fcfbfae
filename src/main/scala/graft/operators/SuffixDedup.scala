package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT substring duplication via a distributed suffix array — the
  * suffix-array half of Lee et al., "Deduplicating Training Data Makes
  * Language Models Better" (ACL 2022): window-based duplicate
  * accounting (Dedup.duplicatedWindows / duplicatedSpans) only sees
  * duplication at fixed window alignments; the suffix array reports the
  * MAXIMAL shared-prefix length between lexicographically adjacent
  * suffixes, catching duplicate runs of any length at any alignment.
  *
  * Construction is Manber–Myers prefix doubling re-expressed as
  * DataFrame passes (the standard distributed formulation — no driver
  * loop over data, no global windows):
  *   rank_0(d,p)   = dense rank of token(d,p) over the vocabulary
  *   rank_j(d,p)   = dense rank of (rank_{j-1}(d,p),
  *                                  rank_{j-1}(d,p+2^{j-1}) or 0)
  * where the 0 for past-the-end encodes "shorter suffix sorts first" —
  * the same convention as SQL list comparison, so a DuckDB
  * `ORDER BY suffix_list` replays the identical total order. Suffixes
  * never cross document boundaries (token streams are per-document).
  * Each dense rank is one distinct + distributed range-sort +
  * zipWithIndex (two narrow jobs); the loop runs ceil(log2 maxDl)
  * times or exits early once every rank is unique — on natural text
  * ranks separate within a few levels and only true duplicate runs
  * keep doubling, so the level count tracks log2 of the LONGEST
  * duplicate, not of the corpus.
  *
  * The LCP of each suffix-array-adjacent pair is then computed
  * directly (one codegen zip_with over length-capped token slices —
  * adjacent-pair LCPs are what excision needs; interior pairs of a
  * tied group share at least the reported prefix by transitivity).
  *
  * All outputs are integers, so the report hash-checks against a
  * brute-force SQL suffix sort. Output: (doc_a, pos_a, doc_b, pos_b,
  * lcp) for adjacent pairs with lcp ≥ minLen; positions 1-based;
  * lcp is capped at `maxLcp` (a pair reported AT the cap shares at
  * least that many tokens).
  *
  * Tied-group refinement (the optimization that makes this 100-TB
  * shaped): ranks here are POSITION ranks — pr(p) = #positions with a
  * strictly smaller key, so a rank class occupying [pr, pr+size)
  * refines IN PLACE: pr'(p) = pr(p) + #{q in the class : k2(q) <
  * k2(p)}, computed by a window partitioned by the class (bounded by
  * duplicate multiplicity — skew note: a very frequent token makes a
  * single large level-1 class and thus one heavy task; natural-text
  * stopword classes split on the first doubling). Positions whose rank
  * is already unique are fully ordered and FROZEN — each level
  * re-ranks only the still-tied set, which collapses geometrically
  * toward the positions inside true duplicate runs.
  *
  * Level cost model: while the tied set is corpus-scaled (early
  * levels) the k2 lookup and rank overlay are inherent corpus-sized
  * shuffles and Catalyst plans them freely. Once `tiedCount` drops
  * below [[BroadcastTiedMax]] the loop switches modes: the lookup is
  * pre-pruned by a broadcast LEFT-SEMI against the tied keys (one
  * corpus SCAN — never a corpus shuffle; a plain left join could only
  * broadcast its corpus-sized right side, so it would sort-merge-
  * shuffle the full rank table every remaining level), and refined
  * ranks accumulate in a small OVERLAY frame instead of rewriting and
  * re-checkpointing the corpus-sized rank table per level — the
  * overlay folds back into the base table once, after the loop.
  */
object SuffixDedup {

  /** Tied-set size below which the loop switches to broadcast mode
    * (semi-pruned lookups + overlay accumulation). (doc, pos) keys are
    * ~16 bytes packed, so 4M rows is a few hundred MB of hash map at
    * worst — comfortably under executor memory and the driver
    * broadcast ceiling; above it, Catalyst plans the joins unhinted.
    * Tied counts shrink monotonically, so the mode switches at most
    * once per build. */
  private[graft] val BroadcastTiedMax = 4L * 1000 * 1000

  /** Broadcast mode runs MULTI-doubling: one level compares the
    * (m−1)-tuple of current ranks at pos+off, pos+2·off, …,
    * pos+(m−1)·off, extending the ordered prefix off → m·off in a
    * single pass (Larsson–Sadakane multi-factor doubling: the current
    * table already orders any off-token window, so the tuple compare
    * IS the m·off-token compare, with −1 past-the-end keeping the
    * shorter-suffix-first convention — equal rank on a shorter-than-off
    * tail implies identical tails, so −1 slots agree inside a tied
    * class). m = 8 cuts the level count to ceil(log₈) at the price of
    * 7 shifts resolved per level — all against the SAME single corpus
    * scan, so the extra shifts are nearly free while each saved level
    * saves the whole per-level job floor. */
  private[graft] val SmallFactor = 8

  /** One broadcast-mode level's shift resolution: the current rank of
    * (doc, pos + i·off) for every tied position and every shift index
    * i ∈ [1, m), reading `base` (corpus-sized, checkpointed) through
    * exactly ONE scan — explode the (m−1) shifted keys scan-side,
    * semi-prune by the broadcast tied keys, coalesce the small
    * overlay's refined rank over the base rank, pivot to one row per
    * (doc, pos) with columns k2..k{m} (null = past-the-end). Exposed
    * for the PlanSpec lock: the executed plan must contain no
    * SortMergeJoin on the base scan. */
  private[graft] def resolveShiftsSmall(base: DataFrame, ovl: DataFrame,
      tied: DataFrame, off: Long, m: Int): DataFrame = {
    val tiedKeys = broadcast(tied.select(col("doc"), col("pos")))
    def shifted(src: DataFrame, rc: String, out: String): DataFrame =
      src.select(col("doc"), explode(array((1 until m).map { i =>
          struct((col("pos") - lit(i.toLong * off)).as("pos"),
            lit(i + 1).as("tag"))
        }: _*)).as("e"), col(rc).as(out))
        .select(col("doc"), col("e.pos").as("pos"), col("e.tag").as("tag"),
          col(out))
    val pruned = shifted(base, "pr", "__bpr")
      .join(tiedKeys, Seq("doc", "pos"), "left_semi")
    val resolved =
      if (ovl == null) pruned.select(col("doc"), col("pos"), col("tag"),
        col("__bpr").as("__r"))
      else pruned.join(broadcast(shifted(ovl, "npr", "__opr")),
          Seq("doc", "pos", "tag"), "left")
        .select(col("doc"), col("pos"), col("tag"),
          coalesce(col("__opr"), col("__bpr")).as("__r"))
    val kCols = (2 to m).map(t =>
      max(when(col("tag") === t, col("__r"))).as(s"k$t"))
    resolved.groupBy(col("doc"), col("pos"))
      .agg(kCols.head, kCols.tail: _*)
  }

  /** Exact in-memory finish of the suffix sort, used once the tied set
    * and the rank arrays of its documents fit a fixed driver budget
    * (the Pq.train / Selection bounded-fold posture, but with a
    * DYNAMIC fallback: a corpus whose duplication blows the budget
    * simply keeps the distributed doubling loop — no require-crash on
    * big data). Comparing the CURRENT-LEVEL rank sequences
    * r(p), r(p+1), … element-wise with shorter-first IS the exact
    * suffix comparison at any level (equal ranks ⇒ equal off-token
    * windows; the first differing rank orders the suffixes), so the
    * finish is exact even straight after the vocabulary ranking.
    * Returns the refined overlay (doc, pos, npr) for every tied
    * position as a LITERAL DataFrame; identical suffixes share npr
    * (the SA stage tie-breaks them by (doc, pos), matching the
    * oracle's ORDER BY suffix, doc, pos). */
  private def driverFinishOverlay(prTab: DataFrame, ovl: DataFrame,
      tied: DataFrame, affected: DataFrame): DataFrame = {
    val spark = prTab.sparkSession
    import spark.implicits._
    val curBase = prTab.join(broadcast(affected), Seq("doc"), "left_semi")
    val cur =
      if (ovl == null) curBase
      else curBase.join(ovl, Seq("doc", "pos"), "left")
        .select(col("doc"), col("pos"),
          coalesce(col("npr"), col("pr")).as("pr"))
    val ranks = new java.util.HashMap[Long, Array[Long]]()
    cur.groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("pos"), col("pr"))))
        .as("a"))
      .collect().foreach { r =>
        val seq = r.getSeq[org.apache.spark.sql.Row](1)
        val arr = new Array[Long](seq.size)
        seq.foreach(e => arr(e.getInt(0) - 1) = e.getLong(1))
        ranks.put(r.getLong(0), arr)
      }
    // suffix compare via rank sequences, shorter suffix first
    def cmp(da: Long, pa: Int, db: Long, pb: Int): Int = {
      val ra = ranks.get(da); val rb = ranks.get(db)
      var i = pa - 1; var j = pb - 1
      while (i < ra.length && j < rb.length) {
        if (ra(i) != rb(j)) return java.lang.Long.compare(ra(i), rb(j))
        i += 1; j += 1
      }
      java.lang.Integer.compare(ra.length - i, rb.length - j)
    }
    val out = Seq.newBuilder[(Long, Int, Long)]
    tied.select(col("doc"), col("pos"), col("pr")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._3).foreach { case (pr, members) =>
        val sorted = members.sortWith((x, y) =>
          cmp(x._1, x._2, y._1, y._2) < 0)
        var prevNpr = pr
        sorted.zipWithIndex.foreach { case ((d, p, _), idx) =>
          val npr =
            if (idx > 0 && cmp(sorted(idx - 1)._1, sorted(idx - 1)._2,
              d, p) == 0) prevNpr
            else pr + idx
          prevNpr = npr
          out += ((d, p, npr))
        }
      }
    out.result().toDF("doc", "pos", "npr")
  }

  /** Corpus size (total token positions) above which the SA tail
    * applies the dup-gram block pre-filter. Below it the corpus is
    * job-floor dominated (the whole build is a few seconds of fixed
    * scheduling cost) and the filter's two extra jobs — gram count +
    * semi join — cost more than the data they save; above it the
    * filter is the difference between sorting/joining every position
    * and only the duplicated ones.
    *
    * MEASURED (r15, `graft.tools.ScaleBench sa` — synthetic 50k-vocab
    * corpora with ~1% planted cross-doc duplication, fresh JVM per
    * run, quiet machine, ON/OFF digests identical at every size):
    *   1.0M positions: OFF 25.3 s, ON 22.9 s (−9%)
    *   2.0M positions: OFF 44.0 s, ON 36.1 s (−18%, kept 20.4k pos)
    *   4.0M positions: OFF 36.4 s, ON 25.1 s (−31%, kept 40.7k pos)
    *   8.1M positions: OFF 111.9 s, ON 56.0 s (−50%, kept 81.4k pos)
    * while the r14 sf0.1 real-text point (135k tokens) measured the
    * filter +1.2 s — so the crossover sits between 0.1M and 1M and
    * the threshold is set at the smallest size with a measured win.
    * The 4M/8M runs also exercised the large-mode (m=2) doubling path
    * (level-0 tied > BroadcastTiedMax), digest-equal to small mode.
    * Full matrix + method in PLANS.md §"SA block pre-filter". */
  private[graft] val BlockFilterMinPos = 1L * 1000 * 1000

  /** Corpus size (total token positions) below which the level-0
    * vocabulary ranking folds on the DRIVER (r17): the distributed
    * path is a range sort whose lineage is computed twice (partition
    * totals collect + the prefix-sum re-map) plus an UNHINTED join of
    * every position against the checkpointed (stats-less) vocab frame
    * — Catalyst plans that as a SortMergeJoin, shuffling the whole
    * position table by token. Below this bound the vocabulary
    * (≤ nPos rows, in practice ≪) collects once, sorts by UTF-8 BYTE
    * order (Spark's and DuckDB's binary VARCHAR order — UTF-16
    * compareTo would diverge on supplementary planes), prefix-sums in
    * a driver loop and re-attaches as a BROADCAST literal — the
    * corpus-sized shuffle disappears. Above the bound the distributed
    * path runs unchanged (with its sort materialized once instead of
    * twice). Both paths are parity-pinned in SuffixDedupSpec. */
  private[graft] val VocabDriverFoldMaxPos = 1L * 1000 * 1000

  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int, maxLcp: Int = 512,
                      driverFinishMaxPos: Long = 300000L,
                      driverFinishMaxTok: Long = 8L * 1000 * 1000,
                      blockFilterMinPos: Long = BlockFilterMinPos,
                      vocabDriverMaxPos: Long = VocabDriverFoldMaxPos)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minLen >= 1, "minLen must be >= 1")
    require(maxLcp >= minLen, "maxLcp must be >= minLen")
    val spark = df.sparkSession
    import spark.implicits._

    val toks = df.select(col(idCol).cast("long").as("doc"),
        split(trim(col(textCol)), "\\s+").as("ta"))
      .filter(col("ta").isNotNull)
      .localCheckpoint(true) // positions now + LCP token slices later
    val statsRow = toks.agg(
      coalesce(max(size(col("ta"))), lit(0)).as("m"),
      coalesce(sum(size(col("ta")).cast("long")), lit(0L)).as("n")).head
    val maxDl = statsRow.getInt(0)
    val nPos = statsRow.getLong(1)
    val empty = Seq.empty[(Long, Int, Long, Int, Long)]
      .toDF("doc_a", "pos_a", "doc_b", "pos_b", "lcp")
    if (nPos < 2) return empty

    // pr_0: per-token position rank = exclusive prefix sum of sorted
    // vocabulary counts (UTF8-binary order — the order DuckDB compares
    // VARCHARs by). Distributed range sort; only the ≤ #partitions
    // per-partition subtotals reach the driver.
    val positions = toks.select(col("doc"),
        posexplode(col("ta")).as(Seq("pos0", "tok")))
      .select(col("doc"), (col("pos0") + 1).as("pos"), col("tok"))
    val vocabPr: DataFrame =
      if (nPos <= vocabDriverMaxPos) {
        // driver fold (guide §2.4/§3.1): collect the per-token counts
        // once, order by UTF-8 bytes (== Spark/DuckDB binary VARCHAR
        // order), exclusive prefix sum in a loop, broadcast back as a
        // literal — no corpus shuffle, no stats-less SMJ
        val vc = positions.groupBy(col("tok"))
          .agg(count(lit(1)).as("c")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        java.util.Arrays.sort(vc,
          (a: (String, Long), b: (String, Long)) => {
            val x = a._1.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val y = b._1.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var i = 0; val n = math.min(x.length, y.length)
            var d = 0
            while (d == 0 && i < n) {
              d = (x(i) & 0xFF) - (y(i) & 0xFF); i += 1
            }
            if (d != 0) d else x.length - y.length
          })
        var run = 0L
        broadcast(vc.toSeq.map { case (t, c) =>
          val p = run; run += c; (t, p, c)
        }.toDF("tok", "pr", "c"))
      } else {
        // distributed range sort, materialized ONCE (r17 — the totals
        // collect and the prefix-sum re-map previously each recomputed
        // the groupBy + sort lineage)
        val sortedVcDf = positions.groupBy(col("tok"))
          .agg(count(lit(1)).as("c"))
          .orderBy(col("tok"))
          .localCheckpoint(true)
        val sortedVc = sortedVcDf.rdd
          .map(r => (r.getString(0), r.getLong(1)))
        val partTotals = sortedVc
          .mapPartitionsWithIndex { (i, it) =>
            Iterator((i, it.foldLeft(0L)(_ + _._2))) }
          .collect().sortBy(_._1).map(_._2)
        val partOffsets = partTotals.scanLeft(0L)(_ + _)
        sortedVc
          .mapPartitionsWithIndex { (i, it) =>
            var run = partOffsets(i)
            it.map { case (t, c) => val p = run; run += c; (t, p, c) }
          }.toDF("tok", "pr", "c")
          .localCheckpoint(true)
      }
    // FULL DRIVER SA (r17): below the driver-finish position bound the
    // level-0 driver finish fires on the loop's FIRST iteration anyway
    // (tied ≤ nPos ≤ driverFinishMaxPos, affected-doc positions ≤ nPos
    // ≤ driverFinishMaxTok), after which the tail still paid the
    // distributed range sort + boundary probe + token-slice LCP join
    // (~10 jobs of pure job floor at gate sizes). Run the IDENTICAL
    // computation wholly in memory instead: level-0 ranks are
    // injective per distinct token, so rank-sequence comparison IS the
    // exact suffix comparison (the driverFinishOverlay argument) and
    // walking equal ranks IS the exact token LCP. Sort all (doc, pos)
    // by (suffix, doc, pos), emit adjacent pairs with capped LCP —
    // bit-identical to the distributed tail (SuffixDedupSpec pins both
    // paths to the same brute-force answer). Above the bound the
    // distributed loop below runs unchanged.
    if (nPos <= driverFinishMaxPos && nPos <= driverFinishMaxTok &&
        nPos < Int.MaxValue - 8) {
      val ranks = new java.util.HashMap[Long, Array[Long]]()
      positions.join(vocabPr, Seq("tok"))
        .groupBy(col("doc"))
        .agg(sort_array(collect_list(struct(col("pos"), col("pr"))))
          .as("a"))
        .collect().foreach { r =>
          val seq = r.getSeq[org.apache.spark.sql.Row](1)
          val arr = new Array[Long](seq.size)
          seq.foreach(e => arr(e.getInt(0) - 1) = e.getLong(1))
          ranks.put(r.getLong(0), arr)
        }
      def cmp(da: Long, pa: Int, db: Long, pb: Int): Int = {
        val ra = ranks.get(da); val rb = ranks.get(db)
        var i = pa - 1; var j = pb - 1
        while (i < ra.length && j < rb.length) {
          if (ra(i) != rb(j)) return java.lang.Long.compare(ra(i), rb(j))
          i += 1; j += 1
        }
        java.lang.Integer.compare(ra.length - i, rb.length - j)
      }
      val sufs = new Array[(Long, Int)](nPos.toInt)
      var si = 0
      ranks.forEach { (d, arr) =>
        var p = 1
        while (p <= arr.length) { sufs(si) = (d, p); si += 1; p += 1 }
      }
      java.util.Arrays.sort(sufs,
        (a: (Long, Int), b: (Long, Int)) => {
          val c = cmp(a._1, a._2, b._1, b._2)
          if (c != 0) c
          else {
            val d = java.lang.Long.compare(a._1, b._1)
            if (d != 0) d else java.lang.Integer.compare(a._2, b._2)
          }
        })
      def lcpOf(da: Long, pa: Int, db: Long, pb: Int): Long = {
        val ra = ranks.get(da); val rb = ranks.get(db)
        var i = pa - 1; var j = pb - 1; var k = 0L
        while (k < maxLcp && i < ra.length && j < rb.length &&
          ra(i) == rb(j)) { i += 1; j += 1; k += 1 }
        k
      }
      val out = Seq.newBuilder[(Long, Int, Long, Int, Long)]
      var ai = 0
      while (ai + 1 < sufs.length) {
        val (da, pa) = sufs(ai); val (db, pb) = sufs(ai + 1)
        val l = lcpOf(da, pa, db, pb)
        if (l >= minLen) out += ((da, pa, db, pb, l))
        ai += 1
      }
      val rows = out.result()
      return if (rows.isEmpty) empty
      else rows.toDF("doc_a", "pos_a", "doc_b", "pos_b", "lcp")
    }

    var prTab = positions.join(vocabPr, Seq("tok"))
      .select(col("doc"), col("pos"), col("pr"), col("c"))
      .localCheckpoint(true)
    // tied count rides the checkpoint job (r18 — one fewer action)
    var (tied, tiedCount) = Materialize.ckCount(
      prTab.filter(col("c") >= 2)
        .select(col("doc"), col("pos"), col("pr")))
    prTab = prTab.drop("c")

    // prefix doubling over the tied set only: after the level with
    // offset `off`, ranks order the first 2·off tokens of each suffix.
    // `ovl` (broadcast mode only) holds the latest refined rank for
    // every position re-ranked since prTab was last rewritten; it is
    // non-null iff at least one broadcast-mode level has run, and
    // tiedCount shrinks monotonically so the mode switches at most
    // once — prTab is never stale in large mode.
    var off = 1L
    var ovl: DataFrame = null
    while (tiedCount > 0 && off < maxDl) {
      // exact driver finish once (tied rows, affected-doc positions)
      // fit the fixed budget; both checks are distributed and cheap,
      // and failing them just continues the distributed loop
      if (tiedCount <= driverFinishMaxPos) {
        val affected = tied.select(col("doc")).distinct()
          .localCheckpoint(true)
        val budget = prTab
          .join(broadcast(affected), Seq("doc"), "left_semi").count()
        if (budget <= driverFinishMaxTok) {
          val dOvl = driverFinishOverlay(prTab, ovl, tied, affected)
          ovl =
            (if (ovl == null) dOvl
             else dOvl.unionByName(ovl.join(
               dOvl.select(col("doc"), col("pos")),
               Seq("doc", "pos"), "left_anti")))
          tiedCount = 0
          if (sys.env.contains("SPARK_GRAFT_SA_DEBUG"))
            System.err.println(s"SA driver finish off=$off " +
              s"budget=$budget t=${System.nanoTime() / 1e9}")
        }
      }
      if (tiedCount == 0) { /* finished by the driver pass */ }
      else {
      val small = tiedCount <= BroadcastTiedMax
      val m = if (small) SmallFactor else 2
      // shift keys k2..k{m} = pr_{level-1}(doc, pos + i·off); −1 (past
      // the end) sorts first. Broadcast mode: ONE semi-pruned corpus
      // scan (resolveShiftsSmall) then a broadcast hash probe into
      // tied. Large mode: the corpus-sized shuffle is inherent
      // (tied ≈ corpus) — leave it unhinted.
      val keyNames = (2 to m).map(t => s"k$t")
      val keyed =
        if (small)
          tied.join(
              broadcast(resolveShiftsSmall(prTab, ovl, tied, off, m)),
              Seq("doc", "pos"), "left")
            .select(col("doc") +: col("pos") +: col("pr") +:
              keyNames.map(k => coalesce(col(k), lit(-1L)).as(k)): _*)
        else {
          val lookup = prTab.select(col("doc"),
            (col("pos") - lit(off)).as("pos"), col("pr").as("__nr"))
          tied.join(lookup, Seq("doc", "pos"), "left")
            .select(col("doc"), col("pos"), col("pr"),
              coalesce(col("__nr"), lit(-1L)).as("k2"))
        }
      // in-place class refinement: rank() ties keep refined classes
      // tied; both windows partition by the CLASS (size = duplicate
      // multiplicity), never by anything corpus-wide, and the count
      // window reuses the rank window's exchange (partition keys are
      // a superset clustered by the same pr hash)
      val w = Window.partitionBy(col("pr"))
        .orderBy(keyNames.map(col): _*)
      val wCls = Window.partitionBy(col("pr") +: keyNames.map(col): _*)
      // feeds tied and the overlay; the still-tied count rides the
      // checkpoint job via observe (r18 — the old tied.count() was one
      // more full action per doubling level)
      val (upd, met) = Materialize.ckObserve(keyed
        .select(col("doc"), col("pos"),
          (col("pr") + rank().over(w) - 1L).as("npr"),
          count(lit(1)).over(wCls).as("__n")),
        Seq(sum(when(col("__n") >= 2, 1L).otherwise(0L)).as("__t")))
      tied = upd.filter(col("__n") >= 2)
        .select(col("doc"), col("pos"), col("npr").as("pr"))
      if (small) {
        // accumulate the refined ranks in the small overlay (latest
        // wins; upd's keys ⊆ the previous overlay's keys, both ≤
        // BroadcastTiedMax) — no corpus-sized rewrite this level
        val updR = upd.select(col("doc"), col("pos"), col("npr"))
        ovl = (if (ovl == null) updR
               else updR.unionByName(ovl.join(
                 updR.select(col("doc"), col("pos")),
                 Seq("doc", "pos"), "left_anti")))
          .localCheckpoint(true)
      } else {
        // overlay the refined ranks onto the full table
        prTab = prTab.join(upd.select(col("doc"), col("pos"), col("npr")),
            Seq("doc", "pos"), "left")
          .select(col("doc"), col("pos"),
            coalesce(col("npr"), col("pr")).as("pr"))
          .localCheckpoint(true)
      }
      tiedCount =
        if (met("__t") == null) 0L else met("__t").asInstanceOf[Long]
      off *= m
      if (sys.env.contains("SPARK_GRAFT_SA_DEBUG"))
        System.err.println(s"SA level off=$off tied=$tiedCount " +
          s"small=$small m=$m t=${System.nanoTime() / 1e9}")
      }
    }
    // fold the broadcast-mode overlay back into the rank table ONCE
    // (one corpus scan) instead of once per late level
    if (ovl != null)
      prTab = prTab.join(broadcast(ovl), Seq("doc", "pos"), "left")
        .select(col("doc"), col("pos"),
          coalesce(col("npr"), col("pr")).as("pr"))

    // Block pre-filter (the probeSpans block argument applied with
    // batch = the whole corpus): a REPORTED pair has lcp ≥ minLen, so
    // both suffixes start with the same exact minLen-token window and
    // sit in the same contiguous SA block; a suffix whose window is
    // unique corpus-wide (or shorter than minLen) can never be a pair
    // member, and dropping such positions cannot break adjacency
    // INSIDE any block (blocks stay contiguous in the restricted
    // order; pairs straddling blocks have lcp < minLen and are
    // filtered on every path). The SA range-sort, the adjacency join
    // and the LCP token-slice join below therefore run over dup-gram
    // positions only — on a lightly-duplicated corpus that replaces a
    // corpus-sized sort plus a pair join carrying every doc's token
    // array with one integer gram shuffle. Hash collisions only ADD
    // positions (a superset is correct for the same reason the
    // affectedDocs superset is). ADAPTIVE: below BlockFilterMinPos the
    // corpus is job-floor dominated and the filter's extra jobs cost
    // more than they save — skip it (both paths spec-pinned to the
    // same brute-force answer).
    val saBase =
      if (nPos < blockFilterMinPos) prTab
      else {
        val g = toks.filter(size(col("ta")) >= minLen)
          .select(col("doc"), explode(transform(
            sequence(lit(1), size(col("ta")) - (minLen - 1)),
            p => struct(p.as("pos"),
              xxhash64(array_join(slice(col("ta"), p, lit(minLen)), " "))
                .as("g")))).as("e"))
          .select(col("doc"), col("e.pos").as("pos"), col("e.g").as("g"))
        val dupG = g.groupBy(col("g")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select(col("g"))
        val kept = prTab.join(
          g.join(dupG, Seq("g"), "left_semi")
            .select(col("doc"), col("pos")),
          Seq("doc", "pos"), "left_semi")
        if (sys.env.contains("SPARK_GRAFT_SA_DEBUG")) {
          val k = kept.localCheckpoint(true)
          System.err.println(s"SA block filter kept=${k.count()} " +
            s"of $nPos positions t=${System.nanoTime() / 1e9}")
          k
        } else kept
      }
    // suffix-array order = (pr, doc, pos); exactly-equal suffixes
    // (the only possible rank ties after full doubling) tie-break by
    // (doc, pos) — mirror `ORDER BY suffix, doc, pos` in any oracle
    // (restricted to block positions, the subset keeps that order)
    // Adjacency WITHOUT an index join (r17, guide §2.4): the range
    // sort already places SA-adjacent suffixes on the same partition
    // (or on consecutive partitions' edges) — partition index order IS
    // global sort order. In-partition pairs stream out of one
    // mapPartitions pass; the ≤ (partitions − 1) cross-partition pairs
    // stitch from a collected (first, last)-per-partition probe. This
    // replaces zipWithIndex (an extra pass) + a self-join on idx that
    // hash-shuffled the WHOLE suffix array twice more.
    val saSorted = saBase
      .orderBy(col("pr"), col("doc"), col("pos"))
      .select(col("doc"), col("pos"))
      .localCheckpoint(true) // boundary probe + the pair scan
    val partEnds = saSorted.rdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val first = it.next()
        var last = first
        while (it.hasNext) last = it.next()
        Iterator((i, (first.getLong(0), first.getInt(1)),
          (last.getLong(0), last.getInt(1))))
      }
    }.collect().sortBy(_._1)
    val boundary = partEnds.iterator.sliding(2).withPartial(false)
      .map { w =>
        (w(0)._3._1, w(0)._3._2, w(1)._2._1, w(1)._2._2)
      }.toSeq
    val inPart = saSorted.rdd.mapPartitions { it =>
      new Iterator[(Long, Int, Long, Int)] {
        private var prev: org.apache.spark.sql.Row =
          if (it.hasNext) it.next() else null
        def hasNext: Boolean = prev != null && it.hasNext
        def next(): (Long, Int, Long, Int) = {
          val cur = it.next()
          val out = (prev.getLong(0), prev.getInt(1),
            cur.getLong(0), cur.getInt(1))
          prev = cur
          out
        }
      }
    }.toDF("doc_a", "pos_a", "doc_b", "pos_b")
    val pairs = inPart.unionByName(
      boundary.toDF("doc_a", "pos_a", "doc_b", "pos_b"))

    // adjacent-pair LCP over maxLcp-capped slices — SINGLE-PASS token
    // re-attach (r18, guide §2.3/§3.3 "melt-join-pivot"; r17 verdict
    // item 1). The old shape joined `toks` twice (once per pair side):
    // at scale that shuffles the corpus token table twice AND re-
    // shuffles every pair carrying the full first-side array through
    // the second join. Instead: melt each pair into two light endpoint
    // rows keyed by the pair's stable key (doc_a, pos_a) — every SA
    // position is the LEFT endpoint of at most one adjacent pair — join
    // the token table ONCE, project the maxLcp-capped slice immediately
    // (only capped slices cross the pivot exchange, never full arrays),
    // and re-assemble the pair with a two-row groupBy pivot. One fewer
    // corpus-array shuffle at any scale; values are bit-identical (the
    // same slices feed the same zip_with compare — zip_with pads the
    // shorter slice with nulls, so x <=> y turns a length difference
    // into the first mismatch: shorter suffix IS the prefix).
    val melted = pairs.select(col("doc_a"), col("pos_a"),
        explode(array(
          struct(col("doc_a").as("doc"), col("pos_a").as("pos"),
            lit(0).as("side")),
          struct(col("doc_b").as("doc"), col("pos_b").as("pos"),
            lit(1).as("side")))).as("e"))
      .select(col("doc_a"), col("pos_a"), col("e.doc").as("doc"),
        col("e.pos").as("pos"), col("e.side").as("side"))
    val sliced = melted.join(toks, Seq("doc"))
      .select(col("doc_a"), col("pos_a"), col("side"), col("doc"),
        col("pos"), slice(col("ta"), col("pos"), lit(maxLcp)).as("__sl"))
    // exactly one row per (pair key, side), so max() just picks it
    val paired = sliced.groupBy(col("doc_a"), col("pos_a"))
      .agg(max(when(col("side") === 0, col("__sl"))).as("__sa"),
        max(when(col("side") === 1,
          struct(col("doc"), col("pos"), col("__sl")))).as("__b"))
    paired
      .withColumn("__sb", col("__b.__sl"))
      .withColumn("__mism", array_position(
        zip_with(col("__sa"), col("__sb"), (x, y) => x <=> y), false))
      .withColumn("lcp",
        when(col("__mism") === 0L,
          least(size(col("__sa")), size(col("__sb"))).cast("long"))
          .otherwise(col("__mism") - 1L))
      .filter(col("lcp") >= minLen)
      .select(col("doc_a"), col("pos_a"),
        col("__b.doc").as("doc_b"), col("__b.pos").as("pos_b"),
        col("lcp"))
  }

  /** The excision half of ExactSubstr dedup: fold [[duplicatedSpans]]
    * pairs into per-document token ranges to CUT. For each adjacent
    * pair the occurrence at the LARGER (doc, pos) is the cut candidate
    * — the smallest copy survives, and inside a group of k identical
    * suffixes the adjacency chain marks exactly the k−1 later copies.
    * Candidate half-open intervals [pos, pos+lcp) merge when they
    * overlap or touch (gaps-and-islands per doc; the window partitions
    * by doc, bounded by that doc's span count — never corpus-wide).
    * Output: (doc, cut_from, cut_until, n_spans), 1-based token
    * positions, cut_until exclusive. */
  /** The full ExactSubstr TRANSFORM (Lee et al. ACL'22 §4): apply
    * [[exciseRanges]]' merged cut ranges to the text itself — every
    * token whose 1-based position falls in a cut range is dropped and
    * the remainder re-joined (whitespace-normalized, like any
    * tokenizing round-trip). The smallest copy of each duplicate run
    * survives; later copies are cut. Output: (doc, n_tokens,
    * n_removed, clean_text).
    *
    * Scale shape: the ranges are span-count-bounded per doc and
    * re-attach by doc id — only (doc, ranges) rows shuffle, never a
    * per-position set (a doc that is mostly duplicate would otherwise
    * pay O(len) extra rows through the shuffle). Reconstruction is
    * scan-local: the sorted disjoint ranges' COMPLEMENT (the gaps,
    * with [0,1) and [n+1,n+1) sentinels) flattens directly into the
    * kept-position array — O(len + ranges) per row, one pass, no
    * per-token membership probe at all. The text moves once, on the
    * final join. */
  def exciseText(df: DataFrame, idCol: String, textCol: String,
                 minLen: Int, maxLcp: Int = 512): DataFrame = {
    val ranges = exciseRanges(
      duplicatedSpans(df, idCol, textCol, minLen, maxLcp))
    // merged ranges are disjoint and non-touching (next.cut_from >
    // prev.cut_until), so per doc they form a small sorted array and
    // the rebuild is the shared scan-local gap flatten (applyRanges)
    val toks = df.select(col(idCol).cast("long").as("doc"),
        split(trim(col(textCol)), "\\s+").as("ta"))
      .filter(col("ta").isNotNull)
    applyRanges(toks, ranges)
  }

  /** Corpus docs that can possibly share a ≥ `minLen`-token run with
    * the batch: docs containing at least one `minLen`-gram that also
    * occurs in the batch. EXACT gram strings (space-joined token
    * slices — injective, tokens carry no whitespace; and portable, so
    * a SQL oracle replays the same set), matched with one corpus scan
    * + one gram join; with AQE the distinct batch-gram side broadcasts
    * at runtime when it is small (the common append-batch case). A
    * SUPERSET here would still be correct (extra docs sort outside
    * every batch block and cannot create batch-endpoint pairs); this
    * set is exact. */
  private[graft] def affectedDocs(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, minLen: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol).cast("long").as("doc"),
        split(trim(col(textCol)), "\\s+").as("ta"))
      .filter(col("ta").isNotNull && size(col("ta")) >= minLen)
      .select(col("doc"), explode(transform(
        sequence(lit(1), size(col("ta")) - (minLen - 1)),
        p => array_join(slice(col("ta"), p, lit(minLen)), " ")))
        .as("gram"))
    grams(corpus)
      .join(grams(batch).select(col("gram")).distinct(),
        Seq("gram"), "left_semi")
      .select(col("doc")).distinct()
  }

  /** Incremental ExactSubstr for append-only corpora: the duplicated
    * spans a NEW batch introduces, WITHOUT rebuilding the suffix array
    * over the whole corpus. The corpus is touched by exactly one gram
    * scan ([[affectedDocs]]); the prefix-doubling loop then runs over
    * batch ∪ affected docs only — cost tracks the batch and its
    * duplication hits, never corpus size (the minhashProbePortable
    * posture applied to [[duplicatedSpans]]' machinery).
    *
    * EXACTNESS (the q273 oracle + SuffixDedupSpec pin this): the
    * output equals the FULL-REBUILD `duplicatedSpans(corpus ∪ batch)`
    * restricted to pairs with a batch endpoint. Why: a reported pair
    * has lcp ≥ minLen, so both suffixes share a minLen-prefix and lie
    * in the same "block" (the contiguous SA run of suffixes with that
    * exact minLen-prefix). Every block containing a batch suffix is
    * WHOLLY included in the probe scope — any corpus suffix in it
    * starts with a batch gram, so its doc is affected, and all of an
    * affected doc's positions enter the scope (the doubling loop needs
    * rank lookups at pos+off, so the scope must be closed under
    * in-doc shifts — doc granularity gives that for free). A subset
    * preserves relative order, and blocks are contiguous in both
    * orders, so SA-adjacency INSIDE a batch-touching block — which is
    * exactly what batch-endpoint pairs and their LCPs are — is
    * identical in the probe and the full SA; pairs that straddle
    * blocks have lcp < minLen and are filtered on both sides.
    *
    * `corpus` and `batch` must be id-disjoint (append semantics); for
    * later-copies-get-cut excision feed ids that sort after the
    * corpus. Output schema = [[duplicatedSpans]]; compose with
    * [[exciseRanges]] for the batch's cut ranges. */
  def probeSpans(corpus: DataFrame, batch: DataFrame, idCol: String,
                 textCol: String, minLen: Int,
                 maxLcp: Int = 512): DataFrame = {
    val affected = affectedDocs(corpus, batch, idCol, textCol, minLen)
    val scoped = corpus.select(col(idCol), col(textCol))
      .join(affected.select(col("doc").as(idCol)), Seq(idCol),
        "left_semi")
      .unionByName(batch.select(col(idCol), col(textCol)))
    val spans = duplicatedSpans(scoped, idCol, textCol, minLen, maxLcp)
    val bIds = batch.select(col(idCol).cast("long").as("__bid"))
      .distinct().localCheckpoint(true) // feeds both endpoint probes
    spans
      .join(bIds.select(col("__bid").as("doc_a"), lit(1).as("__ba")),
        Seq("doc_a"), "left")
      .join(bIds.select(col("__bid").as("doc_b"), lit(1).as("__bb")),
        Seq("doc_b"), "left")
      .filter(col("__ba") === 1 || col("__bb") === 1)
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("lcp"))
  }

  def exciseRanges(spans: DataFrame): DataFrame = {
    val cand = spans.select(
        when(col("doc_a") > col("doc_b") ||
          (col("doc_a") === col("doc_b") && col("pos_a") > col("pos_b")),
          struct(col("doc_a").as("d"), col("pos_a").as("p")))
          .otherwise(struct(col("doc_b").as("d"), col("pos_b").as("p")))
          .as("c"),
        col("lcp"))
      .select(col("c.d").as("doc"), col("c.p").cast("long").as("f"),
        (col("c.p") + col("lcp")).cast("long").as("u"))
    mergeRanges(cand)
  }

  /** Merge candidate half-open token intervals `(doc, f, u)` into
    * disjoint per-doc cut ranges: intervals group when they overlap or
    * touch (gaps-and-islands; the window partitions by doc, bounded by
    * that doc's candidate count — never corpus-wide). Output:
    * (doc, cut_from, cut_until, n_spans), cut_until exclusive. */
  private[graft] def mergeRanges(cand: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc")).orderBy(col("f"), col("u"))
    cand
      .withColumn("__maxu", max(col("u")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__maxu").isNull || col("f") > col("__maxu"), 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(w))
      .groupBy(col("doc"), col("__grp"))
      .agg(min(col("f")).as("cut_from"), max(col("u")).as("cut_until"),
        count(lit(1)).as("n_spans"))
      .select(col("doc"), col("cut_from"), col("cut_until"),
        col("n_spans"))
  }

  /** EXACT-substring DECONTAMINATION (the q112/q46 family upgraded
    * from window-aligned grams to Lee et al.'s exact semantics): cut
    * from every training doc each maximal span of ≥ `minLen` tokens
    * that also appears verbatim ANYWHERE in the benchmark set —
    * regardless of alignment, and cutting the TRAINING side always
    * (unlike [[exciseRanges]]' smallest-copy rule; the benchmark is
    * the protected reference, not a dedup peer).
    *
    * No suffix array needed here: with a small protected set, gram
    * anchoring is exact AND candidate-bounded. Every contaminated span
    * contains its starting `minLen`-gram, so pairs of (doc position,
    * bench position) sharing a gram are a complete candidate set; the
    * capped token-slice compare then measures the true shared prefix,
    * which both kills hash collisions and extends the gram match to
    * the maximal span. Every such [pos, pos+lcp) interval merges per
    * doc ([[mergeRanges]]) and applies scan-locally
    * ([[exciseText]]'s gap rebuild).
    *
    * Scale shape: the corpus pays one gram scan; the join is
    * gram-hash-keyed and its output is bounded by contamination
    * (corpus-side occurrences × bench-side occurrences per shared
    * gram), so the token arrays re-attach to candidate pairs only.
    * Output: (doc, n_tokens, n_removed, clean_text) over ALL docs. */
  /** Tokenize one side of the decontamination pair. */
  private def deconToks(df: DataFrame, idCol: String, textCol: String,
                        docName: String, arrName: String): DataFrame =
    df.select(col(idCol).cast("long").as(docName),
        split(trim(col(textCol)), "\\s+").as(arrName))
      .filter(col(arrName).isNotNull)
      .localCheckpoint(true) // gram scan + pair re-attach (+ rebuild)

  /** Shared candidate stage of [[decontaminateExact]] and
    * [[contaminationReport]]: gram-anchored (train position, bench
    * position) pairs with their true capped LCP — one row per anchor
    * with lcp ≥ minLen, columns (doc, bdoc, f, u). */
  private def contaminationCandidates(dToks: DataFrame, bToks: DataFrame,
      minLen: Int, maxLcp: Int): DataFrame = {
    def grams(src: DataFrame, dc: String, ac: String,
              posName: String): DataFrame = src
      .filter(size(col(ac)) >= minLen)
      .select(col(dc), explode(transform(
        sequence(lit(1), size(col(ac)) - (minLen - 1)),
        p => struct(p.as("pos"),
          xxhash64(array_join(slice(col(ac), p, lit(minLen)), " "))
            .as("g")))).as("e"))
      .select(col(dc), col("e.pos").as(posName), col("e.g").as("g"))
    grams(dToks, "doc", "ta", "dpos")
      .join(grams(bToks, "bdoc", "tb", "bpos"), Seq("g"))
      .select(col("doc"), col("dpos"), col("bdoc"), col("bpos"))
      .join(dToks, Seq("doc")).join(bToks, Seq("bdoc"))
      .withColumn("__sa", slice(col("ta"), col("dpos"), lit(maxLcp)))
      .withColumn("__sb", slice(col("tb"), col("bpos"), lit(maxLcp)))
      .withColumn("__mism", array_position(
        zip_with(col("__sa"), col("__sb"), (x, y) => x <=> y), false))
      .withColumn("lcp",
        when(col("__mism") === 0L,
          least(size(col("__sa")), size(col("__sb"))).cast("long"))
          .otherwise(col("__mism") - 1L))
      .filter(col("lcp") >= minLen) // also kills gram-hash collisions
      .select(col("doc"), col("bdoc"),
        col("dpos").cast("long").as("f"),
        (col("dpos") + col("lcp")).cast("long").as("u"))
  }

  def decontaminateExact(docs: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, minLen: Int,
                         maxLcp: Int = 512): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    require(maxLcp >= minLen, "maxLcp must be >= minLen")
    val dToks = deconToks(docs, idCol, textCol, "doc", "ta")
    val bToks = deconToks(bench, idCol, textCol, "bdoc", "tb")
    val cand = contaminationCandidates(dToks, bToks, minLen, maxLcp)
      .select(col("doc"), col("f"), col("u"))
    applyRanges(dToks, mergeRanges(cand))
  }

  /** The un-applied half of [[decontaminateExact]] — per-doc merged
    * cut ranges of `docs` against a protected/benchmark set, exposed
    * for INCREMENTAL and streaming accumulation: interval-union
    * merging is associative and idempotent, so ranges computed against
    * protected batches B₁, B₂, … union-accumulate — re-merging the
    * stored rows at read time ([[applyCutRanges]]) equals one
    * decontamination against B₁ ∪ B₂ ∪ …. That is what makes a
    * protected-set APPEND cheap: only the new batch's gram-collision
    * candidates are scanned, never the prior protected set, and a
    * crash that exposes a partial append only ever UNDER-reports
    * ranges that the replay then completes (monotone accumulation).
    * Output: (doc, cut_from, cut_until), 1-based, cut_until
    * exclusive. */
  def decontaminationRanges(docs: DataFrame, bench: DataFrame,
                            idCol: String, textCol: String, minLen: Int,
                            maxLcp: Int = 512): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    require(maxLcp >= minLen, "maxLcp must be >= minLen")
    val dToks = deconToks(docs, idCol, textCol, "doc", "ta")
    val bToks = deconToks(bench, idCol, textCol, "bdoc", "tb")
    mergeRanges(contaminationCandidates(dToks, bToks, minLen, maxLcp)
        .select(col("doc"), col("f"), col("u")))
      .select(col("doc"), col("cut_from"), col("cut_until"))
  }

  /** Apply accumulated (doc, cut_from, cut_until) rows — e.g. the
    * union of several [[decontaminationRanges]] outputs — to the
    * docs: rows re-merge per doc first (overlaps/touches from
    * different protected batches collapse), then the shared
    * scan-local gap rebuild produces (doc, n_tokens, n_removed,
    * clean_text) over ALL docs (docs without ranges pass through). */
  def applyCutRanges(docs: DataFrame, idCol: String, textCol: String,
                     ranges: DataFrame): DataFrame =
    applyRanges(deconToks(docs, idCol, textCol, "doc", "ta"),
      mergeRanges(ranges.select(col("doc"),
        col("cut_from").as("f"), col("cut_until").as("u"))))

  /** Contamination ATTRIBUTION: which benchmark doc leaked into which
    * training doc, and how badly — per (doc, bdoc) pair, the spans
    * shared verbatim (≥ minLen tokens, any alignment) merged WITHIN
    * the pair, reported as span count, total contaminated tokens (the
    * union size on the training side) and the longest single span
    * (capped at maxLcp). The audit companion of
    * [[decontaminateExact]]: the transform cuts, this names sources —
    * which benchmark items to quarantine, which crawl domains leak.
    * Same contamination-bounded candidate stage; all-integer output
    * (doc, bdoc, n_spans, contaminated_tokens, max_run — the longest
    * CONTIGUOUS contaminated run, which may chain several staggered
    * shared spans). */
  def contaminationReport(docs: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String, minLen: Int,
                          maxLcp: Int = 512): DataFrame = {
    require(minLen >= 1, "minLen must be >= 1")
    require(maxLcp >= minLen, "maxLcp must be >= minLen")
    val dToks = deconToks(docs, idCol, textCol, "doc", "ta")
    val bToks = deconToks(bench, idCol, textCol, "bdoc", "tb")
    val cand = contaminationCandidates(dToks, bToks, minLen, maxLcp)
    // merge per (doc, bdoc) pair: ride mergeRanges' doc key with the
    // pair struct, then unpack
    val merged = mergeRanges(cand.select(
      struct(col("doc").as("d"), col("bdoc").as("b")).as("doc"),
      col("f"), col("u")))
    merged
      .groupBy(col("doc.d").as("doc"), col("doc.b").as("bdoc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("cut_until") - col("cut_from"))
          .as("contaminated_tokens"),
        max(col("cut_until") - col("cut_from")).as("max_run"))
      .select(col("doc"), col("bdoc"), col("n_spans"),
        col("contaminated_tokens"), col("max_run"))
  }

  /** Apply merged per-doc cut ranges to tokenized docs — the shared
    * scan-local gap rebuild of [[exciseText]] and
    * [[decontaminateExact]]: kept positions are the complement of the
    * sorted disjoint ranges, flattened directly from the gaps. Input
    * `toks` = (doc, ta); output (doc, n_tokens, n_removed,
    * clean_text) over ALL docs (unmatched docs pass through). */
  private def applyRanges(toks: DataFrame, ranges: DataFrame)
      : DataFrame = {
    val rngs = ranges
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(
        struct(col("cut_from").as("f"), col("cut_until").as("u"))))
        .as("__rng"))
    val ws = col("ta")
    val emptyRng = array().cast("array<struct<f:bigint,u:bigint>>")
    toks
      .join(rngs, Seq("doc"), "left")
      .withColumn("__b", concat(
        array(struct(lit(0L).as("f"), lit(1L).as("u"))),
        coalesce(col("__rng"), emptyRng),
        array(struct((size(ws) + 1).cast("long").as("f"),
          (size(ws) + 1).cast("long").as("u")))))
      .withColumn("__keep", flatten(zip_with(
        slice(col("__b"), lit(1), size(col("__b")) - 1),
        slice(col("__b"), lit(2), size(col("__b")) - 1),
        (a, b) => when(a("u") <= b("f") - 1, sequence(a("u"), b("f") - 1))
          .otherwise(array().cast("array<bigint>")))))
      .select(col("doc"), size(ws).cast("long").as("n_tokens"),
        (size(ws) - size(col("__keep"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("__keep"),
          p => element_at(ws, p.cast("int")))).as("clean_text"))
  }
}
