package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora.
  *
  * Scale design:
  *  - `exact` groups by a 64-bit content hash, so the shuffle key is 8
  *    bytes instead of the full text.
  *  - `ngramJaccard` is the exact (quadratic within a blocking key)
  *    reference; the scale path is `minhashLsh`, which bounds candidate
  *    generation by LSH band buckets and only exact-verifies candidates.
  *  - `simhash` reduces each doc to 64 bits; candidates come from
  *    16-bit band equality (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 of 4 bands
  *    equal), verified with `bit_count(xor)`.
  */
object Dedup {

  /** Exact dedup: canonical id = min id among identical texts.
    * Partitions on (xxhash64(text), text): the hash gives cheap
    * well-distributed partitioning keys, the text term keeps the result
    * exact under a 64-bit collision. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
    df.select(col(idCol), col(textCol))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_dup", (col(idCol) =!= col("canonical_id")).cast("int"))
      .drop(textCol)
  }

  /** Distinct word n-gram shingle array (native codegen kernel; the HOF
    * twin below documents the semantics and backs the parity spec). */
  def shingleArray(text: Column, n: Int): Column =
    graft.functions.NativeExprs.wordNgrams(TextAnalysis.words(text), n)

  /** HOF twin of `shingleArray` — the interpreted lambda re-evaluates the
    * `words` split per shingle position (no codegen CSE inside HOFs),
    * turning tokenization O(len) into O(len²); kept only for bit-parity
    * specs. */
  private[graft] def shingleArrayHof(text: Column, n: Int): Column = {
    val ws = TextAnalysis.words(text)
    array_distinct(transform(
      sequence(lit(1), greatest(lit(1), size(ws) - (n - 1))),
      i => concat_ws(" ", slice(ws, i, lit(n)))))
  }

  /** Word n-gram shingle set, distinct, as (id, blockCols..., shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String,
               blockCols: Seq[String], n: Int): DataFrame =
    df.select(
      (col(idCol) +: blockCols.map(col)) :+
        explode(shingleArray(col(textCol), n)).as("__shingle"): _*)

  /** Exact n-gram Jaccard similarity pairs with J ≥ `threshold`, blocked
    * by `blockCols` (pairs are only compared within a block). Output:
    * (id_a, id_b, jaccard), id_a < id_b.
    *
    * Prefix-filtered (PPJoin-style, Xiao et al., WWW'08): under a global
    * shingle order (rarest first), two sets with J ≥ t must share an
    * element within their first |S| − ⌊t·|S|⌋ + 1 shingles — so only
    * prefix shingles enter the candidate self-join instead of all of
    * them, and only candidate pairs are exact-verified. Same output as
    * the all-pairs formulation (NgramPrefixSpec), but candidate volume is
    * bounded by rare-shingle collisions, which is what survives a 100×
    * corpus scale-up. A ⌊⌋ rather than the tight ⌈⌉ keeps the prefix one
    * longer, immune to floating-point edge rounding. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], n: Int,
                   threshold: Double): DataFrame = {
    // Work on shingle 64-bit hashes, never strings: the native kernel
    // emits each doc's distinct shingle-hash ARRAY in one pass, so the
    // cache holds one compact row per doc and the only exploded form is
    // 8-byte longs. An xxhash64 collision between two distinct shingles
    // of the same doc pair (probability ≈ 1e-9 per corpus at these
    // shingle counts) would off-by-one the intersection.
    val docs = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        graft.functions.NativeExprs.wordNgramHashes(
          TextAnalysis.words(col(textCol)), n).as("__hs"): _*)
      .withColumn("__sz", size(col("__hs")))
      .localCheckpoint(true)
    val sh = docs.select(
      (col(idCol) +: blockCols.map(col)) :+ col("__sz") :+
        explode(col("__hs")).as("__shash"): _*)

    // Global rarest-first order; ties broken by the hash value. One
    // small aggregate (shingle → document frequency), shuffled once.
    // distinct key name on the aggregate side: joining a frame to its
    // own groupBy on a same-named column trips Spark's self-join
    // ambiguity warning even though the using-join resolves correctly
    val freq = sh.groupBy("__shash").agg(count(lit(1)).as("__df"))
      .withColumnRenamed("__shash", "__fhash")
    val wDoc = Window.partitionBy(col(idCol))
      .orderBy(col("__df"), col("__shash"))
    val prefix = sh.join(freq, col("__shash") === col("__fhash"))
      .drop("__fhash")
      .withColumn("__pos", row_number().over(wDoc))
      .filter(col("__pos") <=
        col("__sz") - floor(lit(threshold) * col("__sz")) + 1)
      .select((col(idCol) +: blockCols.map(col)) :+ col("__shash"): _*)

    val a = prefix.select(
      (col(idCol).as("id_a") +: blockCols.map(c => col(c).as(s"__ba_$c"))) :+
        col("__shash").as("__ha"): _*)
    val b = prefix.select(
      (col(idCol).as("id_b") +: blockCols.map(c => col(c).as(s"__bb_$c"))) :+
        col("__shash").as("__hb"): _*)
    val blockEq = blockCols.map(c => col(s"__ba_$c") <=> col(s"__bb_$c"))
    val joinCond = (Seq(col("__ha") === col("__hb"),
      col("id_a") < col("id_b")) ++ blockEq).reduce(_ && _)
    val candIds = a.join(b, joinCond).select("id_a", "id_b").distinct()

    // Exact verification of candidates only: re-attach the compact hash
    // arrays and intersect per pair — no exploded three-way join. The
    // length filter (J ≤ min/max sizes) prunes before the intersect.
    val scored = candIds
      .join(docs.select(col(idCol).as("id_a"), col("__hs").as("__hsa"),
        col("__sz").as("__sza")), "id_a")
      .join(docs.select(col(idCol).as("id_b"), col("__hs").as("__hsb"),
        col("__sz").as("__szb")), "id_b")
      .filter(least(col("__sza"), col("__szb")).cast("double") >=
        lit(threshold) * greatest(col("__sza"), col("__szb")))
      .withColumn("__inter",
        size(array_intersect(col("__hsa"), col("__hsb"))))
    scored
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") /
          (col("__sza") + col("__szb") - col("__inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact window-duplication accounting (the window-level signal behind
    * exact-substring training-data dedup, Lee et al. ACL'22, computed at
    * word n-gram rather than suffix-array granularity): a WINDOW (an
    * n-gram occurrence, with multiplicity) counts as duplicated iff its
    * gram occurs >= 2 times in the whole corpus — in another document or
    * again in the same one. Output per document: `n_windows` (total),
    * `n_dup_windows` (duplicated), `n_distinct_dup` (distinct duplicated
    * grams). Downstream policy (drop spans / drop docs over a dup-rate
    * cut) is a filter on these integers.
    *
    * Scale shape: windows collapse to per-(doc, gram) counts FIRST (one
    * shuffle, map-side partial agg absorbs within-doc repetition), gram
    * totals are a second partial agg over those, and totals re-attach by
    * a gram-keyed equi-join — deliberately a join, not a Window over the
    * bare gram: a hot gram (stopword phrase) would pin all its postings
    * to one window task, while a sort-merge join under AQE skew-join
    * splitting spreads it. Only 8-byte xxhash64 gram identities shuffle;
    * text never leaves the scan (collision odds ~(grams²)/2⁶⁴ corpus-wide
    * — acceptable for a dedup signal). */
  def duplicatedWindows(df: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame = {
    val grams = df.select(col(idCol),
      explode(graft.functions.NativeExprs.wordNgramHashesAll(
        TextAnalysis.words(col(textCol)), n)).as("__g"))
    val perDoc = grams.groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__k"))
    val totals = perDoc.groupBy("__g").agg(sum(col("__k")).as("__cnt"))
      .withColumnRenamed("__g", "__tg")
    perDoc.join(totals, col("__g") === col("__tg")).drop("__tg")
      .groupBy(col(idCol))
      .agg(sum(col("__k")).as("n_windows"),
        sum(when(col("__cnt") >= 2, col("__k")).otherwise(lit(0L)))
          .as("n_dup_windows"),
        count(when(col("__cnt") >= 2, lit(1))).as("n_distinct_dup"))
  }

  /** Duplicated-SPAN detection on top of `duplicatedWindows`: maximal
    * runs of CONSECUTIVE duplicated windows per document. A long run
    * means a long verbatim substring shared with elsewhere in the corpus
    * — the unit exact-substring dedup actually excises (vs q80's scalar
    * rate, which only ranks documents). Output per document: `max_dup_run`
    * (longest run, 0 when none) and `n_long_runs` (maximal runs >=
    * `minRun` windows, i.e. >= minRun+n-1 duplicated words).
    *
    * Runs are found with the classic consecutive-integers trick
    * (`pos - row_number()` constant within a run) — one per-doc window
    * over the duplicated positions only, no self-join. Shuffle shape on
    * top of the gram-count join: one extra (doc)-keyed exchange, bounded
    * by document size, never by corpus hot keys. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int, minRun: Int): DataFrame = {
    val grams = df.select(col(idCol),
      posexplode(graft.functions.NativeExprs.wordNgramHashesAll(
        TextAnalysis.words(col(textCol)), n)).as(Seq("__pos", "__g")))
    val totals = grams.groupBy("__g").agg(count(lit(1)).as("__cnt"))
      .withColumnRenamed("__g", "__tg")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val runs = grams.join(totals, col("__g") === col("__tg"))
      .filter(col("__cnt") >= 2)
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col(idCol))
      .agg(max(col("__run")).as("__max_run"),
        sum(when(col("__run") >= minRun, 1L).otherwise(0L)).as("__n_long"))
    df.select(col(idCol)).join(runs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__max_run"), lit(0L)).as("max_dup_run"),
        coalesce(col("__n_long"), lit(0L)).as("n_long_runs"))
  }

  /** Span EXCISION — the transformation `duplicatedSpans` only measures
    * (exact-substring dedup, Lee et al. ACL'22): every maximal run of
    * ≥ `minRun` consecutive duplicated n-gram windows is cut out of the
    * text, i.e. the words those windows cover are dropped and the
    * remainder re-joined (whitespace-normalized, as any tokenizing
    * round-trip is). Output: (id, n_words, n_removed, clean_text).
    *
    * Shuffle shape is `duplicatedSpans`' plus one doc-keyed covered-
    * position set (bounded by document length, never corpus-wide) that
    * re-attaches by id; reconstruction is per-row HOFs over the word
    * array. Only 8-byte gram hashes and integer positions shuffle —
    * the text itself moves once, on the final join. */
  def exciseSpans(df: DataFrame, idCol: String, textCol: String,
                  n: Int, minRun: Int): DataFrame = {
    val grams = df.select(col(idCol),
      posexplode(graft.functions.NativeExprs.wordNgramHashesAll(
        TextAnalysis.words(col(textCol)), n)).as(Seq("__pos", "__g")))
    val totals = grams.groupBy("__g").agg(count(lit(1)).as("__cnt"))
      .withColumnRenamed("__g", "__tg")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val covered = grams.join(totals, col("__g") === col("__tg"))
      .filter(col("__cnt") >= 2)
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__pos")).as("__s"), max(col("__pos")).as("__e"),
        count(lit(1)).as("__len"))
      .filter(col("__len") >= minRun)
      .select(col(idCol),
        explode(sequence(col("__s"), col("__e") + lit(n - 1))).as("__cp"))
      .groupBy(col(idCol)).agg(collect_set(col("__cp")).as("__cov"))
    val ws = col("__ws")
    // __keep bound to its own projection: it feeds both the count and
    // the reconstruction, and HOF subtrees get no codegen CSE.
    // array_except (hash-set build, linear) rather than a filter-HOF
    // with array_contains (O(len × |covered|) — quadratic on a long,
    // heavily duplicated doc); positions are distinct and array_except
    // preserves first-array order, so the result is identical
    df.join(covered, Seq(idCol), "left")
      .withColumn("__ws", TextAnalysis.words(col(textCol)))
      .withColumn("__keep", array_except(
        sequence(lit(0), size(ws) - 1),
        coalesce(col("__cov"), array().cast("array<int>"))))
      .select(col(idCol), size(ws).cast("long").as("n_words"),
        (size(ws) - size(col("__keep"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("__keep"),
          p => element_at(ws, p + 1))).as("clean_text"))
  }

  /** Corpus-level LINE dedup (CCNet-style boilerplate removal,
    * Wenzek et al. LREC'20): a line whose trimmed content appears in
    * ≥ `minDocs` DISTINCT documents is boilerplate (cookie banners,
    * nav menus, license footers) and is removed from EVERY document;
    * blank lines are structure and always survive. The complement of
    * span excision: `exciseSpans` cuts verbatim runs shared by few
    * documents, this cuts short lines shared by many.
    *
    * Scale shape: lines are keyed by an 8-byte portable hash (md5
    * prefix — engine-reproducible, so the whole operator is
    * oracle-checkable); the document-frequency aggregate and the
    * removal join shuffle only (hash, id, pos) — text never leaves its
    * scan and the boilerplate set is heavy-hitter-sized by definition
    * (AQE broadcasts the post-filter side at runtime). Reconstruction
    * is per-row HOFs over the line array, `exciseSpans`' pattern.
    * Output: (id, n_lines, n_removed, clean_text). */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs must be at least 2")
    val lines = lineHashes(df, idCol, textCol)
    // distinct (doc, hash) first: a line repeated WITHIN one document
    // counts once toward its document frequency
    val boiler = lines.select(col(idCol), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h").as("__bh"))
    removeLinesByHash(df, idCol, textCol, boiler)
  }

  /** Non-blank lines of each document with their 0-based position and
    * portable md5-prefix hash: (id, __pos, __h). Shared by the batch
    * operator and [[graft.streaming.LineDedupStream]]'s frequency
    * index. */
  private[graft] def lineHashes(df: DataFrame, idCol: String,
                                textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__l")))
      .withColumn("__t", trim(col("__l")))
      .filter(col("__t") =!= "")
      .withColumn("__h",
        conv(substring(md5(col("__t")), 1, 8), 16, 10).cast("long"))
      .select(col(idCol), col("__pos"), col("__h"))

  /** Cut every line whose hash is in `boiler` (single column `__bh`)
    * out of each document — [[dedupLines]]' reconstruction half. */
  private[graft] def removeLinesByHash(df: DataFrame, idCol: String,
                                       textCol: String,
                                       boiler: DataFrame): DataFrame = {
    val removed = lineHashes(df, idCol, textCol)
      .join(boiler, col("__h") === col("__bh"))
      .groupBy(col(idCol)).agg(collect_set(col("__pos")).as("__rm"))
    val ls = col("__ls")
    df.join(removed, Seq(idCol), "left")
      .withColumn("__ls", split(col(textCol), "\n"))
      .withColumn("__keep", array_except(
        sequence(lit(0), size(ls) - 1),
        coalesce(col("__rm"), array().cast("array<int>"))))
      .select(col(idCol), size(ls).cast("long").as("n_lines"),
        (size(ls) - size(col("__keep"))).cast("long").as("n_removed"),
        concat_ws("\n", transform(col("__keep"),
          p => element_at(ls, p + 1))).as("clean_text"))
  }

  /** Engine-portable MinHash+LSH: per-permutation hash = md5 prefix of
    * `"<perm>|<shingle>"`, signature = per-permutation minimum, bands of
    * `numPerms / bands` rows, candidates from band-key equality, scored
    * by matching-permutation count (`n_match ≥ minMatch` ≈ estimated
    * Jaccard ≥ minMatch/numPerms). Same shape as `minhashLsh`, but every
    * number is reproducible on any engine with md5 (DuckDB:
    * `('0x'||substr(md5(p||'|'||s),1,8))::BIGINT`), so the whole LSH
    * pipeline — signatures, banding, candidate set, scores — is
    * oracle-checkable end to end. `minhashLsh` (xxhash64/murmur inside a
    * codegen'd kernel) stays the faster engine-internal path.
    *
    * The shingle array is bound to its own projection before the
    * signature pass (no codegen CSE inside HOF lambdas); the P×|grams|
    * md5 calls are each computed exactly once. */
  /** Affine permutation constants shared by the Spark formulation and
    * the oracle SQL (embedded as literals on both sides). `a ≤ 2^30`,
    * gram hash < 2^32 ⇒ `a·g + b < 2^62`: exact in 64-bit integers on
    * any engine, no overflow divergence. */
  private[graft] def portablePerms(numPerms: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(1234)
    Seq.fill(numPerms)(
      (rng.nextInt(1 << 30).toLong + 1L, rng.nextInt(1 << 30).toLong))
  }
  private[graft] val PortableMod = 2147483647L // 2^31 − 1

  /** Portable MinHash signatures: (id, __sig ARRAY<BIGINT>[numPerms]).
    * One md5 per DISTINCT gram (bound to its own projection), then
    * cheap affine permutations over the 32-bit gram hashes. */
  private[graft] def portableSigs(df: DataFrame, idCol: String, textCol: String,
                           n: Int, numPerms: Int): DataFrame = {
    val perms = portablePerms(numPerms)
    val grams = df.select(col(idCol),
      transform(shingleArray(col(textCol), n), g =>
        conv(substring(md5(g), 1, 8), 16, 10).cast("long")).as("__gh"))
    grams.select(col(idCol),
      array(perms.map { case (a, b) =>
        array_min(transform(col("__gh"), g =>
          pmod(lit(a) * g + lit(b), lit(PortableMod))))
      }: _*).as("__sig"))
  }

  /** Band keys of a signature table: (id, __band, __bkey). */
  private[graft] def portableBands(sigs: DataFrame, idCol: String, bands: Int,
                            r: Int): DataFrame =
    sigs.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws(",", transform(slice(col("__sig"), b * lit(r) + 1, lit(r)),
          _.cast("string"))))))
      .select(col(idCol), col("pos").as("__band"), col("col").as("__bkey"))

  def minhashLshPortable(df: DataFrame, idCol: String, textCol: String,
                         n: Int, numPerms: Int, bands: Int,
                         minMatch: Int): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val r = numPerms / bands
    val sigs = portableSigs(df, idCol, textCol, n, numPerms)
      .localCheckpoint(true)
    val banded = portableBands(sigs, idCol, bands, r)
    val candIds = banded.select(col(idCol).as("id_a"), col("__band"),
        col("__bkey"))
      .join(banded.select(col(idCol).as("id_b"), col("__band").as("__band_b"),
        col("__bkey").as("__bkey_b")),
        col("__band") === col("__band_b") &&
          col("__bkey") === col("__bkey_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candIds
      .join(sigs.select(col(idCol).as("id_a"), col("__sig").as("__sa")),
        "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("__sig").as("__sb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        size(filter(zip_with(col("__sa"), col("__sb"),
          (x, y) => x === y), m => m)).cast("long").as("n_match"))
      .filter(col("n_match") >= minMatch)
  }

  /** INCREMENTAL near-dup detection: score an incoming batch against an
    * existing corpus without re-pairing the corpus with itself — the
    * shape of a production ingest, where the corpus's band index is
    * materialized once and every new batch probes it. Candidates are
    * (incoming, corpus) band-key collisions only; incoming-incoming
    * pairs are deliberately out of scope (run `minhashLshPortable` on
    * the batch for those). Same md5/affine-permutation hashing as
    * `minhashLshPortable`, so index and probe are engine-reproducible
    * and a batch's verdicts never change across re-runs.
    *
    * Cost ∝ |batch| + collisions: the corpus side contributes one
    * (pre-materializable) band table to the equi-join and sig lookups
    * for matched ids only. Output: (new_id, corpus_id, n_match ≥
    * minMatch) — downstream keeps `new_id ∉ output` or routes matches
    * to canonical docs. */
  def minhashProbePortable(corpus: DataFrame, incoming: DataFrame,
                           idCol: String, textCol: String,
                           n: Int, numPerms: Int, bands: Int,
                           minMatch: Int): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val r = numPerms / bands
    val corpusSigs = portableSigs(corpus, idCol, textCol, n, numPerms)
      .withColumnRenamed(idCol, "corpus_id").localCheckpoint(true)
    val newSigs = portableSigs(incoming, idCol, textCol, n, numPerms)
      .withColumnRenamed(idCol, "new_id").localCheckpoint(true)
    val candIds = portableBands(newSigs, "new_id", bands, r)
      .join(portableBands(corpusSigs, "corpus_id", bands, r)
          .withColumnRenamed("__band", "__band_c")
          .withColumnRenamed("__bkey", "__bkey_c"),
        col("__band") === col("__band_c") &&
          col("__bkey") === col("__bkey_c"))
      .select("new_id", "corpus_id").distinct()
    candIds
      .join(newSigs.withColumnRenamed("__sig", "__sa"), "new_id")
      .join(corpusSigs.withColumnRenamed("__sig", "__sb"), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        size(filter(zip_with(col("__sa"), col("__sb"),
          (x, y) => x === y), m => m)).cast("long").as("n_match"))
      .filter(col("n_match") >= minMatch)
  }

  /** Near-dup CLUSTERS from candidate pairs: (doc_id, cluster_id) with
    * every doc labelled by the smallest id of its component in the pair
    * graph, so `cluster_id` is the component's canonical doc (the
    * keep-one-per-cluster stage after LSH). Runs the large-star /
    * small-star loop of [[ConnectedComponents.labelsWithRounds]] —
    * O(log n) rounds whatever the component diameter — and its
    * union-find driver finish for bigint pairs below the bound. Ids keep
    * their input type. Deterministic and order-independent: the
    * fixpoint is the component minimum. */
  def nearDupClusters(pairs: DataFrame, aCol: String, bCol: String,
                      maxIter: Int = 20,
                      driverFinishMaxEdges: Long =
                        ConnectedComponents.CcDriverFinishMaxEdges)
      : DataFrame =
    ConnectedComponents.labelsWithRounds(pairs, aCol, bCol, maxIter,
      driverFinishMaxEdges)._1.withColumnRenamed("id", "doc_id")

  /** All-pairs formulation (quadratic within a block); kept as the
    * equivalence twin for NgramPrefixSpec. */
  private[graft] def ngramJaccardAllPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, threshold: Double): DataFrame = {
    val sh = shingles(df, idCol, textCol, blockCols, n)
      .withColumn("__shash", xxhash64(col("__shingle")))
      .drop("__shingle")
      .localCheckpoint(true)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val a = sh.select(
      (col(idCol).as("id_a") +: blockCols.map(c => col(c).as(s"__ba_$c"))) :+
        col("__shash"): _*)
    val b = sh.select(
      (col(idCol).as("id_b") +: blockCols.map(c => col(c).as(s"__bb_$c"))) :+
        col("__shash").as("__shash_b"): _*)
    val blockEq = blockCols.map(c => col(s"__ba_$c") <=> col(s"__bb_$c"))
    val joinCond = (Seq(col("__shash") === col("__shash_b"),
      col("id_a") < col("id_b")) ++ blockEq).reduce(_ && _)
    val inter = a.join(b, joinCond)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("__sza")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("__szb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") /
          (col("__sza") + col("__szb") - col("__inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures: sig_i = min over shingles of
    * (a_i·murmur3(shingle) + b_i) mod p.
    *
    * Single-pass formulation: ONE `aggregate` whose accumulator is the
    * whole numHashes-wide signature array, folded with a `zip_with`
    * against a literal (a_i, b_i) seed array. Higher-order functions are
    * not covered by codegen CSE, so the naive "numHashes independent
    * aggregates" variant re-evaluates the shingle-construction subtree
    * once per hash — ~100× slower. Here shingles are hashed exactly once
    * per row; no shuffle. */
  def minhashSignature(textShingles: Column, numHashes: Int): Column = {
    val p = 2147483647L // 2^31 − 1
    val rng = new scala.util.Random(42)
    val seeds = Seq.fill(numHashes)(
      (math.abs(rng.nextInt(Int.MaxValue - 1)) + 1L,
        math.abs(rng.nextLong()) % p))
    val seedArr = array(seeds.map { case (aC, bC) =>
      struct(lit(aC).as("a"), lit(bC).as("b")) }: _*)
    val shingleHashes = transform(textShingles, t => hash(t).cast("long"))
    aggregate(
      shingleHashes,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, seedArr,
        (m, s) => least(m, pmod(s.getField("a") * h + s.getField("b"), lit(p)))))
  }

  /** MinHash + LSH near-dup candidates: signatures banded into
    * `bands` buckets; docs sharing any band bucket are candidates, then
    * exact-verified with estimated Jaccard = matching signature fraction.
    * Output: (id_a, id_b, est_jaccard ≥ threshold). */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // native codegen'd kernels end-to-end: shingle construction and the
    // minhash fold (bit-identical to the HOF twins — NativeExprSpec)
    val sigs = df.select(col(idCol),
      graft.functions.NativeExprs.minhashSignature(
        shingleArray(col(textCol), 3), numHashes).as("__sig"))
      .localCheckpoint(true)
    val banded = sigs.select(
      col(idCol),
      col("__sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bi => xxhash64(concat_ws(",",
          transform(slice(col("__sig"), bi * lit(r) + 1, lit(r)), _.cast("string")))))))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
    val aSide = banded.select(col(idCol).as("id_a"), col("__band"),
      col("__bucket"))
    val bSide = banded.select(col(idCol).as("id_b"), col("__band"),
      col("__bucket"))
    // dedup candidate pairs on the bare 16-byte id pair, THEN re-attach
    // the 1KB signature arrays by id join — the distinct shuffle must not
    // carry the signatures
    val candIds = aSide.join(bSide, Seq("__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val cand = candIds
      .join(sigs.select(col(idCol).as("id_a"), col("__sig").as("__sig_a")),
        "id_a")
      .join(sigs.select(col(idCol).as("id_b"), col("__sig").as("__sig_b")),
        "id_b")
    // estimated Jaccard = fraction of matching signature positions
    val est = cand.select(col("id_a"), col("id_b"),
      (aggregate(zip_with(col("__sig_a"), col("__sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, m) => acc + m).cast("double") / numHashes)
        .as("est_jaccard"))
    est.filter(col("est_jaccard") >= threshold)
  }

  /** 64-bit SimHash over whitespace tokens. Tokens are hashed once each
    * (the hash must not sit inside the per-bit array, where interpreted
    * HOF evaluation would recompute it 64×). */
  /** Engine-portable 32-bit SimHash over word-token md5 hashes: OUTPUT
    * bit (31 − b) is set iff more token hashes have bit b set than
    * clear (strictly positive vote — ties, incl. empty docs, clear the
    * bit); i.e. token-hash bit 0 votes into the output's MSB. Hamming
    * distances are unaffected by the fixed reversal, but consumers
    * extracting individual bits must use the mapping (the oracle's
    * `1 << (31 - bit)` mirrors it). NULL texts are excluded (an
    * unnest-based SQL evaluation drops them; emitting a zero signature
    * here would diverge). Like `minhashLshPortable`, every value is
    * reproducible on any engine with md5 + integer bit ops, so per-doc
    * signatures are oracle-checkable; `simhash`/`simhashPairs`
    * (xxhash64, 64-bit) stay the engine-internal path.
    * Output: (id, simhash) per doc. */
  def simhashPortable(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val gh = df.filter(col(textCol).isNotNull).select(col(idCol),
      transform(TextAnalysis.words(col(textCol)), t =>
        conv(substring(md5(t), 1, 8), 16, 10).cast("long")).as("__gh"))
    val sig = (0 until 32).foldLeft(lit(0L)) { (acc, bit) =>
      shiftleft(acc, 1).bitwiseOR(
        when(size(filter(col("__gh"), g =>
          shiftright(g, bit).bitwiseAND(1L) === 1L)) * 2 >
          size(col("__gh")), 1L).otherwise(0L))
    }
    gh.select(col(idCol), sig.as("simhash"))
  }

  def simhash(text: Column): Column = {
    val tokenHashes = transform(TextAnalysis.words(text), t => xxhash64(t))
    val tokenBitVotes = aggregate(
      tokenHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map(j =>
          shiftright(h, j).bitwiseAND(1L) * 2L - 1L): _*),
        (a, b) => a + b))
    aggregate(tokenBitVotes, lit(0L),
      (acc, v) => shiftleft(acc, 1).bitwiseOR(when(v > 0, 1L).otherwise(0L)))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, using
    * 16-bit band buckets for candidate generation. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    val sigs = df.select(col(idCol),
      graft.functions.NativeExprs.simhash64(TextAnalysis.words(col(textCol)))
        .as("__sh")).localCheckpoint(true)
    val banded = sigs.select(col(idCol), col("__sh"),
      posexplode(array((0 until 4).map(bi =>
        shiftright(col("__sh"), bi * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
    val aSide = banded.select(col(idCol).as("id_a"), col("__sh").as("__sh_a"),
      col("__band"), col("__bucket"))
    val bSide = banded.select(col(idCol).as("id_b"), col("__sh").as("__sh_b"),
      col("__band"), col("__bucket"))
    aSide.join(bSide, Seq("__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__sh_a", "__sh_b").distinct()
      .withColumn("hamming", bit_count(col("__sh_a").bitwiseXOR(col("__sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Duplication-multiplicity profile — the dedup impact report: for
    * each exact-duplicate cluster size s, how many clusters, docs, and
    * removable excess copies the corpus holds, plus each multiplicity's
    * share of the corpus in basis points. The "is 30% of this crawl
    * copies?" headline [[exact]] feeds.
    *
    * Scale: text collapses to (hash, text) cluster sizes in one
    * partial-agg shuffle (same keys as [[exact]]'s canonical window,
    * but pure aggregation — no per-cluster min window needed for
    * counting); sizes then collapse to ≤ max-multiplicity rows. The
    * corpus total is a 1-row aggregate joined by a literal-true
    * broadcast. Output: (multiplicity, n_clusters, n_docs, n_excess,
    * share_bp). */
  def dupProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sizes = df
      .groupBy(xxhash64(col(textCol)).as("__h"), col(textCol))
      .agg(count(lit(1)).as("__s"))
    val prof = sizes.groupBy(col("__s").as("multiplicity"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("multiplicity") * col("n_clusters"))
      .withColumn("n_excess",
        (col("multiplicity") - 1L) * col("n_clusters"))
    val total = prof.agg(sum(col("n_docs")).as("__tot"))
    prof.crossJoin(broadcast(total))
      .withColumn("share_bp", expr(
        "cast((10000 * cast(n_docs as decimal(38,0))) div __tot as long)"))
      .drop("__tot")
  }
}
