package graft.packs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryPack
import graft.core.Tables
import graft.operators.{AsOf, Eval, Funnels, Multimodal, Profile,
  Survival}

/** Causal / experimentation inference + real-media decode (round-10
  * additions): Shapley attribution, Aalen–Johansen competing risks,
  * interpolating as-of alignment, Cochran–Armitage trend, CUPED
  * variance reduction, and an end-to-end WAV PCM decode check. Every
  * query is exact integer / declared-division fixed point, so DuckDB
  * reproduces each bit-for-bit — including the Shapley values (the
  * coalition table is enumerable for a literal channel vocabulary) and
  * the WAV stats (the oracle recomputes the portable-hash PCM series
  * directly, certifying the encode→decode roundtrip as an identity). */
object InferencePack extends QueryPack {

  private def cents(c: String) = expr(s"cast(round($c * 100) as long)")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Shapley-value attribution over the 3-channel touch vocabulary;
    // conversions = purchase users. Exact coalition math at fp scale.
    "q250_shapley" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      Funnels.shapleyAttribution(
        e.filter(col("event_type").isin("click", "signup", "view")),
        "user_id", "event_type",
        e.filter(col("event_type") === "purchase"))
        .withColumnRenamed("event_type", "channel")
    }),

    // Aalen–Johansen cumulative incidence: first purchase vs first
    // error compete per user (ties → purchase); censored at the last
    // event; cohorts = user_id parity (the q158 construction).
    "q251_aj_cif" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      val perUser = e.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("__t0"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("__tp"),
          min(when(col("event_type") === "error", col("ts_us")))
            .as("__te"),
          max(col("ts_us")).as("__tl"))
        .select(
          concat(lit("c"), pmod(col("user_id"), lit(2)).cast("string"))
            .as("cohort"),
          expr("""(case
              |  when __tp is not null and (__te is null or __tp <= __te)
              |    then __tp
              |  when __te is not null then __te
              |  else __tl end - __t0) div 86400000000""".stripMargin)
            .as("dur"),
          expr("""case
              |  when __tp is not null and (__te is null or __tp <= __te)
              |    then 'purchase'
              |  when __te is not null then 'error'
              |  else null end""".stripMargin).as("cause"))
      Survival.aalenJohansen(perUser, "cohort", "dur", "cause")
    }),

    // interpolating as-of: each purchase gets the user's view-value
    // (cents) linearly interpolated between the bracketing views
    "q252_asof_lerp" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
      AsOf.lerp(
        probes = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts_us")),
        samples = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us"),
            cents("value").as("cents")),
        keys = Seq("user_id"), tsCol = "ts_us", valueCol = "cents")
        .select(col("event_id"), col("user_id"), col("value_lerp"))
    }),

    // end-to-end REAL WAV decode: portable-hash PCM16 samples per doc
    // are RIFF-encoded and decoded back by the from-scratch parser;
    // the oracle recomputes the stats from the same md5 series, so a
    // hash match certifies the byte-level codec roundtrip exactly
    "q253_wav_stats" -> ((s, dir) => {
      val enc = udf((samples: Seq[Long]) =>
        Multimodal.encodeWav(samples.map(_.toInt).toArray,
          sampleRate = 8000, channels = 1))
      val assets = Tables.load(s, dir, "documents")
        .select(col("doc_id"), enc(expr(
          """transform(sequence(0, 63), i ->
            |  cast(conv(substring(md5(concat(cast(doc_id as string),
            |    '-', cast(i as string))), 1, 8), 16, 10) as bigint)
            |  % 65536 - 32768)""".stripMargin)).as("content"))
      Multimodal.wavFeatures(assets)
        .select(col("doc_id"), col("n_samples"), col("s_min"),
          col("s_max"), col("sum_abs"), col("sum_sq"),
          col("zero_crossings"))
    }),

    // Cochran–Armitage: does the return rate trend with the line
    // number, per line status (ordered dose = l_linenumber)
    "q254_ca_trend" -> ((s, dir) =>
      Eval.trendTest(Tables.load(s, dir, "lineitem"), "l_linestatus",
        col("l_linenumber"), col("l_returnflag") === "R")),

    // CUPED: purchase spend adjusted by browse spend per variant
    // (user_id parity) within user segments (user_id mod 3)
    "q255_cuped" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val perUser = e.groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase", cents("value"))
            .otherwise(0L)).as("y"),
          sum(when(col("event_type").isin("view", "click"),
            cents("value")).otherwise(0L)).as("x"))
        .select(
          concat(lit("s"), pmod(col("user_id"), lit(3)).cast("string"))
            .as("segment"),
          concat(lit("v"), pmod(col("user_id"), lit(2)).cast("string"))
            .as("variant"),
          col("y"), col("x"))
      Eval.cuped(perUser, "segment", "variant", col("y"), col("x"))
    }),

    // sequential-pattern support: which event-type subsequences (gaps
    // allowed) appear in ≥ 3 users' streams — the journey-mining
    // complement to contiguous trigrams (q138)
    "q256_seq_patterns" -> ((s, dir) =>
      graft.streaming.Paths.frequentSubsequences(
        Tables.events(s, dir)
          .withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us", "event_type", minUsers = 3L)),

    // inclusion-dependency / FK-candidate audit over the TPC-H keys
    "q257_ind_audit" -> ((s, dir) =>
      Profile.inclusionAudit(IndCols.map { case (lbl, tbl, c) =>
        (lbl, Tables.load(s, dir, tbl), c)
      })),

    // Poisson-bootstrap 95% CI of mean event value (cents) per type —
    // portable md5 draws, so the replicate ensemble hash-checks
    "q258_bootstrap_ci" -> ((s, dir) =>
      Eval.poissonBootstrap(Tables.events(s, dir), "event_type",
        "event_id", cents("value"), b = 48, alphaBp = 250)),

    // split-conformal 90% calibration of a constant value predictor
    // (50.00): nonconformity = |cents − 5000|, per event type
    "q259_conformal" -> ((s, dir) =>
      Eval.conformal(Tables.events(s, dir)
          .select(col("event_type"),
            abs(cents("value") - 5000L).as("score")),
        "event_type", "score", alphaBp = 1000)),

    // seed-sampled Brandes betweenness on the q246 supplier↔customer
    // bipartite graph: which accounts shortest paths route THROUGH
    "q260_betweenness" -> ((s, dir) => {
      val pairs = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast("long").as("supp"),
          col("o_custkey").cast("long").as("cust"))
        .distinct()
      val edges = pairs.select(
          (col("supp") + 10000000L).as("src"),
          (col("cust") + 20000000L).as("dst"))
        .union(pairs.select((col("cust") + 20000000L).as("src"),
          (col("supp") + 10000000L).as("dst")))
      // SF-INVARIANT seed panel: suppkeys are 1..10000·SF, so the
      // low-key slice `s_suppkey <= 80 AND s_suppkey % 5 = 1` is the
      // SAME 16 seeds at every SF ≥ 0.01 (an SF-scaling predicate like
      // s_nationkey=0 would overflow the maxSeeds REQUIRE at sf ≥ ~1)
      val seeds = Tables.load(s, dir, "supplier")
        .filter(col("s_suppkey") <= 80 &&
          pmod(col("s_suppkey"), lit(5)) === 1)
        .select((col("s_suppkey").cast("long") + 10000000L).as("id"))
      graft.operators.Graph.betweennessFromSeeds(edges, "src", "dst",
        seeds, "id", maxHops = 3)
    }),

    // ε-DP release of per-(type, day) event counts via the truncated
    // geometric mechanism — portable draws, so the release hash-checks
    "q261_dp_release" -> ((s, dir) =>
      Profile.dpCounts(Tables.events(s, dir)
          .select(col("event_type"),
            to_date(col("ts")).cast("string").as("day")),
        Seq("event_type", "day"), seed = "dp1"))

    ,
    // CDC merge-apply: fold an order-derived change log (upsert /
    // delete by status) onto the customer base, last writer wins
    "q262_cdc_apply" -> ((s, dir) => {
      val base = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"),
          expr("cast(round(c_acctbal * 100) as long)").as("bal_cents"))
      val changes = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"),
          when(col("o_orderstatus") === "O", "U")
            .when(col("o_orderstatus") === "F", "D")
            .otherwise("I").as("op"),
          unix_date(to_date(col("o_orderdate"))).as("ts"),
          col("o_orderkey").as("cid"),
          concat(lit("ORD-"), col("o_orderpriority")).as("segment"),
          expr("cast(round(o_totalprice * 100) as long)")
            .as("bal_cents"))
      graft.core.Cdc.apply(base, changes, Seq("c_custkey"), "op",
        "ts", "cid")
    }),

    // strict-order funnel: view→click→purchase with NOTHING in
    // between, within a day of the anchor view
    "q263_strict_funnel" -> ((s, dir) =>
      Funnels.windowFunnelStrictOrder(Tables.events(s, dir)
          .withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us", "event_id", "event_type",
        Seq("view", "click", "purchase"), windowUs = 86400000000L)),

    // end-to-end REAL video-container decode (the q253 pattern for
    // Y4M): md5-derived 8×8 2-frame luma planes are container-encoded
    // and decoded back; the oracle recomputes the plane series, so a
    // hash match certifies the byte-level container roundtrip
    "q264_y4m_stats" -> ((s, dir) => {
      val enc = udf((bytes: Seq[Long]) => {
        val arr = bytes.map(_.toByte).toArray
        Multimodal.encodeY4m(8, 8,
          Seq(arr.slice(0, 64), arr.slice(64, 128)))
      })
      val assets = Tables.load(s, dir, "documents")
        .select(col("doc_id"), enc(expr(
          """transform(sequence(0, 127), i ->
            |  cast(conv(substring(md5(concat(cast(doc_id as string),
            |    '-', cast(i div 16 as string))),
            |    (i % 16) * 2 + 1, 2), 16, 10) as bigint))"""
            .stripMargin)).as("content"))
      Multimodal.y4mFeatures(assets)
        .select(col("doc_id"), col("n_frames"), col("width"),
          col("height"), col("y_sum"), col("y_min"), col("y_max"))
    }),

    // ranking drift: RBO@10 between q105's two rankers (by length vs
    // by portable hash) per language — label-free agreement
    "q265_rbo" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val byLen = Window.partitionBy(col("lang"))
        .orderBy(octet_length(col("text")).desc, col("doc_id"))
      val byHash = Window.partitionBy(col("lang")).orderBy(
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8)," +
          " 16, 10) as bigint)"), col("doc_id"))
      val a = docs.select(col("lang"), col("doc_id"),
        row_number().over(byLen).as("r")).filter(col("r") <= 10)
      val b = docs.select(col("lang"), col("doc_id"),
        row_number().over(byHash).as("r")).filter(col("r") <= 10)
      graft.operators.Fusion.rboAtK(a, b, "lang", "doc_id", "r",
        k = 10)
    }),

    // magnitude-sensitive distribution shift: exact 1-D Wasserstein
    // between open and finished line quantities per return flag
    "q266_wasserstein" -> ((s, dir) =>
      Eval.wasserstein1(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", col("l_linestatus") === "O")),

    // SCD2 transaction-time change capture: three cumulative
    // order-count snapshots merged through updateSnapshot, then
    // changesBetween classifies every version opened/closed/
    // opened_closed in (T1, T3] — the CDC companion of q13's time
    // travel, oracle-replayed as consecutive-presence runs (counts
    // are cumulative, so a (cust, n) pair occupies consecutive
    // snapshots; run ends ⇒ closed, run starts past T1 ⇒ opened)
    "q267_scd2_changes" -> ((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_custkey").cast("long").as("c_custkey"),
          to_date(col("o_orderdate")).as("__d"))
      def snap(cut: String) = orders
        .filter(col("__d") <= lit(java.sql.Date.valueOf(cut)))
        .groupBy("c_custkey").agg(count(lit(1)).as("n_orders"))
      val cols = Seq("c_custkey", "n_orders")
      // checkpoint between merges: each updateSnapshot reads its
      // `current` in two branches (closed history, open versions), so
      // a bare lineage chain would recompute v1 ~4x inside v3 (the
      // store's real path materializes to parquet between
      // transactions)
      val v1 = graft.core.Scd2.updateSnapshot(None,
        snap("1994-01-01"), Cdc1, cols).localCheckpoint(true)
      val v2 = graft.core.Scd2.updateSnapshot(Some(v1),
        snap("1995-01-01"), Cdc2, cols).localCheckpoint(true)
      val v3 = graft.core.Scd2.updateSnapshot(Some(v2),
        snap("1996-01-01"), Cdc3, cols)
      graft.core.Scd2.changesBetween(v3, Cdc1, Cdc3)
    }),

    // integer perceptual image hashes over REAL PNG encode->decode
    // (the q253 portable-payload posture for images): md5-derived
    // grayscale grids render to lossless PNG, the hasher decodes the
    // raster and computes all-integer block-mean aHash/dHash; the
    // oracle replays the pixel math directly. Docs pair up (pb =
    // doc_id - doc_id%2): the odd twin differs in ONE pixel.
    "q278_image_phash" -> ((s, dir) =>
      imageHashed(s, dir)
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("ahash"),
          col("dhash"))),

    // hamming-banded image near-dup over the dHash: planted one-pixel
    // twins land within hamming <= 2 (one perturbed block flips at
    // most two gradient comparisons); the banded join is exact for
    // <= 3, the oracle brute-forces all pairs
    "q279_image_neardup" -> ((s, dir) =>
      graft.operators.ImageHash.nearDupPairs(
          imageHashed(s, dir), "doc_id", "dhash", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))),

    // integer audio fingerprints over REAL WAV encode->decode (the
    // q253 portable-payload posture): md5-derived PCM16 clips are
    // RIFF-encoded, decoded back, and folded into the all-integer
    // Haitsma-Kalker sign-bit fingerprint; the oracle replays the
    // energy-grid math from the generator series directly. Docs pair
    // up (pb = doc_id - doc_id%2): the odd twin perturbs SAMPLE 0
    // (one grid cell -> hamming <= 4, here measured <= 1)
    "q284_audio_fp" -> ((s, dir) =>
      audioFingerprinted(s, dir)
        .select(col("doc_id"), col("n_samples"), col("afp"))),

    // hamming-banded audio near-dup over the fingerprint: planted
    // one-sample twins meet in a band (exact for <= 3 by pigeonhole
    // via the ImageHash 4x16 banding); the oracle brute-forces pairs
    "q285_audio_neardup" -> ((s, dir) =>
      graft.operators.AudioHash.nearDupPairs(
          audioFingerprinted(s, dir), "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))),

    // per-frame video dHash signatures over REAL Y4M encode->decode
    // (the q264 posture fed through the ImageHash block-mean kernel):
    // md5-derived 18x16 3-frame luma planes, one 64-bit dHash per
    // frame; the oracle replays the pixel math per (doc, frame)
    "q286_video_fhash" -> ((s, dir) =>
      videoHashed(s, dir)
        .select(col("doc_id"), posexplode(col("fhashes"))
          .as(Seq("fidx", "fhash")))
        .select(col("doc_id"), col("fidx").cast("long").as("fidx"),
          col("fhash"))),

    // aligned video near-dup: banded any-frame candidates + per-frame
    // hamming majority verify. The odd twin perturbs pixel 0 of EVERY
    // frame (one block -> <= 1 flipped bit per frame), so planted
    // pairs match on all 3 frames; oracle brute-forces aligned pairs
    "q287_video_neardup" -> ((s, dir) =>
      graft.operators.VideoHash.nearDupPairs(
          videoHashed(s, dir), "doc_id", maxHamming = 3,
          minMatchBp = 8000)
        .select(col("id_a"), col("id_b"), col("n_frames"),
          col("n_match"))),

    // TEMPORAL-OFFSET-TOLERANT video near-dup: the odd twin is the
    // even's sequence with the FIRST FRAME TRIMMED (a re-encode cut
    // q287's aligned pairing cannot see) plus a one-pixel-per-frame
    // perturbation; candidates drop the frame index from the band
    // key and verification votes over offsets — every planted
    // trimmed twin found at best_offset -1 with both overlapping
    // frames matched; oracle brute-forces all pairs x offsets
    "q293_video_neardup_shifted" -> ((s, dir) =>
      graft.operators.VideoHash.nearDupPairsShifted(
          videoHashedShifted(s, dir), "doc_id", maxHamming = 3,
          maxOffset = 1, minMatchBp = 8000)
        .select(col("id_a"), col("id_b"), col("best_offset"),
          col("n_overlap"), col("n_match"))),

    // TEMPORAL-OFFSET-TOLERANT audio near-dup: per-WINDOW
    // Haitsma-Kalker fingerprints (162-sample windows, 81-sample hop
    // — 50% overlap, the standard framing) instead of q285's one
    // whole-clip grid; the odd twin pads ONE HOP of silence in
    // front, which shifts the window sequence by exactly 1 — found
    // at best_offset 1 with all 4 interior windows matched at
    // hamming 0; oracle replays the window grids and brute-forces
    // pairs x offsets
    "q294_audio_neardup_shifted" -> ((s, dir) =>
      graft.operators.AudioHash.nearDupPairsShifted(
          audioWindowed(s, dir), "doc_id", maxHamming = 3,
          maxOffset = 1, minMatchBp = 8000)
        .select(col("id_a"), col("id_b"), col("best_offset"),
          col("n_overlap"), col("n_match"))),

    // INCREMENTAL image near-dup probe: the even half of the planted
    // corpus is the standing (band, bucket) index, the odd half
    // arrives as the new batch — candidates are CROSS-SIDE collisions
    // only (the text family's q83 posture for media signatures), so
    // the output is exactly the cross-side slice of q279's full
    // banded join; the oracle brute-forces that slice
    "q295_image_probe" -> ((s, dir) => {
      val hashed = imageHashed(s, dir).localCheckpoint(true)
      graft.operators.BandProbe.probePairs(
          hashed.filter(col("doc_id") % 2 === 0),
          hashed.filter(col("doc_id") % 2 === 1),
          "doc_id", "dhash", maxHamming = 3)
        .select(col("new_id"), col("corpus_id"),
          col("hamming").cast("long").as("hamming"))
    })
  )

  /** Shared q293 stage: the q286 planted corpus with a TEMPORAL
    * SHIFT — the even doc keeps 3 md5 frames; its odd twin carries
    * frames 1..2 of the SAME series (first frame trimmed) with pixel
    * 0 of every frame shifted +100 mod 256. */
  private def videoHashedShifted(s: SparkSession, dir: String)
      : DataFrame = {
    val enc = udf((px: Seq[Long], w: Int, h: Int, nf: Int) => {
      val fs = (0 until nf).map(f =>
        px.slice(f * w * h, (f + 1) * w * h).map(_.toByte).toArray)
      Multimodal.encodeY4m(w, h, fs)
    })
    val assets = Tables.load(s, dir, "documents")
      .filter(expr("doc_id % 10 IN (0, 1)"))
      .select(col("doc_id"), enc(expr(
        """transform(sequence(0,
          |    cast((3 - doc_id % 2) * 288 - 1 as int)), j ->
          |  (cast(conv(substring(md5(concat(
          |     cast(doc_id - doc_id % 2 as string), '-',
          |     cast(j div 288 + doc_id % 2 as string), '-',
          |     cast(j % 288 as string))), 1, 8), 16, 10) as bigint)
          |   + CASE WHEN doc_id % 2 = 1 AND j % 288 = 0
          |          THEN 100 ELSE 0 END) % 256)""".stripMargin),
        lit(18), lit(16), (lit(3) - col("doc_id") % 2).cast("int"))
        .as("content"))
    graft.operators.VideoHash.frameHashes(assets, "content")
  }

  /** Shared q294 stage: 486-sample md5 PCM16 clips windowed at
    * 162/81; the odd twin is ONE HOP (81 samples) of leading silence
    * followed by the even's first 405 samples. */
  private def audioWindowed(s: SparkSession, dir: String): DataFrame = {
    val enc = udf((samples: Seq[Long]) =>
      Multimodal.encodeWav(samples.map(_.toInt).toArray,
        sampleRate = 8000, channels = 1))
    val assets = Tables.load(s, dir, "documents")
      .filter(expr("doc_id % 10 IN (0, 1)"))
      .select(col("doc_id"), enc(expr(
        """transform(sequence(0, 485), i ->
          |  CASE WHEN doc_id % 2 = 1 AND i < 81 THEN cast(0 as bigint)
          |  ELSE cast(conv(substring(md5(concat(
          |     cast(doc_id - doc_id % 2 as string), '-',
          |     cast(i - 81 * (doc_id % 2) as string))), 1, 8), 16, 10)
          |     as bigint) % 65536 - 32768 END)""".stripMargin))
        .as("content"))
    graft.operators.AudioHash.windowFingerprints(assets, "content",
      windowSamples = 162, hopSamples = 81)
  }

  /** Shared q286/q287 stage: portable md5 luma planes (3 frames of
    * 18×16 per doc; the odd twin of each pair (pb = doc_id - doc_id%2)
    * shifts pixel 0 of every frame by +100 mod 256) encoded to real
    * Y4M containers, decoded and per-frame dHashed. */
  private def videoHashed(s: SparkSession, dir: String): DataFrame = {
    val enc = udf((px: Seq[Long], w: Int, h: Int, nf: Int) => {
      val fs = (0 until nf).map(f =>
        px.slice(f * w * h, (f + 1) * w * h).map(_.toByte).toArray)
      Multimodal.encodeY4m(w, h, fs)
    })
    val assets = Tables.load(s, dir, "documents")
      .filter(expr("doc_id % 10 IN (0, 1)"))
      .select(col("doc_id"), enc(expr(
        """transform(sequence(0, 863), j ->
          |  (cast(conv(substring(md5(concat(
          |     cast(doc_id - doc_id % 2 as string), '-',
          |     cast(j div 288 as string), '-',
          |     cast(j % 288 as string))), 1, 8), 16, 10) as bigint)
          |   + CASE WHEN doc_id % 2 = 1 AND j % 288 = 0
          |          THEN 100 ELSE 0 END) % 256)""".stripMargin),
        lit(18), lit(16), lit(3)).as("content"))
    graft.operators.VideoHash.frameHashes(assets, "content")
  }

  /** Shared q284/q285 stage: portable md5 PCM16 clips (162 samples =
    * 2 per energy-grid cell; the odd twin of each pair shifts sample
    * 0 by +1000 in unsigned space) encoded to real WAVs, decoded and
    * fingerprinted. The %10 slice samples the corpus — distributed
    * scan work that scales with SF, oracle filters identically. */
  private def audioFingerprinted(s: SparkSession, dir: String)
      : DataFrame = {
    val enc = udf((samples: Seq[Long]) =>
      Multimodal.encodeWav(samples.map(_.toInt).toArray,
        sampleRate = 8000, channels = 1))
    val assets = Tables.load(s, dir, "documents")
      .filter(expr("doc_id % 10 IN (0, 1)"))
      .select(col("doc_id"), enc(expr(
        """transform(sequence(0, 161), i ->
          |  (cast(conv(substring(md5(concat(
          |     cast(doc_id - doc_id % 2 as string), '-',
          |     cast(i as string))), 1, 8), 16, 10) as bigint)
          |   + CASE WHEN doc_id % 2 = 1 AND i = 0
          |          THEN 1000 ELSE 0 END) % 65536 - 32768)"""
          .stripMargin)).as("content"))
    graft.operators.AudioHash.fingerprints(assets, "content")
  }

  /** Shared q278/q279 stage: portable md5 pixel grids (pair-based
    * dims 16/24/32 × 16/24; the odd twin perturbs pixel 0 by +100 mod
    * 256) encoded to real PNGs, decoded and hashed. */
  private def imageHashed(s: SparkSession, dir: String): DataFrame = {
    val enc = udf((px: Seq[Long], w: Int, h: Int) =>
      graft.operators.ImageHash.encodeGrayPng(
        px.map(_.toInt).toArray, w, h))
    // %5 slice: the decode cost is real per-image scan work (PNG
    // encode + ImageIO decode per row), so the fixture samples the
    // corpus — the slice scales with SF (distributed work, not driver
    // state) and the oracle filters identically
    val assets = Tables.load(s, dir, "documents")
      .filter(expr("doc_id % 10 IN (0, 1)"))
      .select(col("doc_id"),
        expr("8 * (2 + (doc_id - doc_id % 2) % 3)").as("w"),
        expr("8 * (2 + (doc_id - doc_id % 2) % 2)").as("h"))
      .select(col("doc_id"), col("w"), col("h"),
        expr(
          """transform(sequence(0, cast(w * h as int) - 1), i ->
            |  (cast(conv(substring(md5(concat(
            |     cast(doc_id - doc_id % 2 as string), '-',
            |     cast(i as string))), 1, 8), 16, 10) as bigint) % 256
            |   + CASE WHEN doc_id % 2 = 1 AND i = 0
            |          THEN 100 ELSE 0 END) % 256)""".stripMargin)
          .as("px"))
      .select(col("doc_id"),
        enc(col("px"), col("w").cast("int"), col("h").cast("int"))
          .as("content"))
    graft.operators.ImageHash.hashes(assets, "content")
  }

  // q267's transaction-time labels — shared with the oracle below
  private val Cdc1 = "2024-01-01 00:00:00"
  private val Cdc2 = "2024-02-01 00:00:00"
  private val Cdc3 = "2024-03-01 00:00:00"

  /** Betweenness oracle: the forward BFS-DAG levels and the backward
    * dependency layers unrolled for the query's LITERAL maxHops — the
    * k-core fixed-unroll property holds because an empty level yields
    * zero contributions, so any unroll depth ≥ the true depth matches
    * the operator exactly. */
  private val BetweennessOracleSql: String = {
    val H = 3
    val scale = 1000000L
    val fwd = (1 to H).map { k =>
      s"""l$k AS (
         |  SELECT p.seed, e.dst AS node,
         |    CAST(sum(p.sigma) AS HUGEINT) AS sigma
         |  FROM l${k - 1} p JOIN e ON e.src = p.node
         |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
         |    WHERE v.seed = p.seed AND v.node = e.dst)
         |  GROUP BY 1, 2),
         |v$k AS (SELECT seed, node FROM v${k - 1}
         |  UNION ALL SELECT seed, node FROM l$k)""".stripMargin
    }
    val back = ((H - 1) to 1 by -1).map { k =>
      s"""d$k AS (
         |  SELECT l.seed, l.node,
         |    CAST(coalesce(s.acc, 0) AS HUGEINT) AS delta
         |  FROM l$k l LEFT JOIN (
         |    SELECT c.seed, c.node,
         |      sum((c.sigma * ($scale + dn.delta)) // ln.sigma) AS acc
         |    FROM l$k c JOIN e ON e.src = c.node
         |      JOIN l${k + 1} ln ON ln.seed = c.seed AND ln.node = e.dst
         |      JOIN d${k + 1} dn ON dn.seed = c.seed AND dn.node = ln.node
         |    GROUP BY 1, 2) s
         |    ON s.seed = l.seed AND s.node = l.node)""".stripMargin
    }
    val unionAll = (1 to H)
      .map(k => s"  SELECT node, delta FROM d$k").mkString("\n  UNION ALL\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey + 10000000 AS supp,
       |    o_custkey + 20000000 AS cust
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (
       |  SELECT supp AS src, cust AS dst FROM pairs
       |  UNION
       |  SELECT cust, supp FROM pairs),
       |l0 AS (
       |  SELECT DISTINCT s_suppkey + 10000000 AS seed,
       |    s_suppkey + 10000000 AS node, CAST(1 AS HUGEINT) AS sigma
       |  FROM supplier WHERE s_suppkey <= 80 AND s_suppkey % 5 = 1
       |    AND EXISTS (SELECT 1 FROM e
       |      WHERE e.src = s_suppkey + 10000000
       |         OR e.dst = s_suppkey + 10000000)),
       |v0 AS (SELECT seed, node FROM l0),
       |${fwd.mkString(",\n")},
       |d$H AS (SELECT seed, node, CAST(0 AS HUGEINT) AS delta FROM l$H),
       |${back.mkString(",\n")}
       |SELECT node, CAST(sum(delta) AS BIGINT) AS bc_fp FROM (
       |$unionAll)
       |GROUP BY 1""".stripMargin
  }

  private val IndCols: Seq[(String, String, String)] = Seq(
    ("region.r_regionkey", "region", "r_regionkey"),
    ("nation.n_regionkey", "nation", "n_regionkey"),
    ("nation.n_nationkey", "nation", "n_nationkey"),
    ("customer.c_nationkey", "customer", "c_nationkey"),
    ("supplier.s_nationkey", "supplier", "s_nationkey"),
    ("customer.c_custkey", "customer", "c_custkey"),
    ("orders.o_custkey", "orders", "o_custkey"))

  /** IND oracle: literal per-label membership flags folded per value,
    * pair statistics as flag-product sums — generated for the same
    * literal column list the query audits. */
  private val IndOracleSql: String = {
    val unions = IndCols.map { case (lbl, tbl, c) =>
      s"  SELECT DISTINCT '$lbl' AS l, CAST($c AS VARCHAR) AS v " +
        s"FROM $tbl WHERE $c IS NOT NULL"
    }
    val flags = IndCols.zipWithIndex.map { case ((lbl, _, _), i) =>
      s"    max(CASE WHEN l = '$lbl' THEN 1 ELSE 0 END) AS f$i"
    }
    val pairs = for {
      i <- IndCols.indices; j <- IndCols.indices; if i != j
    } yield
      s"  SELECT '${IndCols(i)._1}' AS a, '${IndCols(j)._1}' AS b, " +
        s"CAST(sum(f$i) AS BIGINT) AS n_a, " +
        s"CAST(sum(f$i * f$j) AS BIGINT) AS n_both FROM m"
    s"""WITH d AS (
       |${unions.mkString("\n  UNION ALL\n")}),
       |m AS (
       |  SELECT v,
       |${flags.mkString(",\n")}
       |  FROM d GROUP BY v),
       |p AS (
       |${pairs.mkString("\n  UNION ALL\n")})
       |SELECT a, b, n_a, n_both,
       |  CASE WHEN n_a > 0 THEN CAST((n_both * 10000) // n_a AS BIGINT)
       |    ELSE NULL END AS inclusion_bp,
       |  (n_a > 0 AND n_both = n_a) AS is_subset
       |FROM p""".stripMargin
  }

  /** Shapley oracle for the literal channel vocabulary: the coalition
    * characteristic values v(S) enumerate as 2^k scalar subqueries and
    * the Shapley numerators as literal-weighted marginal sums — the
    * generated-literal posture of the q199 Cramer oracle. */
  private val ShapleyOracleSql: String = {
    val chs = Vector("click", "signup", "view")
    val k = chs.length
    def fact(n: Int): BigInt = (1 to n).foldLeft(BigInt(1))(_ * _)
    val kf = fact(k)
    val full = (1 << k) - 1
    val flagDefs = chs.indices.map(b =>
      s"    max(CASE WHEN ch = '${chs(b)}' THEN 1 ELSE 0 END) AS b$b")
    val vDefs = (0 until (1 << k)).map { m =>
      val conds = chs.indices.filter(b => (m & (1 << b)) == 0)
        .map(b => s"b$b = 0")
      val where = if (conds.isEmpty) "1 = 1" else conds.mkString(" AND ")
      s"  coalesce((SELECT CAST(sum(c) AS BIGINT) FROM cnt " +
        s"WHERE $where), 0) AS v$m"
    }
    val numDefs = chs.indices.map { i =>
      val terms = (0 until (1 << k)).filter(m => (m & (1 << i)) == 0)
        .map { m =>
          val w = fact(Integer.bitCount(m)) * fact(k - 1 -
            Integer.bitCount(m))
          s"$w * (v${m | (1 << i)} - v$m)"
        }
      s"  SELECT '${chs(i)}' AS channel, " +
        s"CAST(${terms.mkString(" + ")} AS HUGEINT) AS num FROM v"
    }
    s"""WITH touch AS (
       |  SELECT DISTINCT user_id, event_type AS ch FROM events
       |  WHERE event_type IN (${chs.map(c => s"'$c'").mkString(", ")})),
       |conv AS (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'purchase'),
       |flags AS (
       |  SELECT t.user_id,
       |${flagDefs.mkString(",\n")}
       |  FROM touch t JOIN conv USING (user_id) GROUP BY t.user_id),
       |cnt AS (
       |  SELECT ${chs.indices.map(b => s"b$b").mkString(", ")},
       |    count(*) AS c
       |  FROM flags GROUP BY ${chs.indices.map(_ + 1).mkString(", ")}),
       |v AS (SELECT
       |${vDefs.mkString(",\n")}),
       |nch AS (
       |  SELECT ch, CAST(count(DISTINCT t.user_id) AS BIGINT) AS n
       |  FROM touch t JOIN conv USING (user_id) GROUP BY 1),
       |sh AS (
       |${numDefs.mkString("\n  UNION ALL\n")})
       |SELECT sh.channel, coalesce(nch.n, 0) AS n_converters,
       |  CAST((num * 1000000) // $kf AS BIGINT) AS shapley_fp,
       |  CAST(CASE WHEN v.v$full > 0
       |    THEN (num * 10000) // ($kf * v.v$full)
       |    ELSE 0 END AS BIGINT) AS credit_bp
       |FROM sh CROSS JOIN v LEFT JOIN nch ON nch.ch = sh.channel""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q250_shapley" -> ShapleyOracleSql,
    "q257_ind_audit" -> IndOracleSql,
    "q260_betweenness" -> BetweennessOracleSql,

    // q267: cumulative counts make each (cust, n) pair occupy
    // CONSECUTIVE snapshots, so SCD2 versions are presence runs:
    // from_ts = label of the first snapshot in the run, until_ts =
    // label after the last (NULL if the run reaches snapshot 3). The
    // checksum replays Scd2.checksum's md5-over-fingerprint+cols.
    "q267_scd2_changes" ->
      s"""WITH s1 AS (
         |  SELECT CAST(o_custkey AS BIGINT) AS c,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders WHERE o_orderdate <= DATE '1994-01-01' GROUP BY 1),
         |s2 AS (
         |  SELECT CAST(o_custkey AS BIGINT) AS c,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders WHERE o_orderdate <= DATE '1995-01-01' GROUP BY 1),
         |s3 AS (
         |  SELECT CAST(o_custkey AS BIGINT) AS c,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM orders WHERE o_orderdate <= DATE '1996-01-01' GROUP BY 1),
         |p AS (
         |  SELECT c, n, 1 AS k FROM s1
         |  UNION ALL SELECT c, n, 2 FROM s2
         |  UNION ALL SELECT c, n, 3 FROM s3),
         |runs AS (
         |  SELECT c, n, min(k) AS kf, max(k) AS ku FROM p GROUP BY 1, 2),
         |v AS (
         |  SELECT c AS c_custkey, n AS n_orders,
         |    md5(concat_ws('||', 'c_custkey,n_orders',
         |      CAST(c AS VARCHAR), CAST(n AS VARCHAR))) AS checksum,
         |    CASE kf WHEN 1 THEN '$Cdc1' WHEN 2 THEN '$Cdc2'
         |      ELSE '$Cdc3' END AS from_ts,
         |    CASE ku WHEN 1 THEN '$Cdc2' WHEN 2 THEN '$Cdc3'
         |      ELSE NULL END AS until_ts
         |  FROM runs)
         |SELECT c_custkey, n_orders, checksum, from_ts, until_ts,
         |  CASE WHEN from_ts > '$Cdc1' AND from_ts <= '$Cdc3'
         |         AND until_ts IS NOT NULL
         |         AND until_ts > '$Cdc1' AND until_ts <= '$Cdc3'
         |       THEN 'opened_closed'
         |       WHEN from_ts > '$Cdc1' AND from_ts <= '$Cdc3'
         |       THEN 'opened' ELSE 'closed' END AS change
         |FROM v
         |WHERE (from_ts > '$Cdc1' AND from_ts <= '$Cdc3')
         |   OR (until_ts IS NOT NULL AND until_ts > '$Cdc1'
         |       AND until_ts <= '$Cdc3')""".stripMargin,

    "q266_wasserstein" ->
      """WITH t AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
        |    CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN l_linestatus = 'O' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS cb
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT g, v, ca, cb,
        |    CAST(sum(ca) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS HUGEINT) AS cuma,
        |    CAST(sum(cb) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS HUGEINT) AS cumb,
        |    CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT) AS na,
        |    CAST(sum(cb) OVER (PARTITION BY g) AS BIGINT) AS nb,
        |    coalesce(lead(v) OVER (PARTITION BY g ORDER BY v) - v, 0)
        |      AS dv
        |  FROM t)
        |SELECT g AS l_returnflag, min(na) AS n_a, min(nb) AS n_b,
        |  CAST((1000000 * sum(abs(cuma * nb - cumb * na) * dv))
        |    // (CAST(min(na) AS HUGEINT) * min(nb)) AS BIGINT) AS w1_fp
        |FROM c GROUP BY 1
        |HAVING min(na) > 0 AND min(nb) > 0""".stripMargin,

    "q265_rbo" -> {
      val pow2 = (1 to 10).map(d => s"(1::BIGINT << $d)")
      s"""WITH ra AS (
         |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
         |    ORDER BY strlen(text) DESC, doc_id) AS r
         |  FROM documents),
         |rb AS (
         |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
         |    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |      1, 8))::BIGINT, doc_id) AS r
         |  FROM documents),
         |shared AS (
         |  SELECT ra.lang,
         |    CAST(greatest(ra.r, rb.r) AS INT) AS m,
         |    count(*) AS c
         |  FROM ra JOIN rb ON rb.lang = ra.lang
         |    AND rb.doc_id = ra.doc_id
         |  WHERE ra.r <= 10 AND rb.r <= 10
         |  GROUP BY 1, 2),
         |grid AS (
         |  SELECT s.lang, t.d, CAST(sum(s.c) AS BIGINT) AS ov
         |  FROM shared s CROSS JOIN range(1, 11) t(d)
         |  WHERE t.d >= s.m GROUP BY 1, 2),
         |pq AS (
         |  SELECT lang, CAST(sum((1000000 * ov) //
         |    (d * list_extract([${pow2.mkString(", ")}], d)))
         |    AS BIGINT) AS rbo_fp
         |  FROM grid GROUP BY 1)
         |SELECT d.lang, coalesce(pq.rbo_fp, 0) AS rbo_fp
         |FROM (SELECT DISTINCT lang FROM documents) d
         |LEFT JOIN pq ON pq.lang = d.lang""".stripMargin
    },

    "q264_y4m_stats" ->
      """WITH s AS (
        |  SELECT doc_id, t.i AS i,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' ||
        |      CAST(t.i // 16 AS VARCHAR)),
        |      (t.i % 16) * 2 + 1, 2))::BIGINT AS v
        |  FROM documents CROSS JOIN range(0, 128) t(i))
        |SELECT doc_id, CAST(2 AS INT) AS n_frames,
        |  CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(sum(v) AS BIGINT) AS y_sum,
        |  CAST(min(v) AS INT) AS y_min, CAST(max(v) AS INT) AS y_max
        |FROM s GROUP BY 1""".stripMargin,

    "q263_strict_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id AS id,
        |    event_type AS et
        |  FROM events),
        |l AS (
        |  SELECT *,
        |    lead(et, 1) OVER w AS e1, lead(t, 1) OVER w AS t1,
        |    lead(et, 2) OVER w AS e2, lead(t, 2) OVER w AS t2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, id)),
        |a AS (
        |  SELECT user_id, t,
        |    1 + CASE WHEN e1 = 'click' AND t1 - t <= 86400000000
        |          THEN 1 ELSE 0 END
        |      + CASE WHEN e1 = 'click' AND t1 - t <= 86400000000
        |          AND e2 = 'purchase' AND t2 - t <= 86400000000
        |          THEN 1 ELSE 0 END AS lvl
        |  FROM l WHERE et = 'view'),
        |r AS (
        |  SELECT user_id, lvl, t, row_number() OVER (
        |    PARTITION BY user_id ORDER BY lvl DESC, t ASC) AS rn
        |  FROM a)
        |SELECT user_id, CAST(lvl AS BIGINT) AS stage, t AS t_anchor
        |FROM r WHERE rn = 1""".stripMargin,

    "q262_cdc_apply" ->
      """WITH ch AS (
        |  SELECT o_custkey AS k,
        |    CASE WHEN o_orderstatus = 'O' THEN 'U'
        |      WHEN o_orderstatus = 'F' THEN 'D' ELSE 'I' END AS op,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
        |      AS BIGINT) AS ts,
        |    CAST(o_orderkey AS BIGINT) AS id,
        |    'ORD-' || o_orderpriority AS segment,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS bal
        |  FROM orders
        |  UNION ALL
        |  SELECT c_custkey, 'I',
        |    CAST(-9223372036854775807 - 1 AS BIGINT),
        |    CAST(-9223372036854775807 - 1 AS BIGINT),
        |    c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT)
        |  FROM customer),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY ts DESC, id DESC) AS rn
        |  FROM ch)
        |SELECT k AS c_custkey, segment, bal AS bal_cents
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "q261_dp_release" -> {
      val cum = Profile.geomCum(10).mkString(", ")
      s"""WITH g AS (
         |  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |u AS (
         |  SELECT *,
         |    ('0x' || substr(md5(event_type || chr(1) || day ||
         |      chr(1) || 'dp1'), 1, 8))::BIGINT % 3072 AS u
         |  FROM g)
         |SELECT event_type, day,
         |  CAST(n + len(list_filter([$cum], x -> u >= x)) - 10
         |    AS BIGINT) AS n_noisy
         |FROM u""".stripMargin
    },

    "q258_bootstrap_ci" ->
      """WITH r AS (
        |  SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |e AS (
        |  SELECT g, id, x, t.b AS rep,
        |    ('0x' || substr(md5(id || '-' || 'boot'), 1, 8))::BIGINT
        |      AS g0
        |  FROM r CROSS JOIN range(0, 48) t(b)),
        |u AS (
        |  SELECT g, rep, x,
        |    ((((1103515245 * (rep + 1) + 12345) % 1073741824) * 2 + 1)
        |      * g0
        |      + (22695477 * (rep + 1) + 54321) % 2147483647)
        |      % 2147483647 % 1000000 AS u
        |  FROM e),
        |w AS (
        |  SELECT g, rep, x,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |      WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |      WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
        |      WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
        |      WHEN u < 999998 THEN 8 WHEN u < 999999 THEN 9
        |      ELSE 10 END AS w
        |  FROM u),
        |m AS (
        |  SELECT g, rep, CAST(sum(w) AS BIGINT) AS sw,
        |    CAST(sum(CAST(w AS HUGEINT) * x) AS HUGEINT) AS swx
        |  FROM w GROUP BY 1, 2),
        |mm AS (
        |  SELECT g, rep,
        |    CAST(CASE WHEN swx >= 0 THEN (1000000 * swx) // sw
        |      ELSE -((1000000 * -swx) // sw) END AS BIGINT) AS m
        |  FROM m WHERE sw > 0),
        |rk AS (
        |  SELECT g, rep, m,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY m, rep)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS beff
        |  FROM mm),
        |ci AS (
        |  SELECT g, beff AS b_eff,
        |    max(CASE WHEN rn = (250 * (beff - 1)) // 10000 + 1
        |      THEN m END) AS lo_fp,
        |    max(CASE WHEN rn = (9750 * (beff - 1)) // 10000 + 1
        |      THEN m END) AS hi_fp
        |  FROM rk GROUP BY 1, 2),
        |p AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(CASE WHEN sum(CAST(x AS HUGEINT)) >= 0
        |      THEN (1000000 * sum(CAST(x AS HUGEINT))) // count(*)
        |      ELSE -((1000000 * -sum(CAST(x AS HUGEINT)))
        |        // count(*)) END AS BIGINT) AS mean_fp
        |  FROM r GROUP BY 1)
        |SELECT p.g AS event_type, n, mean_fp, b_eff, lo_fp, hi_fp
        |FROM p JOIN ci ON ci.g = p.g""".stripMargin,

    "q259_conformal" ->
      """WITH s AS (
        |  SELECT event_type AS g,
        |    abs(CAST(round(value * 100) AS BIGINT) - 5000) AS sc
        |  FROM events),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
        |r AS (
        |  SELECT g, sc,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY sc)
        |      AS BIGINT) AS rn
        |  FROM s),
        |t AS (
        |  SELECT r.g, n.n,
        |    max(CASE WHEN rn =
        |      least(n.n, ((n.n + 1) * 9000 + 9999) // 10000)
        |      THEN sc END) AS qhat
        |  FROM r JOIN n USING (g) GROUP BY 1, 2)
        |SELECT t.g AS event_type, t.n, t.qhat,
        |  CAST((sum(CASE WHEN s.sc <= t.qhat THEN 1 ELSE 0 END)
        |    * 10000) // t.n AS BIGINT) AS coverage_bp
        |FROM s JOIN t ON s.g = t.g GROUP BY 1, 2, 3""".stripMargin,

    "q256_seq_patterns" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type AS et
        |  FROM events),
        |t1 AS (
        |  SELECT user_id, et AS a, min(t) AS ft FROM e GROUP BY 1, 2),
        |t2 AS (
        |  SELECT t1.user_id, t1.a, e.et AS b, min(e.t) AS ft
        |  FROM t1 JOIN e ON e.user_id = t1.user_id AND e.t > t1.ft
        |  GROUP BY 1, 2, 3),
        |t3 AS (
        |  SELECT DISTINCT t2.user_id, t2.a, t2.b, e.et AS c
        |  FROM t2 JOIN e ON e.user_id = t2.user_id AND e.t > t2.ft)
        |SELECT pattern, len, n_users FROM (
        |  SELECT a AS pattern, CAST(1 AS INT) AS len,
        |    CAST(count(*) AS BIGINT) AS n_users FROM t1 GROUP BY 1
        |  UNION ALL
        |  SELECT a || '>' || b, CAST(2 AS INT),
        |    CAST(count(*) AS BIGINT) FROM t2 GROUP BY 1
        |  UNION ALL
        |  SELECT a || '>' || b || '>' || c, CAST(3 AS INT),
        |    CAST(count(*) AS BIGINT) FROM t3 GROUP BY 1)
        |WHERE n_users >= 3""".stripMargin,

    "q251_aj_cif" ->
      """WITH RECURSIVE per_user AS (
        |  SELECT 'c' || CAST(user_id % 2 AS VARCHAR) AS g,
        |    (CASE
        |       WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN tp
        |       WHEN te IS NOT NULL THEN te ELSE tl END - t0)
        |      // 86400000000 AS t,
        |    CASE
        |      WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
        |        THEN 'purchase'
        |      WHEN te IS NOT NULL THEN 'error' ELSE NULL END AS cause
        |  FROM (
        |    SELECT user_id, epoch_us(min(ts)) AS t0,
        |      epoch_us(min(ts) FILTER (WHERE event_type = 'purchase'))
        |        AS tp,
        |      epoch_us(min(ts) FILTER (WHERE event_type = 'error'))
        |        AS te,
        |      epoch_us(max(ts)) AS tl
        |    FROM events GROUP BY user_id)),
        |agg AS (
        |  SELECT g, t,
        |    CAST(sum(CASE WHEN cause IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN cause IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM per_user GROUP BY 1, 2),
        |ser AS (
        |  SELECT g, t, d, c,
        |    CAST(sum(d + c) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(d + c) OVER (PARTITION BY g) AS BIGINT) AS tot,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY t)
        |      AS BIGINT) AS idx
        |  FROM agg),
        |s2 AS (
        |  SELECT g, t, d, c, tot - cum + d + c AS n_risk, idx FROM ser),
        |km AS (
        |  SELECT g, idx, t, n_risk, d,
        |    CAST((1000000 * (n_risk - d)) // n_risk AS BIGINT) AS surv_fp
        |  FROM s2 WHERE idx = 1
        |  UNION ALL
        |  SELECT s.g, s.idx, s.t, s.n_risk, s.d,
        |    CAST((km.surv_fp * (s.n_risk - s.d)) // s.n_risk AS BIGINT)
        |  FROM km JOIN s2 s ON s.g = km.g AND s.idx = km.idx + 1),
        |prev AS (
        |  SELECT g, t, n_risk, surv_fp,
        |    lag(surv_fp, 1, 1000000) OVER (PARTITION BY g ORDER BY t)
        |      AS s_prev
        |  FROM km),
        |ck AS (
        |  SELECT g, t, cause, CAST(count(*) AS BIGINT) AS dk
        |  FROM per_user WHERE cause IS NOT NULL GROUP BY 1, 2, 3),
        |inc AS (
        |  SELECT ck.g, ck.t, ck.cause, p.n_risk, ck.dk, p.surv_fp,
        |    CAST((p.s_prev * ck.dk) // p.n_risk AS BIGINT) AS i
        |  FROM ck JOIN prev p ON p.g = ck.g AND p.t = ck.t)
        |SELECT g AS cohort, t, cause, n_risk, dk AS n_event, surv_fp,
        |  CAST(sum(i) OVER (PARTITION BY g, cause ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cif_fp
        |FROM inc""".stripMargin,

    "q252_asof_lerp" ->
      """WITH samp0 AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'view'),
        |samp AS (
        |  SELECT user_id, t, max(v) AS v FROM samp0 GROUP BY 1, 2),
        |probe AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, t, 0 AS p, v,
        |    CAST(NULL AS BIGINT) AS event_id
        |  FROM samp
        |  UNION ALL
        |  SELECT user_id, t, 1, NULL, event_id FROM probe),
        |c AS (
        |  SELECT *,
        |    last_value(CASE WHEN p = 0 THEN t END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t, p
        |        ROWS UNBOUNDED PRECEDING) AS t0,
        |    last_value(CASE WHEN p = 0 THEN v END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t, p
        |        ROWS UNBOUNDED PRECEDING) AS v0,
        |    last_value(CASE WHEN p = 0 THEN t END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t DESC, p
        |        ROWS UNBOUNDED PRECEDING) AS t1,
        |    last_value(CASE WHEN p = 0 THEN v END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY t DESC, p
        |        ROWS UNBOUNDED PRECEDING) AS v1
        |  FROM u)
        |SELECT event_id, user_id,
        |  CAST(CASE
        |    WHEN t0 IS NULL OR t1 IS NULL THEN NULL
        |    WHEN t1 = t0 THEN v0
        |    WHEN v1 >= v0 THEN
        |      v0 + (CAST(v1 - v0 AS HUGEINT) * (t - t0)) // (t1 - t0)
        |    ELSE
        |      v0 - (CAST(v0 - v1 AS HUGEINT) * (t - t0)) // (t1 - t0)
        |    END AS BIGINT) AS value_lerp
        |FROM c WHERE p = 1""".stripMargin,

    "q253_wav_stats" ->
      """WITH s AS (
        |  SELECT doc_id, t.i AS i,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' ||
        |        CAST(t.i AS VARCHAR)), 1, 8))::BIGINT
        |      % 65536 - 32768 AS BIGINT) AS v
        |  FROM documents CROSS JOIN range(0, 64) t(i)),
        |l AS (
        |  SELECT doc_id, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(min(v) AS INT) AS s_min, CAST(max(v) AS INT) AS s_max,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(coalesce(sum(CASE WHEN pv * v < 0 THEN 1 END), 0)
        |    AS BIGINT) AS zero_crossings
        |FROM l GROUP BY 1""".stripMargin,

    "q254_ca_trend" ->
      """WITH a AS (
        |  SELECT l_linestatus, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS HUGEINT) AS r,
        |    CAST(sum(l_linenumber) AS HUGEINT) AS sw,
        |    CAST(sum(CAST(l_linenumber AS HUGEINT) * l_linenumber)
        |      AS HUGEINT) AS sww,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_linenumber
        |      ELSE 0 END) AS HUGEINT) AS swr
        |  FROM lineitem GROUP BY 1),
        |b AS (SELECT *, n * swr - r * sw AS tnum FROM a),
        |c AS (SELECT *,
        |    CASE WHEN tnum >= 0 THEN (1000000 * tnum) // (n * n)
        |      ELSE -((1000000 * -tnum) // (n * n)) END AS t_fp,
        |    (1000000 * (r * (n - r))) // (n * n) AS v1,
        |    (1000000 * (n * sww - sw * sw)) // (n * n) AS v2,
        |    (1000000 * (n - 1)) // n AS nf
        |  FROM b)
        |SELECT l_linestatus, CAST(n AS BIGINT) AS n,
        |  CAST(r AS BIGINT) AS r, CAST(t_fp AS BIGINT) AS t_fp,
        |  CAST(CASE WHEN n < 2 OR v1 <= 0 OR v2 <= 0 THEN NULL
        |    ELSE (t_fp * t_fp * nf * n) // v1 // v2 END AS BIGINT)
        |    AS z2_fp
        |FROM c""".stripMargin,

    "q255_cuped" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y,
        |    CAST(sum(CASE WHEN event_type IN ('view', 'click')
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY user_id),
        |pv AS (
        |  SELECT 's' || CAST(user_id % 3 AS VARCHAR) AS segment,
        |    'v' || CAST(user_id % 2 AS VARCHAR) AS variant,
        |    CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |  FROM per_user GROUP BY 1, 2),
        |seg AS (
        |  SELECT segment, sum(n) AS nn, sum(sy) AS ssy,
        |    sum(sx) AS ssx, sum(sxy) AS ssxy, sum(sxx) AS ssxx
        |  FROM pv GROUP BY 1),
        |j AS (
        |  SELECT pv.*, seg.nn, seg.ssy, seg.ssx, seg.ssxy, seg.ssxx,
        |    seg.nn * seg.ssxy - seg.ssx * seg.ssy AS covn,
        |    seg.nn * seg.ssxx - seg.ssx * seg.ssx AS varn
        |  FROM pv JOIN seg USING (segment)),
        |k AS (
        |  SELECT *,
        |    CASE WHEN varn <= 0 THEN NULL
        |      WHEN 1000000 * covn >= 0 THEN (1000000 * covn) // varn
        |      ELSE -((-(1000000 * covn)) // varn) END AS theta_fp,
        |    CASE WHEN 1000000 * sy >= 0 THEN (1000000 * sy) // n
        |      ELSE -((-(1000000 * sy)) // n) END AS ybar_fp,
        |    CASE WHEN 1000000 * (nn * sx - n * ssx) >= 0
        |      THEN (1000000 * (nn * sx - n * ssx)) // (n * nn)
        |      ELSE -((-(1000000 * (nn * sx - n * ssx))) // (n * nn))
        |      END AS dx_fp
        |  FROM j)
        |SELECT segment, variant, CAST(n AS BIGINT) AS n,
        |  CAST(ybar_fp AS BIGINT) AS ybar_fp,
        |  CAST(theta_fp AS BIGINT) AS theta_fp,
        |  CAST(CASE WHEN theta_fp IS NULL THEN ybar_fp
        |    ELSE ybar_fp - (CASE
        |      WHEN theta_fp * dx_fp >= 0
        |        THEN (theta_fp * dx_fp) // 1000000
        |      ELSE -((-(theta_fp * dx_fp)) // 1000000) END)
        |    END AS BIGINT) AS adj_fp
        |FROM k""".stripMargin,

    // q278/q279: replay the md5 pixel grids and the floor-boundary
    // block-mean aHash/dHash in pure SQL (PNG encode->decode is
    // lossless, so hashing the generator IS hashing the raster);
    // power(2, k<=63) is exact in a double, signed 64-bit assembly
    // goes through HUGEINT then maps the top bit
    "q278_image_phash" ->
      s"""WITH $ImageHashCtes
         |SELECT doc_id, width, height, ahash, dhash FROM hx""".stripMargin,

    "q279_image_neardup" ->
      s"""WITH $ImageHashCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM hx a JOIN hx b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin,

    // q284/q285: replay the md5 PCM series and the 9x9 floor-boundary
    // energy grid + Haitsma-Kalker sign bits in pure SQL (the WAV
    // encode->decode is an integer identity, so fingerprinting the
    // generator IS fingerprinting the decoded clip)
    "q284_audio_fp" ->
      s"""WITH $AudioFpCtes
         |SELECT doc_id, CAST(162 AS BIGINT) AS n_samples, afp
         |FROM afpx""".stripMargin,

    "q285_audio_neardup" ->
      s"""WITH $AudioFpCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
         |FROM afpx a JOIN afpx b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin,

    // q286/q287: replay the md5 luma planes and the per-frame 9x8
    // block-mean dHash in pure SQL (Y4M luma roundtrips losslessly,
    // so hashing the generator IS hashing the decoded frames)
    "q286_video_fhash" ->
      s"""WITH $VideoHashCtes
         |SELECT doc_id, CAST(f AS BIGINT) AS fidx, fhash
         |FROM vfh""".stripMargin,

    "q287_video_neardup" ->
      s"""WITH $VideoHashCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(3 AS BIGINT) AS n_frames,
         |  CAST(sum(CASE WHEN bit_count(xor(a.fhash, b.fhash)) <= 3
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |FROM vfh a JOIN vfh b ON a.doc_id < b.doc_id AND a.f = b.f
         |GROUP BY 1, 2
         |HAVING CAST(sum(CASE WHEN bit_count(xor(a.fhash, b.fhash))
         |  <= 3 THEN 1 ELSE 0 END) AS BIGINT) * 10000 >= 8000 * 3"""
        .stripMargin,

    // q293/q294: brute-force every pair x offset over the replayed
    // per-frame / per-window hashes, pick the best offset by the
    // operator's total order (n_match DESC, abs(d), d), gate on the
    // overlap fraction — the shifted-pairing oracle
    "q293_video_neardup_shifted" ->
      s"""WITH $VideoShiftCtes,
         |spo AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, d.d AS d,
         |    greatest(0, least(a.nf, b.nf - d.d) - greatest(0, -d.d))
         |      AS n_overlap
         |  FROM sdm a JOIN sdm b ON a.doc_id < b.doc_id
         |  CROSS JOIN (VALUES (-1), (0), (1)) d(d)),
         |sm AS (
         |  SELECT p.id_a, p.id_b, p.d, p.n_overlap,
         |    CAST(count(*) FILTER (WHERE
         |      bit_count(xor(ha.fhash, hb.fhash)) <= 3) AS BIGINT)
         |      AS n_match
         |  FROM spo p
         |  LEFT JOIN svh ha ON ha.doc_id = p.id_a
         |  LEFT JOIN svh hb ON hb.doc_id = p.id_b
         |    AND hb.f = ha.f + p.d
         |  GROUP BY 1, 2, 3, 4),
         |sbest AS (
         |  SELECT id_a, id_b, d, n_overlap, n_match,
         |    row_number() OVER (PARTITION BY id_a, id_b
         |      ORDER BY n_match DESC, abs(d) ASC, d ASC) AS rn
         |  FROM sm)
         |SELECT id_a, id_b, CAST(d AS BIGINT) AS best_offset,
         |  CAST(n_overlap AS BIGINT) AS n_overlap, n_match
         |FROM sbest WHERE rn = 1 AND n_overlap > 0
         |  AND n_match * 10000 >= 8000 * n_overlap""".stripMargin,

    "q294_audio_neardup_shifted" ->
      s"""WITH $AudioWindowCtes,
         |wpo AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, d.d AS d,
         |    greatest(0, least(5, 5 - d.d) - greatest(0, -d.d))
         |      AS n_overlap
         |  FROM wdm a JOIN wdm b ON a.doc_id < b.doc_id
         |  CROSS JOIN (VALUES (-1), (0), (1)) d(d)),
         |wm AS (
         |  SELECT p.id_a, p.id_b, p.d, p.n_overlap,
         |    CAST(count(*) FILTER (WHERE
         |      bit_count(xor(ha.afp, hb.afp)) <= 3) AS BIGINT)
         |      AS n_match
         |  FROM wpo p
         |  LEFT JOIN wfh ha ON ha.doc_id = p.id_a
         |  LEFT JOIN wfh hb ON hb.doc_id = p.id_b
         |    AND hb.w = ha.w + p.d
         |  GROUP BY 1, 2, 3, 4),
         |wbest AS (
         |  SELECT id_a, id_b, d, n_overlap, n_match,
         |    row_number() OVER (PARTITION BY id_a, id_b
         |      ORDER BY n_match DESC, abs(d) ASC, d ASC) AS rn
         |  FROM wm)
         |SELECT id_a, id_b, CAST(d AS BIGINT) AS best_offset,
         |  CAST(n_overlap AS BIGINT) AS n_overlap, n_match
         |FROM wbest WHERE rn = 1 AND n_overlap > 0
         |  AND n_match * 10000 >= 8000 * n_overlap""".stripMargin,

    // q295: the cross-side (even-corpus x odd-batch) slice of q279's
    // brute force — the probe's exactness contract
    "q295_image_probe" ->
      s"""WITH $ImageHashCtes
         |SELECT b.doc_id AS new_id, a.doc_id AS corpus_id,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM hx a JOIN hx b
         |  ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin
  )

  /** Shared q286/q287 oracle chain: md5 luma planes → per-frame
    * floor-boundary 9×8 block means → dHash sign bits, mirroring
    * graft.operators.VideoHash bit for bit (frames are 18×16 → every
    * dHash block is exactly 2×2 pixels). */
  private val VideoHashCtes: String =
    """vdm AS (SELECT doc_id FROM documents WHERE doc_id % 10 IN (0, 1)),
      |vpx AS (SELECT doc_id, t.j // 288 AS f,
      |  (t.j % 288) % 18 AS x, (t.j % 288) // 18 AS y,
      |  ((('0x' || substr(md5(CAST(doc_id - doc_id % 2 AS VARCHAR) ||
      |      '-' || CAST(t.j // 288 AS VARCHAR) ||
      |      '-' || CAST(t.j % 288 AS VARCHAR)), 1, 8))::BIGINT
      |    + CASE WHEN doc_id % 2 = 1 AND t.j % 288 = 0
      |           THEN 100 ELSE 0 END) % 256) AS v
      |  FROM vdm CROSS JOIN range(0, 864) t(j)),
      |vbd AS (SELECT doc_id, f, bx.b AS bx, by.b AS by,
      |  CAST(sum(v) AS BIGINT) // count(*) AS m
      |  FROM vpx CROSS JOIN range(0, 9) bx(b) CROSS JOIN range(0, 8) by(b)
      |  WHERE x >= bx.b * 18 // 9 AND x < (bx.b + 1) * 18 // 9
      |    AND y >= by.b * 16 // 8 AND y < (by.b + 1) * 16 // 8
      |  GROUP BY 1, 2, 3, 4),
      |vdh AS (SELECT a.doc_id, a.f,
      |  sum(CASE WHEN a.m > b.m
      |      THEN CAST(power(2, a.by * 8 + a.bx) AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS bits
      |  FROM vbd a JOIN vbd b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  GROUP BY 1, 2),
      |vfh AS (SELECT doc_id, f,
      |  CAST(CASE WHEN bits >= CAST(power(2, 63) AS HUGEINT)
      |    THEN bits - CAST(power(2, 64) AS HUGEINT) ELSE bits END
      |    AS BIGINT) AS fhash
      |  FROM vdh)""".stripMargin

  /** Shared q293 oracle chain: the q286 pixel replay with the
    * TRIMMED odd twin (frames 1..2 of the even's series, pixel 0 of
    * every frame +100) — per-frame hashes land in `svh`, clip frame
    * counts in `sdm`. */
  private val VideoShiftCtes: String =
    """sdm AS (SELECT doc_id, 3 - doc_id % 2 AS nf FROM documents
      |  WHERE doc_id % 10 IN (0, 1)),
      |spx AS (SELECT doc_id, t.j // 288 AS f,
      |  (t.j % 288) % 18 AS x, (t.j % 288) // 18 AS y,
      |  ((('0x' || substr(md5(CAST(doc_id - doc_id % 2 AS VARCHAR) ||
      |      '-' || CAST(t.j // 288 + doc_id % 2 AS VARCHAR) ||
      |      '-' || CAST(t.j % 288 AS VARCHAR)), 1, 8))::BIGINT
      |    + CASE WHEN doc_id % 2 = 1 AND t.j % 288 = 0
      |           THEN 100 ELSE 0 END) % 256) AS v
      |  FROM sdm CROSS JOIN range(0, 864) t(j)
      |  WHERE t.j < nf * 288),
      |sbd AS (SELECT doc_id, f, bx.b AS bx, by.b AS by,
      |  CAST(sum(v) AS BIGINT) // count(*) AS m
      |  FROM spx CROSS JOIN range(0, 9) bx(b) CROSS JOIN range(0, 8) by(b)
      |  WHERE x >= bx.b * 18 // 9 AND x < (bx.b + 1) * 18 // 9
      |    AND y >= by.b * 16 // 8 AND y < (by.b + 1) * 16 // 8
      |  GROUP BY 1, 2, 3, 4),
      |sdh AS (SELECT a.doc_id, a.f,
      |  sum(CASE WHEN a.m > b.m
      |      THEN CAST(power(2, a.by * 8 + a.bx) AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS bits
      |  FROM sbd a JOIN sbd b ON a.doc_id = b.doc_id AND a.f = b.f
      |    AND a.by = b.by AND b.bx = a.bx + 1
      |  GROUP BY 1, 2),
      |svh AS (SELECT doc_id, f,
      |  CAST(CASE WHEN bits >= CAST(power(2, 63) AS HUGEINT)
      |    THEN bits - CAST(power(2, 64) AS HUGEINT) ELSE bits END
      |    AS BIGINT) AS fhash
      |  FROM sdh)""".stripMargin

  /** Shared q294 oracle chain: the silence-padded md5 PCM series →
    * 5 sliding 162-sample windows at hop 81 (each sample lands in at
    * most two windows — enumerated directly, no per-window rescan) →
    * per-window 81-cell energy grids → Haitsma–Kalker bits in
    * `wfh`. */
  private val AudioWindowCtes: String =
    """wdm AS (SELECT doc_id FROM documents WHERE doc_id % 10 IN (0, 1)),
      |wsm AS (SELECT doc_id, t.i AS i,
      |  CASE WHEN doc_id % 2 = 1 AND t.i < 81 THEN 0
      |  ELSE ('0x' || substr(md5(CAST(doc_id - doc_id % 2 AS VARCHAR) ||
      |      '-' || CAST(t.i - 81 * (doc_id % 2) AS VARCHAR)),
      |      1, 8))::BIGINT % 65536 - 32768 END AS v
      |  FROM wdm CROSS JOIN range(0, 486) t(i)),
      |wex AS (SELECT doc_id, i, v, i // 81 - o.o AS w
      |  FROM wsm CROSS JOIN (VALUES (0), (1)) o(o)
      |  WHERE i // 81 - o.o BETWEEN 0 AND 4),
      |we AS (SELECT doc_id, w, (i - w * 81) // 2 AS k,
      |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS e
      |  FROM wex GROUP BY 1, 2, 3),
      |wd1 AS (
      |  -- band first difference d1(f,b) = E(f,b) - E(f,b+1): plain
      |  -- column-equality joins with constant offsets (the 6-way
      |  -- range-keyed formulation nested-loops in DuckDB)
      |  SELECT a.doc_id, a.w, a.k,
      |    a.e - b.e AS d1
      |  FROM we a JOIN we b ON b.doc_id = a.doc_id AND b.w = a.w
      |    AND b.k = a.k + 1
      |  WHERE a.k % 9 < 8),
      |wbit AS (
      |  SELECT x.doc_id, x.w,
      |    sum(CASE WHEN x.d1 - y.d1 > 0
      |        THEN CAST(power(2, (x.k // 9) * 8 + (x.k % 9)) AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END) AS bits
      |  FROM wd1 x JOIN wd1 y ON y.doc_id = x.doc_id AND y.w = x.w
      |    AND y.k = x.k + 9
      |  WHERE x.k // 9 < 8
      |  GROUP BY 1, 2),
      |wfh AS (SELECT doc_id, w,
      |  CAST(CASE WHEN bits >= CAST(power(2, 63) AS HUGEINT)
      |    THEN bits - CAST(power(2, 64) AS HUGEINT) ELSE bits END
      |    AS BIGINT) AS afp
      |  FROM wbit)""".stripMargin

  /** Shared q284/q285 oracle chain: md5 PCM16 series → 81-cell
    * floor-boundary energy grid → sign-of-second-difference bits,
    * mirroring graft.operators.AudioHash bit for bit. */
  private val AudioFpCtes: String =
    """adm AS (SELECT doc_id FROM documents WHERE doc_id % 10 IN (0, 1)),
      |asm AS (SELECT doc_id, t.i AS i,
      |  ((('0x' || substr(md5(CAST(doc_id - doc_id % 2 AS VARCHAR) ||
      |      '-' || CAST(t.i AS VARCHAR)), 1, 8))::BIGINT
      |    + CASE WHEN doc_id % 2 = 1 AND t.i = 0 THEN 1000 ELSE 0 END)
      |   % 65536 - 32768) AS v
      |  FROM adm CROSS JOIN range(0, 162) t(i)),
      |ae AS (SELECT doc_id, k.k AS k,
      |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS e
      |  FROM asm CROSS JOIN range(0, 81) k(k)
      |  WHERE i >= k.k * 162 // 81 AND i < (k.k + 1) * 162 // 81
      |  GROUP BY 1, 2),
      |abit AS (
      |  SELECT e1.doc_id,
      |    sum(CASE WHEN (e1.e - e2.e) - (e3.e - e4.e) > 0
      |        THEN CAST(power(2, f.f * 8 + b.b) AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END) AS bits
      |  FROM range(0, 8) f(f) CROSS JOIN range(0, 8) b(b)
      |  JOIN ae e1 ON e1.k = f.f * 9 + b.b
      |  JOIN ae e2 ON e2.doc_id = e1.doc_id
      |    AND e2.k = f.f * 9 + b.b + 1
      |  JOIN ae e3 ON e3.doc_id = e1.doc_id
      |    AND e3.k = (f.f + 1) * 9 + b.b
      |  JOIN ae e4 ON e4.doc_id = e1.doc_id
      |    AND e4.k = (f.f + 1) * 9 + b.b + 1
      |  GROUP BY 1),
      |afpx AS (SELECT doc_id,
      |  CAST(CASE WHEN bits >= CAST(power(2, 63) AS HUGEINT)
      |    THEN bits - CAST(power(2, 64) AS HUGEINT) ELSE bits END
      |    AS BIGINT) AS afp
      |  FROM abit)""".stripMargin

  /** Shared q278/q279 oracle chain: md5 pixel grids → block means →
    * integer aHash/dHash, mirroring graft.operators.ImageHash bit for
    * bit. */
  private val ImageHashCtes: String =
    """dm AS (SELECT doc_id,
      |  8 * (2 + (doc_id - doc_id % 2) % 3) AS w,
      |  8 * (2 + (doc_id - doc_id % 2) % 2) AS h FROM documents
      |  WHERE doc_id % 10 IN (0, 1)),
      |px AS (SELECT doc_id, w, h, t.i % w AS x, t.i // w AS y,
      |  (('0x' || substr(md5(CAST(doc_id - doc_id % 2 AS VARCHAR) ||
      |      '-' || CAST(t.i AS VARCHAR)), 1, 8))::BIGINT % 256
      |   + CASE WHEN doc_id % 2 = 1 AND t.i = 0 THEN 100 ELSE 0 END)
      |   % 256 AS v
      |  FROM dm CROSS JOIN range(0, 768) t(i) WHERE t.i < w * h),
      |ba AS (SELECT doc_id, bx.b AS bx, by.b AS by,
      |  CAST(sum(v) AS BIGINT) // count(*) AS m
      |  FROM px CROSS JOIN range(0, 8) bx(b) CROSS JOIN range(0, 8) by(b)
      |  WHERE x >= bx.b * w // 8 AND x < (bx.b + 1) * w // 8
      |    AND y >= by.b * h // 8 AND y < (by.b + 1) * h // 8
      |  GROUP BY 1, 2, 3),
      |aavg AS (SELECT doc_id, CAST(sum(m) AS BIGINT) // 64 AS avg
      |  FROM ba GROUP BY 1),
      |ah AS (SELECT ba.doc_id,
      |  sum(CASE WHEN m > avg THEN CAST(power(2, by * 8 + bx) AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS bits
      |  FROM ba JOIN aavg ON ba.doc_id = aavg.doc_id GROUP BY 1),
      |bd AS (SELECT doc_id, bx.b AS bx, by.b AS by,
      |  CAST(sum(v) AS BIGINT) // count(*) AS m
      |  FROM px CROSS JOIN range(0, 9) bx(b) CROSS JOIN range(0, 8) by(b)
      |  WHERE x >= bx.b * w // 9 AND x < (bx.b + 1) * w // 9
      |    AND y >= by.b * h // 8 AND y < (by.b + 1) * h // 8
      |  GROUP BY 1, 2, 3),
      |dh AS (SELECT a.doc_id,
      |  sum(CASE WHEN a.m > b.m
      |      THEN CAST(power(2, a.by * 8 + a.bx) AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS bits
      |  FROM bd a JOIN bd b ON a.doc_id = b.doc_id AND a.by = b.by
      |    AND b.bx = a.bx + 1
      |  GROUP BY 1),
      |hx AS (SELECT dm.doc_id, CAST(dm.w AS BIGINT) AS width,
      |  CAST(dm.h AS BIGINT) AS height,
      |  CAST(CASE WHEN ah.bits >= CAST(power(2, 63) AS HUGEINT)
      |    THEN ah.bits - CAST(power(2, 64) AS HUGEINT) ELSE ah.bits END
      |    AS BIGINT) AS ahash,
      |  CAST(CASE WHEN dh.bits >= CAST(power(2, 63) AS HUGEINT)
      |    THEN dh.bits - CAST(power(2, 64) AS HUGEINT) ELSE dh.bits END
      |    AS BIGINT) AS dhash
      |  FROM dm JOIN ah ON dm.doc_id = ah.doc_id
      |  JOIN dh ON dm.doc_id = dh.doc_id)""".stripMargin
}
