package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Graph, SuffixDedup}

/** Isolated scale benchmark for one operator family, on synthetic
  * inputs the shipped datasets cannot provide:
  * `graft.tools.ScaleBench <sa|cc|kcore>`. Every family shares the
  * session set-up, materializes its input BEFORE the timed region,
  * times the operator plus one aggregate over its output, and prints
  * ONE JSON line with the wall time, the output row count and an
  * order-insensitive row digest. Run one family once per mode in
  * FRESH JVMs: equal digests prove the two paths computed the same
  * answer while the wall times measure the difference. Inputs are
  * fully deterministic (xxhash64 of row ids — no wall clock, no RNG).
  * `SPARK_GRAFT_CPUS` (default 32) sets the local core count and the
  * shuffle partitions.
  *
  * `sa` — the ExactSubstr block pre-filter and large-mode doubling
  * (SuffixDedup.duplicatedSpans): sf0.1's SA slices peak around 135k
  * tokens, below BlockFilterMinPos and BroadcastTiedMax, so the
  * filter-ON branch and the m=2 doubling path never run in the
  * recorded bench. Doc `d` holds `docLen` tokens
  * `w<xxhash64(seed,d,p) mod V>`: single tokens repeat heavily (the
  * level-0 tied set is ≈ every position, exercising large mode
  * whenever nPos > BroadcastTiedMax) while minLen-gram windows are
  * almost surely unique (V^4 ≫ nPos), the natural-text property the
  * filter exploits. Every `passEvery`-th doc also carries one of
  * `passDistinct` planted `passLen`-token passages — the cross-doc
  * duplicate runs the SA must find. Env knobs: SA_SCALE_MODE
  * (on|off|auto), SA_SCALE_NDOCS, SA_SCALE_DOCLEN, SA_SCALE_VOCAB,
  * SA_SCALE_PASS_EVERY, SA_SCALE_PASS_LEN, SA_SCALE_PASS_DISTINCT.
  * SPARK_GRAFT_SA_DEBUG=1 adds per-level tied counts and the
  * kept-position cut to stderr.
  *
  * `cc` — the connected-components DRIVER FINISH (union-find with
  * min-id roots) vs the distributed large/small-star loop, the
  * measurement behind `ConnectedComponents.CcDriverFinishMaxEdges`.
  * Half the pairs chain consecutive ids (deep components — the star
  * loop's hard case), half union hashed pairs (components merge
  * across chains). Mode on = the default bound, off = 0 (the
  * distributed loop). Env knobs: CC_SCALE_MODE (on|off),
  * CC_SCALE_NEDGES, CC_SCALE_NNODES.
  *
  * `kcore` — the kCore ROUND FUSION (broadcast-hinted survivor
  * semi-joins skipping the per-round checkpoint job) and the driver
  * finish. Endpoints are skewed — xxhash64 mod (nNodes / (1 + hash
  * % 4)) — so successive rounds peel real layers (a uniform random
  * graph collapses in one round). Mode on = broadcastMaxAliveNodes at
  * its default, off = 0 (the checkpointed semi-join path); both pin
  * driverFinishMaxEdges to 0 so the whole peel stays distributed.
  * Mode driver forces the DRIVER finish at any size, to measure the
  * driver-vs-distributed crossover. Env knobs: KCORE_SCALE_MODE
  * (on|off|driver), KCORE_SCALE_NEDGES, KCORE_SCALE_NNODES,
  * KCORE_SCALE_K, KCORE_SCALE_ROUNDS. */
object ScaleBench {

  /** One family's run: the JSON `metric` name, its mode, the timed
    * operator, the name of the row-count field, the digested output
    * columns and the input fields printed after the digest. */
  private final case class Family(metric: String, mode: String,
      run: () => DataFrame, countField: String, digestCols: Seq[Column],
      fields: Seq[(String, Any)])

  private def env(name: String, default: String): String =
    sys.env.getOrElse(name, default)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    val family: SparkSession => Family = name match {
      case "sa"    => sa
      case "cc"    => cc
      case "kcore" => kcore
      case _ =>
        System.err.println("usage: graft.tools.ScaleBench <sa|cc|kcore>")
        sys.exit(2)
    }
    val cpus = env("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val f = family(spark)
    val t0 = System.nanoTime()
    // pmod keeps each term < 1e9 so the ANSI long sum cannot overflow
    // (≤ ~9e9 rows before 2^63)
    val row = f.run().agg(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(f.digestCols: _*), lit(1000000007L))),
        lit(0L)).as("digest")).head
    val secs = (System.nanoTime() - t0) / 1e9
    spark.stop()
    def quote(v: String) = "\"" + v + "\""
    val head = Seq("metric" -> quote(f.metric), "mode" -> quote(f.mode),
      "sec" -> math.round(secs * 1000) / 1000.0,
      f.countField -> row.getLong(0), "digest" -> row.getLong(1))
    println((head ++ f.fields).map { case (k, v) => s"${quote(k)}:$v" }
      .mkString("{", ",", "}"))
  }

  private def sa(spark: SparkSession): Family = {
    val mode = env("SA_SCALE_MODE", "auto")
    val nDocs = env("SA_SCALE_NDOCS", "40000").toLong
    val docLen = env("SA_SCALE_DOCLEN", "200").toInt
    val vocab = env("SA_SCALE_VOCAB", "50000").toLong
    val passEvery = env("SA_SCALE_PASS_EVERY", "30").toLong
    val passLen = env("SA_SCALE_PASS_LEN", "64").toInt
    val passDistinct = env("SA_SCALE_PASS_DISTINCT", "8").toLong
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      transform(sequence(lit(1), lit(docLen)),
        p => concat(lit("w"),
          pmod(xxhash64(lit(42L), col("id"), p), lit(vocab)))).as("ta"))
    val passage = transform(sequence(lit(0), lit(passLen - 1)),
      i => concat(lit("p"),
        pmod((col("doc_id") / lit(passEvery)).cast("long"),
          lit(passDistinct)),
        lit("_"), i))
    val corpus = base.select(col("doc_id"),
        array_join(when(col("doc_id") % passEvery === 0,
          concat(col("ta"), passage)).otherwise(col("ta")), " ")
          .as("text"))
      .localCheckpoint(true) // materialize BEFORE the timed region
    val nPos = corpus.select(
      sum(size(split(col("text"), "\\s+")))).head.getLong(0)
    val threshold = mode match {
      case "on"  => 1L
      case "off" => Long.MaxValue
      case _     => SuffixDedup.BlockFilterMinPos
    }
    Family("sa_scale", mode,
      () => SuffixDedup.duplicatedSpans(corpus, "doc_id", "text",
        minLen = 4, maxLcp = 512, blockFilterMinPos = threshold),
      "rows", Seq("doc_a", "pos_a", "doc_b", "pos_b", "lcp").map(col),
      Seq("n_pos" -> nPos, "n_docs" -> nDocs, "vocab" -> vocab,
        "pass_every" -> passEvery, "pass_len" -> passLen))
  }

  private def cc(spark: SparkSession): Family = {
    val mode = env("CC_SCALE_MODE", "on")
    val nEdges = env("CC_SCALE_NEDGES", "2000000").toLong
    val nNodes = env("CC_SCALE_NNODES", (nEdges / 2).toString).toLong
    // expr("id div 2"), not col("id") / 2: Spark int `/` is DOUBLE
    // division (CLAUDE.md invariant — r17 ADVICE), which silently made
    // the synthesized ids DoubleType and would corrupt them above 2^53
    val edges = spark.range(nEdges)
      .select(
        when(col("id") % 2 === 0,
          pmod(expr("id div 2"), lit(nNodes)) + 1L)
          .otherwise(pmod(xxhash64(lit(1L), col("id")), lit(nNodes)) + 1L)
          .as("a"),
        when(col("id") % 2 === 0,
          pmod(expr("id div 2") + 1L, lit(nNodes)) + 1L)
          .otherwise(pmod(xxhash64(lit(2L), col("id")), lit(nNodes)) + 1L)
          .as("b"))
      .localCheckpoint(true) // materialize BEFORE the timed region
    val bound = mode match {
      case "off" => 0L
      case _     => ConnectedComponents.CcDriverFinishMaxEdges
    }
    Family("cc_scale", mode,
      () => ConnectedComponents.run(edges, "a", "b",
        driverFinishMaxEdges = bound),
      "labels", Seq(col("id"), col("cluster_id")),
      Seq("n_edges" -> nEdges, "n_nodes" -> nNodes))
  }

  private def kcore(spark: SparkSession): Family = {
    val mode = env("KCORE_SCALE_MODE", "on")
    val nEdges = env("KCORE_SCALE_NEDGES", "4000000").toLong
    val nNodes = env("KCORE_SCALE_NNODES", (nEdges / 4).toString).toLong
    val k = env("KCORE_SCALE_K", "6").toInt
    val rounds = env("KCORE_SCALE_ROUNDS", "8").toInt
    // ~1/4 of edges draw from each of the full, 1/2, 1/3 and 1/4 node
    // ranges, layering degrees so the peel runs several real rounds
    def endp(salt: Long) = {
      val h = xxhash64(lit(salt), col("id"))
      // nNodes / (1..4) via exact double floor (nNodes << 2^53)
      val rng = floor(lit(nNodes).cast("double") /
        (lit(1.0) + pmod(h, lit(4L)).cast("double"))).cast("long")
      pmod(xxhash64(lit(salt + 7), col("id")), rng) + lit(1L)
    }
    val edges = spark.range(nEdges)
      .select(endp(1L).as("src"), endp(2L).as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint(true) // materialize BEFORE the timed region
    val bcastBound = mode match {
      case "off" => 0L
      case _     => Graph.BroadcastMaxAliveNodes
    }
    val driverBound = mode match {
      case "driver" => Long.MaxValue
      case _        => 0L
    }
    Family("kcore_scale", mode,
      () => Graph.kCore(edges, "src", "dst", k, maxRounds = rounds,
        driverFinishMaxEdges = driverBound,
        broadcastMaxAliveNodes = bcastBound),
      "nodes", Seq(col("node"), col("core_degree")),
      Seq("n_edges" -> nEdges, "n_nodes" -> nNodes, "k" -> k,
        "rounds" -> rounds))
  }
}
