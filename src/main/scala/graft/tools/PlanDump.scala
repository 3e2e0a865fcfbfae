package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Scd2
import graft.operators.SuffixDedup

/** Dev tool: formatted physical plans for the FORCED-DISTRIBUTED
  * branches that the declared queries driver-finish past at gate
  * sizes (plans/r18 evidence — the sf0.1 plans are LocalTableScan, so
  * the 100-TB-path plan shape must be captured with the driver
  * finishes disabled on a synthetic corpus). Usage:
  *   sbt "runMain graft.tools.PlanDump sa_lcp"
  * Targets: sa_lcp (SuffixDedup distributed tail incl. the LCP token
  * re-attach), scd2_merge (`Scd2.updateSnapshot` over a parquet-backed
  * versioned table). Output goes to stdout between BEGIN/END markers. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      // broadcast off: the dump must show the shape a corpus-sized
      // (unbroadcastable) token table takes at 100 TB, not the toy
      // corpus's BHJ
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val targets = if (args.nonEmpty) args.toSeq else Seq("sa_lcp")
    targets.foreach {
      case "sa_lcp" =>
        // synthetic corpus with planted duplication; every driver
        // finish disabled so the plan is the distributed SA tail the
        // 100-TB path runs (vocab rank, range sort, adjacency, LCP)
        val corpus = spark.range(200).select(col("id").as("doc_id"),
          array_join(transform(sequence(lit(1), lit(40)),
            p => concat(lit("w"),
              pmod(xxhash64(lit(7L), col("id"), p), lit(500)))), " ")
            .as("text"))
        val spans = SuffixDedup.duplicatedSpans(
          corpus, "doc_id", "text", minLen = 4, maxLcp = 512,
          driverFinishMaxPos = 0L, driverFinishMaxTok = 0L,
          blockFilterMinPos = 0L, vocabDriverMaxPos = 0L)
        println("========== BEGIN sa_lcp ==========")
        spans.explain("formatted")
        println("========== END sa_lcp ==========")
      case "scd2_merge" =>
        // a parquet-backed versioned table with closed history, merged
        // with a revision that keeps, changes and adds rows — the shape
        // of every refresh-step and appendCommit merge
        val cols = Seq("key", "v")
        def snap(salt: Long) = spark.range(20000).select(col("id").as("key"),
          pmod(xxhash64(lit(salt), col("id")), lit(4L)).as("v"))
        val dir = java.nio.file.Files.createTempDirectory("plandump-scd2")
          .resolve("t").toString
        val v1 = Scd2.updateSnapshot(None, snap(1L), "2020-01-01 00:00:00",
          cols)
        Scd2.updateSnapshot(Some(v1), snap(2L), "2020-01-02 00:00:00", cols)
          .write.parquet(dir)
        val merged = Scd2.updateSnapshot(Some(spark.read.parquet(dir)),
          snap(3L), "2020-01-03 00:00:00", cols)
        println("========== BEGIN scd2_merge ==========")
        merged.explain("formatted")
        println("========== END scd2_merge ==========")
      case "graph_prep" =>
        // evidence for the r18 single-materialization prep (the saved
        // write lives in side jobs, not the returned plan): run the
        // PageRank and HITS preps on a synthetic ABOVE-BOUND graph
        // with iters = 0 and report executor-storage RDD count/bytes
        // plus the job count — r17's shape persisted the edge list
        // TWICE (narrow e0 + repartitioned e, the e0.unpersist() being
        // a no-op) and paid an extra count job
        val edges = spark.range(2500000L).select(
            pmod(xxhash64(lit(3L), col("id")), lit(500000L)).as("s"),
            pmod(xxhash64(lit(4L), col("id")), lit(500000L)).as("d"))
          .localCheckpoint(true)
        val sc = spark.sparkContext
        val jobCounter = new java.util.concurrent.atomic.AtomicInteger
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobCounter.incrementAndGet()
        })
        def probe(tag: String)(run: => Unit): Unit = {
          val baseRdds = sc.getRDDStorageInfo.filter(_.isCached)
            .map(_.id).toSet
          val jobs0 = jobCounter.get
          run
          Thread.sleep(500) // let the listener drain
          val jobs1 = jobCounter.get
          val rdds = sc.getRDDStorageInfo.filter(r =>
            r.isCached && !baseRdds.contains(r.id))
          println(s"PROBE $tag: jobs=${jobs1 - jobs0} " +
            s"newCachedRdds=${rdds.length} " +
            s"memBytes=${rdds.map(_.memSize).sum} " +
            s"diskBytes=${rdds.map(_.diskSize).sum}")
        }
        // the r17 prep shape, reproduced verbatim for the same-JVM A/B:
        // narrow checkpoint -> count job -> repartition -> second
        // checkpoint -> (no-op) Dataset.unpersist
        probe("prep_r17_shape") {
          val e0 = edges.select(col("s").cast("long").as("__src"),
              col("d").cast("long").as("__dst"))
            .localCheckpoint(true)
          e0.count()
          val e = e0.repartition(col("__src")).localCheckpoint(true)
          e0.unpersist()
          e.count()
        }
        probe("prep_r18_pagerank_iterate") {
          graft.operators.PageRank.iterate(
            edges, "s", "d", iters = 0).count()
        }
        probe("prep_r18_hits") {
          graft.operators.Graph.hits(edges, "s", "d", iters = 0).count()
        }
      case other =>
        System.err.println(s"unknown PlanDump target: $other")
    }
    spark.stop()
  }
}
