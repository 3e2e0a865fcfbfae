package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{FeatureStore, Scd2}

/** The metric set every run prints, whatever its workload: all
  * end-to-end metrics untraced, all per-layer metrics traced. A layer the
  * workload never enters reports zero work. */
object Report {
  val Spans: Seq[String] = Seq("core.store.keyJoinFeatures",
    "core.series.collect", "core.store.appendCommit", "packs.build",
    "packs.collect")
  private val SpanFields = Seq("wall_s" -> "s", "driver_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_s" -> "s", "shuffle_write_bytes" -> "B", "output_bytes" -> "B",
    "spill_bytes" -> "B")
  private val QueryFields = Seq("wall_s" -> "s", "jobs" -> "count",
    "driver_s" -> "s", "task_s" -> "s", "shuffle_write_bytes" -> "B")
  val StoreCounters: Seq[(String, String)] = Seq(
    "ranges_computed" -> "count", "bytes_on_disk" -> "B",
    "files" -> "count", "versions" -> "count", "changed_rows" -> "count",
    "bytes_written_per_changed_row" -> "B/row", "bytes_per_row" -> "B/row")

  /** `setup_s` is the run's set-up time; `op_p50_s` and `op_tail_s`
    * describe the latency of the workload's operation; `round_s` is the
    * median wall time of one round of operations. */
  def endToEnd(setup: Double, ops: Seq[Double], rounds: Seq[Double])
      : (Seq[(String, Double, String)], Seq[(String, String)]) = {
    val (tail, pct, n) = Stats.tail(ops)
    (Seq(("setup_s", setup, "s"),
        ("op_p50_s", Stats.median(ops), "s"),
        ("op_tail_s", tail, "s"),
        ("round_s", Stats.median(rounds), "s")),
      Seq("op_samples" -> n.toString, "op_tail_percentile" -> f"$pct%.1f",
        "rounds" -> rounds.size.toString,
        "round_s_all" -> rounds.map(s => f"$s%.3f").mkString(" ")))
  }

  /** Per-layer metrics from the traced rounds of a traced run. Spans are
    * reported per call; catalog queries per execution. The overhead
    * compares the traced rounds with the same rounds run again, untraced,
    * in the same JVM. */
  def perLayer(tracer: Tracer, rec: Recorder, store: Map[String, Double],
               jvm: JvmProbe, traced: Seq[Double], untraced: Seq[Double])
      : (Seq[(String, Double, String)], Seq[(String, String)]) = {
    tracer.drain()
    val bySpan = tracer.totals((name, _) => name)
    val byQuery = tracer.totals((name, tag) =>
      if (name.startsWith("packs.")) tag else "")
    def perCall(m: Map[String, Double], f: String): Double =
      if (m.getOrElse("calls", 0.0) == 0) 0.0 else m(f) / m("calls")
    val spans = for (s <- Spans; (f, u) <- SpanFields)
      yield (s"$s.$f", perCall(bySpan.getOrElse(s, Map.empty), f), u)
    // a query's two spans (build, collect) make one execution
    val queries = for (q <- TrainPipeline.Queries; (f, u) <- QueryFields)
      yield {
        val m = byQuery.getOrElse(q, Map.empty)
        val execs = m.getOrElse("calls", 0.0) / 2
        (s"$q.$f", if (execs == 0) 0.0 else m(f) / execs, u)
      }
    val counters = StoreCounters.map { case (c, u) =>
      (s"core.store.$c", store.getOrElse(c, 0.0), u) }
    val tr = if (traced.isEmpty) 0.0 else Stats.median(traced)
    val un = if (untraced.isEmpty) 0.0 else Stats.median(untraced)
    val overhead = Seq(("trace.traced_round_s", tr, "s"),
      ("trace.untraced_round_s", un, "s"),
      ("trace.overhead_frac", if (un == 0) 0.0 else tr / un - 1, "ratio"))
    val other = Seq(
      ("failed_frac", rec.failed.toDouble / math.max(1, rec.attempted),
        "ratio"),
      ("jvm.gc_s", jvm.gcSeconds, "s"),
      ("jvm.heap_peak_mb", jvm.heapPeakMb, "MB"))
    (spans ++ counters ++ queries ++ other ++ overhead,
      Seq("traced_rounds" -> traced.size.toString,
        "untraced_rounds" -> untraced.size.toString))
  }

  /** The run's result: end-to-end metrics, or per-layer ones when
    * traced. */
  def outcome(rec: Recorder, tracer: Option[Tracer], jvm: JvmProbe,
              setup: Double, ops: Seq[Double], rounds: Seq[Double],
              untraced: Seq[Double], store: Map[String, Double]): Result = {
    val (ms, info) = tracer match {
      case Some(t) => perLayer(t, rec, store, jvm, rounds, untraced)
      case None => endToEnd(setup, ops, rounds)
    }
    Result(rec.attempted, rec.failed, ms, info ++ Seq("ops" ->
      rec.trail.mkString("; ")) ++
      rec.errors.zipWithIndex.map { case (e, i) => s"error_$i" -> e })
  }

  /** Bytes and files under a directory tree. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val files = Files.walk(p).iterator().asScala.filter(f =>
      Files.isRegularFile(f)).toSeq
    (files.map(f => Files.size(f)).sum, files.size.toLong)
  }

  /** Rows in the store's compute log: one per range computed. */
  def logRows(spark: SparkSession, storePath: String): Long =
    if (Files.exists(Paths.get(storePath, "logs")))
      spark.read.parquet(s"$storePath/logs").count()
    else 0L

  /** (version rows, open version rows) over the given loaders' tables. */
  def versionCounts(store: FeatureStore, loaders: Seq[String]): (Long, Long) =
    loaders.map { l =>
      val t = store.versionedTable(l)
      (t.count(), t.filter(col(Scd2.UntilTs).isNull).count())
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach((f: Path) => Files.deleteIfExists(f))
  }
}

object Oracle {
  /** The same rows, in any order. */
  def same(got: Array[Row], want: Array[Row]): Boolean =
    got.length == want.length &&
      got.map(_.toSeq.mkString("|")).sorted
        .sameElements(want.map(_.toSeq.mkString("|")).sorted)
}
