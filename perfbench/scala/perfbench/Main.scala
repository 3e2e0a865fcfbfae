package perfbench

import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: a set-up, then one client issuing a workload's
  * operations in a closed loop for `--seconds`, then the output checks.
  *
  *   --workload store_read|store_refresh|train_pipeline
  *   --seed n --seconds s --trace 0|1
  *   --data <dir of generated parquet tables> --work <scratch dir>
  *   --out <result JSON path> --cores k
  *   --budget <seconds this JVM may run, output checks included>
  *
  * End-to-end numbers are taken with tracing off. With `--trace 1` the
  * timed rounds run with the [[Tracer]] attached, then once more without
  * it, and the result holds the per-layer metrics plus the difference. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("work"), a("cores").toInt,
      System.nanoTime() + (a("budget").toDouble * 1e9).toLong)
    val result = ctx.workload match {
      case "store_read" => StoreRead.run(ctx)
      case "store_refresh" => StoreRefresh.run(ctx)
      case "train_pipeline" => TrainPipeline.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Json.writeResult(a("out"), result)
  }
}

final case class Ctx(workload: String, seed: Long, seconds: Double,
                     trace: Boolean, data: String, work: String,
                     cores: Int, endNs: Long) {
  /** `local[k]` with `k` shuffle partitions; every file Spark writes
    * stays under the run's scratch directory. */
  def newSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Operations attempted and failed, and the latencies of the ones that
  * succeeded. An operation fails when it throws, runs past the timeout
  * or, later, fails its output check. */
final class Recorder(ctx: Ctx, spark: SparkSession, tracer: Option[Tracer]) {
  /** Latencies of succeeded operations, per operation kind. */
  val latencies = mutable.LinkedHashMap.empty[String,
    mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  /** Set when an operation timed out: the session is then in an unknown
    * state and the timed loop ends. */
  var stopped = false
  val errors = mutable.ArrayBuffer.empty[String]
  /** Every operation with its latency, in order, for the run's log. */
  val trail = mutable.ArrayBuffer.empty[String]
  private val pending = mutable.ArrayBuffer.empty[(String, () => Boolean)]
  private val pool = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    })

  /** Deadline for one operation: 100 s, or sooner when the run's budget
    * would leave too little time for the output checks. Past it the
    * operation fails and the run stops. */
  def timeout: FiniteDuration = {
    val left = (ctx.endNs - System.nanoTime()) / 1000000 - CheckReserveMs
    math.max(1000L, math.min(100000L, left)).millis
  }
  /** Time kept for the output checks after the timed part. */
  private val CheckReserveMs = 40000L

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 5) errors += s"$what: ${e.toString.take(300)}"
  }

  /** Time `body` as one operation of `kind`, with the tracer attached
    * when `withTrace` (only in a traced run). */
  def op[A](kind: String, what: String, withTrace: Boolean)
           (body: => A): Option[A] = {
    attempted += 1
    tracer.foreach(t => if (withTrace) t.attach() else t.detach())
    val t0 = System.nanoTime()
    val r =
      try Some(Await.result(Future(body)(pool), timeout))
      catch {
        case e: TimeoutException =>
          fail(what, e)
          stopped = true
          spark.sparkContext.cancelAllJobs()
          None
        case e: Throwable => fail(what, e); None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.detach())
    trail += (if (r.isDefined) f"$what=$dt%.3f" else s"$what=FAILED")
    r.foreach(_ =>
      latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt)
    r
  }

  /** Run `body` as a tracer span when tracing. */
  def span[A](name: String, tag: String = "")(body: => A): A =
    tracer.fold(body)(_.span(name, tag)(body))

  /** Register an output check for an operation that succeeded; it runs
    * in [[runChecks]], after the timed part. */
  def check(what: String)(ok: => Boolean): Unit =
    pending += (what -> (() => ok))

  def runChecks(): Unit = {
    pending.foreach { case (what, ok) =>
      try if (!ok()) fail(what, new AssertionError("wrong result"))
      catch { case e: Throwable => fail(what, e) }
    }
    pending.clear()
  }

  def shutdown(): Unit = pool.shutdownNow()
}

object Measure {
  /** Run the timed `rounds` (their argument: trace them) between the JVM
    * probe's start and stop. A traced run first runs them once untraced
    * as a warm-up, then traced, then untraced again, and returns that
    * last run too: the tracing overhead compares the two. Frames the
    * program persisted are dropped in between, so that no repeat is
    * served from them. */
  def apply[A](ctx: Ctx, spark: SparkSession, jvm: JvmProbe)
              (rounds: Boolean => A): (A, Option[A]) = {
    if (ctx.trace) {
      rounds(false)
      spark.catalog.clearCache()
    }
    jvm.start()
    val measured = rounds(ctx.trace)
    jvm.stop()
    val untraced = if (!ctx.trace) None else {
      spark.catalog.clearCache()
      Some(rounds(false))
    }
    (measured, untraced)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN (printed as null) without
    * samples, when every operation failed. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest order statistic with at least ten samples above it,
    * with its percentile and the sample count; the maximum when there
    * are fewer than eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN, 0)
    val s = xs.sorted
    val k = if (s.size >= 11) s.size - 11 else s.size - 1
    val pct = 100.0 * (k + 1) / s.size
    (s(k), pct, s.size)
  }
}

/** JVM counters read around the timed part. */
final class JvmProbe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs = gcs.map(_.getCollectionTime).sum
  private var gc0 = 0L
  var gcSeconds = 0.0
  var heapPeakMb = 0.0

  def start(): Unit = { gc0 = gcMs; heap.foreach(_.resetPeakUsage()) }
  def stop(): Unit = {
    gcSeconds = (gcMs - gc0) / 1e3
    heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}

/** What a run reports. `metrics` map a name to (value, unit); `info`
  * carries context (sample counts, percentiles, errors) that is printed
  * but not compared. */
final case class Result(attempted: Int, failed: Int,
                        metrics: Seq[(String, Double, String)],
                        info: Seq[(String, String)])

/** Writes the files the Python side reads, with Spark's Jackson. */
object Json {
  private val mapper = new ObjectMapper()

  private def jmap(kv: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def writeObject(path: String, kv: Seq[(String, Any)]): Unit =
    mapper.writeValue(new java.io.File(path), jmap(kv))

  /** A metric without samples (every operation failed) is null. */
  def writeResult(path: String, r: Result): Unit = writeObject(path, Seq(
    "attempted" -> r.attempted, "failed" -> r.failed,
    "metrics" -> jmap(r.metrics.map { case (n, v, u) => n -> jmap(Seq(
      "value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u)) }),
    "info" -> jmap(r.info)))
}
