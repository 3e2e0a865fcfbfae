package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span Spark work counts for the traced run.
  *
  * A span is one public call into a layer, timed from the benchmark's
  * side. Each Spark job is assigned to the span during which it was
  * SUBMITTED (its `SparkListenerJobStart.time` falls inside the span's
  * interval). With one client thread and spans that never overlap this
  * is exact, and it also covers jobs the program submits from its own
  * thread pools (`keyJoinFeaturesExpr` runs each `getFeature` on
  * `ExecutionContext.global`), which thread-local job properties would
  * miss. Stages and tasks follow their job. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private final case class Job(start: Long, var end: Long)
  private final class StageAcc {
    var completed = false
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var output = 0L
    var spill = 0L
  }
  private final case class Span(name: String, tag: String, start: Long,
                                end: Long, wallNs: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageAcc]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var attached = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, -1L)
    // a stage reused by a later job is skipped there: keep the first job
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAcc).completed =
        true
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.taskMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.output += m.outputMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Start receiving events (the traced half of a traced run). */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this); attached = true
  }

  /** Stop receiving events, after every event already posted has been
    * delivered, so the detached interval costs nothing. */
  def detach(): Unit = if (attached) {
    drain(); sc.removeSparkListener(this); attached = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Run `body` as span `name` (grouped further by `tag`, e.g. the
    * catalog query); recorded only while attached. */
  def span[A](name: String, tag: String = "")(body: => A): A = {
    val s = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally if (attached) synchronized {
      spans += Span(name, tag, s, System.currentTimeMillis(),
        System.nanoTime() - n0)
    }
  }

  /** Totals per group over every recorded span; `group` maps a span's
    * (name, tag) to its group:
    * `calls`, `wall_s`, `driver_s` (wall minus the union of its jobs'
    * run intervals), `jobs`, `stages` (completed, skipped ones
    * excluded), `tasks`, `task_s`, `shuffle_write_bytes`,
    * `output_bytes`, `spill_bytes`. Call [[drain]] first. */
  def totals(group: (String, String) => String)
      : Map[String, Map[String, Double]] = synchronized {
    val byName = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    val jobsBySpan = jobs.toSeq.groupBy { case (_, j) =>
      spans.indexWhere(sp => j.start >= sp.start && j.start <= sp.end)
    }
    val stagesByJob = stageJob.toSeq.groupBy(_._2).map { case (j, ss) =>
      j -> ss.map(_._1) }
    spans.zipWithIndex.foreach { case (sp, i) =>
      val m = byName.getOrElseUpdate(group(sp.name, sp.tag), mutable.Map.empty
        .withDefaultValue(0.0))
      val js = jobsBySpan.getOrElse(i, Nil)
      val accs = js.flatMap { case (id, _) => stagesByJob.getOrElse(id, Nil) }
        .flatMap(stages.get)
      // union of the jobs' intervals, clipped to the span
      val ivs = js.map { case (_, j) =>
        (j.start max sp.start, (if (j.end < 0) sp.end else j.end) min sp.end)
      }.filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var curS = -1L
      var curE = -1L
      ivs.foreach { case (a, b) =>
        if (a > curE) { busy += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      busy += curE - curS
      val wall = sp.wallNs / 1e9
      m("calls") += 1
      m("wall_s") += wall
      m("driver_s") += math.max(0.0, wall - busy / 1e3)
      m("jobs") += js.size
      m("stages") += accs.count(_.completed)
      m("tasks") += accs.map(_.tasks).sum
      m("task_s") += accs.map(_.taskMs).sum / 1e3
      m("shuffle_write_bytes") += accs.map(_.shuffleWrite).sum
      m("output_bytes") += accs.map(_.output).sum
      m("spill_bytes") += accs.map(_.spill).sum
    }
    byName.map { case (k, v) => k -> v.toMap }.toMap
  }
}
