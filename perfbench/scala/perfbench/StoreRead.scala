package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, lower}
import org.apache.spark.storage.StorageLevel

import graft.core.{Aggregators, FeatureStore, Intervals, KeyJoinFeatures,
  Tables}
import graft.stores.TpchFeatureStore

/** `store_read`: an analyst's interactive session over a filled store.
  *
  * Set-up fills every loader of a `TpchFeatureStore` over 1995–1996 with
  * one `getFeature` call each, at the default slice_ts. Each timed
  * request is a `keyJoinFeatures` or `keyJoinFeaturesExpr` call on
  * `n_orders` of one of the [[Shapes]] (0–3 strata, 1 week to 12 months)
  * inside the filled range, collected to the driver. Every range is
  * already in the store, so requests compute and write nothing. */
object StoreRead {
  val Start = "1995-01-01"
  val End = "1996-12-31"
  /** One feature per loader of the store. */
  val FillFeatures: Seq[String] =
    Seq("n_orders", "n_first_order", "mktsegment", "age_group", "nation")
  val Strata: Seq[String] = Seq("mktsegment", "nation", "age_group")

  final case class Req(strata: Seq[String], expr: Boolean, start: String,
                       end: String) {
    /** Expression requests rename or derive each stratum; with no
      * strata they group by a constant. */
    def exprs: Seq[(String, Column)] =
      if (!expr) strata.map(s => s -> col(s))
      else if (strata.isEmpty) Seq("all" -> lit("all"))
      else strata.map(s => s"by_$s" -> lower(col(s)))
    override def toString: String =
      s"read(${exprs.map(_._1).mkString(",")} $start..$end)"
  }

  /** The request with k strata, as an analyst narrows a breakdown: the
    * whole population over 12 months, then by age over 3 months, by age
    * and segment over a month, by all three over a week. Two of them use
    * the expression form. Every round has the same shapes. */
  val Shapes: IndexedSeq[(Seq[String], Boolean, Int)] = IndexedSeq(
    (Nil, true, 365),
    (Seq("age_group"), false, 91),
    (Seq("age_group", "mktsegment"), true, 30),
    (Seq("age_group", "mktsegment", "nation"), false, 7))

  /** Seeded requests, in rounds that hold each shape once; the seed picks
    * the order within a round and each window's start. */
  def requests(seed: Long): Iterator[Req] = {
    val rng = new scala.util.Random(seed)
    val day0 = LocalDate.parse(Start)
    val days = LocalDate.parse(End).toEpochDay - day0.toEpochDay + 1
    Iterator.continually(rng.shuffle(Shapes.toList)).flatten
      .map { case (strata, expr, len) =>
        val s = day0.plusDays(rng.nextInt((days - len + 1).toInt))
        Req(strata, expr, s.toString, s.plusDays(len - 1).toString)
      }
  }

  def read(rec: Recorder, store: FeatureStore, r: Req): Array[Row] = {
    val df = rec.span("core.store.keyJoinFeatures") {
      if (r.expr) store.keyJoinFeaturesExpr("n_orders", r.exprs, r.start,
        r.end)
      else store.keyJoinFeatures("n_orders", r.strata, r.start, r.end)
    }
    rec.span("core.series.collect")(df.collect())
  }

  def run(ctx: Ctx): Result = {
    val t0 = System.nanoTime()
    val spark = ctx.newSession()
    val tracer = if (ctx.trace) Some(new Tracer(spark.sparkContext)) else None
    val rec = new Recorder(ctx, spark, tracer)
    val storePath = s"${ctx.work}/store_read"
    val store = TpchFeatureStore(spark, ctx.data, storePath)
    // the check recomputes each request from the loaders' source rows,
    // without the store: KeyJoinFeatures over handler.compute output
    lazy val src: Map[String, DataFrame] = ("n_orders" +: Strata).map(f =>
      f -> store.handlerOf(f).compute(store, Start, End)
        .persist(StorageLevel.MEMORY_ONLY)).toMap
    def oracle(r: Req): Array[Row] = {
      val obs = Intervals.slice(src("n_orders"), r.start, r.end)
      KeyJoinFeatures.withExprs(obs, "n_orders", Intervals.keyCols(obs).head,
        Aggregators.Count,
        r.strata.map(f => Intervals.slice(src(f), r.start, r.end)),
        r.exprs, r.start, r.end).collect()
    }
    // one getFeature per loader over the whole range, concurrently, as
    // keyJoinFeatures itself fetches its loaders
    rec.op("fill", "fill", withTrace = false) {
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(FillFeatures.map(f =>
        Future(store.getFeature(f, Start, End)))), Duration.Inf)
    }
    // the age loader emits three age intervals per customer, counted from
    // the compute range's first day: every customer must still have an
    // age on the range's last day (this range is short enough; see
    // NOTES.md)
    rec.check("age rows cover the fill range") {
      val customers = Tables.load(spark, ctx.data, "customer").count()
      Seq(Start, End).forall(d => store.getFeature("age_group", d, d)
        .select("key_cust").distinct().count() == customers)
    }
    // warm the read path: one untimed request touching every stratum
    val w = Req(Strata, expr = false, Start, "1995-01-07")
    rec.op("warm", w.toString, withTrace = false)(read(rec, store, w))
      .foreach(rows => rec.check(w.toString)(Oracle.same(rows, oracle(w))))
    val setup = (System.nanoTime() - t0) / 1e9

    val jvm = new JvmProbe
    // the compute log is read in every run: a timed read that computes a
    // range fails the run. The version counts are per-layer metrics, read
    // only when tracing
    val loaders = store.loaders.keys.toSeq.sorted
    val logs0 = Report.logRows(spark, storePath)
    val versions0 =
      if (ctx.trace) Some(Report.versionCounts(store, loaders)) else None
    // whole rounds, so every run samples each shape equally often
    def rounds(withTrace: Boolean): Seq[Double] = {
      val reqs = requests(ctx.seed)
      val out = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      var tried = 0
      while ((tried == 0 || System.nanoTime() < deadline) && !rec.stopped) {
        tried += 1
        var round = 0.0
        var ok = true
        for (r <- reqs.take(Shapes.size).toList if !rec.stopped) {
          rec.op("read", r.toString, withTrace)(read(rec, store, r)) match {
            case Some(rows) =>
              round += rec.latencies("read").last
              rec.check(r.toString)(Oracle.same(rows, oracle(r)))
            case None => ok = false
          }
        }
        if (ok) out += round
      }
      out.toSeq
    }
    val (measured, again) = Measure(ctx, spark, jvm)(rounds)
    val untraced = again.getOrElse(Nil)
    spark.catalog.clearCache()

    // counters first: the checks read the store too
    val logs1 = Report.logRows(spark, storePath)
    rec.check(s"store_read computed no range (log rows $logs0 -> $logs1)")(
      logs1 == logs0)
    val storeCounters = versions0.map { case (v0, open0) =>
      val (bytes, files) = Report.du(storePath)
      val (v1, open1) = Report.versionCounts(store, loaders)
      Map("ranges_computed" -> (logs1 - logs0).toDouble,
        "bytes_on_disk" -> bytes.toDouble, "files" -> files.toDouble,
        "versions" -> v1.toDouble,
        "changed_rows" -> ((v1 - v0) + (v1 - open1) - (v0 - open0)).toDouble,
        "bytes_per_row" -> bytes.toDouble / open1)
    }.getOrElse(Map.empty)
    rec.runChecks()
    val reads = rec.latencies.getOrElse("read", mutable.ArrayBuffer.empty)
    val result = Report.outcome(rec, tracer, jvm, setup, reads.toSeq,
      measured, untraced, storeCounters)
    rec.shutdown()
    spark.stop()
    result
  }
}
