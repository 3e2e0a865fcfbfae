package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Aggregators, FeatureHandler, FeatureStore, Intervals,
  KeyJoinFeatures, Scd2, Tables}

/** `store_refresh`: the surveillance refresh path, where the write layers
  * (SCD2 diff, committer publish, compute log, table locks) do the work.
  *
  * An episode starts from an empty store and runs [[Steps]] steps. Step
  * k moves the source to revision k (a seeded share of order episodes and
  * customer segments is revised), then asks `keyJoinFeatures` for the
  * series over months k-1..k of 1995 at a new, later slice_ts and
  * collects it: compute-if-missing, the SCD2 diff, the whole-table
  * publish and the log append all run. Then one `appendCommit`
  * micro-batch lands on its own ingest loader. Every commit rewrites the
  * whole table, so the step count is fixed; episodes repeat, each on a
  * fresh store, until the run's time is up. */
object StoreRefresh {
  val Steps = 3
  /** Percent of order episodes and of customers revised per step. */
  val RevisePct = 5
  val BatchRows = 2000
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Loaders: Seq[String] = Seq("order_episodes", "customer_segment", "ingest")

  def window(k: Int): (String, String) = {
    val m = LocalDate.of(1995, 1, 1).plusMonths(k)
    (m.minusMonths(if (k == 0) 0 else 1).toString,
      m.plusMonths(1).minusDays(1).toString)
  }
  def sliceTs(k: Int): String = f"2020-01-01 $k%02d:00:00"
  def appendTs(k: Int): String = f"2020-01-01 $k%02d:30:00"

  /** The step at which a row was last revised up to `epoch` (0 = never):
    * a row is revised at step j with probability RevisePct%, by a hash of
    * its key, the seed and j. */
  private def lastRevision(key: Column, seed: Long, epoch: Int): Column =
    (1 to epoch).foldLeft(lit(0)) { (acc, j) =>
      when(pmod(xxhash64(key, lit(seed), lit(j)), lit(100)) < RevisePct,
        lit(j)).otherwise(acc)
    }

  /** Order episodes at revision `epoch`: a revised order's episode lasts
    * 31–44 days instead of 30. */
  def ordersAt(spark: SparkSession, data: String, seed: Long, epoch: Int,
               s0: String, e0: String): DataFrame = {
    val o = Tables.load(spark, data, "orders")
    val rev = lastRevision(col("o_orderkey"), seed, epoch)
    val days = when(rev === 0, lit(30)).otherwise(lit(31) +
      pmod(xxhash64(col("o_orderkey"), lit(seed), rev), lit(14)).cast("int"))
    Intervals.slice(o.select(col("o_custkey").as("key_cust"),
      col("o_orderkey"),
      to_date(col("o_orderdate")).as("valid_from"),
      date_add(to_date(col("o_orderdate")), days).as("valid_until")), s0, e0)
  }

  /** Customer segments at revision `epoch`: a revised customer moves to
    * a segment drawn from the hash. */
  def segmentAt(spark: SparkSession, data: String, seed: Long, epoch: Int,
                s0: String, e0: String): DataFrame = {
    val c = Tables.load(spark, data, "customer")
    val rev = lastRevision(col("c_custkey"), seed, epoch)
    val seg = when(rev === 0, col("c_mktsegment")).otherwise(
      element_at(array(Segments.map(lit): _*),
        (pmod(xxhash64(col("c_custkey"), lit(seed), rev), lit(5)) + 1)
          .cast("int")))
    Intervals.slice(c.select(col("c_custkey").as("key_cust"),
      seg.as("mktsegment"),
      to_date(lit("1990-01-01")).as("valid_from"),
      lit(null).cast("date").as("valid_until")), s0, e0)
  }

  final class Revision { @volatile var epoch = 0 }

  def newStore(spark: SparkSession, data: String, path: String, seed: Long,
               rev: Revision): FeatureStore =
    new FeatureStore(spark, data, path,
      dsMap = Seq("n_orders" -> "order_episodes",
        "mktsegment" -> "customer_segment"),
      loaders = Map(
        "order_episodes" -> FeatureHandler((st, s0, e0) =>
          ordersAt(st.spark, st.sfDir, seed, rev.epoch, s0, e0),
          Aggregators.Count, ""),
        "customer_segment" -> FeatureHandler((st, s0, e0) =>
          segmentAt(st.spark, st.sfDir, seed, rev.epoch, s0, e0),
          Aggregators.Count, "")),
      minStartDate = Some("1995-01-01"), maxEndDate = Some("1996-12-31"),
      storeScope = Some("RefreshBench"))

  private val BatchSchema = StructType(Seq(
    StructField("key_cust", LongType), StructField("n_val", LongType),
    StructField("valid_from", DateType), StructField("valid_until", DateType)))

  /** Micro-batch k: new rows, plus a tenth re-delivered from batch k-1
    * (set semantics make those no-ops). */
  def batches(seed: Long, nCust: Long): IndexedSeq[Seq[Row]] = {
    val rng = new scala.util.Random(seed ^ 0xba7c4L)
    var prev = Seq.empty[Row]
    (0 until Steps).map { k =>
      val fresh = Seq.fill(BatchRows - prev.size / 10) {
        val from = LocalDate.of(1995, 1, 1).plusDays(30L * k + rng.nextInt(30))
        Row((rng.nextDouble() * nCust).toLong, rng.nextInt(100).toLong,
          java.sql.Date.valueOf(from), java.sql.Date.valueOf(from.plusDays(7)))
      }
      val b = fresh ++ rng.shuffle(prev).take(prev.size / 10)
      prev = b
      b
    }
  }

  /** One episode on a fresh store at `path`; returns the round time (sum
    * of its operation latencies), or None when an operation failed. */
  def episode(ctx: Ctx, spark: SparkSession, rec: Recorder, path: String,
              batchRows: IndexedSeq[Seq[Row]],
              withTrace: Boolean): Option[Double] = {
    val rev = new Revision
    val store = newStore(spark, ctx.data, path, ctx.seed, rev)
    val expected = mutable.Set.empty[String]
    var total = 0.0
    var ok = true
    for (k <- 0 until Steps if !rec.stopped) {
      rev.epoch = k
      val (s, e) = window(k)
      val refreshed = rec.op("refresh", s"refresh step $k", withTrace) {
        val df = rec.span("core.store.keyJoinFeatures")(
          store.keyJoinFeatures("n_orders", Seq("mktsegment"), s, e,
            sliceTs(k)))
        rec.span("core.series.collect")(df.collect())
      }
      refreshed.foreach { rows =>
        rec.check(s"refresh step $k")(Oracle.same(rows,
          KeyJoinFeatures(ordersAt(spark, ctx.data, ctx.seed, k, s, e),
            "n_orders", "key_cust", Aggregators.Count,
            Seq(segmentAt(spark, ctx.data, ctx.seed, k, s, e)),
            Seq("mktsegment"), s, e).collect()))
      }
      val batch = spark.createDataFrame(
        java.util.Arrays.asList(batchRows(k): _*), BatchSchema)
      val appended = rec.op("append", s"append step $k", withTrace) {
        rec.span("core.store.appendCommit")(
          store.appendCommit("ingest", batch, appendTs(k)))
      }
      expected ++= batchRows(k).map(_.mkString("|"))
      if (refreshed.isDefined && appended.isDefined)
        total += rec.latencies("refresh").last + rec.latencies("append").last
      else ok = false
    }
    // the ingest table's open rows must be the set union of the batches
    if (!rec.stopped) {
      val open = Scd2.sliceAt(store.versionedTable("ingest"),
          appendTs(Steps - 1))
        .select(BatchSchema.fieldNames.map(col): _*).collect()
        .map(_.mkString("|"))
      val same = open.length == expected.size && open.toSet == expected
      rec.check("ingest table")(same)
    }
    if (ok) Some(total) else None
  }

  def run(ctx: Ctx): Result = {
    val t0 = System.nanoTime()
    val spark = ctx.newSession()
    val nCust = Tables.load(spark, ctx.data, "customer").count()
    val batchRows = batches(ctx.seed, nCust)
    // warm the write path: one step on a throwaway store
    val warm = newStore(spark, ctx.data, s"${ctx.work}/refresh_warm",
      ctx.seed, new Revision)
    warm.keyJoinFeatures("n_orders", Seq("mktsegment"), window(0)._1,
      window(0)._2, sliceTs(0)).collect()
    warm.appendCommit("ingest", spark.createDataFrame(
      java.util.Arrays.asList(batchRows(0): _*), BatchSchema), appendTs(0))
    Report.deleteTree(s"${ctx.work}/refresh_warm")
    val setup = (System.nanoTime() - t0) / 1e9

    val tracer = if (ctx.trace) Some(new Tracer(spark.sparkContext)) else None
    val rec = new Recorder(ctx, spark, tracer)
    val jvm = new JvmProbe
    /** Episodes until the run's time is up; the store counters of the
      * last one, and the version rows all of them opened or closed. */
    def episodes(withTrace: Boolean): (Seq[Double], Map[String, Double],
                                       Long) = {
      val rounds = mutable.ArrayBuffer.empty[Double]
      var counters = Map.empty[String, Double]
      var changed = 0L
      val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      var tried = 0
      while ((tried == 0 || System.nanoTime() < deadline) && !rec.stopped) {
        tried += 1
        val path = s"${ctx.work}/refresh_${System.nanoTime()}"
        episode(ctx, spark, rec, path, batchRows, withTrace)
          .foreach(rounds += _)
        // store counters (per-layer metrics), outside the timed operations
        if (ctx.trace) {
          val store = newStore(spark, ctx.data, path, ctx.seed, new Revision)
          val (bytes, files) = Report.du(path)
          val (versions, open) = Report.versionCounts(store, Loaders)
          // every version row was opened in the episode; the closed ones
          // were changed twice
          val changes = 2 * versions - open
          changed += changes
          counters = Map(
            "ranges_computed" -> Report.logRows(spark, path).toDouble,
            "bytes_on_disk" -> bytes.toDouble, "files" -> files.toDouble,
            "versions" -> versions.toDouble,
            "changed_rows" -> changes.toDouble,
            "bytes_per_row" -> bytes.toDouble / open)
        }
        Report.deleteTree(path)
      }
      (rounds.toSeq, counters, changed)
    }
    val ((measured, counters, changed), again) =
      Measure(ctx, spark, jvm)(episodes)
    val untraced = again.map(_._1).getOrElse(Nil)
    rec.runChecks()
    // write amplification: bytes the traced commits wrote per version row
    // they opened or closed
    val written = tracer.map { t =>
      t.drain()
      t.totals((n, _) => n).collect {
        case (n, m) if n == "core.store.keyJoinFeatures" ||
          n == "core.store.appendCommit" => m("output_bytes")
      }.sum
    }.getOrElse(0.0)
    val refresh = rec.latencies.getOrElse("refresh", mutable.ArrayBuffer.empty)
    val result = Report.outcome(rec, tracer, jvm, setup, refresh.toSeq,
      measured, untraced, counters + ("bytes_written_per_changed_row" ->
        (if (changed == 0) 0.0 else written / changed)))
    rec.shutdown()
    spark.stop()
    result
  }
}
