package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Scd2

/** Continuous SCD2 ingest: each micro-batch is one transaction; replays
  * are checksum no-ops; time travel spans the live feed. */
class StoreStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore() = graft.stores.TpchFeatureStore(spark,
    "/root/testdata/sf0.001",
    Files.createTempDirectory("graft-ingest").toString)

  private def featRow(key: Long, v: String, from: String) =
    (key, v, java.sql.Date.valueOf(from), null.asInstanceOf[java.sql.Date])

  test("streaming ingest commits per batch, idempotent under replay") {
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore()
    val loader = "feed"
    val ms = MemoryStream[(Long, String, java.sql.Date, java.sql.Date)]
    val rows = ms.toDF().toDF("key_cust", "segment", "valid_from",
      "valid_until")
    val q = store.ingestStream(loader, rows,
      Files.createTempDirectory("graft-ingest-ckpt").toString,
      tsOfBatch = id => f"2020-01-01 00:00:${id}%02d")
    try {
      ms.addData(featRow(1L, "A", "2024-01-01"),
        featRow(2L, "B", "2024-01-01"))
      q.processAllAvailable()
      val afterB0 = spark.read.parquet(s"${store.storePath}/$loader")
        .collect().map(_.toString).sorted.toSeq
      assert(afterB0.length == 2)

      // batch 1: one new row + one REPLAYED row — the replay must be a
      // checksum no-op, the new row a fresh version at batch 1's ts
      ms.addData(featRow(3L, "C", "2024-02-01"),
        featRow(1L, "A", "2024-01-01"))
      q.processAllAvailable()
      val table = spark.read.parquet(s"${store.storePath}/$loader")
      assert(table.count() == 3)
      // replayed row keeps its ORIGINAL transaction timestamp
      val ts1 = table.filter(col("key_cust") === 1L)
        .select(col(Scd2.FromTs).cast("string")).as[String].head()
      assert(ts1 == "2020-01-01 00:00:00")
      // time travel: at batch 0's ts, row 3 does not exist yet
      val atB0 = Scd2.sliceAt(table, "2020-01-01 00:00:00")
        .select("key_cust").as[Long].collect().toSet
      assert(atB0 == Set(1L, 2L))
      val atB1 = Scd2.sliceAt(table, "2020-01-01 00:00:01")
        .select("key_cust").as[Long].collect().toSet
      assert(atB1 == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("duplicate rows within the FIRST batch collapse; replay is a no-op") {
    val store = freshStore()
    val b0 = Seq(featRow(1L, "A", "2024-01-01"), featRow(1L, "A", "2024-01-01"))
      .toDF("key_cust", "segment", "valid_from", "valid_until")
    store.appendCommit("feed", b0, "2020-01-01 00:00:00")
    val t1 = spark.read.parquet(s"${store.storePath}/feed")
      .collect().map(_.toString).sorted.toSeq
    assert(t1.length == 1)
    // replaying the duplicate-bearing batch changes nothing
    store.appendCommit("feed", b0, "2020-01-01 00:00:01")
    val t2 = spark.read.parquet(s"${store.storePath}/feed")
      .collect().map(_.toString).sorted.toSeq
    assert(t2 == t1)
  }

  test("default ingest timestamps are strictly monotone unique") {
    val store = freshStore()
    val m = classOf[graft.core.FeatureStore]
      .getDeclaredMethod("nextIngestTs")
    m.setAccessible(true)
    val ts = (0 until 3).map(_ => m.invoke(store).asInstanceOf[String])
    assert(ts == ts.sorted && ts.distinct == ts, ts.toString)
  }

  test("concurrent getFeature writers: no duplicate log ranges, correct data") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val store = freshStore()
    // two threads race to fill overlapping ranges of the same loader
    val fs = Seq("1995-01-01" -> "1995-02-28", "1995-02-01" -> "1995-03-31")
      .map { case (s, e) => Future {
        store.getFeature("n_orders", s, e).count()
      }}
    Await.result(Future.sequence(fs), 120.seconds)
    // the log's covered ranges must not overlap (each day computed once)
    val logs = spark.read.parquet(s"${store.storePath}/logs")
      .select(col("ds_start").cast("string"), col("ds_end").cast("string"))
      .as[(String, String)].collect().sortBy(_._1)
    logs.sliding(2).foreach {
      case Array((_, e1), (s2, _)) => assert(e1 < s2, logs.mkString(", "))
      case _ =>
    }
    // and the merged table serves the full span correctly
    val got = store.getFeature("n_orders", "1995-01-01", "1995-03-31")
      .select("o_orderkey").as[Long].collect().toSet
    val direct = graft.core.Intervals.slice(
      Queries.orderIntervals(spark, "/root/testdata/sf0.001"),
      "1995-01-01", "1995-03-31")
      .select("o_orderkey").as[Long].collect().toSet
    assert(got == direct)
  }

  test("a dropped table's high-water mark does not clamp its successor") {
    val store = freshStore()
    def batch(key: Long) = Seq(featRow(key, "A", "2024-01-01"))
      .toDF("key_cust", "segment", "valid_from", "valid_until")
    store.appendCommit("feed", batch(1L), "2020-01-01 05:00:00")
    store.appendCommit("feed", batch(2L), "2020-01-01 06:00:00")
    graft.core.StoreCatalog.drop(spark, store.storePath, Some("feed"))
    store.appendCommit("feed", batch(3L), "2020-01-01 00:00:01")
    store.appendCommit("feed", batch(4L), "2020-01-01 00:00:02")
    val table = store.versionedTable("feed")
    assert(table.select(col(Scd2.FromTs).cast("string")).as[String]
      .collect().sorted.toSeq ==
      Seq("2020-01-01 00:00:01", "2020-01-01 00:00:02"))
    assert(Scd2.sliceAt(table, "2020-01-01 00:00:02")
      .select("key_cust").as[Long].collect().toSet == Set(3L, 4L))
  }

  /** One stored `order_episodes` row, re-dated so it is a new version. */
  private def episodeRow(store: graft.core.FeatureStore, until: String) =
    store.versionedTable("order_episodes")
      .drop(Scd2.Checksum, Scd2.FromTs, Scd2.UntilTs).limit(1)
      .withColumn("valid_until", lit(java.sql.Date.valueOf(until)))
      .localCheckpoint(true)

  private def lastFromTs(store: graft.core.FeatureStore) =
    store.versionedTable("order_episodes").agg(max(Scd2.FromTs))
      .as[String].head()

  test("a dropped table's mark does not survive a re-create to its " +
    "generation") {
    // getFeature rebuilds the dropped table to the generation the old
    // mark was recorded at, so only dropping the mark keeps it out
    val store = freshStore()
    val loader = "order_episodes"
    store.getFeature("n_orders", "1995-01-01", "1995-01-31")
    store.appendCommit(loader, episodeRow(store, "2030-01-01"),
      "2020-01-01 05:00:00")
    graft.core.StoreCatalog.drop(spark, store.storePath, Some(loader))
    store.getFeature("n_orders", "1995-01-01", "1995-01-31")
    store.getFeature("n_orders", "1995-02-01", "1995-02-28")
    store.appendCommit(loader, episodeRow(store, "2031-01-01"),
      "2020-01-01 00:00:01")
    assert(lastFromTs(store) == "2020-01-01 00:00:01")
  }

  test("appendCommit clamps past a getFeature commit made after its mark") {
    val store = freshStore()
    val loader = "order_episodes"
    store.getFeature("n_orders", "1995-01-01", "1995-01-31")
    store.appendCommit(loader, episodeRow(store, "2030-01-01"),
      "2020-01-01 05:00:00")
    store.getFeature("n_orders", "1995-01-01", "1995-01-31",
      "2020-01-01 07:00:00")
    store.appendCommit(loader, episodeRow(store, "2031-01-01"),
      "2020-01-01 06:00:00")
    assert(lastFromTs(store) == "2020-01-01 07:00:00.001")
  }

  test("appendCommit matches batch SCD2 of the union") {
    val store = freshStore()
    val b0 = Seq(featRow(1L, "A", "2024-01-01"))
      .toDF("key_cust", "segment", "valid_from", "valid_until")
    val b1 = Seq(featRow(2L, "B", "2024-01-15"))
      .toDF("key_cust", "segment", "valid_from", "valid_until")
    store.appendCommit("feed", b0, "2020-01-01 00:00:00")
    store.appendCommit("feed", b1, "2020-01-01 00:00:01")
    val viaStream = spark.read.parquet(s"${store.storePath}/feed")

    val direct0 = Scd2.updateSnapshot(None, b0, "2020-01-01 00:00:00",
      b0.columns.toSeq)
    val direct = Scd2.updateSnapshot(Some(direct0),
      b0.unionByName(b1), "2020-01-01 00:00:01", b0.columns.toSeq)
    assert(viaStream.collect().map(_.toString).sorted.toSeq ==
      direct.collect().map(_.toString).sorted.toSeq)
  }
}
