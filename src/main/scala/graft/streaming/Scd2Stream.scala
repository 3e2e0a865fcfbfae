package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Scd2
import graft.core.Scd2.{Checksum, FromTs, UntilTs}

/** Streaming SCD2 maintenance — the continuous twin of
  * [[graft.core.Scd2.updateSnapshot]]: each micro-batch is a complete
  * keyless snapshot (the reference's update_snapshot contract) merged
  * into a versioned table at the batch's transaction time.
  *
  * The versioned table is stored as APPEND-ONLY version EVENTS rather
  * than rewritten rows — `opens/` holds one row per version
  * (checksum, occurrence, payload, from_ts), `closes/` one row per
  * closure (version key, until_ts) — so a micro-batch appends exactly
  * its DELTA (versions opened + versions closed), never touching the
  * table body. [[Commits.appendIfAbsent]] on the version key makes
  * both appends replay-idempotent (foreachBatch's at-least-once
  * contract), and a crash between the two appends replays to the same
  * final state in either append order.
  *
  * Multiset semantics match the batch operator exactly: occurrence
  * numbers rank identical rows within a checksum, closures always
  * retire the HIGHEST open occurrences and opens always extend them
  * contiguously from the top, so the open set's occurrences stay
  * exactly 1..k — the same pairing `updateSnapshot`'s oldest-first
  * ordering produces.
  *
  * Scale: per batch, one checksum aggregate over the snapshot, one
  * anti-join of the open set against the snapshot (and vice versa) —
  * both droppable to sort-merge — plus delta-sized appends. The
  * reconstruction [[table]] is one opens⟕closes join, and time travel
  * composes as `Scd2.sliceAt(Scd2Stream.table(...), ts)`.
  */
object Scd2Stream {

  private val VK = "__vk"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  private def withOcc(df: DataFrame): DataFrame =
    // copies within a checksum are IDENTICAL rows, so any stable
    // order yields the same multiset pairing (as in Scd2.updateSnapshot)
    df.withColumn("__occ", row_number().over(
      Window.partitionBy(col(Checksum)).orderBy(col(Checksum))))

  /** Merge one snapshot into the event-sourced table at `tablePath`
    * with transaction time `ts`. Exposed for tests/backfills; [[run]]
    * drives it per micro-batch. */
  def commitBatch(snapshot: DataFrame, tablePath: String, ts: String,
                  dataCols: Seq[String]): Unit = {
    val spark = snapshot.sparkSession
    val incO = withOcc(snapshot.select(dataCols.map(col): _*)
      .withColumn(Checksum, Scd2.checksum(dataCols)))
    val opensPath = s"$tablePath/opens"
    val closesPath = s"$tablePath/closes"
    val opens =
      if (exists(spark, opensPath)) spark.read.parquet(opensPath)
      else incO.withColumn(FromTs, lit(null).cast("string"))
        .withColumn(VK, lit(null).cast("string")).limit(0)
    val closes =
      if (exists(spark, closesPath)) spark.read.parquet(closesPath)
      else spark.range(0).select(lit("").as(VK),
        lit("").as(UntilTs)).limit(0)
    // pin the open set: both anti-joins below must see ONE listing
    val open = opens.join(closes.select(VK), Seq(VK), "left_anti")
      .localCheckpoint(true)
    val toClose = open
      .join(incO.select(Checksum, "__occ"), Seq(Checksum, "__occ"),
        "left_anti")
      .select(col(VK), lit(ts).as(UntilTs))
    Commits.appendIfAbsent(toClose, closesPath, VK)
    val toOpen = incO
      .join(open.select(Checksum, "__occ"), Seq(Checksum, "__occ"),
        "left_anti")
      .withColumn(FromTs, lit(ts))
      .withColumn(VK, concat_ws("#", col(Checksum), col("__occ"),
        col(FromTs)))
    // __occ persists — it is half of the version's multiset identity
    Commits.appendIfAbsent(toOpen, opensPath, VK)
  }

  /** Reconstruct the versioned table (the `updateSnapshot` shape:
    * payload + checksum + from_ts/until_ts) from the event store. */
  def table(spark: SparkSession, tablePath: String): DataFrame = {
    val opens = spark.read.parquet(s"$tablePath/opens")
    val closes = spark.read.parquet(s"$tablePath/closes")
      .withColumnRenamed(UntilTs, "__until")
    opens.join(closes, Seq(VK), "left")
      .withColumn(UntilTs, col("__until"))
      .drop(VK, "__until", "__occ")
  }

  /** Drive [[commitBatch]] from a snapshot stream: each micro-batch is
    * one full snapshot, stamped `tsOf(batchId)` (must be strictly
    * increasing across batches — e.g. a batch counter rendered as a
    * timestamp string). */
  def run(snapshots: DataFrame, tablePath: String, dataCols: Seq[String],
          tsOf: Long => String, checkpointDir: String): StreamingQuery =
    snapshots.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        commitBatch(batch.toDF(), tablePath, tsOf(id), dataCols)
      }
      .start()
}
