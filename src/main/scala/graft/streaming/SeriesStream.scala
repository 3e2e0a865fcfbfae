package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Intervals, KeyJoinFeatures, KeyedLocks}

/** Incrementally-maintained prevalence/incidence series under
  * continuous ingest — the streaming twin of `KeyJoinFeatures` for the
  * ADDITIVE aggregators (count/sum; min/max are not delta-mergeable).
  *
  * The insight that makes this cheap: the series is a prefix sum over
  * the per-(date, strata) DELTA AGGREGATE (+n at `valid_from`, −n at
  * `valid_until`), and that aggregate is mergeable — a new batch of
  * feature intervals contributes its own tiny delta frame, merged by
  * per-group addition. So the materialized state is the delta table
  * (one row per change date × stratum — bounded by the date × strata
  * grid, independent of raw data volume), and `series()` rebuilds the
  * cumsum from it with the same run-length emitter as the batch query.
  * 100 TB of history compresses to at most a date×strata grid; each
  * micro-batch costs one scan of ITSELF plus a delta-sized merge.
  *
  * Exactly-once: the high-water batch id (`_last_batch`) is written
  * into the delta directory and published by the same rename as the
  * data — an additive merge cannot self-correct a double-apply the way
  * a checksum merge can, so data and progress must move together. The
  * publish keeps the previous state as `delta.prev` until the new one
  * is in place; `recover()` rolls half-finished swaps forward or back,
  * so no crash point loses merged history. Batch ids are meaningful
  * only within one checkpoint lineage — `ingest` records the
  * checkpoint identity and refuses a mismatched or RESET checkpoint
  * over existing state (replayed ids would silently skip new batches).
  *
  * The incoming rows must already carry the stratification columns
  * (pre-joined); streaming truncate-interlace of separate strat feeds
  * is out of scope.
  */
class SeriesStream(
    spark: SparkSession,
    statePath: String,
    feature: String,
    stratCols: Seq[String],
    start: String,
    endInclusive: String,
    countAgg: Boolean = true) {

  private val deltaPath = s"$statePath/delta"
  private val prevPath = s"$statePath/delta.prev"
  private def fs = new Path(statePath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val startD = to_date(lit(start))
  private val endD = to_date(lit(endInclusive))
  private val endExclStr =
    java.time.LocalDate.parse(endInclusive).plusDays(1).toString

  /** A batch of feature intervals → its delta-aggregate contribution. */
  private[streaming] def deltaOf(batch: DataFrame): DataFrame = {
    val sc = stratCols.map(col)
    val featC = if (countAgg) lit(1L) else col(feature).cast("long")
    Intervals.clamp(
        batch.filter(Intervals.overlapsPeriod(startD, endD)),
        start, endExclStr)
      .select(sc :+ explode(array(
        struct(col(Intervals.ValidFrom).as("date"),
          featC.as("add"), lit(0L).as("remove")),
        struct(col(Intervals.ValidUntil).as("date"),
          lit(0L).as("add"), featC.as("remove")))).as("__d"): _*)
      .groupBy((sc :+ col("__d.date").as("date")): _*)
      .agg(sum(col("__d.add")).as("n_add"),
        sum(col("__d.remove")).as("n_remove"))
  }

  /** Roll a half-finished publish forward: if a crash hit between the
    * two renames, the previous state is still at `delta.prev` — restore
    * it; if the new state landed, drop the backup. Idempotent. */
  private def recover(): Unit = {
    val dst = new Path(deltaPath)
    val prev = new Path(prevPath)
    if (fs.exists(prev)) {
      if (fs.exists(dst)) fs.delete(prev, true) // publish completed
      else fs.rename(prev, dst) // crash mid-swap: roll back to previous
    }
  }

  /** High-water committed batch id, travelling inside the delta dir. */
  private def lastBatchId(): Long = {
    val f = new Path(s"$deltaPath/_last_batch")
    if (!fs.exists(f)) -1L
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  /** Merge one batch into the materialized delta table; idempotent per
    * `batchId` (ids ascend within a checkpoint lineage, so one
    * high-water mark suffices — O(1) progress state, not a marker per
    * batch). Same-JVM single-writer per statePath via `KeyedLocks`;
    * cross-process streams must not share a statePath. */
  def commitBatch(batch: DataFrame, batchId: Long): Unit =
    KeyedLocks.withLock(s"series#$statePath") {
      recover()
      if (batchId > lastBatchId()) {
        val incoming = deltaOf(batch)
        val merged =
          if (fs.exists(new Path(deltaPath)))
            spark.read.parquet(deltaPath)
              .unionByName(incoming)
              .groupBy((stratCols.map(col) :+ col("date")): _*)
              .agg(sum(col("n_add")).as("n_add"),
                sum(col("n_remove")).as("n_remove"))
          else incoming
        val tmp = new Path(s"$deltaPath.tmp")
        merged.write.mode("overwrite").parquet(tmp.toString)
        // progress marker travels with the data through the same rename
        val out = fs.create(new Path(tmp, "_last_batch"), true)
        out.write(batchId.toString.getBytes("UTF-8")); out.close()
        val dst = new Path(deltaPath)
        // keep the old state as a backup until the new one is in place:
        // a crash at any point leaves either dst or prev intact for
        // recover() — never silent loss of merged history
        if (fs.exists(dst)) fs.rename(dst, new Path(prevPath))
        fs.rename(tmp, dst)
        fs.delete(new Path(prevPath), true)
      }
    }

  /** Continuous ingest: one delta merge per micro-batch. Refuses
    * existing state whose checkpoint lineage does not match — including
    * a checkpoint RESET at the same path (metadata gone while the state
    * has commits): batch ids would restart at 0 and the high-water mark
    * would silently skip the new batches. Reset statePath together with
    * the checkpoint, or keep both. */
  def ingest(rows: DataFrame, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val epoch = new Path(s"$statePath/_epoch")
    val id = java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes("UTF-8")).toString
    recover()
    if (fs.exists(epoch)) {
      val in = fs.open(epoch)
      val prev =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      require(prev == id,
        s"state at $statePath was built under a different checkpoint " +
          "lineage; reset the state together with the checkpoint")
      val ckptStarted = fs.exists(
        new Path(new Path(checkpointDir), "metadata"))
      require(ckptStarted || lastBatchId() < 0L,
        s"checkpoint $checkpointDir was reset but state at $statePath " +
          "has commits; batch ids would restart and be skipped — reset " +
          "the state together with the checkpoint")
    } else {
      fs.mkdirs(new Path(statePath))
      // write-then-rename: a crash mid-write must not leave a torn
      // _epoch that bricks every later ingest with a lineage error
      val tmp = new Path(s"$statePath/_epoch.tmp")
      val out = fs.create(tmp, true)
      out.write(id.getBytes("UTF-8")); out.close()
      fs.rename(tmp, epoch)
    }
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], bid: Long) =>
        if (!batch.isEmpty) commitBatch(batch, bid)
      }
      .start()
  }

  /** The current series: the shared [[KeyJoinFeatures.dailySeries]]
    * emitter over the materialized delta plus one `start` row per
    * stratum — delta-sized work, no raw-data access. */
  def series(observableName: String): DataFrame = {
    // snapshot the (small) delta UNDER the lock: a lazily-returned
    // file scan would race the next commit's directory swap and hit
    // deleted files at action time. localCheckpoint materializes the
    // tiny frame eagerly and cuts the file lineage.
    val delta = KeyedLocks.withLock(s"series#$statePath") {
      recover()
      spark.read.parquet(deltaPath).localCheckpoint()
    }
    val sc = stratCols.map(col)
    val marked =
      if (stratCols.isEmpty) delta
      else delta.unionByName(delta.select(sc: _*).distinct()
        .select(sc ++ Seq(startD.as("date"), lit(0L).as("n_add"),
          lit(0L).as("n_remove")): _*))
    KeyJoinFeatures.dailySeries(marked, stratCols, observableName, start,
      endInclusive)
  }
}
