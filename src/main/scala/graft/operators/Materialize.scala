package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Eager localCheckpoint variants that deliver aggregate metrics from
  * the SAME materialization job via a named CollectMetrics node (r18,
  * guide §1.2/§2.4): the graph family's prep and round loops all
  * followed `localCheckpoint(true)` with a separate `count()` /
  * `isEmpty()` action — one extra job-scheduling floor per call and
  * per ROUND, which dominates small and residue-sized inputs, plus (in
  * the r17 prep shape) a whole second materialization of the edge set
  * above the driver-finish bound just to read its count first.
  * CollectMetrics is exactly-once per successful query — task retries
  * don't double-count — so the observed values equal what the separate
  * action would have returned.
  *
  * Deliberately the STRING-named `observe` + `queryExecution.
  * observedMetrics`, NOT `org.apache.spark.sql.Observation`: the
  * Observation variant registers with the session's ObservationManager
  * — a non-serializable, lazily-initialized SparkSession field — and
  * once initialized it breaks ANY later task closure that drags the
  * session through Java serialization (Spark ML models with training
  * summaries do; MlSpec caught exactly that). The named variant only
  * plants the plan node; metrics are read back from the executed
  * QueryExecution after the checkpoint action, synchronously. */
private[graft] object Materialize {

  private val seq = new AtomicLong()

  /** Plant metrics, checkpoint eagerly, read the metrics row back from
    * the query execution the checkpoint action ran. */
  private def ck(df: DataFrame, metrics: Seq[Column],
      key: Option[Column]): (DataFrame, Row) = {
    val name = s"__graft_ck_${seq.incrementAndGet()}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val toRun = key.fold(observed)(observed.repartition(_))
    val ckd = toRun.localCheckpoint(true)
    (ckd, toRun.queryExecution.observedMetrics(name))
  }

  /** localCheckpoint(true) + row count, one job. */
  def ckCount(df: DataFrame): (DataFrame, Long) = {
    val (ckd, row) = ck(df, Seq(count(lit(1)).as("__n")), None)
    (ckd, row.getLong(0))
  }

  /** The graph-prep shape, single-materialization (r17 verdict item
    * 3): dedup/projection → `repartition(key)` → localCheckpoint, with
    * the driver-finish bound count observed on the way in — ONE edge
    * materialization on every branch (r17 checkpointed the narrow
    * frame, counted it, then checkpointed the repartitioned frame
    * again: above the bound the edge set was written and read twice).
    * Below the bound the repartition exchange runs over a bound-capped
    * row count — cheaper than the separate count job it replaces. */
  def ckRepartitionCount(df: DataFrame, key: Column): (DataFrame, Long) = {
    val (ckd, row) = ck(df, Seq(count(lit(1)).as("__n")), Some(key))
    (ckd, row.getLong(0))
  }

  /** localCheckpoint(true) + arbitrary observed aggregates, one job.
    * Returns the checkpointed frame and the metric map (null-valued
    * aggregates — e.g. min over an empty frame — map to null). */
  def ckObserve(df: DataFrame, metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val (ckd, row) = ck(df, metrics, None)
    (ckd, row.schema.fieldNames.zip(row.toSeq).toMap)
  }

  /** [[ckRepartitionCount]] with arbitrary observed aggregates
    * (observed BEFORE the repartition — same rows either way). */
  def ckRepartitionObserve(df: DataFrame, key: Column,
      metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val (ckd, row) = ck(df, metrics, Some(key))
    (ckd, row.schema.fieldNames.zip(row.toSeq).toMap)
  }

  /** Release the persisted blocks of every localCheckpoint `df` reads
    * (its LogicalRDD leaves — `df` itself when it is a checkpoint) NOW.
    * Dataset-level unpersist() is a NO-OP for checkpoint RDDs (they are
    * not tracked by the CacheManager — r17 ADVICE), so without this the
    * round loops' superseded generations sit in executor storage until
    * the ContextCleaner GCs them. Only for frames whose every
    * checkpoint is dead: a later read of a freed checkpoint fails. */
  def free(df: DataFrame): Unit = df.queryExecution.logical
    .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
    // a checkpoint read twice is one RDD: two async removals race
    .distinctBy(_.id).foreach(_.unpersist(false))
}
