package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `train_pipeline`: the training-data engine. Operators and
  * `Materialize` do all the work; no store code runs.
  *
  * Each pass runs [[Queries]] from the catalog behind
  * `SparkEntry.queries`, in a fixed order, and collects each result:
  * graph round loops (k-core, k-truss), n-gram near-dup detection, the
  * suffix-array + MinHash curation chain, and a shuffle-heavy Spearman
  * rank correlation. Passes repeat until the run's time is up. The order
  * is fixed because the first queries of a session still run slower, and
  * a seeded order would move that cost between queries from run to run;
  * the seed varies the data.
  *
  * The first result of each query is written under `<work>/checks` for
  * the DuckDB oracle check that runs after the JVM exits; later passes
  * must return the same rows. */
object TrainPipeline {
  val Queries: Seq[String] = Seq("q133_kcore", "q214_ktruss",
    "q21_dedup_ngram", "q274_sa_lsh_pack", "q179_spearman")

  /** The session's first jobs pay for class loading and code generation
    * that no query should absorb: run the common operators once. */
  def warmUp(spark: SparkSession, data: String): Unit = {
    val li = spark.read.parquet(s"$data/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_returnflag").limit(20000)
    val pairs = li.join(li.withColumnRenamed("l_partkey", "v"), "l_orderkey")
      .groupBy("l_partkey", "v").count()
    pairs.join(broadcast(pairs.limit(100)), Seq("l_partkey"), "left_anti")
      .withColumn("r", row_number().over(
        Window.partitionBy("v").orderBy(col("count").desc)))
      .filter(col("r") === 1).localCheckpoint(true).count()
    spark.read.parquet(s"$data/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w")).distinct().collect()
  }

  def run(ctx: Ctx): Result = {
    val t0 = System.nanoTime()
    val spark = ctx.newSession()
    val fns = SparkEntry.queries
    val checks = s"${ctx.work}/checks"
    warmUp(spark, ctx.data)
    val setup = (System.nanoTime() - t0) / 1e9

    val tracer = if (ctx.trace) Some(new Tracer(spark.sparkContext)) else None
    val rec = new Recorder(ctx, spark, tracer)
    val jvm = new JvmProbe
    val ops = mutable.Map.empty[String, Int].withDefaultValue(0)
    val firstRows = mutable.Map.empty[String, Seq[String]]
    def passes(withTrace: Boolean): Seq[Double] = {
      val out = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      var tried = 0
      while ((tried == 0 || System.nanoTime() < deadline) && !rec.stopped) {
        tried += 1
        var pass = 0.0
        var ok = true
        for (q <- Queries if !rec.stopped) {
          // an operator's leftover cache must not serve the next query
          spark.catalog.clearCache()
          rec.op("query", q, withTrace) {
            val df = rec.span("packs.build", q)(fns(q)(spark, ctx.data))
            (df.schema, rec.span("packs.collect", q)(df.collect()))
          } match {
            case Some((schema, rows)) =>
              pass += rec.latencies("query").last
              ops(q) += 1
              val got = rows.map(_.toSeq.mkString("|")).sorted.toSeq
              firstRows.get(q) match {
                // the first result goes to the DuckDB oracle check; later
                // executions must return the same rows
                case None =>
                  firstRows(q) = got
                  spark.createDataFrame(java.util.Arrays.asList(rows: _*),
                    schema).write.parquet(s"$checks/$q")
                case Some(first) => rec.check(s"$q repeat")(got == first)
              }
            case None => ok = false
          }
        }
        if (ok) out += pass
      }
      out.toSeq
    }
    val (measured, again) = Measure(ctx, spark, jvm)(passes)
    val untraced = again.getOrElse(Nil)
    rec.runChecks()
    // executions per query, so that a wrong output fails every timed
    // execution that returned it
    Files.createDirectories(Paths.get(checks))
    Json.writeObject(s"$checks/ops.json", Queries.map(q => q -> ops(q)))
    Json.writeObject(s"$checks/oracle_sql.json",
      Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)))
    val queries = rec.latencies.getOrElse("query", mutable.ArrayBuffer.empty)
    val result = Report.outcome(rec, tracer, jvm, setup, queries.toSeq,
      measured, untraced, Map.empty)
    rec.shutdown()
    spark.stop()
    result
  }
}
