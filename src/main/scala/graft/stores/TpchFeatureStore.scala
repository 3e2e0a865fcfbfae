package graft.stores

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.core._
import graft.functions.Ages

/** A concrete feature store over the driver's TPC-H-ish testdata —
  * the structural equivalent of the reference's DiseasystoreSimulist
  * (reference: R/DiseasystoreSimulist.R): individual-level keys
  * (customers), episode observables (orders), slowly/continuously
  * changing stratifications (market segment, nation, age group computed
  * by birthday segmentation).
  */
object TpchFeatureStore {

  val AgeCuts: Seq[Int] = Seq(20, 40, 60)

  /** Age intervals: one row per (customer, age) with validity between
    * consecutive birthdays, covering [start, end]
    * (reference: R/DiseasystoreSimulist.R:80-119 simulist_age). */
  def ageGroupFeature(spark: SparkSession, sfDir: String,
                      start: String, end: String): DataFrame = {
    val b = Queries.births(spark, sfDir)
    // ages held in [start, end] plus one (addYears starts a Feb-29 age on
    // Feb 28, a day before ageOnDate counts it); the filter drops surplus
    b.select(col("c_custkey").as("key_cust"), col("birth"),
        explode(sequence(Ages.ageOnDate(col("birth"), to_date(lit(start))),
          Ages.ageOnDate(col("birth"), to_date(lit(end))) + 1)).as("age"))
      .withColumn("valid_from", Ages.addYears(col("birth"), col("age")))
      .withColumn("valid_until", Ages.addYears(col("birth"), col("age") + 1))
      .filter(col("valid_from") <= lit(end) && col("valid_until") > lit(start))
      .select(col("key_cust"),
        Ages.cutAges(col("age"), AgeCuts).as("age_group"),
        col("valid_from"), col("valid_until"))
  }

  def apply(spark: SparkSession, sfDir: String, storePath: String,
            commitProtocol: Committer = Committer.Rename): FeatureStore =
    new FeatureStore(
    spark, sfDir, storePath,
    minStartDate = Some("1992-01-01"),
    maxEndDate = Some("1998-12-31"),
    storeScope = Some("TpchOrders"),
    commitProtocol = commitProtocol,
    dsMap = Seq(
      "n_orders" -> "order_episodes",
      "n_first_order" -> "first_order_episode",
      "mktsegment" -> "customer_segment",
      "age_group" -> "customer_age_group",
      "nation" -> "customer_nation"),
    loaders = Map(
      "order_episodes" -> FeatureHandler(
        (st, s0, e0) =>
          Intervals.slice(Queries.orderIntervals(st.spark, st.sfDir), s0, e0),
        Aggregators.Count, ""),
      "first_order_episode" -> FeatureHandler(
        (st, s0, e0) => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("key_cust"))
            .orderBy(col("valid_from"), col("o_orderkey"))
          Intervals.slice(Queries.orderIntervals(st.spark, st.sfDir), s0, e0)
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        },
        Aggregators.Count, ""),
      "customer_segment" -> FeatureHandler(
        (st, s0, e0) =>
          Intervals.slice(Queries.segmentFeature(st.spark, st.sfDir), s0, e0),
        Aggregators.Count, ""),
      "customer_age_group" -> FeatureHandler(
        (st, s0, e0) => ageGroupFeature(st.spark, st.sfDir, s0, e0),
        Aggregators.Count, ""),
      "customer_nation" -> FeatureHandler(
        (st, s0, e0) => {
          val c = Tables.load(st.spark, st.sfDir, "customer")
          val n = Tables.load(st.spark, st.sfDir, "nation")
          c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
            .select(col("c_custkey").as("key_cust"),
              col("n_name").as("nation"),
              to_date(lit("1990-01-01")).as("valid_from"),
              lit(null).cast("date").as("valid_until"))
        },
        Aggregators.Count, "")))
}
