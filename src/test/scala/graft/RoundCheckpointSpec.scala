package graft

import graft.operators.{ConnectedComponents, Graph}

/** Forced-distributed round loops release every superseded generation:
  * the persisted-RDD count grows by the output's own checkpoints, not
  * by the number of rounds. The ContextCleaner may release more on a
  * GC during the run, so the growth is bounded, not pinned. */
class RoundCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def growth(run: => Long): Int = {
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(run >= 0L)
    spark.sparkContext.getPersistentRDDs.size - before
  }

  /** Support-peel rounds of the k-truss loop, the last one finding
    * nothing to drop, counted on the driver. */
  private def peelRounds(es: Seq[(Long, Long)], k: Int): Int = {
    var live = es.collect { case (u, v) if u != v => (u min v, u max v) }
      .toSet
    var rounds = 0
    var dropped = Set((0L, 0L))
    while (dropped.nonEmpty) {
      rounds += 1
      val adj = (live.toSeq ++ live.toSeq.map(_.swap)).groupMap(_._1)(_._2)
        .map { case (n, ns) => n -> ns.toSet }
      dropped = live.filter { case (u, v) => (adj(u) & adj(v)).size < k - 2 }
      live --= dropped
    }
    rounds
  }

  test("kTruss and CC round loops keep no superseded checkpoint") {
    val rnd = new scala.util.Random(10)
    val es = (1 to 160).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    assert(peelRounds(es, 4) >= 6)
    assert(growth(Graph.kTruss(es.toDF("a", "b"), "a", "b", 4,
      driverFinishMaxEdges = 0L).count()) <= 1) // the support table
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    var rounds = 0
    assert(growth {
      val (labels, r) = ConnectedComponents.labelsWithRounds(
        chain, "a", "b", driverFinishMaxEdges = 0L)
      rounds = r
      labels.count()
    } <= 2) // the node table and the final edge generation
    assert(rounds >= 6)
  }
}
