package graft

import graft.operators.{ConnectedComponents, Dedup}

/** Large-star/small-star connected components: logarithmic convergence
  * on deep chains, and both entry points ([[ConnectedComponents.run]]
  * and [[Dedup.nearDupClusters]]) on both paths (union-find driver
  * finish, distributed loop) against an in-test BFS reference. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** node → smallest id reachable from it, by BFS over a driver
    * adjacency map; a pair with a null side links nothing, and the
    * null id labels as itself. */
  private def bfsMinLabels(pairs: Seq[(Option[Long], Option[Long])])
      : Map[Option[Long], Option[Long]] = {
    val links = pairs.collect { case (Some(a), Some(b)) => (a, b) }
    val adj = (links ++ links.map(_.swap)).groupMap(_._1)(_._2)
    val labels = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map {
      case None => None -> None
      case Some(n) =>
        var seen = Set(n)
        var frontier = List(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Nil))
            .filterNot(seen).distinct
          seen ++= frontier
        }
        Some(n) -> Some(seen.min)
    }
    labels.toMap
  }

  private def collectLabels(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      Option(r.get(0)).map(_.asInstanceOf[Long]) ->
        Option(r.get(1)).map(_.asInstanceOf[Long])).toMap

  test("deep chain collapses to its minimum in logarithmic rounds") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = ConnectedComponents.labelsWithRounds(
      chain, "a", "b", driverFinishMaxEdges = 0L) // force distributed
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L))
    // diameter 199; min-label propagation would need ~199 rounds
    assert(rounds <= 12, s"took $rounds rounds")
  }

  test("nearDupClusters labels a 200-node chain at the default maxIter") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.nearDupClusters(chain, "a", "b",
      driverFinishMaxEdges = 0L).as[(Long, Long)].collect()
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("random graph: run and nearDupClusters match a BFS reference") {
    val rnd = new scala.util.Random(13)
    val raw = (1 to 250).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    val want = bfsMinLabels(raw.map { case (a, b) => (Some(a), Some(b)) })
    val pairs = raw.toDF("a", "b")
    for (bound <- Seq(ConnectedComponents.CcDriverFinishMaxEdges, 0L)) {
      val cc = collectLabels(ConnectedComponents.run(pairs, "a", "b",
        driverFinishMaxEdges = bound))
      val nd = collectLabels(Dedup.nearDupClusters(pairs, "a", "b",
        driverFinishMaxEdges = bound).select("doc_id", "cluster_id"))
      assert(cc == want && want.nonEmpty, s"run at bound $bound")
      assert(nd == want, s"nearDupClusters at bound $bound")
    }
  }

  test("null ids link nothing and label as themselves (both entry points)") {
    val raw = Seq[(Option[Long], Option[Long])]((Some(1L), None),
      (Some(2L), Some(3L)), (None, Some(5L)), (Some(5L), Some(6L)),
      (None, None), (Some(8L), Some(8L)), (Some(9L), None))
    val want = bfsMinLabels(raw)
    val pairs = raw.toDF("a", "b")
    for (bound <- Seq(ConnectedComponents.CcDriverFinishMaxEdges, 0L)) {
      assert(collectLabels(ConnectedComponents.run(pairs, "a", "b",
        driverFinishMaxEdges = bound)) == want, s"run at bound $bound")
      assert(collectLabels(Dedup.nearDupClusters(pairs, "a", "b",
        driverFinishMaxEdges = bound)) == want,
        s"nearDupClusters at bound $bound")
    }
  }

  test("self-loops, duplicates and empty input (both paths)") {
    val weird = Seq((7L, 7L), (1L, 2L), (2L, 1L), (1L, 2L))
      .toDF("a", "b")
    val got = ConnectedComponents.run(weird, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
    val gotDist = ConnectedComponents.run(weird, "a", "b",
        driverFinishMaxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(gotDist == got)
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.run(empty, "a", "b").count() == 0L)
    assert(ConnectedComponents.run(empty, "a", "b",
      driverFinishMaxEdges = 0L).count() == 0L)
  }

  test("non-bigint ids keep their type through the star loop") {
    // the driver twin only claims bigint graphs
    val intPairs = Seq((1, 2), (2, 3), (7, 7)).toDF("a", "b")
    val out = Dedup.nearDupClusters(intPairs, "a", "b")
    assert(out.schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(out.schema("cluster_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(out.as[(Int, Int)].collect().toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7))
  }
}
