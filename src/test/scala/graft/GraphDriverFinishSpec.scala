package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, PageRank}

/** Parity battery for the graph-family driver finish (r14 verdict,
  * "graph-family round fusion"): below DriverFinishMaxEdges the
  * k-core / SCC / k-truss round loops collapse into one in-memory
  * pass — these tests pin the collapsed path to the distributed path
  * (forced with driverFinishMaxEdges = 0) on graphs that exercise
  * partial peels, fixpoints, mid-peel switches, cycles, and chains. */
class GraphDriverFinishSpec extends SparkSpec {
  import spark.implicits._

  // deterministic mixed graph: a 7-clique (high core), a long chain
  // (peels immediately), modular "random" edges, plus dangling tails
  private def undirectedEdges = (
    (for (i <- 0 until 7; j <- i + 1 until 7) yield (i.toLong, j.toLong)) ++
      (100L until 140L).map(i => (i, i + 1)) ++
      (0 until 120).map(i => ((i * 13 % 60).toLong, (i * 29 % 60 + 10).toLong)) ++
      Seq((200L, 201L), (201L, 202L), (202L, 200L), (202L, 203L))
  ).toDF("a", "b")

  private def directedEdges = (
    Seq((1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L), // chain into a 3-cycle
      (7L, 7L), // self loop (dropped)
      (8L, 9L), (9L, 10L), // pure chain (singletons)
      (10L, 8L), // closes an SCC {8,9,10}
      (20L, 21L)) ++ // dangling pair
      (0 until 50).map(i => ((30 + i % 10).toLong, (30 + (i * 3) % 10).toLong))
  ).toDF("s", "d")

  private def kcore(bound: Long, k: Int, rounds: Int) =
    Graph.kCore(undirectedEdges, "a", "b", k, rounds,
        driverFinishMaxEdges = bound)
      .as[(Long, Long)].collect().toSet

  test("kCore broadcast-fused rounds == shuffle rounds (r16 round " +
    "fusion: both sides of the broadcastMaxAliveNodes bound)") {
    for (k <- Seq(2, 3, 6); rounds <- Seq(1, 2, 50)) {
      val bcast = Graph.kCore(undirectedEdges, "a", "b", k, rounds,
          driverFinishMaxEdges = 0L,
          broadcastMaxAliveNodes = Long.MaxValue)
        .as[(Long, Long)].collect().toSet
      val shuffle = Graph.kCore(undirectedEdges, "a", "b", k, rounds,
          driverFinishMaxEdges = 0L, broadcastMaxAliveNodes = 0L)
        .as[(Long, Long)].collect().toSet
      assert(bcast == shuffle,
        s"broadcast != shuffle rounds at k=$k rounds=$rounds")
    }
  }

  private def scc(bound: Long) =
    Graph.stronglyConnected(directedEdges, "s", "d",
        driverFinishMaxEdges = bound)
      .as[(Long, Long)].collect().toSet

  private def ktruss(bound: Long, k: Int) =
    Graph.kTruss(undirectedEdges, "a", "b", k,
        driverFinishMaxEdges = bound)
      .as[(Long, Long, Long)].collect().toSet

  test("kCore driver finish == distributed: fixpoint, partial peels, " +
    "and the mid-peel switch") {
    for (k <- Seq(2, 3, 6); rounds <- Seq(0, 1, 2, 50)) {
      val dist = kcore(bound = 0L, k, rounds)
      assert(kcore(bound = Long.MaxValue, k, rounds) == dist,
        s"driver != distributed at k=$k rounds=$rounds")
      // mid-peel switch: start distributed, finish on the driver once
      // the residue shrinks under a tiny bound
      assert(kcore(bound = 30L, k, rounds) == dist,
        s"mid-peel switch diverged at k=$k rounds=$rounds")
    }
    assert(kcore(bound = Long.MaxValue, 3, 50).nonEmpty)
  }

  test("kCore mid-peel switch: remaining-rounds arithmetic under a " +
    "binding round cap (r15 advice)") {
    // An 80-edge path under k=2 peels exactly 2 edges per round, so
    // the live count crosses any bound at a PREDICTABLE round and the
    // peel is still in progress at the handoff — if the driver finish
    // received the wrong remaining-round budget (maxRounds instead of
    // maxRounds - round), the surviving edge count would differ and
    // parity would break. bound=79 switches after round 1, 75 after
    // round 3, 41 after round 20 (when the cap allows it); rounds=3
    // also exercises the no-switch path (cap reached first).
    val chain = (0L until 80L).map(i => (i, i + 1)).toDF("a", "b")
    def kc(bound: Long, rounds: Int) =
      Graph.kCore(chain, "a", "b", 2, rounds,
          driverFinishMaxEdges = bound)
        .as[(Long, Long)].collect().toSet
    for (rounds <- Seq(3, 10, 41); bound <- Seq(79L, 75L, 41L)) {
      val dist = kc(0L, rounds)
      assert(kc(bound, rounds) == dist,
        s"mid-peel remaining-rounds diverged at bound=$bound " +
          s"rounds=$rounds")
      // the partially-peeled chain keeps 80 - 2*rounds edges' worth of
      // interior nodes until the cap exceeds 40 rounds (then empty)
      if (rounds < 40) assert(dist.nonEmpty)
      else assert(dist.isEmpty)
    }
  }

  test("SCC driver Tarjan == distributed coloring") {
    val dist = scc(bound = 0L)
    val drv = scc(bound = Long.MaxValue)
    assert(drv == dist)
    // sanity: the planted cycles collapse to min-member labels
    assert(drv.filter(n => Set(1L, 2L, 3L)(n._1)).map(_._2) == Set(1L))
    assert(drv.filter(n => Set(4L, 5L, 6L)(n._1)).map(_._2) == Set(4L))
    assert(drv.filter(n => Set(8L, 9L, 10L)(n._1)).map(_._2) == Set(8L))
    assert(drv.contains((20L, 20L)) && drv.contains((21L, 21L)))
  }

  test("hits driver replay == distributed integer recurrence, " +
    "bit-equal") {
    for (iters <- Seq(0, 1, 4)) {
      val dist = Graph.hits(directedEdges, "s", "d", iters,
          driverFinishMaxEdges = 0L)
        .as[(Long, Long, Long)].collect().toSet
      val drv = Graph.hits(directedEdges, "s", "d", iters,
          driverFinishMaxEdges = Long.MaxValue)
        .as[(Long, Long, Long)].collect().toSet
      assert(drv == dist, s"hits diverged at iters=$iters")
    }
  }

  test("labelPropagation driver replay == distributed recurrence") {
    for (rounds <- Seq(0, 1, 5)) {
      val dist = Graph.labelPropagation(undirectedEdges, "a", "b",
          rounds, driverFinishMaxEdges = 0L)
        .as[(Long, Long)].collect().toSet
      val drv = Graph.labelPropagation(undirectedEdges, "a", "b",
          rounds, driverFinishMaxEdges = Long.MaxValue)
        .as[(Long, Long)].collect().toSet
      assert(drv == dist, s"lpa diverged at rounds=$rounds")
    }
  }

  test("PageRank family driver replay == distributed recurrences, " +
    "bit-equal: iterate, resume warm-start, weighted, personalized") {
    def pr(bound: Long, iters: Int) =
      PageRank.iterate(directedEdges, "s", "d", iters,
          driverFinishMaxEdges = bound)
        .as[(Long, Long)].collect().toSet
    for (iters <- Seq(0, 1, 5))
      assert(pr(Long.MaxValue, iters) == pr(0L, iters),
        s"iterate diverged at iters=$iters")
    // resume: warm-start from a 2-iter vector, 3 more rounds — both
    // paths, plus the resume law against straight 5-iter
    val warm = PageRank.iterate(directedEdges, "s", "d", 2,
      driverFinishMaxEdges = 0L).localCheckpoint(true)
    val r5d = PageRank.resume(warm, directedEdges, "s", "d", 3,
      driverFinishMaxEdges = 0L).as[(Long, Long)].collect().toSet
    val r5drv = PageRank.resume(warm, directedEdges, "s", "d", 3,
      driverFinishMaxEdges = Long.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(r5drv == r5d)
    assert(r5drv == pr(Long.MaxValue, 5))
    // weighted: deterministic integral weights >= 1
    val wEdges = directedEdges.select(col("s"), col("d"),
      (pmod(col("s") * 7 + col("d") * 3, lit(5)) + 1).as("w"))
    val wd = PageRank.iterateWeighted(wEdges, "s", "d", "w", 4,
      driverFinishMaxEdges = 0L).as[(Long, Long)].collect().toSet
    val wdrv = PageRank.iterateWeighted(wEdges, "s", "d", "w", 4,
      driverFinishMaxEdges = Long.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(wdrv == wd)
    // personalized: seeds include ghosts (ignored on both paths)
    val seeds = Seq(1L, 8L, 30L, 9999L).toDF("sid")
    val pd = PageRank.personalized(directedEdges, "s", "d", seeds,
      "sid", 4, driverFinishMaxEdges = 0L)
      .as[(Long, Long)].collect().toSet
    val pdrv = PageRank.personalized(directedEdges, "s", "d", seeds,
      "sid", 4, driverFinishMaxEdges = Long.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(pdrv == pd)
    // resume on a grown edge set: node 99 is new since the warm ranks
    // and starts at its uniform share on both paths, values included
    val grown = directedEdges.union(Seq((4L, 99L), (99L, 1L)).toDF("s", "d"))
    def grownResume(bound: Long) = PageRank.resume(warm, grown, "s", "d",
        3, driverFinishMaxEdges = bound)
      .as[(Long, Long)].collect().toSet
    val gd = grownResume(0L)
    assert(gd.exists(_._1 == 99L))
    assert(grownResume(Long.MaxValue) == gd)
    // empty edge set: every variant refuses it the same way on both
    // paths
    val none = Seq.empty[(Long, Long)].toDF("s", "d")
    val noneW = Seq.empty[(Long, Long, Long)].toDF("s", "d", "w")
    for (bound <- Seq(0L, Long.MaxValue)) {
      val variants = Seq[(String, () => Any)](
        "iterate" -> (() =>
          PageRank.iterate(none, "s", "d", 2, driverFinishMaxEdges = bound)),
        "resume" -> (() => PageRank.resume(warm, none, "s", "d", 2,
          driverFinishMaxEdges = bound)),
        "iterateWeighted" -> (() => PageRank.iterateWeighted(noneW, "s",
          "d", "w", 2, driverFinishMaxEdges = bound)),
        "personalized" -> (() => PageRank.personalized(none, "s", "d",
          seeds, "sid", 2, driverFinishMaxEdges = bound)))
      for ((name, run) <- variants) {
        val err = intercept[IllegalArgumentException](run())
        assert(err.getMessage.contains("empty edge set"),
          s"$name at bound $bound: ${err.getMessage}")
      }
    }
  }

  test("betweennessFromSeeds driver Brandes replay == distributed " +
    "DAG, bit-equal") {
    val seeds = Seq(1L, 8L, 30L, 100L).toDF("sid")
    for (hops <- Seq(1, 3, 8)) {
      val dist = Graph.betweennessFromSeeds(directedEdges, "s", "d",
          seeds, "sid", maxHops = hops, driverFinishMaxWork = 0L)
        .as[(Long, Long)].collect().toSet
      val drv = Graph.betweennessFromSeeds(directedEdges, "s", "d",
          seeds, "sid", maxHops = hops,
          driverFinishMaxWork = Long.MaxValue)
        .as[(Long, Long)].collect().toSet
      assert(drv == dist, s"betweenness diverged at maxHops=$hops")
    }
  }

  test("bfsDistance / shortestPaths / closeness driver replays == " +
    "distributed frontier loops") {
    val seeds = Seq(1L, 8L, 30L, 9999L).toDF("sid")
    for (hops <- Seq(0, 1, 3, 10)) {
      val bd = Graph.bfsDistance(directedEdges, "s", "d", seeds, "sid",
          hops, driverFinishMaxEdges = 0L)
        .as[(Long, Long)].collect().toSet
      assert(Graph.bfsDistance(directedEdges, "s", "d", seeds, "sid",
          hops, driverFinishMaxEdges = Long.MaxValue)
        .as[(Long, Long)].collect().toSet == bd,
        s"bfs diverged at maxHops=$hops")
      val cd = Graph.closenessFromSeeds(directedEdges, "s", "d", seeds,
          "sid", hops, driverFinishMaxWork = 0L)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(Graph.closenessFromSeeds(directedEdges, "s", "d", seeds,
          "sid", hops, driverFinishMaxWork = Long.MaxValue)
        .as[(Long, Long, Long, Long)].collect().toSet == cd,
        s"closeness diverged at maxHops=$hops")
    }
    val wEdges = directedEdges.select(col("s"), col("d"),
      pmod(col("s") * 11 + col("d"), lit(7)).as("w")) // includes 0s
    for (rounds <- Seq(0, 1, 4)) {
      val sd = Graph.shortestPaths(wEdges, "s", "d", "w", seeds, "sid",
          rounds, driverFinishMaxEdges = 0L)
        .as[(Long, Long)].collect().toSet
      assert(Graph.shortestPaths(wEdges, "s", "d", "w", seeds, "sid",
          rounds, driverFinishMaxEdges = Long.MaxValue)
        .as[(Long, Long)].collect().toSet == sd,
        s"shortestPaths diverged at rounds=$rounds")
    }
  }

  test("kTruss driver peel == distributed support peel") {
    for (k <- Seq(3, 4, 7)) {
      val dist = ktruss(bound = 0L, k)
      assert(ktruss(bound = Long.MaxValue, k) == dist,
        s"driver != distributed at k=$k")
    }
    // the 7-clique survives k=7 truss (support 5 = k-2 on every edge)
    val t7 = ktruss(bound = Long.MaxValue, 7)
    assert(t7.map(e => (e._1, e._2)).toSet ==
      (for (i <- 0 until 7; j <- i + 1 until 7)
        yield (i.toLong, j.toLong)).toSet)
  }
}
