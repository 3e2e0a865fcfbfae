package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph structure metrics for corpus curation — the quality
  * priors next to [[PageRank]]: local clustering (triangle density)
  * separates organic link neighborhoods from link farms (spam pages
  * interlink heavily but their neighbors don't interlink), HITS
  * hub/authority scores rank aggregator vs content domains, and the
  * k-core separates the densely-connected backbone from peripheral
  * pages. No counterpart in ssi-dk/diseasystore; formulations follow
  * the public literature (Schank & Wagner 2005 degree-ordered triangle
  * counting; Kleinberg 1999 HITS; Batagelj & Zaversnik 2003 core
  * decomposition), re-expressed as DataFrame joins.
  *
  * All three are EXACT-INTEGER: every value is a 64-bit count or a
  * floored fixed-point ratio computed identically by any engine, so
  * the driver queries hash-check against DuckDB (triangles as plain
  * joins, HITS/k-core as recursive CTEs).
  */
object Graph {

  /** Canonical undirected simple edges: self-loops dropped, (u,v)
    * ordered u < v, duplicates collapsed. */
  def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Exact per-node triangle count + local clustering coefficient (in
    * basis points, floored). Output: (node, degree, triangles, cc_bp).
    *
    * Scale: the classic degree-ordered orientation — each undirected
    * edge points from its lower-(degree, id) endpoint to the higher —
    * bounds every node's out-degree by O(√m), so the wedge join
    * generates O(m^1.5) candidates TOTAL regardless of skew (a
    * celebrity node's million neighbors produce no wedges at the
    * celebrity; its low-degree neighbors each produce few). Wedges
    * shuffle on the apex (co-located with the orientation join), the
    * closure check is one equi-join on the wedge's outer pair, and the
    * per-node rollup is a count aggregate. No windows, no driver data.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint(true) // three consumers: degrees, orientation, closure
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .localCheckpoint(true) // consumed by orientation + final join
    // orient: (a -> b) iff (deg(a), a) < (deg(b), b); total order, so
    // exactly one direction per edge and out-degrees are O(sqrt(m)).
    // __bd rides along = deg(b), the head's orientation key, so wedge
    // pairs can be ordered without re-joining degrees.
    val du = deg.select(col("node").as("u"), col("degree").as("__du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("__dv"))
    val uFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    val oriented = und.join(du, Seq("u")).join(dv, Seq("v"))
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b"),
        when(uFirst, col("__dv")).otherwise(col("__du")).as("__bd"))
      // NOTE (r18 audit, verdict item 8): pre-partitioning this
      // checkpoint by the wedge apex to delete the self-join's two
      // exchanges was TRIED and does not work on Spark 4 with AQE —
      // Dataset.localCheckpoint reads outputPartitioning from the
      // executed AdaptiveSparkPlanExec, which reports
      // UnknownPartitioning for shuffled plans, so the LogicalRDD
      // comes back partition-blind and EnsureRequirements re-inserts
      // both exchanges anyway (measured: q131 plan identical, plus a
      // wasted construction shuffle). The two apex exchanges stay.
      .localCheckpoint(true) // wedge self-join + closure probe
    // ordered wedges (b, c) with b before c in the orientation order:
    // a triangle's three oriented edges form a -> b -> c, so it is
    // found exactly once — at its unique apex a, closed by edge b -> c
    val wedges = oriented
      .join(oriented.select(col("a"), col("b").as("c"), col("__bd").as("__cd")),
        Seq("a"))
      .filter(col("__bd") < col("__cd") ||
        (col("__bd") === col("__cd") && col("b") < col("c")))
    val tris = wedges.join(
        oriented.select(col("a").as("__bb"), col("b").as("__cc")),
        col("b") === col("__bb") && col("c") === col("__cc"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_bp",
        when(col("degree") >= 2,
          expr("(20000L * triangles) div (degree * (degree - 1L))"))
          .otherwise(lit(0L)))
  }

  /** Effective HITS fixed-point scale: the largest s ≤ `scale` with
    * s²·dmax ≤ 2⁶³−1, so the normalization product `raw · s` (raw ≤
    * s·dmax) can never overflow a long. Exact-integer adjusted from a
    * double sqrt seed — no float can sneak an off-by-one past the
    * BigInt check. */
  private[graft] def hitsScale(scale: Long, dmax: Long): Long = {
    val d = math.max(dmax, 1L)
    var s = math.min(scale,
      math.sqrt(Long.MaxValue.toDouble / d).toLong + 1L)
    while (s > 0 && BigInt(s) * s * d > BigInt(Long.MaxValue)) s -= 1
    require(s > 0, s"max degree $dmax admits no positive scale")
    s
  }

  /** Edge bound for the PER-EDGE-LINEAR fixed-iteration recurrences
    * (HITS, label propagation): unlike the structural peels their
    * driver round is a plain O(m) map fold — no set intersections —
    * so the collect pays off at much larger sizes than
    * [[DriverFinishMaxEdges]]. MEASURED at sf0.1/local[32] (isolated
    * fresh-JVM): q132_hits (~500k-edge trade graph, 4 renormalized
    * iterations = ~8 shuffles + 2 scalar totals each) and
    * q137_communities both collapse their whole iteration into one
    * collected pass; see the commit-recorded before/after numbers. */
  private[graft] val IterDriverFinishMaxEdges = 2L * 1000 * 1000

  /** Integer fixed-point HITS (Kleinberg 1999): `iters` rounds of
    * auth(v) = Σ hub(in-neighbors), hub(u) = Σ auth(out-neighbors),
    * each renormalized to sum ≈ `scale` by floored integer division
    * after every half-step — so every intermediate is a 64-bit integer
    * and the whole iteration hash-checks against a recursive CTE.
    * Output: (node, hub, auth) over all endpoint nodes.
    *
    * Scale: edges repartition by src once and checkpoint; each round
    * is two co-located joins + two keyed aggregates (the PageRank
    * posture, twice per round). The normalizing totals are 1-row
    * aggregates broadcast back — never a collect, never a window over
    * node rows. Overflow: normalized values sum to ≤ scale, a raw
    * half-step value is ≤ scale·dmax, and the normalization product is
    * ≤ scale²·dmax — so the EFFECTIVE scale is auto-derived as the
    * largest s ≤ `scale` with s²·dmax ≤ 2⁶³−1 ([[hitsScale]]): a
    * web-scale hub degrades fixed-point precision instead of refusing
    * to run (ANSI mode would otherwise throw mid-task on overflow).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int, scale: Long = 1000000L,
           driverFinishMaxEdges: Long = IterDriverFinishMaxEdges)
      : DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(scale > 0, "scale must be positive")
    val (e, nEdges) = dedupEdges(edges, srcCol, dstCol)
    if (driverFinishMaxEdges > 0 && nEdges <= driverFinishMaxEdges)
      return hitsDriver(e, iters, scale)
    val (nodes, n) = Materialize.ckCount(nodesOf(e))
    require(n > 0, "empty edge set")
    val dmax = e.select(col("__src").as("n"))
      .union(e.select(col("__dst")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head.getLong(0)
    val eff = hitsScale(scale, dmax)
    if (eff < scale)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"hits: requested scale $scale degraded to effective scale " +
          s"$eff (max degree $dmax) — read results in units of $eff")

    var hub = nodes.withColumn("hub", lit(eff))
    var auth = nodes.withColumn("auth", lit(eff))
    for (_ <- 0 until iters) {
      val rawA = e.join(hub.withColumnRenamed("node", "__src"), Seq("__src"))
        .groupBy(col("__dst")).agg(sum(col("hub")).as("__ra"))
        .localCheckpoint(true) // total + normalize read it
      val aTot = rawA.agg(sum(col("__ra")).as("__t"))
      val na = rawA.crossJoin(broadcast(aTot))
        .select(col("__dst").as("node"),
          expr(s"__ra * ${eff}L div greatest(__t, 1L)").as("auth"))
      val rawH = e.join(na.withColumnRenamed("node", "__dst"), Seq("__dst"))
        .groupBy(col("__src")).agg(sum(col("auth")).as("__rh"))
        .localCheckpoint(true)
      val hTot = rawH.agg(sum(col("__rh")).as("__t"))
      val nh = rawH.crossJoin(broadcast(hTot))
        .select(col("__src").as("node"),
          expr(s"__rh * ${eff}L div greatest(__t, 1L)").as("hub"))
      auth = nodes.join(na, Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"))
        .localCheckpoint(true)
      hub = nodes.join(nh, Seq("node"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"))
        .localCheckpoint(true)
    }
    hub.join(auth, Seq("node"))
  }

  /** In-memory twin of [[hits]]' iteration — the IDENTICAL integer
    * recurrence (same eff scale, same Σ-then-`div greatest(tot,1)`
    * renormalization per half-step, absent nodes 0) over collected
    * distinct edges, so the fixed-point sequence is bit-equal to the
    * distributed one. Long sums cannot overflow: per-node raw ≤
    * dmax·eff² ≤ Long.Max by [[hitsScale]]; totals ≤ m·eff. */
  private def hitsDriver(e: DataFrame, iters: Int, scale: Long)
      : DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val es = e.select(col("__src"), col("__dst"))
      .as[(Long, Long)].collect()
    require(es.nonEmpty, "empty edge set")
    val deg = new java.util.HashMap[Long, Long]()
    es.foreach { case (s, d) =>
      deg.merge(s, 1L, _ + _); deg.merge(d, 1L, _ + _)
    }
    import scala.jdk.CollectionConverters._
    val nodes = deg.keySet().asScala.toArray
    var dmax = 0L
    deg.values().forEach(v => if (v > dmax) dmax = v)
    val eff = hitsScale(scale, dmax)
    if (eff < scale)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"hits: requested scale $scale degraded to effective scale " +
          s"$eff (max degree $dmax) — read results in units of $eff")
    val hub = new java.util.HashMap[Long, Long]()
    val auth = new java.util.HashMap[Long, Long]()
    nodes.foreach { n => hub.put(n, eff); auth.put(n, eff) }
    for (_ <- 0 until iters) {
      val rawA = new java.util.HashMap[Long, Long]()
      es.foreach { case (s, d) => rawA.merge(d, hub.get(s), _ + _) }
      var tot = 0L
      rawA.values().forEach(v => tot += v)
      val den = math.max(tot, 1L)
      nodes.foreach { n =>
        auth.put(n, rawA.getOrDefault(n, 0L) * eff / den)
      }
      val rawH = new java.util.HashMap[Long, Long]()
      es.foreach { case (s, d) => rawH.merge(s, auth.get(d), _ + _) }
      var tot2 = 0L
      rawH.values().forEach(v => tot2 += v)
      val den2 = math.max(tot2, 1L)
      nodes.foreach { n =>
        hub.put(n, rawH.getOrDefault(n, 0L) * eff / den2)
      }
    }
    nodes.toSeq.map(n => (n, hub.get(n): Long, auth.get(n): Long))
      .toDF("node", "hub", "auth")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * undirected graph: every node starts as its own community, then
    * `rounds` times adopts the most frequent label among its
    * neighbors AND itself (the self-vote damps the bipartite
    * oscillation of pure-sync LPA), ties broken by smallest label —
    * fully deterministic, so the whole iteration hash-checks against
    * a recursive CTE. Output: (node, label) after exactly `rounds`
    * rounds.
    *
    * Scale: the propagation frame (both edge directions + one
    * self-loop per node) is repartitioned by src once and
    * checkpointed; each round is one co-located join + a two-level
    * aggregate — (node, label) counts, then per-node argmax via
    * max(struct(count, -label)) — partial aggregation absorbs hot
    * communities map-side, and there is no window anywhere. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int,
                       driverFinishMaxEdges: Long = IterDriverFinishMaxEdges)
      : DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    // und stays its own checkpoint (three consumers: nodes + both prop
    // orientations); the bound count rides the materialization (r18)
    val (und, nUnd) = Materialize.ckCount(
      undirected(edges, srcCol, dstCol))
    if (driverFinishMaxEdges > 0 && nUnd <= driverFinishMaxEdges)
      return lpaDriver(und, rounds)
    val nodes = und.select(col("u").as("node"))
      .union(und.select(col("v")))
      .distinct()
      .localCheckpoint(true)
    val prop = und.select(col("u").as("__src"), col("v").as("__dst"))
      .union(und.select(col("v"), col("u")))
      .union(nodes.select(col("node"), col("node")))
      .repartition(col("__src"))
      .localCheckpoint(true) // scanned every round
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 0 until rounds) {
      labels = prop
        .join(labels.withColumnRenamed("node", "__src"), Seq("__src"))
        .groupBy(col("__dst"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__dst"))
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("__dst").as("node"), (-col("__m.__nl")).as("label"))
        .localCheckpoint(true)
    }
    labels
  }

  /** In-memory twin of [[labelPropagation]]'s synchronous rounds —
    * the IDENTICAL deterministic recurrence (neighbor labels + the
    * self-vote, most frequent wins, ties to the smallest label) over
    * collected canonical edges. */
  private def lpaDriver(und: DataFrame, rounds: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val es = und.select(col("u"), col("v")).as[(Long, Long)].collect()
    val adj = new java.util.HashMap[Long, mutable.ArrayBuffer[Long]]()
    es.foreach { case (u, v) =>
      adj.computeIfAbsent(u, _ => mutable.ArrayBuffer.empty) += v
      adj.computeIfAbsent(v, _ => mutable.ArrayBuffer.empty) += u
    }
    import scala.jdk.CollectionConverters._
    val nodes = adj.keySet().asScala.toArray
    var labels = new java.util.HashMap[Long, Long]()
    nodes.foreach(n => labels.put(n, n))
    for (_ <- 0 until rounds) {
      val next = new java.util.HashMap[Long, Long]()
      val counts = new java.util.HashMap[Long, Long]()
      nodes.foreach { n =>
        counts.clear()
        counts.merge(labels.get(n), 1L, _ + _) // self-vote
        adj.get(n).foreach(w => counts.merge(labels.get(w), 1L, _ + _))
        var bestLabel = Long.MaxValue
        var bestCount = 0L
        counts.forEach { (l, c) =>
          if (c > bestCount || (c == bestCount && l < bestLabel)) {
            bestCount = c; bestLabel = l
          }
        }
        next.put(n, bestLabel)
      }
      labels = next
    }
    nodes.toSeq.map(n => (n, labels.get(n): Long))
      .toDF("node", "label")
  }

  /** Multi-source BFS hop distance over the DIRECTED graph: for every
    * node reachable from the seed set within `maxHops` edges, the
    * minimum hop count from any seed. Output: (node, hops) — seeds
    * present in the graph at 0, unreachable nodes absent. The
    * reachability/audit primitive next to [[PageRank.personalized]]:
    * TrustRank scores proximity continuously, this reports the exact
    * hop radius (e.g. "every doc within 2 links of a seed list").
    *
    * Scale: frontier expansion ([[frontierBfs]]), not per-round full
    * relaxation — each round's cost is proportional to the frontier,
    * and an empty frontier ends the loop, so maxHops only bounds the
    * diameter walked. Ghost seeds (ids absent from the edge set) are
    * dropped, as in TrustRank. */
  def bfsDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String, maxHops: Int,
                  driverFinishMaxEdges: Long = IterDriverFinishMaxEdges)
      : DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val (e, nEdges) = dedupEdges(edges, srcCol, dstCol)
    val sources = graphSeeds(seeds, seedCol, e, "node")
    // driver finish: per hop one linear adjacency sweep
    if (driverFinishMaxEdges > 0 && nEdges <= driverFinishMaxEdges) {
      val spark = e.sparkSession
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      return driverBfs(collectAdj(e), sources.as[Long].collect().toSeq,
          maxHops).asScala.toSeq.map { case (n, h) => (n, h) }
        .toDF("node", "hops")
    }
    frontierBfs(e, sources, Seq(), maxHops)
  }

  /** Hop-bounded weighted shortest paths from a seed set: after
    * `rounds` rounds, dist(v) = the exact minimum total weight over
    * paths of ≤ `rounds` edges from any seed (classic Bellman-Ford
    * semantics). Weights must be non-negative 64-bit integers so every
    * distance is exact. Output: (node, dist) for nodes reached within
    * the bound; seeds at 0.
    *
    * Scale: frontier-limited Bellman-Ford — a node re-relaxes only in
    * the round after its distance improved, which provably yields the
    * same ≤k-edge minima as full relaxation (an unimproved node's
    * out-candidates are unchanged). Each round: one co-located join of
    * the frontier against the src-repartitioned edge frame, a per-node
    * min partial agg, and one full-outer merge with the settled
    * distances; per-round localCheckpoint keeps lineage O(1), and the
    * loop early-exits when no distance improves. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, seeds: DataFrame, seedCol: String,
                    rounds: Int,
                    driverFinishMaxEdges: Long = IterDriverFinishMaxEdges)
      : DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    // dedup → co-locate by __src → ONE checkpoint; the bound count AND
    // the weight-sanity min both ride the materialization job (r18,
    // guide §2.4 — previously a checkpoint + two separate aggregate
    // jobs + a second checkpoint above the bound)
    val (e, met) = Materialize.ckRepartitionObserve(
      edges.select(col(srcCol).cast("long").as("__src"),
          col(dstCol).cast("long").as("__dst"),
          col(weightCol).cast("long").as("__w"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull)
        .groupBy(col("__src"), col("__dst"))
        .agg(min(col("__w")).as("__w")), // parallel edges: keep cheapest
      col("__src"),
      Seq(count(lit(1)).as("__n"), min(col("__w")).as("__mnw")))
    val nEdges = met("__n").asInstanceOf[Long]
    require(met("__mnw") == null || met("__mnw").asInstanceOf[Long] >= 0,
      "edge weights must be non-negative")
    var dist = graphSeeds(seeds, seedCol, e, "node")
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    // driver finish: synchronous Bellman-Ford rounds (dist_k reads
    // dist_{k-1}) — the exact ≤k-edge minima the frontier variant
    // provably computes; addExact mirrors the distributed side's ANSI
    // overflow behavior
    if (driverFinishMaxEdges > 0 && nEdges <= driverFinishMaxEdges) {
      val spark = e.sparkSession
      import spark.implicits._
      val es = e.select(col("__src"), col("__dst"), col("__w"))
        .as[(Long, Long, Long)].collect()
      var d0 = new java.util.HashMap[Long, Long]()
      dist.select(col("node")).as[Long].collect()
        .foreach(s => d0.put(s, 0L))
      var round = 1
      var changed = true
      while (round <= rounds && changed) {
        changed = false
        val next = new java.util.HashMap[Long, Long](d0)
        es.foreach { case (u, v, w) =>
          if (d0.containsKey(u)) {
            val cand = Math.addExact(d0.get(u), w)
            if (!next.containsKey(v) || cand < next.get(v)) {
              next.put(v, cand)
              if (!d0.containsKey(v) || cand < d0.get(v)) changed = true
            }
          }
        }
        d0 = next
        round += 1
      }
      import scala.jdk.CollectionConverters._
      return d0.asScala.toSeq.map { case (n, dv) => (n, dv) }
        .toDF("node", "dist")
    }
    var frontier = dist
    var round = 1
    var drained = frontier.isEmpty
    while (round <= rounds && !drained) {
      val cand = e.join(frontier.withColumnRenamed("node", "__src"),
          Seq("__src"))
        .select(col("__dst").as("node"), (col("dist") + col("__w")).as("__nd"))
        .groupBy(col("node")).agg(min(col("__nd")).as("__nd"))
      val merged = dist.join(cand, Seq("node"), "full_outer")
        .localCheckpoint(true) // read twice: next dist + next frontier
      dist = merged.select(col("node"),
          least(coalesce(col("dist"), col("__nd")),
            coalesce(col("__nd"), col("dist"))).as("dist"))
        .localCheckpoint(true)
      // frontier count rides the checkpoint job (r18)
      val (f, nF) = Materialize.ckCount(merged
        .filter(col("__nd").isNotNull &&
          (col("dist").isNull || col("__nd") < col("dist")))
        .select(col("node"), col("__nd").as("dist")))
      frontier = f
      drained = nF == 0
      round += 1
    }
    dist
  }

  /** Hop-bounded closeness from a small seed panel: per reachable
    * node, the exact count of seeds reaching it within `maxHops`, the
    * total hop distance, and the fixed-point HARMONIC closeness
    * `Σ_{seeds at d>0} ⌊scale/d⌋` (the variant that handles
    * disconnection gracefully — unreached seeds simply contribute 0).
    * The "how central is every page relative to the trusted hubs"
    * audit next to [[bfsDistance]]'s single min-hop radius: this keeps
    * PER-SEED distances, which min-hop BFS destroys.
    *
    * Scale: one BFS whose state is (seed, node) — frontier volume is
    * bounded by seeds × nodes, so the seed panel is REQUIREd ≤
    * `maxSeeds` up front (closeness from every node is all-pairs and
    * has no distributed exact form; a bounded panel is the honest
    * contract). Per round: one co-located join of the frontier
    * against the src-repartitioned edge frame + a (seed, node)
    * anti-join against the settled set; O(1) lineage via per-round
    * localCheckpoint; early exit on a drained frontier. Ghost seeds
    * are dropped as in [[bfsDistance]].
    * Output: (node, n_reached, sum_hops, harmonic_fp). */
  def closenessFromSeeds(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String, maxHops: Int,
                         scale: Long = 1000000L,
                         maxSeeds: Int = 64,
                         driverFinishMaxWork: Long =
                           BetweennessDriverMaxWork): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val (e, nEdges) = dedupEdges(edges, srcCol, dstCol)
    // counted for the guard — the count rides the checkpoint job
    val (seedFrame, nSeeds) =
      Materialize.ckCount(graphSeeds(seeds, seedCol, e, "__seed"))
    require(nSeeds <= maxSeeds,
      s"closenessFromSeeds: $nSeeds seeds (> maxSeeds=$maxSeeds) — " +
        "frontier state is seeds × nodes; shrink the panel or raise " +
        "maxSeeds deliberately.")
    // driver finish: one BFS per seed over the collected adjacency,
    // seeds fanned out on the driver pool (the betweenness posture)
    if (nSeeds > 0 && nSeeds * nEdges <= driverFinishMaxWork) {
      val spark = e.sparkSession
      import spark.implicits._
      val adj = collectAdj(e)
      val perSeed = seedFrame.as[Long].collect().toSeq.map { s =>
        java.util.concurrent.CompletableFuture.supplyAsync(() =>
          driverBfs(adj, Seq(s), maxHops))
      }
      val nReached = new java.util.HashMap[Long, Long]()
      val sumHops = new java.util.HashMap[Long, Long]()
      val harmonic = new java.util.HashMap[Long, Long]()
      perSeed.foreach { f =>
        f.get().forEach { (v, h) =>
          nReached.merge(v, 1L, _ + _)
          sumHops.merge(v, h, _ + _)
          harmonic.merge(v, if (h > 0) scale / h else 0L, _ + _)
        }
      }
      import scala.jdk.CollectionConverters._
      return nReached.asScala.toSeq.map { case (n, c) =>
        (n, c, sumHops.get(n): Long, harmonic.get(n): Long)
      }.toDF("node", "n_reached", "sum_hops", "harmonic_fp")
    }
    val settled = frontierBfs(e,
      seedFrame.select(col("__seed"), col("__seed").as("node")),
      Seq("__seed"), maxHops)
    settled.groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(col("hops")).as("sum_hops"),
        sum(when(col("hops") > 0, expr(s"$scale div hops"))
          .otherwise(lit(0L))).as("harmonic_fp"))
  }

  /** Seed-sampled betweenness centrality (Brandes 2001 dependency
    * accumulation from a bounded pivot panel — Bader et al. 2007's
    * sampled estimator; exact all-pairs betweenness is all-sources and
    * has no distributed exact form, so like [[closenessFromSeeds]] the
    * honest contract is a REQUIREd seed budget): which nodes shortest
    * paths actually route THROUGH — the brokerage complement to
    * closeness (being near everything ≠ lying between things).
    *
    * Deterministic fixed point: the forward phase computes exact
    * integer shortest-path counts σ per (seed, node) level by level
    * (hop-bounded BFS DAG); the backward phase accumulates Brandes'
    * dependency as `δ_fp(v) = Σ_{w ∈ succ(v)} ⌊σ_v·(scale + δ_fp(w)) /
    * σ_w⌋` — each edge term floored ONCE, summed exactly, so the whole
    * accumulation is engine-reproducible. `bc_fp(v) = Σ_seeds δ_fp`.
    * Edges follow their direction (pass both orientations for an
    * undirected reading).
    *
    * Scale: forward = closenessFromSeeds' posture (frontier ≤ seeds ×
    * nodes, one co-located join + one anti-join per hop, σ summed on
    * decimal(38,0) against path-count explosion); backward = one join
    * of each level against its successor level per hop (levels are
    * checkpointed, O(1) lineage); 2·depth rounds total, depth ≤
    * maxHops. Output: (node, bc_fp), non-seed-endpoint interior
    * dependency only (sinks and the seeds' own rows score 0 and are
    * emitted only if some path routes through them). */
  def betweennessFromSeeds(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedCol: String, maxHops: Int,
                           scale: Long = 1000000L,
                           maxSeeds: Int = 64,
                           driverFinishMaxWork: Long =
                             BetweennessDriverMaxWork): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val (e, nEdges) = dedupEdges(edges, srcCol, dstCol)
    val (seedFrame, nSeeds) =
      Materialize.ckCount(graphSeeds(seeds, seedCol, e, "__seed"))
    require(nSeeds <= maxSeeds,
      s"betweennessFromSeeds: $nSeeds seeds (> maxSeeds=$maxSeeds) — " +
        "BFS-DAG state is seeds × nodes; shrink the panel or raise " +
        "maxSeeds deliberately.")
    val spark = edges.sparkSession
    // driver finish: per-seed work is one adjacency sweep per hop, so
    // seeds × edges bounds the in-memory cost — below the work bound
    // the whole 2·depth-round distributed DAG collapses into the
    // sequential Brandes replay GraphSpec already proves equal
    if (nSeeds > 0 && nSeeds * nEdges <= driverFinishMaxWork) {
      import spark.implicits._
      val seedIds = seedFrame.as[Long].collect()
      return betweennessDriver(e, seedIds, maxHops, scale)
    }

    // forward: levels(d) = (seed, node, sigma) at distance exactly d
    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var level = seedFrame
      .select(col("__seed"), col("__seed").as("node"),
        expr("cast(1 as decimal(38,0))").as("__sigma"))
      .localCheckpoint(true)
    var settled = level
    levels += level
    var hop = 1
    var drained = level.isEmpty
    while (hop <= maxHops && !drained) {
      // level count rides the checkpoint job (r18)
      val (next, nNext) = Materialize.ckCount(
        e.join(level.withColumnRenamed("node", "__src"),
            Seq("__src"))
          .groupBy(col("__seed"), col("__dst").as("node"))
          .agg(sum(col("__sigma")).as("__sigma"))
          .join(settled.select("__seed", "node"), Seq("__seed", "node"),
            "left_anti"))
      drained = nNext == 0
      if (!drained) {
        levels += next
        settled = settled.unionByName(next).localCheckpoint(true)
        level = next
      }
      hop += 1
    }

    // backward: delta(d) via one join against (level d+1) ⋈ delta(d+1)
    val zero = expr("cast(0 as decimal(38,0))")
    var deltaNext = levels.last.select(col("__seed"), col("node"),
      zero.as("__delta"))
    val perLevel = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (levels.size > 1) perLevel += deltaNext // deepest level scores 0
    for (d <- (levels.size - 2) to 0 by -1) {
      val succ = levels(d + 1).join(deltaNext, Seq("__seed", "node"))
        .select(col("__seed"), col("node").as("__dst"),
          col("__sigma").as("__sw"), col("__delta").as("__dw"))
      val contrib = levels(d).withColumnRenamed("node", "__src")
        .join(e, Seq("__src"))
        .join(succ, Seq("__seed", "__dst"))
        .groupBy(col("__seed"), col("__src").as("node"))
        .agg(sum(expr(s"(__sigma * ($scale + __dw)) div __sw"))
          .as("__acc"))
      val deltaD = levels(d).select(col("__seed"), col("node"))
        .join(contrib, Seq("__seed", "node"), "left")
        .select(col("__seed"), col("node"),
          coalesce(col("__acc"), zero).as("__delta"))
        .localCheckpoint(true)
      if (d > 0) perLevel += deltaD // seeds (d = 0) don't score
      deltaNext = deltaD
    }
    if (perLevel.isEmpty)
      return spark.range(0).select(col("id").as("node"),
        col("id").as("bc_fp")).limit(0)
    perLevel.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(expr("cast(sum(__delta) as long)").as("bc_fp"))
  }

  /** Edge prep of the seeded-BFS family ([[hits]], [[bfsDistance]],
    * [[closenessFromSeeds]], [[betweennessFromSeeds]]): non-null
    * distinct directed edges (one exchange, map-side partial dedup) →
    * co-locate by __src → ONE checkpoint; every consumer (nodes, the
    * driver collect, the round loop) reads it, and the driver-finish
    * bound count rides the materialization job (r18, guide §2.4). */
  private def dedupEdges(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, Long) =
    Materialize.ckRepartitionCount(
      edges.select(col(srcCol).cast("long").as("__src"),
          col(dstCol).cast("long").as("__dst"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull)
        .distinct(),
      col("__src"))

  /** Distinct endpoint ids of an (__src, __dst) edge frame, as
    * `node`. */
  private[operators] def nodesOf(e: DataFrame): DataFrame =
    e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct()

  /** The distinct non-null seed ids that occur in the edge frame, in
    * one column named `name`: ghost seeds are dropped. */
  private def graphSeeds(seeds: DataFrame, seedCol: String,
                         e: DataFrame, name: String): DataFrame =
    seeds.select(col(seedCol).cast("long").as(name))
      .filter(col(name).isNotNull)
      .distinct()
      .join(nodesOf(e).withColumnRenamed("node", name), Seq(name),
        "left_semi")

  /** Driver twin of [[frontierBfs]]: hop distance ≤ `maxHops` from
    * the nearest of `sources` (at 0), one linear adjacency sweep per
    * hop. */
  private def driverBfs(
      adj: java.util.HashMap[Long, mutable.ArrayBuffer[Long]],
      sources: Seq[Long], maxHops: Int): java.util.HashMap[Long, Long] = {
    val dist = new java.util.HashMap[Long, Long]()
    sources.foreach(s => dist.put(s, 0L))
    var frontier = sources
    var hop = 1L
    while (hop <= maxHops && frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[Long]
      frontier.foreach { v =>
        val ns = adj.get(v)
        if (ns != null) ns.foreach { w =>
          if (!dist.containsKey(w)) { dist.put(w, hop); next += w }
        }
      }
      frontier = next.toSeq
      hop += 1
    }
    dist
  }

  /** Distributed BFS frontier loop shared by [[bfsDistance]] and
    * [[closenessFromSeeds]]. `sources` holds the `carry` columns plus
    * `node`; the output adds `hops` and holds every (carry, node)
    * reached within `maxHops`, each at its minimum hop count. Round h
    * joins ONLY the hop-(h−1) frontier against the src-partitioned
    * edges (co-located), dedupes the successors and anti-joins the
    * settled set on (carry, node); the settled set is append-only with
    * O(1) lineage via per-round localCheckpoint, and the frontier
    * count rides each checkpoint job (r18). Exits early on an empty
    * frontier. */
  private def frontierBfs(e: DataFrame, sources: DataFrame,
                          carry: Seq[String], maxHops: Int): DataFrame = {
    var (settled, n) =
      Materialize.ckCount(sources.withColumn("hops", lit(0L)))
    var frontier = settled
    var hop = 1
    while (hop <= maxHops && n > 0) {
      val (next, nNext) = Materialize.ckCount(
        e.join(frontier.withColumnRenamed("node", "__src"), Seq("__src"))
          .select(carry.map(col) :+ col("__dst").as("node"): _*)
          .distinct()
          .join(settled, carry :+ "node", "left_anti")
          .withColumn("hops", lit(hop.toLong)))
      n = nNext
      if (n > 0) settled = settled.union(next).localCheckpoint(true)
      frontier = next
      hop += 1
    }
    settled
  }

  /** Shared driver-finish helper: collect distinct directed edges
    * into an adjacency map. */
  private def collectAdj(e: DataFrame)
      : java.util.HashMap[Long, mutable.ArrayBuffer[Long]] = {
    val spark = e.sparkSession
    import spark.implicits._
    val es = e.select(col("__src"), col("__dst"))
      .as[(Long, Long)].collect()
    val adj = new java.util.HashMap[Long, mutable.ArrayBuffer[Long]]()
    es.foreach { case (s, d) =>
      adj.computeIfAbsent(s, _ => mutable.ArrayBuffer.empty) += d
    }
    adj
  }

  /** Work bound (seeds × edges) for [[betweennessFromSeeds]]'s driver
    * finish: each seed's BFS + dependency accumulation sweeps the
    * adjacency once per hop, so seeds × edges tracks the in-memory
    * cost (BigInt σ/δ arithmetic included). 32M keeps the replay
    * around a second; the distributed 2·depth-round DAG costs
    * ~0.3 s × rounds in job floors alone. */
  private[graft] val BetweennessDriverMaxWork = 32L * 1000 * 1000

  /** In-memory twin of [[betweennessFromSeeds]] — the per-seed
    * sequential Brandes fp replay GraphSpec pins the distributed DAG
    * against: BFS σ in BigInt (decimal(38,0) on the distributed
    * side), per-edge floored δ contributions
    * `σ_v · (scale + δ_w) / σ_w`, seeds (level 0) don't score,
    * reached non-seed nodes with zero dependency still emit 0. */
  private def betweennessDriver(e: DataFrame, seedIds: Array[Long],
                                maxHops: Int, scale: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val adj = collectAdj(e)
    // seeds are independent — fan them out on the driver's pool and
    // merge (BigInt sums commute exactly, so the merge order is
    // irrelevant to the result)
    val perSeed = seedIds.toSeq.map { s =>
      java.util.concurrent.CompletableFuture.supplyAsync(() =>
        seedDependencies(adj, s, maxHops, scale))
    }
    val want = new java.util.HashMap[Long, BigInt]()
    perSeed.foreach { f =>
      f.get().forEach { (v, acc) =>
        want.merge(v, acc, _ + _)
      }
    }
    import scala.jdk.CollectionConverters._
    want.asScala.toSeq.map { case (n, b) => (n, b.toLong) }
      .toDF("node", "bc_fp")
  }

  /** One seed's Brandes pass over the shared adjacency (read-only):
    * returns the seed's (node → δ-sum) contributions, reached
    * non-seed nodes included at 0. */
  private def seedDependencies(
      adj: java.util.HashMap[Long, mutable.ArrayBuffer[Long]],
      s: Long, maxHops: Int, scale: Long)
      : java.util.HashMap[Long, BigInt] = {
    val want = new java.util.HashMap[Long, BigInt]()
    val dist = new java.util.HashMap[Long, Int]()
      val sigma = new java.util.HashMap[Long, BigInt]()
      dist.put(s, 0); sigma.put(s, BigInt(1))
      var frontier: Seq[Long] = Seq(s)
      var d = 0
      val byLevel = mutable.ArrayBuffer[Seq[Long]](Seq(s))
      while (frontier.nonEmpty && d < maxHops) {
        val nextSigma = new java.util.LinkedHashMap[Long, BigInt]()
        frontier.foreach { v =>
          val ns = adj.get(v)
          if (ns != null) ns.foreach { w =>
            if (!dist.containsKey(w))
              nextSigma.merge(w, sigma.get(v), _ + _)
          }
        }
        val fr = mutable.ArrayBuffer.empty[Long]
        nextSigma.forEach { (w, sg) =>
          dist.put(w, d + 1); sigma.put(w, sg); fr += w
        }
        frontier = fr.toSeq
        if (frontier.nonEmpty) byLevel += frontier
        d += 1
      }
      val delta = new java.util.HashMap[Long, BigInt]()
      for (lvl <- (byLevel.size - 2) to 0 by -1; v <- byLevel(lvl)) {
        var acc = BigInt(0)
        val ns = adj.get(v)
        if (ns != null) ns.foreach { w =>
          if (dist.containsKey(w) && dist.get(w) == lvl + 1)
            acc += sigma.get(v) * (BigInt(scale) + delta.getOrDefault(
              w, BigInt(0))) / sigma.get(w)
        }
        delta.put(v, acc)
        if (lvl > 0)
          want.merge(v, acc, _ + _)
      }
      dist.forEach { (v, dv) =>
        if (dv > 0) want.putIfAbsent(v, BigInt(0))
      }
    want
  }

  /** Edge count at or below which the iterative graph operators
    * (k-core, SCC, k-truss) finish ON THE DRIVER instead of running
    * their round loops distributed: each distributed round costs a
    * fixed multi-job scheduling floor regardless of data size, so a
    * small residue pays more in round floors than the whole peel
    * costs in memory — the SuffixDedup driver-finish pattern applied
    * to the graph family (r14 verdict, "graph-family round fusion").
    * Both paths are parity-pinned by GraphDriverFinishSpec; above the
    * bound the distributed loops run unchanged.
    *
    * MEASURED at sf0.1/local[32] (isolated fresh-JVM min-of-3): the
    * driver peel is single-threaded, so the bound must sit where the
    * per-round job floor (~0.3 s × rounds) beats the linear collect +
    * peel. q200_scc (a few thousand edges, many trim/color rounds):
    * 5.13 s → 1.07 s with the driver finish. r16 measured q133_kcore
    * (~800k edges) WORSE when collected (4.86 → 5.64 s) and set 128k;
    * that sample was contention-era. Re-measured r18 on a quiet
    * machine (`ScaleBench kcore` driver-vs-distributed, fresh JVM per
    * leg, digests equal, 8-round skewed peel): 512k edges 5.14 vs
    * 8.32 s, 768k 4.42 vs 8.08 s, 1M 5.22 vs 9.14 s, 1.5M 7.04 vs
    * 10.62 s — the driver wins ~1.5-1.8x across the whole range even
    * against the r18 fused distributed loop, and q133 itself (1.196M
    * edges) confirms: solo-isolated 4.99 s distributed vs 3.61 s with
    * the driver finish (see PLANS.md r18). kCore therefore gets its
    * own measured 1.5M bound; SCC keeps 128k (Tarjan has no
    * comparable re-measure yet). */
  private[graft] val DriverFinishMaxEdges = 128L * 1000

  /** kCore-specific driver-finish bound — re-measured r18 (above):
    * the single-thread peel beats the distributed rounds up to at
    * least 1.5M edges on this hardware. */
  private[graft] val KcoreDriverFinishMaxEdges = 1500L * 1000

  /** Broadcast bound for a peel round's survivor node set (kCore round
    * fusion): ≤ 4M longs ≈ 32 MB serialized — comfortably under
    * executor memory at 100-TB scale, far above the gate graphs.
    * Billion-node graphs exceed it and keep the shuffle semi-joins. */
  private[graft] val BroadcastMaxAliveNodes = 4L * 1000 * 1000

  /** k-truss driver-finish bound — lower than [[DriverFinishMaxEdges]]
    * because the in-memory support pass does neighbor-set
    * intersections (O(Σ min-degree) per round), not linear scans
    * (q214_ktruss's ~200k-edge graph measured 2.25 → 2.71 s when
    * collected at a 256k bound — keep it distributed). */
  private[graft] val TrussDriverFinishMaxEdges = 64L * 1000

  /** k-core: peel nodes of degree < k for `maxRounds` rounds (or to
    * the fixpoint, whichever comes first — extra rounds past the
    * fixpoint are no-ops, so a fixed-round oracle matches). Output:
    * (node, core_degree) for surviving nodes, with the node's degree
    * inside the surviving subgraph.
    *
    * Scale: the live frame is the EDGE list (node-degree state would
    * need two edge joins per round anyway); each round is one degree
    * aggregate + two semi-joins, all keyed on node ids, with a
    * localCheckpoint pinning the shrinking edge set. Rounds are
    * O(peel depth); each round's cost shrinks with the live set —
    * and once the edge list fits [[DriverFinishMaxEdges]] the whole
    * remaining peel collapses into one in-memory pass (identical
    * round semantics, round cap included). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int,
            driverFinishMaxEdges: Long = KcoreDriverFinishMaxEdges,
            broadcastMaxAliveNodes: Long = BroadcastMaxAliveNodes)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 0, "maxRounds must be non-negative")
    // live count rides the materialization job (r18); bound 0 = the
    // spec convention for "force the distributed loop"
    var (live, nLive) = Materialize.ckCount(
      undirected(edges, srcCol, dstCol))
    if (driverFinishMaxEdges > 0 && nLive <= driverFinishMaxEdges)
      return kCoreDriver(live, k, maxRounds)
    var round = 0
    var fixed = false
    while (round < maxRounds && !fixed && nLive > 0) {
      val deg = live.select(col("u").as("node"))
        .union(live.select(col("v")))
        .groupBy(col("node")).agg(count(lit(1)).as("__d"))
      // Round fusion (r16): the survivor set is a small projection of
      // the degree aggregate, but a checkpointed LogicalRDD carries NO
      // size stats, so Catalyst plans BOTH semi-joins as full
      // edge-list shuffles (AQE converts them at runtime, but the
      // map-side edge shuffle write still happens). When the survivor
      // set is broadcast-sized (bounded by 2·nLive), hint it and SKIP
      // the per-round checkpoint job: the broadcast builds share one
      // exchange (ReuseExchange — identical children), both probes run
      // as broadcast hash semi-joins in one stage, and the edge list
      // never re-shuffles. MEASURED at sf0.1 (isolated fresh-JVM
      // q133): old 5.65 s vs new {4.85, 5.48, 5.53, 6.18} — NEUTRAL at
      // this size (construction + job floor dominate; AQE already
      // converted the reduce side); kept for the per-round checkpoint
      // job and map-side shuffle writes it removes at scale. Above the
      // bound (billion-node regime) the checkpoint + shuffle plan
      // stands; GraphDriverFinishSpec pins both paths to parity.
      val survivors =
        if (2 * nLive <= broadcastMaxAliveNodes) {
          val alive = deg.filter(col("__d") >= k).select(col("node"))
          live
            .join(broadcast(alive.withColumnRenamed("node", "u")),
              Seq("u"), "left_semi")
            .join(broadcast(alive.withColumnRenamed("node", "v")),
              Seq("v"), "left_semi")
        } else {
          val alive = deg.filter(col("__d") >= k)
            .select(col("node"))
            .localCheckpoint(true) // probed twice (u side + v side)
          live
            .join(alive.withColumnRenamed("node", "u"), Seq("u"),
              "left_semi")
            .join(alive.withColumnRenamed("node", "v"), Seq("v"),
              "left_semi")
        }
      // survivor-edge count rides the round's checkpoint job (r18);
      // then the superseded live edges (and survivor checkpoint) go
      val (next, nNext) = Materialize.ckCount(survivors)
      Materialize.free(survivors)
      fixed = nNext == nLive
      live = next
      nLive = nNext
      round += 1
      // mid-peel switch: the residue now fits the driver — finish the
      // remaining rounds in one pass instead of per-round job floors
      if (!fixed && nLive > 0 && nLive <= driverFinishMaxEdges &&
          round < maxRounds)
        return kCoreDriver(live, k, maxRounds - round)
    }
    live.select(col("u").as("node"))
      .union(live.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** In-memory twin of [[kCore]]'s round loop — IDENTICAL semantics
    * (per round: degree over live edges, drop nodes under k, keep
    * edges with both endpoints alive; stop at the round cap or the
    * fixpoint) over collected canonical edges. */
  private def kCoreDriver(live: DataFrame, k: Int, maxRounds: Int)
      : DataFrame = {
    val spark = live.sparkSession
    import spark.implicits._
    var es = live.select(col("u"), col("v")).as[(Long, Long)].collect()
    var round = 0
    var fixed = false
    while (round < maxRounds && !fixed && es.nonEmpty) {
      val deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (u, v) =>
        deg.merge(u, 1L, _ + _); deg.merge(v, 1L, _ + _)
      }
      val next = es.filter { case (u, v) =>
        deg.get(u) >= k && deg.get(v) >= k }
      fixed = next.length == es.length
      es = next
      round += 1
    }
    val cd = new java.util.HashMap[Long, Long]()
    es.foreach { case (u, v) =>
      cd.merge(u, 1L, _ + _); cd.merge(v, 1L, _ + _)
    }
    import scala.jdk.CollectionConverters._
    cd.asScala.toSeq.map { case (n, d) => (n, d) }
      .toDF("node", "core_degree")
  }

  /** Strongly connected components of a DIRECTED graph — the cycle
    * structure [[ConnectedComponents]] (undirected) cannot see:
    * mutual-reachability equivalence classes, the "is this link mesh
    * reciprocal or a one-way DAG" question behind link-farm detection
    * and dependency-cycle audits. Output: (node, scc) with `scc` = the
    * MINIMUM member id — a canonical label any engine can reproduce
    * (the DuckDB oracle computes it from the transitive closure).
    *
    * Algorithm (Orzan 2004 coloring, public): per round, (1) TRIM —
    * nodes with no live in-edge or no live out-edge are singleton
    * SCCs; (2) forward max-id COLOR propagation to fixpoint; (3)
    * BACKWARD reachability from each color root within its color —
    * the reached set is exactly the root's SCC (forward reach is
    * color-constrained by construction); assign, remove, repeat.
    * Every round retires at least one SCC per color, so progress is
    * guaranteed; `maxSteps` bounds the OUTER trim/color/collect
    * rounds only, and the operator REQUIRES completion within it
    * (partial SCC output is never silently returned). The inner
    * coloring / backward-reach fixpoints each provably converge in at
    * most |live| levels (colors only grow, the member set only grows),
    * so they carry their own |live|-bounded guard instead of draining
    * the round budget — a converging graph whose cyclic residue has a
    * large diameter can no longer exhaust `maxSteps` mid-fixpoint.
    *
    * Scale: every step is an id-keyed equi-join or partial agg over
    * the LIVE subgraph (shrinking monotonically), with one
    * localCheckpoint per frame per step (O(1) lineage, the
    * [[PageRank]] posture); trim handles the DAG bulk of real link
    * graphs in O(longest chain) cheap rounds, and coloring touches
    * only the cyclic residue. */
  def stronglyConnected(edges: DataFrame, srcCol: String, dstCol: String,
                        maxSteps: Int = 200,
                        driverFinishMaxEdges: Long = DriverFinishMaxEdges)
      : DataFrame = {
    val spark = edges.sparkSession
    var rounds = maxSteps
    def step(): Unit = {
      rounds -= 1
      require(rounds >= 0,
        s"stronglyConnected exceeded the $maxSteps outer-round budget")
    }
    // inner fixpoints make guaranteed progress (≥ 1 node per level),
    // so a |live|-bounded guard only fires on a genuine logic bug —
    // it never competes with the outer budget
    var innerLeft = 0L
    def inner(): Unit = {
      innerLeft -= 1
      require(innerLeft >= 0,
        "stronglyConnected: inner fixpoint failed to converge")
    }
    // live count rides the materialization job (r18)
    var (live, nLive) = Materialize.ckCount(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    // driver finish: SCC is a unique partition of the nodes, so ANY
    // correct algorithm yields the same (node, min-member) labels —
    // below the bound, one collected Tarjan pass replaces the whole
    // trim/color/collect round structure and its per-round job floors
    if (driverFinishMaxEdges > 0 && nLive <= driverFinishMaxEdges)
      return sccDriver(live)
    var (remaining, nRemaining) = Materialize.ckCount(
      live.select(col("src").as("node"))
        .union(live.select(col("dst"))).distinct())
    val assigned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (nRemaining > 0) {
      step()
      // (1) trim: no out-edge or no in-edge => singleton SCC
      val hasOut = live.select(col("src").as("node")).distinct()
      val hasIn = live.select(col("dst").as("node")).distinct()
      // cyclic count rides the checkpoint job (r18)
      val (cyclic, nCyclic) = Materialize.ckCount(remaining
        .join(hasOut, Seq("node"), "left_semi")
        .join(hasIn, Seq("node"), "left_semi"))
      val trimmed = remaining.join(cyclic, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("scc"))
      assigned += trimmed.localCheckpoint(true)
      remaining = cyclic
      nRemaining = nCyclic
      if (nRemaining > 0) {
        live = live
          .join(remaining.withColumnRenamed("node", "src"),
            Seq("src"), "left_semi")
          .join(remaining.withColumnRenamed("node", "dst"),
            Seq("dst"), "left_semi")
          .localCheckpoint(true)
        // (2) forward max-id coloring to fixpoint
        var colr = remaining.select(col("node"), col("node").as("c"))
          .localCheckpoint(true)
        var changed = 1L
        innerLeft = nRemaining + 1L
        while (changed > 0) {
          inner()
          val inc = live
            .join(colr.select(col("node").as("src"), col("c").as("__cs")),
              Seq("src"))
            .groupBy(col("dst")).agg(max(col("__cs")).as("__cin"))
          // a row changes iff an in-color beats its own: that count
          // rides the checkpoint job, no separate join + count
          val (nxt, m) = Materialize.ckObserve(colr
              .join(inc.withColumnRenamed("dst", "node"), Seq("node"), "left"),
            Seq(count(when(col("__cin") > col("c"), 1)).as("__changed")))
          changed = m("__changed").asInstanceOf[Long]
          Materialize.free(colr)
          colr = nxt.select(col("node"),
            greatest(col("c"), coalesce(col("__cin"), col("c"))).as("c"))
        }
        // (3) backward reach from each color root, within the color
        var (member, nMember) = Materialize.ckCount(
          colr.filter(col("c") === col("node")))
        var grew = true
        innerLeft = nRemaining + 1L
        while (grew) {
          inner()
          val cand = live
            .join(member.select(col("node").as("dst"), col("c")), Seq("dst"))
            .select(col("src").as("node"), col("c")).distinct()
            .join(colr, Seq("node", "c"), "left_semi")
          val (nxt, n2) = Materialize.ckCount(
            member.unionByName(cand).distinct())
          grew = n2 > nMember
          member = nxt
          nMember = n2
        }
        val sccMin = member.groupBy(col("c")).agg(min(col("node")).as("scc"))
        assigned += member.join(sccMin, Seq("c"))
          .select(col("node"), col("scc")).localCheckpoint(true)
        val (rem2, nRem2) = Materialize.ckCount(
          remaining.join(member, Seq("node"), "left_anti"))
        remaining = rem2
        nRemaining = nRem2
        if (nRemaining > 0) {
          live = live
            .join(remaining.withColumnRenamed("node", "src"),
              Seq("src"), "left_semi")
            .join(remaining.withColumnRenamed("node", "dst"),
              Seq("dst"), "left_semi")
            .localCheckpoint(true)
        }
      }
    }
    if (assigned.isEmpty) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("node", "scc")
    } else assigned.reduce(_ unionByName _)
  }

  /** In-memory SCC over collected deduplicated edges — iterative
    * Tarjan (explicit call stack; recursion would overflow on long
    * chains). Labels are min member ids, identical to the distributed
    * coloring output because the SCC partition is unique. */
  private def sccDriver(live: DataFrame): DataFrame = {
    val spark = live.sparkSession
    import spark.implicits._
    val es = live.select(col("src"), col("dst"))
      .as[(Long, Long)].collect()
    val adj = new java.util.HashMap[Long, mutable.ArrayBuffer[Long]]()
    val nodes = mutable.LinkedHashSet.empty[Long]
    es.foreach { case (s, d) =>
      adj.computeIfAbsent(s, _ => mutable.ArrayBuffer.empty) += d
      nodes += s; nodes += d
    }
    val index = new java.util.HashMap[Long, Int]()
    val low = new java.util.HashMap[Long, Int]()
    val onStack = new java.util.HashSet[Long]()
    val stack = mutable.ArrayBuffer.empty[Long]
    var counter = 0
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    val call = mutable.ArrayBuffer.empty[(Long, Int)]
    nodes.foreach { root =>
      if (!index.containsKey(root)) {
        call.clear()
        call += ((root, 0))
        index.put(root, counter); low.put(root, counter); counter += 1
        stack += root; onStack.add(root)
        while (call.nonEmpty) {
          val (u, ci) = call.last
          val nbrs = adj.get(u)
          if (nbrs != null && ci < nbrs.length) {
            call(call.length - 1) = (u, ci + 1)
            val w = nbrs(ci)
            if (!index.containsKey(w)) {
              index.put(w, counter); low.put(w, counter); counter += 1
              stack += w; onStack.add(w)
              call += ((w, 0))
            } else if (onStack.contains(w) && index.get(w) < low.get(u))
              low.put(u, index.get(w))
          } else {
            call.remove(call.length - 1)
            if (call.nonEmpty) {
              val p = call.last._1
              if (low.get(u) < low.get(p)) low.put(p, low.get(u))
            }
            if (low.get(u) == index.get(u)) {
              val members = mutable.ArrayBuffer.empty[Long]
              var w = 0L
              while ({
                w = stack.remove(stack.length - 1)
                onStack.remove(w)
                members += w
                w != u
              }) ()
              val label = members.min
              members.foreach(m => out += ((m, label)))
            }
          }
        }
      }
    }
    out.toSeq.toDF("node", "scc")
  }

  /** Modularity Q of a community assignment over an undirected simple
    * graph, exact fixed point: with m edges, Σe_c intra-community
    * edges, and d_c community degree sums,
    * `Q = (4m·Σe_c − Σd_c²) / (4m²)` — emitted as
    * `q_fp = scale·(4m·Σe_c − Σd_c²) div (4m²)` with the sign factored
    * (Q < 0 means worse than random). The quality score for
    * [[labelPropagation]]'s output (Newman 2004 — public formula).
    *
    * Contract: `communities` must label every edge endpoint (inner
    * joins drop unlabeled edges, silently shrinking m otherwise).
    *
    * Scale: edges canonicalize once (checkpointed — reread by the
    * label join and the degree rollup); intra/total counts are ONE
    * aggregate over the label-joined edges; Σd_c² is two partial aggs
    * (node degrees → community sums → one squared-sum row). Products
    * ride decimal(38,0) (4m² at 10^12 edges ≈ 4·10^24). Output: one
    * row (m, intra_edges, q_fp). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 communities: DataFrame, nodeCol: String, labelCol: String,
                 scale: Long = 1000000L): DataFrame = {
    val und = undirected(edges, srcCol, dstCol).localCheckpoint(true)
    val lab = communities.select(col(nodeCol).cast("long").as("__n"),
      col(labelCol).cast("long").as("__l"))
    val counts = und
      .join(lab.select(col("__n").as("u"), col("__l").as("__lu")), Seq("u"))
      .join(lab.select(col("__n").as("v"), col("__l").as("__lv")), Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("__lu") === col("__lv"), 1L).otherwise(0L))
          .as("intra_edges"))
    val sd2 = und.select(col("u").as("__n"))
      .unionByName(und.select(col("v").as("__n")))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
      .join(lab, Seq("__n"))
      .groupBy(col("__l"))
      .agg(sum(col("__d")).cast("decimal(38,0)").as("__dc"))
      .agg(sum(col("__dc") * col("__dc")).as("__sd2"))
    counts.crossJoin(broadcast(sd2))
      .withColumn("q_fp", expr(
        s"""cast(case
           |  when 4 * cast(m as decimal(38,0)) * intra_edges - __sd2 >= 0
           |    then ($scale * (4 * cast(m as decimal(38,0)) * intra_edges
           |          - __sd2)) div (4 * cast(m as decimal(38,0)) * m)
           |  else -(($scale * (__sd2 -
           |          4 * cast(m as decimal(38,0)) * intra_edges))
           |         div (4 * cast(m as decimal(38,0)) * m))
           |  end as long)""".stripMargin))
      .drop("__sd2")
  }

  /** Link prediction over an undirected simple graph: for every
    * NON-ADJACENT node pair with at least `minCommon` common
    * neighbors, the three classic scores (Liben-Nowell & Kleinberg
    * 2003, public formulation) — common-neighbor count, exact
    * neighborhood Jaccard in floored basis points, and preferential
    * attachment `deg_a·deg_b` — top-`k` by (common, pair) total order.
    * All integer, so the report hash-checks in any engine.
    *
    * Scale: candidate pairs enumerate as wedges at their common
    * neighbor (the apex), so the fanout is Σ deg(apex)² — bounded by
    * `maxApexDegree`: apexes above the cap generate no wedges. With
    * the cap at or above the true max degree the scores are EXACT
    * (the oracle query runs that way); capped, a hub stops minting
    * quadratic candidate pairs and the score becomes the standard
    * degree-capped CN approximation (a mega-hub's endorsement of a
    * pair is the weakest CN evidence, so production rankers drop it
    * anyway). Existing edges are removed by one anti-join; degrees
    * attach by two broadcast-sized joins; top-k resolves through
    * TakeOrderedAndProject, never a global sort.
    *
    * Output: (node_a, node_b, deg_a, deg_b, common, jaccard_bp, pa),
    * node_a < node_b. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxApexDegree: Long, minCommon: Long,
                     k: Int): DataFrame = {
    require(maxApexDegree >= 1, "maxApexDegree must be >= 1")
    require(minCommon >= 1, "minCommon must be >= 1")
    require(k > 0, "k must be positive")
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint(true) // adjacency + degrees + the anti-join
    val adj = und.select(col("u").as("a"), col("v").as("n"))
      .union(und.select(col("v"), col("u")))
    val deg = adj.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("degree"))
      .localCheckpoint(true) // apex cap + two degree attaches
    val capped = adj.join(
        deg.filter(col("degree") <= maxApexDegree)
          .select(col("node").as("a")),
        Seq("a"), "left_semi")
    val cn = capped
      .join(capped.select(col("a"), col("n").as("m")), Seq("a"))
      .filter(col("n") < col("m"))
      .groupBy(col("n").as("u"), col("m").as("v"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .join(und, Seq("u", "v"), "left_anti")
    cn.join(deg.select(col("node").as("u"), col("degree").as("deg_a")),
        Seq("u"))
      .join(deg.select(col("node").as("v"), col("degree").as("deg_b")),
        Seq("v"))
      .select(col("u").as("node_a"), col("v").as("node_b"),
        col("deg_a"), col("deg_b"), col("common"),
        expr("(10000L * common) div (deg_a + deg_b - common)")
          .as("jaccard_bp"),
        (col("deg_a") * col("deg_b")).as("pa"))
      .orderBy(col("common").desc, col("node_a"), col("node_b"))
      .limit(k)
  }

  /** Per-edge triangle SUPPORT — the number of triangles each
    * undirected edge participates in (the k-truss building block and
    * the classic spam-link signal: a real community edge is embedded
    * in triangles, a link-farm spoke is not). Output: (u, v, support)
    * over ALL canonical edges, support 0 included.
    *
    * Scale: the same degree-ordered O(m^1.5) wedge enumeration as
    * [[triangleStats]]; each triangle found once at its apex then
    * explodes to its three canonical edges, which partial-aggregate
    * on the edge key — no windows, no driver data. */
  def edgeSupport(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint(true) // degrees, orientation, closure, final join
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val du = deg.select(col("node").as("u"), col("degree").as("__du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("__dv"))
    val uFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    val oriented = und.join(du, Seq("u")).join(dv, Seq("v"))
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b"),
        when(uFirst, col("__dv")).otherwise(col("__du")).as("__bd"))
      // NOTE (r18 audit, verdict item 8): pre-partitioning this
      // checkpoint by the wedge apex to delete the self-join's two
      // exchanges was TRIED and does not work on Spark 4 with AQE —
      // Dataset.localCheckpoint reads outputPartitioning from the
      // executed AdaptiveSparkPlanExec, which reports
      // UnknownPartitioning for shuffled plans, so the LogicalRDD
      // comes back partition-blind and EnsureRequirements re-inserts
      // both exchanges anyway (measured: q131 plan identical, plus a
      // wasted construction shuffle). The two apex exchanges stay.
      .localCheckpoint(true)
    val wedges = oriented
      .join(oriented.select(col("a"), col("b").as("c"), col("__bd").as("__cd")),
        Seq("a"))
      .filter(col("__bd") < col("__cd") ||
        (col("__bd") === col("__cd") && col("b") < col("c")))
    val tris = wedges.join(
        oriented.select(col("a").as("__bb"), col("b").as("__cc")),
        col("b") === col("__bb") && col("c") === col("__cc"))
      .select(col("a"), col("b"), col("c"))
    val perEdge = tris.select(explode(array(
        struct(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"),
          greatest(col("a"), col("c")).as("v")),
        struct(least(col("b"), col("c")).as("u"),
          greatest(col("b"), col("c")).as("v")))).as("__e"))
      .groupBy(col("__e.u").as("u"), col("__e.v").as("v"))
      .agg(count(lit(1)).as("support"))
    und.join(perEdge, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** k-truss of an undirected simple graph (Cohen 2008, public
    * formulation): the maximal subgraph in which EVERY edge is
    * supported by at least k−2 triangles — the edge-level cohesion
    * complement of [[kCore]] (a k-core can be a star hub; a k-truss
    * cannot). Computed by support peeling: drop under-supported
    * edges, recount on the survivors, repeat to the fixpoint.
    *
    * Scale: each round is one [[edgeSupport]] pass over the SHRINKING
    * checkpointed live edge frame (degree-ordered O(m^1.5) wedge
    * join) + one filter — the [[kCore]] peeling posture at edge
    * granularity. `maxRounds` REQUIRES completion (no silent partial
    * output); each round drops ≥ 1 edge or exits, so rounds ≤ the
    * peel depth, not |E|. Output: the surviving canonical (u, v,
    * support) edges, support ≥ k−2. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             maxRounds: Int = 50,
             driverFinishMaxEdges: Long = TrussDriverFinishMaxEdges)
      : DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    var (live, nLive) = Materialize.ckCount(
      undirected(edges, srcCol, dstCol))
    if (driverFinishMaxEdges > 0 && nLive <= driverFinishMaxEdges)
      return kTrussDriver(live, k, maxRounds)
    var rounds = maxRounds
    var done = false
    var sup: DataFrame = null
    while (!done) {
      rounds -= 1
      require(rounds >= 0,
        s"kTruss did not converge within $maxRounds rounds")
      // the under-support convergence probe rides the round's
      // checkpoint job (r18) — the old filter.isEmpty was one more
      // action per peel round
      val support = edgeSupport(live, "u", "v")
      val (supCk, met) = Materialize.ckObserve(support,
        Seq(sum(when(col("support") < k - 2, 1L).otherwise(0L))
          .as("__nUnder")))
      // this round's live edges and edgeSupport's own checkpoints are
      // superseded by the support table
      Materialize.free(support)
      Materialize.free(live)
      sup = supCk
      val nUnder = met("__nUnder")
      if (nUnder == null || nUnder.asInstanceOf[Long] == 0L) done = true
      else {
        live = sup.filter(col("support") >= k - 2)
          .select(col("u"), col("v")).localCheckpoint(true)
        Materialize.free(sup)
      }
    }
    sup
  }

  /** In-memory twin of [[kTruss]]'s peel loop — identical round
    * semantics (support = common-neighbor count per canonical edge;
    * drop edges under k−2; recount; REQUIRE convergence within the
    * round budget) over collected canonical edges. */
  private def kTrussDriver(live: DataFrame, k: Int, maxRounds: Int)
      : DataFrame = {
    val spark = live.sparkSession
    import spark.implicits._
    var es = live.select(col("u"), col("v")).as[(Long, Long)].collect()
    var rounds = maxRounds
    var done = false
    var sup: Array[((Long, Long), Long)] = null
    while (!done) {
      rounds -= 1
      require(rounds >= 0,
        s"kTruss did not converge within $maxRounds rounds")
      val nbr = new java.util.HashMap[Long, java.util.HashSet[Long]]()
      es.foreach { case (u, v) =>
        nbr.computeIfAbsent(u, _ => new java.util.HashSet[Long]()).add(v)
        nbr.computeIfAbsent(v, _ => new java.util.HashSet[Long]()).add(u)
      }
      sup = es.map { case (u, v) =>
        val (a, b) = {
          val nu = nbr.get(u); val nv = nbr.get(v)
          if (nu.size <= nv.size) (nu, nv) else (nv, nu)
        }
        var c = 0L
        val it = a.iterator()
        while (it.hasNext) if (b.contains(it.next())) c += 1
        ((u, v), c)
      }
      if (sup.forall(_._2 >= k - 2)) done = true
      else es = sup.filter(_._2 >= k - 2).map(_._1)
    }
    sup.toSeq.map { case ((u, v), s) => (u, v, s) }
      .toDF("u", "v", "support")
  }
}
