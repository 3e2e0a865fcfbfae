package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer fixed-point PageRank — link-graph centrality for corpus
  * curation (domain authority as a quality prior, the CommonCrawl
  * harmonic-centrality practice) and entity graphs. No counterpart in
  * ssi-dk/diseasystore; the iterative-join formulation follows the
  * classic Page et al. 1999 power iteration re-expressed as DataFrame
  * joins (the [[ConnectedComponents]] pattern: driver loop over
  * checkpointed node frames, O(1) lineage per round).
  *
  * EXACT-INTEGER variant: ranks are fixed-point mass units summing to
  * `scale` at iteration 0; every integer division drops its remainder
  * and dangling-node mass is NOT redistributed (the "mass-leaking"
  * formulation). Total mass therefore shrinks deterministically —
  * orderings track textbook PageRank, and every intermediate is a
  * 64-bit integer computed identically by any engine, so the whole
  * iteration hash-checks against a DuckDB recursive CTE.
  *
  * One recurrence, two twins: every variant is the same integer
  * power iteration over edges with a weight `w` (1 unless weighted),
  * a per-node teleport flag (1 on every node unless personalized) and
  * start ranks `coalesce(warm, flag · (scale div denom))`, where
  * `denom = Σ flags`. Per round, node v gets `flag_v · base + Σ over
  * in-edges (u,v) of ((rank_u · dampBp div 10⁴) · w) div W_u`, with
  * `W_u` = u's out-weight and `base = scale·(10⁴ − dampBp) div 10⁴
  * div denom`. Unit weights reproduce the unweighted integers exactly
  * (`(x·1) div count ≡ x div count`). [[iterateDriver]] replays it in
  * memory below the driver-finish bound; [[iterateDistributed]] runs
  * it as DataFrame joins above it.
  *
  * Scale: edges are repartitioned by src ONCE and checkpointed; each
  * iteration is one src-keyed join (co-located with the edge
  * partitioning) plus one dst-keyed partial aggregate — the canonical
  * two-shuffle PageRank round. Rank frames are node-sized;
  * per-iteration localCheckpoint keeps lineage O(1). No driver-side
  * data beyond the node count.
  *
  * Overflow: rank ≤ scale ≤ 10^12 and dampBp ≤ 10^4, so
  * rank·dampBp ≤ 10^16 < Long.MaxValue; contribution sums are bounded
  * by total mass. */
object PageRank {

  /** The argument check shared by the four entry points. */
  private def checkArgs(iters: Int, dampBp: Long, scale: Long): Unit = {
    require(iters >= 0, "iters must be non-negative")
    require(dampBp >= 0 && dampBp <= 10000, "dampBp in [0, 10000]")
    require(scale > 0 && scale <= 1000000000000L,
      "scale in (0, 10^12] keeps damped products within a long")
  }

  /** Edge prep of the unweighted variants: projection → co-locate by
    * __src → ONE checkpoint, the bound count observed on the
    * materialization job (r18, guide §2.4). Parallel rows stay as
    * multi-edges. */
  private def prep(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, Long) =
    Materialize.ckRepartitionCount(
      edges.select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst")),
      col("__src"))

  /** The driver-or-distributed branch of the four entry points. */
  private def run(e: DataFrame, nEdges: Long, warm: Option[DataFrame],
                  seeded: Option[DataFrame], iters: Int, dampBp: Long,
                  scale: Long, driverFinishMaxEdges: Long): DataFrame =
    if (driverFinishMaxEdges > 0 && nEdges <= driverFinishMaxEdges)
      iterateDriver(e, warm, seeded, iters, dampBp, scale)
    else iterateDistributed(e, warm, seeded, iters, dampBp, scale)

  /** Driver twin of the recurrence: identical integer arithmetic
    * (every product bounded exactly as the entry points' REQUIREs
    * bound it, every division non-negative so `/` ≡ `div`), so the
    * rank sequence is bit-equal to [[iterateDistributed]]'s. `e` must
    * carry __src/__dst (and __w for the weighted variant); `warm` =
    * resume's published ranks; `seeded` = personalized's (node,
    * __seed) flag frame (node-sized — never the raw seed table). */
  private def iterateDriver(e: DataFrame, warm: Option[DataFrame],
                            seeded: Option[DataFrame], iters: Int,
                            dampBp: Long, scale: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val es =
      if (e.columns.contains("__w"))
        e.select(col("__src"), col("__dst"), col("__w"))
          .as[(Long, Long, Long)].collect()
      else e.select(col("__src"), col("__dst"))
        .as[(Long, Long)].collect().map(t => (t._1, t._2, 1L))
    require(es.nonEmpty, "empty edge set")
    val nodeSet = new java.util.LinkedHashSet[Long]()
    es.foreach { case (s, d, _) => nodeSet.add(s); nodeSet.add(d) }
    val nodes = nodeSet.asScala.toArray
    val outw = new java.util.HashMap[Long, Long]()
    es.foreach { case (s, _, w) => outw.merge(s, w, _ + _) }
    val flags = new java.util.HashMap[Long, Long]()
    seeded.foreach(_.select(col("node"), col("__seed"))
      .as[(Long, Long)].collect()
      .foreach { case (k, f) => flags.put(k, f) })
    def flag(n: Long): Long =
      if (seeded.isEmpty) 1L else flags.getOrDefault(n, 0L)
    val warmRanks = new java.util.HashMap[Long, Long]()
    warm.foreach(_.select(col("node"), col("rank"))
      .as[(Long, Long)].collect()
      .foreach { case (k, r) => warmRanks.put(k, r) })
    val denom = nodes.map(flag).sum
    require(denom > 0, "no seed id appears in the edge set")
    val base = scale * (10000L - dampBp) / 10000L / denom
    var ranks = new java.util.HashMap[Long, Long]()
    nodes.foreach { n =>
      ranks.put(n, warmRanks.getOrDefault(n, flag(n) * (scale / denom)))
    }
    for (_ <- 0 until iters) {
      val sums = new java.util.HashMap[Long, Long]()
      es.foreach { case (s, d, w) =>
        sums.merge(d,
          (ranks.get(s) * dampBp / 10000L) * w / outw.get(s), _ + _)
      }
      val next = new java.util.HashMap[Long, Long]()
      nodes.foreach { n =>
        next.put(n, flag(n) * base + sums.getOrDefault(n, 0L))
      }
      ranks = next
    }
    nodes.toSeq.map(n => (n, ranks.get(n): Long)).toDF("node", "rank")
  }

  /** Distributed twin of the recurrence, same inputs as
    * [[iterateDriver]]: the node frame carries the teleport flag
    * (every node 1 unless `seeded` is given) and is materialized with
    * its count and flag sum observed on the same job. Each round is
    * one join of the src-partitioned edges against the ranks and the
    * out-weights plus one dst-keyed aggregate. */
  private def iterateDistributed(e: DataFrame, warm: Option[DataFrame],
                                 seeded: Option[DataFrame], iters: Int,
                                 dampBp: Long, scale: Long): DataFrame = {
    val we =
      if (e.columns.contains("__w")) e else e.withColumn("__w", lit(1L))
    val (nodes, met) = Materialize.ckObserve(
      seeded.getOrElse(Graph.nodesOf(e).withColumn("__seed", lit(1L))),
      Seq(count(lit(1)).as("__n"), sum(col("__seed")).as("__ns")))
    require(met("__n").asInstanceOf[Long] > 0, "empty edge set")
    val denom = met("__ns").asInstanceOf[Long]
    require(denom > 0, "no seed id appears in the edge set")
    // NOTE: __W would collide with __w under case-insensitive
    // resolution — keep the name fully distinct
    val outw = we.groupBy(col("__src")).agg(sum(col("__w")).as("__wsum"))
      .localCheckpoint(true)
    val base = scale * (10000L - dampBp) / 10000L / denom
    // nodes new since the published ranks start at their uniform share
    val start = col("__seed") * lit(scale / denom)
    var ranks = warm.fold(nodes.select(col("node"), start.as("rank")))(w =>
      nodes.join(w.select(col("node"), col("rank").as("__warm")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("__warm"), start).as("rank")))
    for (_ <- 0 until iters) {
      val contribs = we
        .join(ranks.withColumnRenamed("node", "__src"), Seq("__src"))
        .join(outw, Seq("__src"))
        .select(col("__dst").as("node"),
          expr(s"((rank * ${dampBp}L div 10000L) * __w) div __wsum")
            .as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("__seed") * lit(base) +
            coalesce(col("__s"), lit(0L))).as("rank"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Run `iters` damped power-iteration rounds over `edges` (one row
    * per directed edge; parallel rows act as weighted multi-edges via
    * out-degree counting). Output: (node, rank). Below
    * `driverFinishMaxEdges` the whole iteration replays on the driver
    * (the graph-family driver finish — identical integer recurrence,
    * bit-equal output; the per-round two-shuffle floor dominates
    * small graphs at ~8 jobs/round). */
  def iterate(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int, dampBp: Long = 8500L,
              scale: Long = 1000000000000L,
              driverFinishMaxEdges: Long = Graph.IterDriverFinishMaxEdges)
      : DataFrame = {
    checkArgs(iters, dampBp, scale)
    val (e, nEdges) = prep(edges, srcCol, dstCol)
    run(e, nEdges, None, None, iters, dampBp, scale, driverFinishMaxEdges)
  }

  /** Warm-start continuation: run `iters` more rounds starting from
    * an existing rank frame (node, rank) instead of the uniform
    * vector — the incremental-maintenance path: after edge appends,
    * resume from the last published ranks for a few rounds instead of
    * recomputing from scratch (power iteration converges from any
    * non-negative start). Exactly equals [[iterate]] when resumed
    * from its own output: `resume(iterate(e, k), e, j) ≡
    * iterate(e, k + j)` — PageRankSpec pins the law. */
  def resume(ranks: DataFrame, edges: DataFrame, srcCol: String,
             dstCol: String, iters: Int, dampBp: Long = 8500L,
             scale: Long = 1000000000000L,
             driverFinishMaxEdges: Long = Graph.IterDriverFinishMaxEdges)
      : DataFrame = {
    checkArgs(iters, dampBp, scale)
    val (e, nEdges) = prep(edges, srcCol, dstCol)
    run(e, nEdges, Some(ranks), None, iters, dampBp, scale,
      driverFinishMaxEdges)
  }

  /** WEIGHTED PageRank: transition mass from `src` splits over its
    * out-edges proportionally to the integral edge weight —
    * `contrib = ((rank·dampBp div 10⁴) · w) div W_src` with
    * `W_src = Σ out-weights` — the trade-intensity / click-count
    * variant of [[iterate]] (same Page et al. formulation, weighted
    * transition matrix). Identical mass-leaking exact-integer
    * discipline: remainders and dangling mass drop, every
    * intermediate is a 64-bit integer, the whole iteration
    * hash-checks against a recursive CTE.
    *
    * Weights must be integral ≥ 1 with max ≤ Long.Max/scale (both
    * REQUIREd driver-side from one aggregate) so the damped product
    * cannot overflow. Scale posture identical to [[iterate]]. */
  def iterateWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                      weightCol: String, iters: Int,
                      dampBp: Long = 8500L,
                      scale: Long = 1000000000000L,
                      driverFinishMaxEdges: Long =
                        Graph.IterDriverFinishMaxEdges): DataFrame = {
    checkArgs(iters, dampBp, scale)
    // projection -> co-locate -> ONE checkpoint; the bound count AND
    // both weight-sanity extremes ride the materialization job (r18 —
    // previously a checkpoint + an extremes job + a count job + a
    // second checkpoint)
    val (e, met) = Materialize.ckRepartitionObserve(
      edges.select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"),
        col(weightCol).cast("long").as("__w")),
      col("__src"),
      Seq(count(lit(1)).as("__n"), min(col("__w")).as("__mnw"),
        max(col("__w")).as("__mxw")))
    require(met("__mnw") != null, "empty edge set")
    require(met("__mnw").asInstanceOf[Long] >= 1L,
      s"edge weights must be >= 1 (saw ${met("__mnw")})")
    require(met("__mxw").asInstanceOf[Long] <= Long.MaxValue / scale,
      s"max edge weight ${met("__mxw")} overflows rank*w at scale " +
        scale)
    run(e, met("__n").asInstanceOf[Long], None, None, iters, dampBp,
      scale, driverFinishMaxEdges)
  }

  /** Personalized (seeded-teleport) PageRank — the TrustRank shape
    * (Gyöngyi et al. VLDB 2004): teleport mass lands ONLY on `seeds`
    * (a trusted slice — curated domains, verified entities), so rank
    * measures proximity to the trusted set and decays through the
    * link graph; spam neighborhoods score ≈ 0. Same exact-integer
    * mass-leaking arithmetic as [[iterate]] (remainders and dangling
    * mass drop), so every round hash-checks against a recursive CTE.
    *
    * `seeds` is one node id per row; ids outside the edge set are
    * ignored. Initial mass `scale div |seeds|` on each seed, 0
    * elsewhere; per round each node gets its damped in-contributions
    * plus, if a seed, the undamped teleport share.
    *
    * Scale posture identical to [[iterate]]; the seed set stays a
    * distributed frame (it can be millions of rows) joined by node id
    * — never collected, never broadcast by assumption. */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String, iters: Int,
                   dampBp: Long = 8500L,
                   scale: Long = 1000000000000L,
                   driverFinishMaxEdges: Long =
                     Graph.IterDriverFinishMaxEdges): DataFrame = {
    checkArgs(iters, dampBp, scale)
    val (e, nEdges) = prep(edges, srcCol, dstCol)
    // seed markers ride the node frame for the whole loop: one flag
    // column instead of a per-round join against the seed table. Both
    // twins read this node-sized flag frame — never the raw seed table
    // (it can be huge; the flags are bounded by the node count)
    val seeded = Graph.nodesOf(e).join(
        seeds.select(col(seedCol).cast("long").as("node")).distinct()
          .withColumn("__seed", lit(1L)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("__seed"))
    run(e, nEdges, None, Some(seeded), iters, dampBp, scale,
      driverFinishMaxEdges)
  }
}
