package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Connected components by alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014): each node repeatedly re-attaches its neighborhood to the
  * smallest id it can see, which contracts every component to a star on
  * its minimum in O(log n) rounds REGARDLESS of component diameter.
  *
  * The one component-labelling loop: entity resolution ([[run]]) and
  * near-dup clustering ([[Dedup.nearDupClusters]]) both label through
  * [[labelsWithRounds]]. Each round is two self-contained
  * aggregate+join passes over the current edge list — no driver-side
  * graph state; the edge set is locally checkpointed per round (data
  * cached AND lineage cut, since each round reads its predecessor
  * several times).
  */
object ConnectedComponents {

  /** Raw-pair bound below which the whole computation collapses into
    * one collected union-find pass (r17 — the graph-family driver
    * finish applied here: every large/small-star round pays ~4
    * shuffles, a checkpoint and a convergence-checksum job at ANY
    * size, and the documented fixpoint — every node labeled with the
    * MINIMUM id of its component — is exactly what union-find with
    * min-id roots produces, so the driver twin is bit-identical by
    * definition, not by replay). Union-find is per-edge near-linear
    * (path compression), the per-edge-linear family — bound measured
    * in PLANS.md §"r17 CC driver-finish matrix". */
  private[graft] val CcDriverFinishMaxEdges = 2L * 1000 * 1000

  /** In-memory union-find with min-id roots over raw (possibly
    * duplicated, self-looped, bidirectional) edges: returns node →
    * component-minimum for every endpoint. Shared by [[run]] and
    * [[Dedup.nearDupClusters]]'s driver finishes. */
  private[operators] def unionFindMinLabels(es: Array[(Long, Long)])
      : java.util.HashMap[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    es.foreach { case (u, v) =>
      add(u); add(v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val out = new java.util.HashMap[Long, Long]()
    parent.keySet().forEach(n => out.put(n, find(n)))
    out
  }

  /** (id, cluster_id = component minimum) for every node appearing in
    * `pairs`, ids cast to bigint. Self-loops and duplicate/bidirectional
    * pairs are fine. */
  def run(pairs: DataFrame, aCol: String, bCol: String,
          maxIter: Int = 25,
          driverFinishMaxEdges: Long = CcDriverFinishMaxEdges): DataFrame =
    labelsWithRounds(pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v")), "u", "v", maxIter,
      driverFinishMaxEdges)._1

  /** As [[run]] with ids of their input type, also returning the number
    * of large+small rounds used (spec hook for the O(log n)
    * convergence claim; the driver-finish path reports 0 rounds —
    * force it off via `driverFinishMaxEdges` to exercise the
    * distributed loop). Only bigint pairs without a null id take the
    * union-find driver finish; other id types and null ids ride the
    * distributed loop, where a null id links to nothing and labels as
    * itself. */
  def labelsWithRounds(pairs: DataFrame, aCol: String, bCol: String,
                       maxIter: Int = 25,
                       driverFinishMaxEdges: Long = CcDriverFinishMaxEdges)
      : (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the pairs subtree (often an expensive LSH/banded join)
    // materializes once; the bound count rides the materialization job
    // (r18), and bound 0 forces the distributed loop even on EMPTY
    // input (r17 ADVICE)
    val (raw, nRaw) = Materialize.ckCount(
      pairs.select(col(aCol).as("u"), col(bCol).as("v")))
    val bothLong = raw.schema.fields.forall(_.dataType == LongType)
    if (bothLong && driverFinishMaxEdges > 0 &&
        nRaw <= driverFinishMaxEdges) {
      val rows = raw.collect()
      // a driver HashMap on unboxed longs cannot express a null id
      if (!rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val labels = unionFindMinLabels(
          rows.map(r => (r.getLong(0), r.getLong(1))))
        import scala.jdk.CollectionConverters._
        val out = labels.entrySet().asScala.toSeq
          .map(e => (e.getKey: Long, e.getValue: Long))
          .toDF("id", "cluster_id")
        Materialize.free(raw)
        return (out, 0)
      }
    }
    // nodes outlive raw: self-paired and null-paired ids appear in no
    // edge generation, and raw's blocks are released below
    val nodes = raw.select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id")))
      .distinct()
      .localCheckpoint(true)

    // each round references the previous edge set several times (both
    // orientations, the min table, the re-attach join): plain persist
    // keeps the DATA but lets the logical plan nest exponentially, so
    // the lineage must be cut every round — localCheckpoint materializes
    // to executor storage and restarts the plan
    // order-independent edge-set fingerprint: count + XOR of row
    // hashes (xor, not sum — ANSI mode would overflow a long sum;
    // edges are distinct so nothing cancels). r18: the fingerprint
    // rides each generation's checkpoint job via observe — the old
    // shape paid a separate convergence-checksum job per round, plus
    // an isEmpty action up front.
    def ckSum(df: DataFrame): (DataFrame, (Long, Long)) = {
      val (ck, m) = Materialize.ckObserve(df, Seq(
        count(lit(1)).as("__n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))
          .as("__x")))
      (ck, (m("__n").asInstanceOf[Long], m("__x").asInstanceOf[Long]))
    }
    var (edges, cs) = ckSum(raw
      .filter(col("u") =!= col("v"))
      .distinct())
    Materialize.free(raw)
    var rounds = 0
    var converged = cs._1 == 0L
    while (!converged && rounds < maxIter) {
      // large-star: every neighbor v > u re-attaches to the min around u
      val bi = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bi.groupBy("u")
        .agg(min(col("v")).as("__mn"))
        .withColumn("__m", least(col("__mn"), col("u")))
      val large = bi.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("__m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: orient to (big, small); every small neighbor (and
      // the center) attaches to the center's minimum
      val or = large.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val sMins = or.groupBy("u").agg(min(col("v")).as("__m"))
      val (small, next) = ckSum(or.join(sMins, "u")
        .select(col("v").as("u"), col("__m").as("v"))
        .unionByName(sMins.select(col("u"), col("__m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct())
      // the superseded round's checkpoint blocks are dead the moment
      // `edges` is reassigned — release the underlying RDD (Dataset
      // unpersist() was a silent no-op here: r17 ADVICE), or maxIter
      // generations of the full edge set pile up in executor storage
      Materialize.free(edges)
      edges = small
      converged = next == cs
      cs = next
      rounds += 1
    }

    // at the fixpoint every edge is (member, component-min); isolated
    // self-paired nodes label themselves
    val labels = nodes
      .join(edges.groupBy(col("u").as("id"))
        .agg(min(col("v")).as("__l")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__l"), col("id")).as("cluster_id"))
    (labels, rounds)
  }
}
