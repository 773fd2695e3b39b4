package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a near-duplicate pair graph — the
  * step every dedup pipeline needs after pair generation: transitive
  * near-dup pairs (A~B, B~C) must collapse into ONE cluster with ONE
  * canonical document, or the "deduped" corpus still carries chains of
  * near-copies.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — each round
  * is two hash aggregations + joins on node id, and the edge graph
  * converges to disjoint stars centered at each component's minimum node id
  * in O(log² n) rounds regardless of component diameter. That bound is the
  * reason to prefer it over naive min-label propagation at 100 TB: a
  * pathological duplicate chain of length k costs label propagation k
  * rounds but large/small-star only log² k. Each round's output is
  * localCheckpoint'd so lineage (and task binaries) stay O(1) across
  * iterations instead of growing a join tree per round.
  *
  * Reference behavior anchor: the reference's dedup utilities drop
  * duplicates per key group (e.g. utils/incremental_etl.py's drop-dup by
  * key keeping latest); clustering generalizes that to transitive
  * near-duplicate groups for the LLM-corpus operators (SURVEY.md §2 #44-48).
  */
object ConnectedComponents {

  /** Component assignment for every node of `edges` (columns `src`, `dst`;
    * undirected, self-loops ignored). Returns (`node`, `component`) where
    * `component` is the minimum node id in the node's component. */
  def components(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    // orient every edge large→small; drop self loops and duplicates
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"), least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .transform(graft.sqlx.Lineage.truncate)
    var converged = e.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // fixpoint = identical edge set (exact, not a hash heuristic). The
      // round's edges and the convergence diff are computed in ONE
      // materialized action: a full-outer join of next against e (both
      // distinct, so it is 1:1) is checkpointed, the diff test and the
      // next round's edge set are then cheap scans of the checkpoint —
      // round 17 replaced the separate except∪except job per round, which
      // re-shuffled both edge sets a second time just to compare them.
      val next = smallStar(largeStar(e))
      val cp = next.withColumn("_n", lit(1))
        .join(e.withColumn("_o", lit(1)), Seq("u", "v"), "full_outer")
        .transform(graft.sqlx.Lineage.truncate)
      converged = cp.where(col("_n").isNull || col("_o").isNull).isEmpty
      e = cp.where(col("_n") === 1).select("u", "v")
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // at the fixpoint the graph is a disjoint union of stars (u → root);
    // roots have no outgoing edge and label themselves
    nodes.join(e.withColumnRenamed("u", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("v"), col("node")).as("component"))
  }

  /** Large-star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). Input directed u>v;
    * output directed u>v. */
  private[dedup] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node connects its smaller-or-equal neighborhood
    * (including itself) to the neighborhood minimum. Input/output directed
    * u>v, so the group minimum is simply min(v). */
  private[dedup] def smallStar(e: DataFrame): DataFrame = {
    // min via agg + join back — never collect_set: a converged star's
    // center has component-sized neighborhood and a set-valued aggregation
    // buffer would hold it in one task's memory
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    val fromNeighbors = e.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val fromSelf = mins.select(col("u"), col("m").as("v"))
    fromNeighbors.union(fromSelf).distinct()
  }
}
