package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication"): cluster the embedding
  * space with a coarse k-means, then deduplicate ONLY within clusters —
  * pairs in the same cell whose cosine exceeds the threshold form
  * semantic-duplicate groups, and each group keeps one representative.
  * Clustering first is the whole point at 100 TB: the pair search is
  * O(Σ cell²) instead of corpus², and cells are processed independently
  * (the pair join is keyed on the cell, so it shuffles each vector once).
  * The scaling rule for the knob: grow `nCells` with the corpus to keep
  * cell occupancy roughly constant (nCells ≈ n/128 makes Σ cell² linear
  * in n; the paper runs ~110k clusters at LAION scale). The coarse fit
  * follows that rule all the way up: past IvfIndex.DriverFitMaxCells,
  * [[IvfIndex.assign]] dispatches to the distributed Lloyd's
  * ([[IvfIndex.fitDistributed]] — sample stays a DataFrame, only k·d
  * centroid aggregates reach the driver), so the cell count is never
  * capped by driver memory; the cell-keyed pair join below is already the
  * scale shape.
  *
  * Reuses [[IvfIndex.assign]] for the cells and
  * the codegen'd dot product for the scoring. Representative choice is the
  * smallest vec_id of each duplicate group's connected component within
  * the cell — deterministic; the paper keeps a random/centroid-farthest
  * member, which changes WHICH member survives, not which are duplicates.
  * The group resolution reuses [[graft.dedup.ConnectedComponents]] (pairs
  * within a cell can chain transitively).
  *
  * The k-means cells can split a near-dup pair across cells — the
  * recall/cost trade SemDeDup makes — but the md5-derandomized assignment
  * ([[IvfIndex.assign]]) makes the cell structure itself replayable, so
  * the registered `dedup_semantic` query is ORACLE-GREEN: DuckDB replays
  * the k-means fit, the in-cell pair generation and the connected-component
  * recursion bit-for-bit (LlmQueries). The spec additionally checks planted
  * duplicates and cross-checks against the exact global pair set.
  */
object SemDeDup {

  /** In-cell candidate pairs scored exactly: (vec_a, vec_b, cosine) for
    * every same-cell pair with round(cosine, 6) ≥ threshold, vec_a <
    * vec_b. This is the pair-generation half of [[dedup]] — and the
    * LOW-threshold embedding near-dup plan [[EmbeddingNearDup]] routes
    * to: the k-means cells keep the candidate bill O(Σ cell²) = O(N) at
    * occupancy-constant cell counts regardless of the threshold, where
    * sign-LSH's per-table match probability (p = 1 − θ/π per bit)
    * collapses as the adaptive width grows. Recall is the cell-split
    * trade (a near-dup pair landing in two cells is missed) —
    * deterministic and oracle-replayable via the md5-derandomized fit. */
  def cellPairs(vecs: DataFrame, nCells: Int = 0, threshold: Double): DataFrame = {
    // nCells = 0 (default) resolves the occupancy-constant pair rule
    // ([[Adaptive.cellsForPairs]], N/128 — the scaladoc's scaling rule,
    // now the default): Σ cell² stays linear in N. 16 at every driver SF.
    val cells =
      if (nCells > 0) nCells else Adaptive.cellsForPairs(graft.sqlx.Counts.of(vecs))
    val (assigned, _) = IvfIndex.assign(vecs, cells)
    pairsFromAssigned(assigned, threshold)
  }

  /** The pair-generation half over an ALREADY-ASSIGNED frame — shared by
    * [[cellPairs]] and [[dedup]] so dedup pays the k-means fit and the
    * full-corpus assignment exactly once. (For file-backed corpora the
    * session `Memo` makes a second fit a cache hit anyway, but in-memory
    * corpora have no collision-proof fingerprint and would re-fit — the
    * reuse here is what bounds dedup to one fit on EVERY corpus.) */
  private def pairsFromAssigned(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("vec_id"), col("emb"), col("cell"),
      sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb"))).as("nrm"))
    // in-cell pairs above threshold: equi-join on cell, upper triangle
    val l = a.select(col("cell"), col("vec_id").as("vec_a"),
      col("emb").as("ea"), col("nrm").as("na"))
    val r = a.select(col("cell"), col("vec_id").as("vec_b"),
      col("emb").as("eb"), col("nrm").as("nb"))
    l.join(r, Seq("cell")).where(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        round(when(col("na") =!= 0.0 && col("nb") =!= 0.0,
          graft.functions.GraftFunctions.dot(col("ea"), col("eb")) /
            (col("na") * col("nb"))), 6))
      .where(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Per-vector verdict: (vec_id, cell, group_id, is_semantic_dup).
    * `group_id` is the component representative (min vec_id); vectors with
    * no in-cell partner above `threshold` form singleton groups. */
  def dedup(vecs: DataFrame, nCells: Int = 0, threshold: Double): DataFrame = {
    val cells =
      if (nCells > 0) nCells else Adaptive.cellsForPairs(graft.sqlx.Counts.of(vecs))
    val (assigned, _) = IvfIndex.assign(vecs, cells)
    val a = assigned.select(col("vec_id"), col("cell"))
    val pairs = pairsFromAssigned(assigned, threshold)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val comps = graft.dedup.ConnectedComponents.components(pairs)
      .withColumnRenamed("node", "vec_id")
      .withColumnRenamed("component", "group_id")
    a.select("vec_id", "cell")
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("group_id"), col("vec_id")).as("group_id"))
      .withColumn("is_semantic_dup", col("group_id") =!= col("vec_id"))
  }
}
