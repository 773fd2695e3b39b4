package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.{Jaccard, MinHashLSH}

/** Benchmark decontamination — the training-data hygiene pass that flags
  * corpus documents overlapping an evaluation/holdout set: any training
  * document sharing too many n-grams with a benchmark document leaks the
  * benchmark into training. Standard practice in LLM data pipelines
  * (n-gram-overlap decontamination as described in the GPT-3 and PaLM
  * dataset papers): build the holdout's distinct n-gram set, then score
  * each remaining document by the fraction of its distinct n-grams that
  * appear in the holdout set.
  *
  * Scale shape: the holdout n-gram set is small by construction (eval sets
  * are thousands of documents, the corpus is billions), so it broadcasts
  * and the corpus side is scored map-side — no shuffle of the corpus
  * n-grams at all. A [[graft.operators.Bloom]] bitmap of the holdout set
  * (a plan-size literal) prefilters the corpus BEFORE the contaminated-hit
  * join: blooms have no false negatives, so the composed result is
  * bit-identical while only the bloom-passing sliver reaches the exact
  * semi-join. The per-doc rollups shuffle only (doc_id, counts). If a
  * holdout ever outgrew broadcast, the semi-join degrades gracefully to a
  * shuffled join — over the already-thinned sliver, which is the point of
  * the bloom at 100 TB.
  */
object Decontaminate {

  /** Per-document n-gram overlap against the `isHoldout` subset of `docs`
    * (word-trigram shingles, shared with [[graft.dedup.Jaccard]]). Returns
    * one row per NON-holdout doc: n_shingles, n_contaminated,
    * contamination_ratio, is_contaminated (ratio ≥ `threshold`). Documents
    * too short to shingle score 0. */
  def overlap(docs: DataFrame, isHoldout: Column, threshold: Double,
              precomputedShingles: Option[DataFrame] = None): DataFrame = {
    val sh = precomputedShingles.getOrElse(Jaccard.shingles(docs))
    val holdIds = docs.where(isHoldout).select("doc_id")
    // localCheckpoint: the holdout's distinct-shingle frame is read three
    // times (cardinality count for the bloom sizing, bitmap build, exact
    // semi-join) and each recompute would re-scan the corpus-wide shingle
    // table — materialize it once; it is holdout-sized by construction
    val benchShingles = sh.join(holdIds, "doc_id").select("shingle").distinct()
      .transform(graft.sqlx.Lineage.truncate)
    val trainSh = sh.join(holdIds, Seq("doc_id"), "left_anti")
    // n_shingles: per-doc count, map-side combinable, no join involved
    val totals = trainSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // n_contaminated: bloom prefilter MAP-SIDE (blooms have no false
    // negatives, so dropping bloom-misses is exact), then the exact
    // semi-join removes the ε false positives — bit-identical to the
    // unfiltered semi-join, but at 100 TB only the bloom-passing sliver of
    // corpus shingles reaches the join. The bitmap is a plan-size literal
    // sized from the holdout cardinality (Bloom.bitsFor: ~12 bits/item,
    // FP ≤1%, 64 KiB floor / 16 MiB cap), so even when the holdout's
    // distinct-shingle table outgrows the broadcast threshold the
    // prefilter still applies before any exchange; the semi-join then
    // degrades gracefully to a shuffled join over the already-thinned
    // sliver. NOTE Bloom.build is EAGER — constructing this plan runs the
    // count + bit_or jobs (explain-only tooling pays them too).
    val words = graft.operators.Bloom.build(benchShingles, "shingle")
    val hits = trainSh
      .where(graft.operators.Bloom.mightContain(words, col("shingle")))
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    docs.where(!isHoldout).select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination_ratio",
        col("n_contaminated").cast("double") / greatest(col("n_shingles"), lit(1L)).cast("double"))
      .withColumn("is_contaminated", col("contamination_ratio") >= threshold)
  }

  /** Fuzzy (whole-document) decontamination: corpus documents NEAR-duplicate
    * to a holdout document, found via MinHash banding and exactly verified —
    * the complement of [[overlap]], which scores n-gram dilution but can
    * miss a lightly-edited full copy of one benchmark item inside a long
    * document collection split. This is the "fuzzy dedup against eval sets"
    * pass of LLM dataset pipelines (cf. the GPT-3 appendix's 13-gram fuzzy
    * decontamination).
    *
    * Scale shape: both sides band per-document shingle SETS
    * ([[Jaccard.shingleSets]], the cached per-session frame in the
    * registered query) with the map-side MinHash kernel — no shingle is
    * exploded or shuffled to sign a document. The corpus side is
    * O(N·bands) band rows; the holdout's band table is holdout-sized ×
    * bands — small by construction, broadcast — so candidate generation is
    * a map-side broadcast join, never a shuffle of corpus signatures.
    * Verification intersects each candidate's two sets
    * ([[Jaccard.pairsForCandidateSets]]), O(candidates · shingles/doc).
    *
    * Returns one row per (corpus doc, benchmark doc) verified pair at
    * jaccard ≥ `threshold`: doc_id, benchmark_id, inter, na, nb, jaccard.
    * Probabilistic (LSH recall < 1 below the band S-curve midpoint) ⇒
    * registered rows-only; planted-pair recall is spec-asserted. */
  def fuzzy(docs: DataFrame, isHoldout: Column, threshold: Double,
            precomputedSets: Option[DataFrame] = None): DataFrame = {
    val sets = precomputedSets.getOrElse(Jaccard.shingleSets(docs))
    val holdIds = docs.where(isHoldout).select("doc_id")
    // signatures are per-doc, so banding only the holdout's sets is
    // identical to banding everything and then filtering — and skips a
    // second full-corpus signature pass for the small side
    val holdBb = MinHashLSH.bandBucketsFromArrays(sets.join(holdIds, "doc_id"))
      .select(col("doc_id").as("bench_id"), col("band"), col("bucket"))
    val corpusBb = MinHashLSH.bandBucketsFromArrays(sets.join(holdIds, Seq("doc_id"), "left_anti"))
    val cand = corpusBb.join(broadcast(holdBb), Seq("band", "bucket"))
      .select(col("doc_id").as("doc_a"), col("bench_id").as("doc_b"))
      .distinct()
    Jaccard.pairsForCandidateSets(sets, cand, threshold)
      .withColumnRenamed("doc_a", "doc_id")
      .withColumnRenamed("doc_b", "benchmark_id")
  }
}
