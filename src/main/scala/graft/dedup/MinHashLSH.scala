package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection — the scale path for
  * document dedup (exact Jaccard verifies only the LSH candidates):
  *
  *  1. shingle → 32-bit base hash from the first four md5 bytes
  *     (cross-engine deterministic — same family as
  *     [[graft.operators.CountMin]]; SQL mirror [[baseHashSql]])
  *  2. k affine permutations h_i(x) = (a_i·x + b_i) mod p with FIXED
  *     constants (seeded once, embedded verbatim in the oracle SQL via
  *     [[paramsSqlValues]]) → signature
  *  3. signature split into b bands of r rows; docs sharing a band bucket
  *     become candidates — a bucket equi-join, never all-pairs. The bucket
  *     key is the comma-joined r-value slice itself (exact equality, no
  *     second-level hash), so every engine computes identical buckets.
  *  4. candidates exactly verified with [[Jaccard.pairsForCandidateSets]]
  *
  * Because every stage is deterministic md5/affine arithmetic, the
  * registered `dedup_minhash` query is hash-checked against a DuckDB
  * oracle that replays signatures, bands, and the candidate-restricted
  * verify bit-for-bit.
  *
  * For Jaccard threshold t, P(candidate) = 1 − (1 − t^r)^b — with k=128,
  * b=32, r=4 the S-curve midpoint is ≈ (1/32)^(1/4) ≈ 0.42; pairs at
  * t ≥ 0.6 are found with probability > 0.999.
  *
  * Scale shape: the unit is each document's distinct-trigram SET, one row
  * per doc ([[Jaccard.shingleSets]]). Signatures and bands are per-row
  * expressions over it, so stages 1–3 up to the bucket key run map-side
  * with no shuffle of shingles; the only corpus-sized exchanges are the
  * (band, bucket) rows of the bucket join — k·8 signature bytes per doc
  * collapse to b bucket keys — and the verify's doc-id joins of candidate
  * pairs to their sets. Batch and stream band through the one kernel,
  * [[bandBucketsFromArrays]], so they bucket identically by construction
  * ([[graft.streaming.StreamNearDup]]).
  */
object MinHashLSH {
  val NumHashes = 128
  val Bands = 32
  val RowsPerBand: Int = NumHashes / Bands
  val Prime = 2147483647L // 2^31 - 1

  /** Deterministic permutation parameters from a fixed seed. Public only so
    * the oracle SQL embeds the identical constants. */
  val params: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(NumHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** `(VALUES (0,a_0,b_0), …)` rows for a SQL derived table `p(i, a, b)`. */
  def paramsSqlValues: String =
    params.zipWithIndex.map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** SQL mirror of [[baseHash32]]: unsigned value of the first 8 md5 hex chars. */
  def baseHashSql(s: String): String = s"CAST(('0x' || substr(md5($s), 1, 8)) AS BIGINT)"

  // flat permutation arrays for the codegen kernel. Base hash = unsigned
  // 32-bit value of the first four md5 bytes; a·x+b with a,b < 2^31 and
  // x < 2^32 stays below 2^63 — no overflow in either engine.
  private val (permA, permB) = (params.map(_._1), params.map(_._2))

  /** (doc_id, band, bucket) from per-row shingle ARRAYS ([[Jaccard.shingleSets]]
    * rows): every stage is a per-row deterministic expression, so batch and
    * STREAM run the same kernel (a stream cannot aggregate shingles back
    * into sets — that would be a second stateful operator in its plan).
    * The bucket is the exact comma-joined slice of r signature values
    * (collision-free); the signature is the codegen'd
    * [[graft.functions.MinHashSig]] expression. */
  def bandBucketsFromArrays(docs: DataFrame): DataFrame =
    bandBucketsFromArrays(docs, Nil)

  /** [[bandBucketsFromArrays]] carrying extra passthrough columns (the
    * streaming TTL path needs the event time beside each banded row — a
    * post-hoc join would be a second stateful operator in that plan). */
  def bandBucketsFromArrays(docs: DataFrame, carry: Seq[String]): DataFrame = {
    // an empty set signs to null, and exploding null yields no rows: the
    // guard lives in the explode, not in a filter — a filter on the
    // shingles (or on sig) is pushed below the projection and inlines the
    // whole shingle build (or the md5 loop) a second time per row
    val sig = docs.select(col("doc_id") +: carry.map(col) :+
      graft.functions.MinHashSig.sig(col("shingles"), permA, permB, Prime).as("sig"): _*)
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)).as("bucket"))
    }
    sig.select(col("doc_id") +: carry.map(col) :+
        explode(when(col("sig").isNotNull, array(bandCols: _*))).as("bb"): _*)
      .select(col("doc_id") +: carry.map(col) :+ col("bb.band") :+ col("bb.bucket"): _*)
  }

  /** Hot-bucket skew guard: a band bucket with more than this many members
    * contributes NO candidate pairs. An m-member bucket yields m²/2 pairs,
    * so one degenerate bucket (empty-ish signatures, boilerplate text, a
    * million exact copies) turns the bucket join into the quadratic blowup
    * LSH exists to avoid — the one dedup path with no explicit skew bound
    * until round 12. The recall effect is documented and small: a bucket
    * this hot means the band signature is degenerate, and genuinely
    * near-dup members that large are exact-dup-like clusters the hash
    * dedup (dedup_exact) catches upstream; ordinary near-dup pairs still
    * collide in their other, non-degenerate bands. Mirrors the Jaccard
    * inverted-index df-cap. The oracle replays the same rule (HAVING
    * COUNT(*) <= cap on the bucket), so the contract is exact under ANY
    * data, not just data that never trips it. */
  val MaxBucketSize = 1024

  /** Candidate pairs from shared band buckets (bucket equi-join). */
  def candidates(docs: DataFrame): DataFrame =
    candidatesFromSets(Jaccard.shingleSets(docs))

  /** Candidate pairs over precomputed [[Jaccard.shingleSets]] rows. */
  def candidatesFromSets(sets: DataFrame): DataFrame = {
    // localCheckpoint: the banding kernel (signature + band explode) has
    // THREE consumers — the hot-bucket rollup and both self-join sides —
    // and they cannot share a plan subtree, so without the
    // materialization the corpus-sized banding pass would run three times
    // (the oracle shares its `bands` CTE the same way)
    val bb = bandBucketsFromArrays(sets).transform(graft.sqlx.Lineage.truncate)
    // oversized buckets excluded BEFORE the self-join: the size rollup
    // shuffles on the same (band, bucket) key the join uses, and the hot
    // set is metadata-sized (buckets over cap), so the anti-join
    // broadcasts — the guard never costs a corpus-sized extra exchange
    // (a window count instead would put a hot bucket in one task)
    val hot = bb.groupBy(col("band"), col("bucket"))
      .count().where(col("count") > MaxBucketSize)
      .select(col("band"), col("bucket"))
    val cool = bb.join(org.apache.spark.sql.functions.broadcast(hot),
      Seq("band", "bucket"), "left_anti")
    cool.as("a").join(cool.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH candidates verified with exact Jaccard ≥ threshold. The verify
    * stage is candidate-restricted ([[Jaccard.pairsForCandidateSets]]): it
    * intersects each candidate pair's two shingle sets — never the
    * full-corpus shingle self-join, which is exactly the quadratic job LSH
    * exists to avoid. Cost at 100 TB: signatures O(N·k) map-side, bucket
    * join O(matches), verify O(candidates × shingles/doc). */
  def nearDuplicates(docs: DataFrame, threshold: Double): DataFrame =
    nearDuplicatesFromSets(Jaccard.shingleSets(docs), threshold)

  /** Variant over precomputed (persisted) sets — see Jaccard.cachedShingleSets. */
  def nearDuplicatesFromSets(sets: DataFrame, threshold: Double): DataFrame =
    Jaccard.pairsForCandidateSets(sets, candidatesFromSets(sets), threshold)
      .select("doc_a", "doc_b", "jaccard")
}
