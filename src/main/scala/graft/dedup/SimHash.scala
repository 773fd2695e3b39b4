package graft.dedup


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 64-bit SimHash near-duplicate detection: each token hashes to 64 bits;
  * the fingerprint's bit i is 1 iff the sum of (±1 per token at bit i) is
  * positive. Near-dup candidates share one of four 16-bit bands (any pair
  * within Hamming distance 3 shares at least one band — pigeonhole), then
  * exact Hamming distance filters. Bucket equi-join, never all-pairs.
  *
  * The 64 token bits are md5-derived — bits 0..31 from md5 bytes 0-3,
  * bits 32..63 from bytes 4-7 of the SAME digest (one md5 per token; a
  * second salted digest measured ~2× the hash cost for no extra
  * independence md5's avalanche doesn't already give) — the same
  * cross-engine hash family as [[graft.operators.CountMin]] and
  * [[graft.ann.RandomProjection]], so the registered `dedup_simhash` query
  * replays exactly in the DuckDB oracle ([[bitsSqlLo]]/[[bitsSqlHi]] are the
  * SQL mirrors kept beside the JVM implementation so the two cannot drift).
  * Banded + Hamming≤3 ≡ all-pairs + Hamming≤3 (pigeonhole) UNDER the
  * default hot-bucket cap's threshold, and the oracle replays the band
  * structure and the cap rule exactly (HAVING COUNT(*) <= cap), so the
  * contract holds bit-for-bit even on data that saturates a bucket.
  */
object SimHash {

  /** SQL for the low 32 token-hash bits: md5 hex chars 1-8. */
  def bitsSqlLo(t: String): String = s"CAST(('0x' || substr(md5($t), 1, 8)) AS BIGINT)"
  /** SQL for the high 32 token-hash bits: md5 hex chars 9-16 (same digest). */
  def bitsSqlHi(t: String): String = s"CAST(('0x' || substr(md5($t), 9, 8)) AS BIGINT)"

  /** Fingerprints via the codegen'd [[graft.functions.SimHash64]]
    * expression (was a Scala UDF — same md5-derived votes, no String
    * boxing, stays in whole-stage codegen). Null texts are filtered on
    * the INPUT column — a `simhash IS NOT NULL` filter downstream would
    * be pushed below the project and re-run the whole md5 vote loop a
    * second time per row; for non-null text `split(trim(text), " ")`
    * always yields ≥1 token, so the fingerprint itself is never null. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimHash64.fingerprint(split(trim(col("text")), " ")).as("simhash"))

  /** Hot-bucket skew guard, DEFAULT-ON like [[MinHashLSH.MaxBucketSize]]
    * and [[graft.ann.HyperplaneLSH]]'s cap: a band bucket with more than
    * this many members contributes no candidate pairs. The 4×16 band
    * structure is fixed by the pigeonhole guarantee, so past N ≫ 2¹⁶ the
    * band join densifies quadratically from RANDOM collisions — an
    * m-member bucket is m²/2 candidate pairs, and the cap bounds every
    * bucket's bill the same way the other near-dup paths bound theirs.
    * Recall posture: a bucket this hot is a degenerate band signature —
    * ≥1024 docs agreeing on 16 fingerprint bits at random is ~impossible
    * (p = 2⁻¹⁶ per pair), so saturation means exact-dup-like clusters the
    * upstream hash dedup (dedup_exact) already catches; a true near-dup
    * pair keeps its other three bands. The oracle replays the same rule
    * (HAVING COUNT(*) <= cap on the band bucket), so the contract is
    * exact under ANY data — at every driver SF no bucket nears the cap,
    * so adopting the default moved no committed oracle hash
    * (SimHashHotBucketSpec plants a saturated bucket and pins both the
    * drop and the survival of an ordinary pair). */
  val MaxBucketSize = 1024

  /** Pairs within the given Hamming distance, found via 16-bit band buckets.
    *
    * Scale note (round-14 capacity audit): the 4×16 band structure is
    * FIXED by the pigeonhole guarantee (any pair within Hamming 3 of 64
    * bits shares one of 4 16-bit bands), so unlike
    * [[graft.ann.HyperplaneLSH]] the bucket space cannot grow with the
    * corpus. Past N ≫ 2¹⁶ the band join therefore densifies
    * quadratically from RANDOM collisions (p = 4·2⁻¹⁶ per pair — the
    * constant is tiny, the asymptote is real: ~10⁸ random candidates at
    * 67 M docs). [[MaxBucketSize]] (default-on since round 16) bounds the
    * per-bucket bill; deployments needing exact banded ≡ all-pairs
    * equivalence under adversarial saturation pass `maxBucket = None`
    * (drops every pair of a saturated band bucket — recall loss is
    * possible because a true near-dup is only guaranteed ONE shared
    * band) or use the capped shingle-based [[MinHashLSH]] path, which is
    * this engine's primary near-dup operator; the full fix is Manku et
    * al.'s permuted-prefix sorted-block scheme (WWW 2007), not built
    * here. */
  def nearDuplicates(docs: DataFrame, maxHamming: Int = 3,
                     maxBucket: Option[Int] = Some(MaxBucketSize)): DataFrame = {
    require(maxHamming <= 3, "4 bands of 16 bits guarantee recall only for distance <= 3")
    val fp = fingerprints(docs) // never-null by construction (see above)
    val bandedAll = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    val banded = maxBucket match {
      case None => bandedAll
      case Some(cap) =>
        // hot set is metadata-sized (buckets over cap) — the anti-join
        // broadcasts, and the rollup shuffles on the join's own key
        val hot = bandedAll.groupBy("band", "bucket")
          .agg(count(lit(1)).as("m")).where(col("m") > cap)
          .select("band", "bucket")
        bandedAll.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    }
    val hamming = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
