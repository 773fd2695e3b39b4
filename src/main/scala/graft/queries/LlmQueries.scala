package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ann.{Cosine, HyperplaneLSH, RandomProjection}
import graft.dedup.{Exact => ExactDedup, Jaccard, MinHashLSH, SimHash}
import graft.multimodal.Binary
import graft.text.Corpus

/** LLM-training-data pipeline queries: dedup, similarity search, text
  * analysis, multimodal plumbing. Probabilistic operators (MinHash/SimHash/
  * hyperplane LSH) register rows-only queries and are golden/recall-tested
  * in specs; everything deterministic carries a mirrored DuckDB oracle. */
object LlmQueries {

  val JaccardThreshold = 0.2
  val EmbDedupThreshold = 0.4

  // ---------------------------------------------------------------- dedup
  private val dedupExact = Q(
    (s, d) => ExactDedup.dedup(s, d).orderBy("doc_id"),
    """WITH k AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS exact_key,
      |    md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS tokenset_key
      |  FROM documents
      |)
      |SELECT doc_id, exact_key, tokenset_key,
      |  MIN(doc_id) OVER (PARTITION BY exact_key) AS exact_canonical_id,
      |  COUNT(*) OVER (PARTITION BY exact_key) AS exact_group_size,
      |  MIN(doc_id) OVER (PARTITION BY tokenset_key) AS tokenset_canonical_id,
      |  COUNT(*) OVER (PARTITION BY tokenset_key) AS tokenset_group_size,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY exact_key) AS is_exact_dup,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY tokenset_key) AS is_tokenset_dup
      |FROM k ORDER BY doc_id""".stripMargin)

  private val dedupJaccard = Q(
    (s, d) => Jaccard.pairs(s, d, JaccardThreshold).orderBy("doc_a", "doc_b"),
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, list_transform(generate_series(1, len(w) - 2),
       |                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS ss
       |    FROM toks), UNNEST(ss) AS t(s)
       |),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, inter, ca.n AS na, cb.n AS nb,
       |       CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
       |FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin)

  /** Shared oracle CTE chain replaying MinHash signatures and band buckets
    * (single source of truth for `dedup_minhash` AND
    * CorpusOpsQueries.decontaminate_fuzzy): word-trigram shingles → md5
    * base hash → affine permutation minima → comma-joined band buckets —
    * every stage cross-engine deterministic (MinHashLSH scaladoc).
    * Produces CTEs `sh(doc_id, s)` and `bands(doc_id, band, bucket)`. */
  val minhashBandCtes: String =
    s"""toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, list_transform(generate_series(1, len(w) - 2),
       |                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS ss
       |    FROM toks), UNNEST(ss) AS t(s)
       |),
       |bh AS (SELECT doc_id, s, ${MinHashLSH.baseHashSql("s")} AS x FROM sh),
       |p(i, a, b) AS (VALUES ${MinHashLSH.paramsSqlValues}),
       |hv AS (
       |  SELECT doc_id, p.i, MIN((p.a * x + p.b) % ${MinHashLSH.Prime}) AS mh
       |  FROM bh CROSS JOIN p GROUP BY 1, 2
       |),
       |bands AS (
       |  SELECT doc_id, i // ${MinHashLSH.RowsPerBand} AS band,
       |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bucket
       |  FROM hv GROUP BY 1, 2
       |)""".stripMargin

  // Replays signatures, bands, and the candidate-restricted verify exactly:
  // base hash + affine permutations + concat-string buckets are all
  // cross-engine deterministic (MinHashLSH scaladoc). Shared with the
  // streaming twins (StreamingBatchQueries): with the whole corpus
  // streamed through, the stream's bucket-state pair set IS the batch
  // bucket join's (`minhashNearDupSql`), and with preloaded state + a
  // streamed increment it is the join restricted to increment-touching
  // pairs (`candFilter`) — one oracle body covers all three.
  private[queries] def minhashNearDupSqlWith(candFilter: String): String =
    s"""WITH $minhashBandCtes,
       |ok AS (
       |  SELECT band, bucket FROM bands
       |  GROUP BY 1, 2 HAVING COUNT(*) <= ${MinHashLSH.MaxBucketSize}
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN ok ON a.band = ok.band AND a.bucket = ok.bucket
       |  JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  $candFilter
       |),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |            JOIN sh b ON b.doc_id = doc_b AND b.s = a.s
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |       CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
       |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private[queries] val minhashNearDupSql: String = minhashNearDupSqlWith("")

  private val dedupMinhash = Q(
    (s, d) => MinHashLSH.nearDuplicatesFromSets(
        Jaccard.cachedShingleSets(s, d), JaccardThreshold)
      .orderBy("doc_a", "doc_b"),
    minhashNearDupSql)

  /** The per-document SimHash fingerprint replay (toks → per-token md5
    * bits → 64 majority votes → signed 64-bit fp) — shared by the
    * dedup_simhash oracle and the sql_extensions_simhash anchor. */
  private val simhashFpCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
       |),
       |th AS (
       |  SELECT doc_id, t, ${SimHash.bitsSqlLo("t")} AS lo, ${SimHash.bitsSqlHi("t")} AS hi
       |  FROM toks
       |),
       |bits AS (
       |  SELECT doc_id, i,
       |    SUM(CASE WHEN ((CASE WHEN i < 32 THEN lo >> i ELSE hi >> (i - 32) END) & 1) = 1
       |        THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS i)
       |  GROUP BY 1, 2
       |),
       |fp AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN
       |      (CASE WHEN i = 63 THEN CAST(-9223372036854775807 - 1 AS HUGEINT)
       |            ELSE CAST(power(2, i) AS HUGEINT) END)
       |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS fp
       |  FROM bits GROUP BY 1
       |)""".stripMargin

  // The oracle replays the band structure AND the default hot-bucket cap
  // (HAVING mirror, like the MinHash/HyperplaneLSH oracles) — DuckDB's >>
  // is the same arithmetic shift as Spark's shiftright, and & 65535 makes
  // the band extraction sign-agnostic on both engines. Under the cap's
  // threshold this is still all-pairs + Hamming≤3 (pigeonhole), which is
  // why the committed hash did not move when the cap became the default.
  private val dedupSimhash = Q(
    (s, d) => SimHash.nearDuplicates(Tables.documents(s, d), maxHamming = 3)
      .orderBy("doc_a", "doc_b"),
    s"""WITH $simhashFpCtes,
       |banded AS MATERIALIZED (
       |  SELECT doc_id, fp, band, (fp >> (band * 16)) & 65535 AS bucket
       |  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band)
       |),
       |ok AS (
       |  SELECT band, bucket FROM banded
       |  GROUP BY 1, 2 HAVING COUNT(*) <= ${SimHash.MaxBucketSize}
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.fp AS fa, b.fp AS fb
       |  FROM banded a
       |  JOIN ok ON a.band = ok.band AND a.bucket = ok.bucket
       |  JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fa, fb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin)

  /** §2 #55ac anchor: the same fingerprint computation, but the Spark side
    * is PLAIN SQL TEXT on a session built with
    * `spark.sql.extensions=graft.GraftExtensions` — the cluster-wide
    * deployment route (notebooks / spark-sql / thrift, no Scala API). The
    * oracle is the shared fp replay, so the injected function surface is
    * hash-anchored end to end, not just spec-pinned. */
  private val sqlExtensionsSimhash = Q(
    (s, d) => {
      val ext = graft.GraftExtensions.sessionFor(s)
      Tables.documents(ext, d).where(col("text").isNotNull)
        .createOrReplaceTempView("ext_documents")
      ext.sql(
        """SELECT doc_id, graft_simhash64(split(trim(text), ' ')) AS simhash
          |FROM ext_documents ORDER BY doc_id""".stripMargin)
    },
    s"""WITH $simhashFpCtes
       |SELECT doc_id, fp AS simhash FROM fp ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- ann
  /** Guarded cosine, the SQL mirror of the Spark family's zero-norm guard
    * (Cosine.fastCos / HyperplaneLSH.approxTopK / IvfIndex.rescoreTopK all
    * emit NULL via `when(na =!= 0 && nb =!= 0, …)`): explicit
    * dot/(|a|·|b|) with the identical op DAG, NULL on a zero norm. Every
    * cosine oracle routes through this so a zero-norm embedding at any SF
    * desyncs nothing (previously the oracles divided unguarded — green
    * only because the synthetic embeddings happen to have no zero rows). */
  private def cosSql(a: String, b: String): String =
    s"CASE WHEN sqrt(list_dot_product($a, $a)) <> 0 AND sqrt(list_dot_product($b, $b)) <> 0" +
      s" THEN list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))) END"

  /** [[cosSql]] rounded to 6dp through the §6 VARCHAR→DECIMAL route. */
  private def cosRndSql(a: String, b: String): String =
    s"CAST(ROUND(CAST(CAST(${cosSql(a, b)} AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE)"

  private val annTopk = Q(
    (s, d) => Cosine.topK(s, d).orderBy("query_id", "rank"),
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % 100 = 0),
      |s AS (
      |  SELECT query_id, vec_id, ${cosRndSql("qemb", "emb")} AS cosine
      |  FROM e CROSS JOIN q WHERE vec_id <> query_id
      |),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM s)
      |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin)

  /** Hard negatives per query vector (graft.ann.Cosine.hardNegatives):
    * top-10 most-similar different-label vectors. */
  private val annHardNegatives = Q(
    (s, d) => Cosine.hardNegatives(s, d).orderBy("query_id", "rank"),
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS qemb, label AS qlabel FROM e WHERE vec_id % 100 = 0),
      |s AS (
      |  SELECT query_id, vec_id, label AS neg_label,
      |    ${cosRndSql("qemb", "emb")} AS cosine
      |  FROM e CROSS JOIN q WHERE label <> qlabel
      |),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM s)
      |SELECT query_id, vec_id, neg_label, cosine, rank FROM r WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin)

  private val dedupEmbedding = Q(
    (s, d) => Cosine.thresholdPairs(s, d, EmbDedupThreshold).orderBy("vec_a", "vec_b"),
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${cosRndSql("a.emb", "b.emb")} AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${cosRndSql("a.emb", "b.emb")} >= $EmbDedupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin)

  private def corpusEmb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Memoized + persisted corpus bucket table per (session, dir) —
    * ann_lsh's repeat runs (and any future base-corpus LSH consumer)
    * share one O(N·L·B) bucketing pass. The
    * memo carries the table WITH the width it was hashed at
    * (HyperplaneLSH.BucketTable) so probe-side hashing reuses it instead
    * of re-deriving from a count (round-14 review finding); the frame
    * itself persists through FrameCache so clear() still unpersists it. */
  private def corpusBuckets(s: org.apache.spark.sql.SparkSession,
                            d: String): HyperplaneLSH.BucketTable =
    graft.sqlx.Memo.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "buckets-bt", d)) {
      val bt = HyperplaneLSH.bucketTable(corpusEmb(s, d), dim = 64)
      bt.copy(df = graft.sqlx.FrameCache.getOrElseUpdate(
        graft.sqlx.FrameCache.key(s, "buckets", d))(
        bt.df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    }

  /** Shared oracle CTEs replaying the hyperplane LSH bucketing: md5 ±1
    * planes (HyperplaneLSH.planesSql — the Spark builder's mirror), sign
    * bits summed into per-(vec, table) buckets, and the corpus side's
    * Hamming-1 probe buckets. Produces `e(vec_id, emb)`, `vb` (base
    * buckets) and `vprobe` (base ∪ probes). */
  // the bucket width replays the occupancy-adaptive rule
  // (HyperplaneLSH.adaptiveBits / bitsSql): at every driver SF the
  // MinBits floor decides (≤ 2048 vectors), so width = 8 exactly as
  // before; at stress scale the width grows so occupancy — and the
  // candidate join — stays linear (round-14 scale-stress finding)
  private def lshBucketCtes(
      corpusSql: String = "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings"): String =
    s"""e AS ($corpusSql),
       |pl AS (
       |${HyperplaneLSH.planesSql(dim = 64, tables = 16,
                                  bits = HyperplaneLSH.bitsSql("e"))}
       |),
       |vb AS (
       |  SELECT e.vec_id, pl.tbl,
       |         CAST(SUM(CASE WHEN list_dot_product(e.emb, pl.plane) > 0.0
       |                       THEN CAST(1 AS INTEGER) << pl.bit ELSE 0 END) AS INTEGER) AS bucket
       |  FROM e CROSS JOIN pl GROUP BY 1, 2
       |),
       |vprobe AS (
       |  SELECT vec_id, tbl, bucket FROM vb
       |  UNION ALL
       |  SELECT vb.vec_id, vb.tbl,
       |         CAST(xor(vb.bucket, CAST(1 << g.b AS INTEGER)) AS INTEGER) AS bucket
       |  FROM vb, (SELECT unnest(range(CAST(${HyperplaneLSH.bitsSql("e")} AS BIGINT))) AS b) g
       |)""".stripMargin

  /** Embedding near-dup at the REGISTERED (low, 0.4) threshold — routed
    * by graft.ann.EmbeddingNearDup to the k-means-cell plan: sign-LSH's
    * per-table hit rate at cos 0.4 decays with the adaptive width (30×
    * scale exponent 1.43 and collapsing recall in round 14's harness),
    * while the occupancy-constant cells keep the candidate bill O(N) at
    * any threshold (exponent 0.51 — the SemDeDup scale shape). The
    * oracle replays the md5-derandomized k-means fit (ivfFitCtes — the
    * dedup_semantic CTEs) and the in-cell pair rescore bit-for-bit. The
    * sign-LSH regime keeps its own registered pair query below
    * (`dedup_embedding_lsh_hi`) plus the top-k path (`ann_lsh`). */
  private val dedupEmbeddingLsh = Q(
    (s, d) => graft.ann.EmbeddingNearDup.pairs(corpusEmb(s, d), dim = 64,
        threshold = EmbDedupThreshold)
      .orderBy("vec_a", "vec_b"),
    s"""WITH ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536)},
       |vn AS (SELECT vec_id, emb, cell FROM asg)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |       ${cosRndSql("a.emb", "b.emb")} AS cosine
       |FROM vn a JOIN vn b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |WHERE ${cosRndSql("a.emb", "b.emb")} >= $EmbDedupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin)

  /** The sign-LSH pair regime, exercised where it is the RIGHT plan: a
    * re-ingested shard (every vec_id % 37 = 5 vector re-arrives under a
    * shifted id — the dedup_incremental convention applied to embeddings)
    * deduped at cos ≥ 0.9. Here p_bit ≥ 0.9, so 16 tables + Hamming-1
    * probes hold recall ~1 at any adaptive width — and the union corpus
    * (2 054 vectors at sf0.1) tips the occupancy-adaptive width OFF its
    * floor (9 bits), so the width rule itself is oracle-pinned at a
    * driver SF, not just in the stress harness. The oracle replays
    * planes, sign buckets, probes, the one-sided candidate join, the
    * hot-bucket guard and the exact rescore bit-for-bit. */
  private val reingestCorpusSql: String =
    """SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, embedding::DOUBLE[] AS emb FROM embeddings
      |  WHERE vec_id % 37 = 5""".stripMargin
  private val dedupEmbeddingLshHi = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val corpus = e.unionByName(e.where(col("vec_id") % 37 === 5)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("emb")))
      graft.ann.EmbeddingNearDup.pairs(corpus, dim = 64, threshold = 0.9)
        .orderBy("vec_a", "vec_b")
    },
    s"""WITH ${lshBucketCtes(reingestCorpusSql)},
       |hotb AS (SELECT tbl, bucket FROM vprobe GROUP BY 1, 2
       |         HAVING COUNT(*) > ${HyperplaneLSH.MaxBucket}),
       |pa AS (SELECT v.vec_id, v.tbl, v.bucket FROM vprobe v
       |       ANTI JOIN hotb USING (tbl, bucket)),
       |pb AS (SELECT v.vec_id, v.tbl, v.bucket FROM vb v
       |       ANTI JOIN hotb USING (tbl, bucket)),
       |cand AS (
       |  SELECT DISTINCT LEAST(a.vec_id, b.vec_id) AS vec_a,
       |                  GREATEST(a.vec_id, b.vec_id) AS vec_b
       |  FROM pa a JOIN pb b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |)
       |SELECT c.vec_a, c.vec_b,
       |       ${cosRndSql("ea.emb", "eb.emb")} AS cosine
       |FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
       |WHERE ${cosRndSql("ea.emb", "eb.emb")} >= 0.9
       |ORDER BY vec_a, vec_b""".stripMargin)

  private val annLsh = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      HyperplaneLSH.approxTopK(e, q, dim = 64, k = 10,
        precomputedBuckets = Some(corpusBuckets(s, d))).orderBy("query_id", "rank")
    },
    s"""WITH ${lshBucketCtes()},
       |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % 100 = 0),
       |qb AS (
       |  SELECT q.query_id, pl.tbl,
       |         CAST(SUM(CASE WHEN list_dot_product(q.qemb, pl.plane) > 0.0
       |                       THEN CAST(1 AS INTEGER) << pl.bit ELSE 0 END) AS INTEGER) AS bucket
       |  FROM q CROSS JOIN pl GROUP BY 1, 2
       |),
       |cand AS (
       |  SELECT DISTINCT qb.query_id, v.vec_id
       |  FROM qb JOIN vprobe v ON v.tbl = qb.tbl AND v.bucket = qb.bucket
       |  WHERE v.vec_id <> qb.query_id
       |),
       |s AS (
       |  SELECT c.query_id, c.vec_id,
       |    ${cosRndSql("q.qemb", "e.emb")} AS cosine
       |  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
       |),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM s)
       |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin)

  /** The registered IVF query exercises the FULL product path: build the
    * index, persist it partitioned by cell, probe it bucket-pruned
    * (IvfIndex.writeIndex/approxTopKStored) — the scan reads only the
    * probed cells' files, which is the 100 TB shape; the in-memory
    * approxTopK stays as the equality baseline in IvfStoreSpec. */
  /** Oracle CTEs replaying the ENTIRE IVF coarse-quantizer fit plus the
    * full-corpus assignment (IvfIndex scaladoc: md5 sampling stride, md5
    * init ordering, per-iteration argmin + DECIMAL(25,10)-exact means with
    * empty cells keeping their centroid) — k-means re-run in SQL,
    * iteration by iteration. The squared distance mirrors the JVM's
    * ascending-dimension accumulation as a sequential list dot product
    * over the difference vector. Produces `e(vec_id, emb)`, `c$iters`
    * (final centroids) and `asg(vec_id, emb, cell)`.
    *
    * The sharing points (`samp`, every `c$n`, `asg`) are `MATERIALIZED`:
    * DuckDB inlines plain CTEs per reference, and each `c$n` is referenced
    * twice (by `a$(n+1)` and `c$(n+1)`) — inlined, the fit chain replays
    * exponentially (2^iters), which is the docs/ORACLES.md hazard class
    * that emptied CORRECTNESS_r10/r11. Materializing is the SQL-side
    * mirror of the Scala `Memo` fit cache. */
  private def ivfFitCtes(k: Int, iters: Int, dim: Int, seed: Long, maxTrain: Int,
                         fitWhere: String = "TRUE",
                         embExpr: String = "embedding::DOUBLE[]"): String = {
    def d2(vec: String, cent: String): String =
      s"""list_dot_product(list_transform(generate_series(1, $dim), i -> $vec[i] - $cent[i]),
         |                          list_transform(generate_series(1, $dim), i -> $vec[i] - $cent[i]))""".stripMargin
    val head =
      s"""e AS (SELECT vec_id, $embExpr AS emb FROM embeddings),
         |ef AS (SELECT * FROM e WHERE $fitWhere),
         |st AS (SELECT CAST((COUNT(*) + ${maxTrain - 1}) // $maxTrain AS BIGINT) AS stride FROM ef),
         |samp AS MATERIALIZED (
         |  SELECT vec_id, emb FROM ef, st
         |  WHERE CAST(('0x' || substr(md5(vec_id || ':$seed'), 1, 8)) AS BIGINT) % st.stride = 0
         |),
         |init AS (SELECT emb, row_number() OVER (ORDER BY md5(vec_id || ':$seed'), vec_id) AS rn FROM samp),
         |c0 AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS cell, emb AS cent FROM init WHERE rn <= $k)""".stripMargin
    val iterBlocks = (1 to iters).map { n =>
      s"""a$n AS (
         |  SELECT s.vec_id, s.emb, c.cell, ${d2("s.emb", "c.cent")} AS d2
         |  FROM samp s CROSS JOIN c${n - 1} c
         |),
         |b$n AS (
         |  SELECT vec_id, emb, cell,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
         |  FROM a$n
         |),
         |g$n AS (
         |  SELECT cell, dims.i,
         |         CAST(CAST(SUM(CAST(emb[dims.i] AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
         |  FROM b$n, (SELECT unnest(generate_series(1, $dim)) AS i) dims
         |  WHERE rk = 1 GROUP BY 1, 2
         |),
         |c$n AS MATERIALIZED (
         |  SELECT p.cell, COALESCE(gl.cent, p.cent) AS cent
         |  FROM c${n - 1} p
         |  LEFT JOIN (SELECT cell, list(m ORDER BY i) AS cent FROM g$n GROUP BY 1) gl USING (cell)
         |)""".stripMargin
    }
    val assignBlock =
      s"""fa AS (
         |  SELECT e.vec_id, e.emb, c.cell, ${d2("e.emb", "c.cent")} AS d2
         |  FROM e CROSS JOIN c$iters c
         |),
         |fb AS (
         |  SELECT vec_id, emb, cell,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
         |  FROM fa
         |),
         |asg AS MATERIALIZED (SELECT vec_id, emb, cell FROM fb WHERE rk = 1)""".stripMargin
    (head +: iterBlocks :+ assignBlock).mkString(",\n")
  }

  // Oracle-green: sampling, init, all 5 Lloyd's rounds, the full-corpus
  // assignment, the centroid probe and the exact rescore replay in DuckDB
  // (possible because both fit paths use md5 + decimal-exact arithmetic —
  // see IvfIndex scaladoc and the ivfFitCtes builder above).
  /** Probe + exact rescore + top-k SQL over the fit CTEs' `c5`/`asg` —
    * shared by the full-build and incremental-append IVF oracles (the
    * probe is identical; only which vectors the quantizer was FIT on
    * differs, and that lives in ivfFitCtes' fitWhere). */
  private val ivfProbeSql: String =
    s"""q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % 100 = 0),
       |pc AS (
       |  SELECT q.query_id, q.qemb, c.cell,
       |         -(list_dot_product(q.qemb, c.cent)) /
       |           (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(c.cent, c.cent))) AS cdist
       |  FROM q CROSS JOIN c5 c
       |),
       |pp AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cdist, cell) AS prb FROM pc),
       |probed AS (SELECT query_id, qemb, cell FROM pp WHERE prb <= 8),
       |sc AS (
       |  SELECT p.query_id, a.vec_id,
       |    ${cosRndSql("p.qemb", "a.emb")} AS cosine
       |  FROM probed p JOIN asg a USING (cell)
       |  WHERE a.vec_id <> p.query_id
       |),
       |r AS (
       |  SELECT query_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM sc
       |)
       |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private val annIvf = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivf-${graft.sqlx.PathTag.of(d)}"
      graft.ann.IvfIndex.writeIndex(e, path)
      graft.ann.IvfIndex.approxTopKStored(s, path, q, k = 10).orderBy("query_id", "rank")
    },
    s"""WITH ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536)},
       |$ivfProbeSql""".stripMargin)

  /** IVF incremental ingest (graft.ann.IvfIndex.appendToIndex): the index
    * is built and persisted on the BASE corpus only (quantizer fit on the
    * base sample — the trained state of the deployment), then the arriving
    * increment is assigned against the FIXED stored centroids and appended
    * to its cell partitions, and the probe runs over the updated store.
    * Cost is O(increment) per ingest — no refit, no rewrite of existing
    * cells — which is the only maintenance shape that survives a corpus
    * that grows daily at 100 TB. The oracle replays the base-restricted
    * fit (ivfFitCtes' fitWhere) and the full-corpus assignment: assignment
    * is per-row against fixed centroids, so append ≡ rebuild with the same
    * quantizer (IvfIncrementalSpec asserts it on the store and the probe). */
  private val annIvfIncremental = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivf-incr-${graft.sqlx.PathTag.of(d)}"
      graft.ann.IvfIndex.writeIndex(e.where(col("vec_id") % 10 =!= 7), path)
      graft.ann.IvfIndex.appendToIndex(s, path, e.where(col("vec_id") % 10 === 7), incrementId = 1L)
      graft.ann.IvfIndex.approxTopKStored(s, path, q, k = 10).orderBy("query_id", "rank")
    },
    s"""WITH ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536,
                          fitWhere = "vec_id % 10 <> 7")},
       |$ivfProbeSql""".stripMargin)

  /** DuckDB replay of the per-subspace PQ codebook fits (graft.ann.Pq.fit):
    * the shared md5-stride sample, then for each subspace j an independent
    * Lloyd's chain over `list_slice` sub-vectors at seed+j — the same
    * arithmetic contract as [[ivfFitCtes]] (md5-ordered init, DECIMAL-exact
    * means, first-minimum argmin), just m times over sd dims. Produces
    * `e`, `samp`, and the unioned final codebook `cb(j, code, cent)`. */
  private def pqFitCtes(m: Int, sd: Int, codes: Int, iters: Int,
                        seed: Long, maxTrain: Int,
                        includeHead: Boolean = true): String = {
    def d2(vec: String, cent: String): String =
      s"""list_dot_product(list_transform(generate_series(1, $sd), i -> $vec[i] - $cent[i]),
         |                          list_transform(generate_series(1, $sd), i -> $vec[i] - $cent[i]))""".stripMargin
    // `includeHead = false` chains the per-subspace fits onto CTEs an
    // earlier builder already emitted (ann_ivfpq runs after ivfFitCtes,
    // whose e/samp are the same definitions at fitWhere = TRUE and the
    // same (seed, maxTrain) — one shared training sample feeds both the
    // coarse quantizer and the codebooks, exactly like the Spark side).
    val head =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |st AS (SELECT CAST((COUNT(*) + ${maxTrain - 1}) // $maxTrain AS BIGINT) AS stride FROM e),
         |samp AS MATERIALIZED (
         |  SELECT vec_id, emb FROM e, st
         |  WHERE CAST(('0x' || substr(md5(vec_id || ':$seed'), 1, 8)) AS BIGINT) % st.stride = 0
         |)""".stripMargin
    val subChains = (0 until m).map { j =>
      val sj = seed + j
      val fitHead =
        s"""s$j AS MATERIALIZED (SELECT vec_id, list_slice(emb, ${j * sd + 1}, ${(j + 1) * sd}) AS emb FROM samp),
           |i$j AS (SELECT emb, row_number() OVER (ORDER BY md5(vec_id || ':$sj'), vec_id) AS rn FROM s$j),
           |c${j}_0 AS MATERIALIZED (SELECT CAST(rn - 1 AS INTEGER) AS code, emb AS cent FROM i$j WHERE rn <= $codes)""".stripMargin
      val iterBlocks = (1 to iters).map { n =>
        s"""a$j$n AS (
           |  SELECT s.vec_id, s.emb, c.code, ${d2("s.emb", "c.cent")} AS d2
           |  FROM s$j s CROSS JOIN c${j}_${n - 1} c
           |),
           |b$j$n AS (
           |  SELECT vec_id, emb, code,
           |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, code) AS rk
           |  FROM a$j$n
           |),
           |g$j$n AS (
           |  SELECT code, dims.i,
           |         CAST(CAST(SUM(CAST(emb[dims.i] AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
           |  FROM b$j$n, (SELECT unnest(generate_series(1, $sd)) AS i) dims
           |  WHERE rk = 1 GROUP BY 1, 2
           |),
           |c${j}_$n AS MATERIALIZED (
           |  SELECT p.code, COALESCE(gl.cent, p.cent) AS cent
           |  FROM c${j}_${n - 1} p
           |  LEFT JOIN (SELECT code, list(m ORDER BY i) AS cent FROM g$j$n GROUP BY 1) gl USING (code)
           |)""".stripMargin
      }
      (fitHead +: iterBlocks).mkString(",\n")
    }
    val cbUnion = (0 until m)
      .map(j => s"SELECT $j AS j, code, cent FROM c${j}_$iters")
      .mkString("cb AS MATERIALIZED (\n", "\n  UNION ALL ", "\n)")
    val parts = if (includeHead) head +: subChains else subChains
    (parts :+ cbUnion).mkString(",\n")
  }

  /** PQ ADC + exact re-rank (graft.ann.Pq): encode = per-(vec, subspace)
    * argmin over the replayed codebooks; ADC = m 10-dp-quantized LUT
    * partial dots summed as DECIMAL(25,10) (order-free, so the candidate
    * cutoff is bit-stable across engines); top-`rerank` per query
    * re-scored exactly and ranked. See the Pq scaladoc for why every
    * stage is cross-engine deterministic. */
  private def pqAdcSql(m: Int, sd: Int, rerank: Int, k: Int,
                       probed: Option[(String, Int)] = None,
                       candWhere: String => String = _ => "TRUE"): String = {
    def q10(x: String): String =
      s"CAST(ROUND(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,20)), 10) AS DOUBLE)"
    def d2(vec: String, cent: String): String =
      s"""list_dot_product(list_transform(generate_series(1, $sd), i -> $vec[i] - $cent[i]),
         |                          list_transform(generate_series(1, $sd), i -> $vec[i] - $cent[i]))""".stripMargin
    // Candidate source: every corpus vector (ann_pq), or — ann_ivfpq —
    // only the members of the query's nProbe closest coarse cells
    // (`probed` = (final-centroid CTE from ivfFitCtes, nProbe); the cell
    // membership comes from its `asg`). Mirrors IvfPq.approxTopK's
    // qcells ⋈ codeLong cell equi-join.
    val adcCte = probed match {
      case None =>
        s"""adc AS (
           |  SELECT l.query_id, cd.vec_id,
           |         CAST(CAST(SUM(CAST(l.pdot AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS adot,
           |         CAST(CAST(SUM(CAST(l.cn2 AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS rec2
           |  FROM cd JOIN lut l ON l.j = cd.j AND l.code = cd.code
           |  WHERE cd.vec_id <> l.query_id AND ${candWhere("cd")}
           |  GROUP BY 1, 2
           |)""".stripMargin
      case Some((cellsCte, nProbe)) =>
        s"""pc AS (
           |  SELECT q.query_id, c.cell,
           |         -(list_dot_product(q.qemb, c.cent)) /
           |           (sqrt(list_dot_product(q.qemb, q.qemb)) * sqrt(list_dot_product(c.cent, c.cent))) AS cdist
           |  FROM q CROSS JOIN $cellsCte c
           |),
           |pp AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cdist, cell) AS prb FROM pc),
           |probed AS (SELECT query_id, cell FROM pp WHERE prb <= $nProbe),
           |adc AS (
           |  SELECT p.query_id, cd.vec_id,
           |         CAST(CAST(SUM(CAST(l.pdot AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS adot,
           |         CAST(CAST(SUM(CAST(l.cn2 AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS rec2
           |  FROM probed p
           |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
           |               AND ${candWhere("a")}
           |  JOIN cd ON cd.vec_id = a.vec_id
           |  JOIN lut l ON l.query_id = p.query_id AND l.j = cd.j AND l.code = cd.code
           |  GROUP BY 1, 2
           |)""".stripMargin
    }
    s"""cbn AS (SELECT j, code, cent, ${q10("list_dot_product(cent, cent)")} AS cn2 FROM cb),
       |sv AS (
       |  SELECT vec_id, js.j, list_slice(emb, js.j * $sd + 1, (js.j + 1) * $sd) AS sub
       |  FROM e, (SELECT unnest(generate_series(0, ${m - 1})) AS j) js
       |),
       |ca AS (
       |  SELECT s.vec_id, s.j, c.code, ${d2("s.sub", "c.cent")} AS d2
       |  FROM sv s JOIN cb c ON c.j = s.j
       |),
       |cd AS MATERIALIZED (
       |  SELECT vec_id, j, code FROM (
       |    SELECT vec_id, j, code, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rk
       |    FROM ca) WHERE rk = 1
       |),
       |q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % 100 = 0),
       |qn AS (SELECT query_id, qemb, sqrt(list_dot_product(qemb, qemb)) AS qnrm FROM q),
       |lut AS (
       |  SELECT q.query_id, c.j, c.code,
       |         ${q10(s"list_dot_product(list_slice(q.qemb, c.j * $sd + 1, (c.j + 1) * $sd), c.cent)")} AS pdot,
       |         c.cn2
       |  FROM q CROSS JOIN cbn c
       |),
       |$adcCte,
       |cand AS (
       |  SELECT a.query_id, a.vec_id, n.qemb,
       |         row_number() OVER (PARTITION BY a.query_id ORDER BY
       |           (CASE WHEN n.qnrm <> 0 AND a.rec2 > 0
       |                 THEN a.adot / (n.qnrm * sqrt(a.rec2)) END) DESC, a.vec_id) AS crk
       |  FROM adc a JOIN qn n USING (query_id)
       |),
       |sc AS (
       |  SELECT c.query_id, c.vec_id, ${cosRndSql("c.qemb", "v.emb")} AS cosine
       |  FROM cand c JOIN e v ON v.vec_id = c.vec_id
       |  WHERE c.crk <= $rerank
       |),
       |r AS (
       |  SELECT query_id, vec_id, cosine,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM sc
       |)
       |SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  private val annPq = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      graft.ann.Pq.approxTopK(e, q, k = 10, dim = 64).orderBy("query_id", "rank")
    },
    s"""WITH ${pqFitCtes(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                         codes = graft.ann.Pq.Codes, iters = graft.ann.Pq.Iters,
                         seed = 42L, maxTrain = 65536)},
       |${pqAdcSql(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                   rerank = graft.ann.Pq.Rerank, k = 10)}""".stripMargin)

  /** IVF+PQ (graft.ann.IvfPq — FAISS IndexIVFPQ with by_residual=false):
    * coarse cells prune WHICH vectors a query scans, PQ codes compress
    * WHAT the scan reads, exact re-rank fixes the final order. The oracle
    * replays BOTH fits off one shared training sample (ivfFitCtes emits
    * e/samp/asg/c5; pqFitCtes chains onto them head-less), then the
    * probe, the cell-restricted ADC and the re-rank. */
  private val annIvfPq = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      // full serving path: PQ-coded per-cell store, then a probe that scans
      // only the probed cells' files (IvfPqSpec asserts stored ≡ in-memory
      // and the pruned scan); raw vectors touched only for the re-rank
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-${graft.sqlx.PathTag.of(d)}"
      graft.ann.IvfPq.writeIndex(e, path, dim = 64)
      graft.ann.IvfPq.approxTopKStored(s, path, e, q, k = 10, dim = 64)
        .orderBy("query_id", "rank")
    },
    s"""WITH ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536)},
       |${pqFitCtes(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                    codes = graft.ann.Pq.Codes, iters = graft.ann.Pq.Iters,
                    seed = 42L, maxTrain = 65536, includeHead = false)},
       |${pqAdcSql(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                   rerank = graft.ann.Pq.Rerank, k = 10, probed = Some(("c5", 8)))}""".stripMargin)

  /** IVFPQ incremental ingest (graft.ann.IvfPq.appendToIndex —
    * ann_ivf_incremental's composed twin): the index is built and
    * persisted on the BASE corpus only, the arriving increment is
    * assigned AND PQ-coded against the stored metadata in one codegen
    * projection and appended to its cell partitions, and the probe runs
    * over the updated store. The oracle replays the base-restricted
    * shared sample (ivfFitCtes' fitWhere feeds the head-less pqFitCtes
    * too — ONE knob restricts both fits, exactly like the Spark side
    * fitting on the base frame) with the full-corpus encode/assign:
    * every index column is per-row against fixed metadata, so
    * append ≡ rebuild. */
  /** Shared oracle of the two incremental-ingest IVFPQ queries: the
    * base-restricted two-fit replay + full-corpus probe. Assignment and
    * coding are per-row against fixed stored metadata, so append ≡ rebuild
    * — and HOW the increment arrived (one batch, or n micro-batches) is
    * invisible to the final store, which is why the streamed ingest can
    * share it verbatim. */
  private val ivfPqIncrementalOracle: String =
    s"""WITH ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536,
                          fitWhere = "vec_id % 10 <> 7")},
       |${pqFitCtes(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                    codes = graft.ann.Pq.Codes, iters = graft.ann.Pq.Iters,
                    seed = 42L, maxTrain = 65536, includeHead = false)},
       |${pqAdcSql(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                   rerank = graft.ann.Pq.Rerank, k = 10, probed = Some(("c5", 8)))}""".stripMargin

  private val annIvfPqIncremental = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-incr-${graft.sqlx.PathTag.of(d)}"
      graft.ann.IvfPq.writeIndex(e.where(col("vec_id") % 10 =!= 7), path, dim = 64)
      graft.ann.IvfPq.appendToIndex(s, path, e.where(col("vec_id") % 10 === 7), incrementId = 1L)
      graft.ann.IvfPq.approxTopKStored(s, path, e, q, k = 10, dim = 64)
        .orderBy("query_id", "rank")
    },
    ivfPqIncrementalOracle)

  /** Streaming ANN index ingest — the production shape for a continuously
    * growing vector corpus, composing three proven pieces: the file
    * streaming source (arriving parquet = one micro-batch each),
    * foreachBatch as the ingest driver, and the replay-guarded
    * [[graft.ann.IvfPq.appendToIndex]] with `batchId + 1` as the increment
    * id — which makes the ingest exactly-once FOR FREE: Structured
    * Streaming's replayed-last-batch delivery hits the head version's
    * applied id and is a no-op (IvfPqStreamSpec asserts the replay
    * and the stream ≡ batch-append equivalence). The base index is
    * rebuilt each run (the stream mutates the store, like
    * stream_mv_refresh re-inits its view); the increment arrives as two
    * staged files ⇒ two genuine micro-batches, each appended
    * assign+encode-against-fixed-metadata in O(batch). The final probe
    * shares ann_ivfpq_incremental's oracle verbatim: n micro-batches or
    * one append, the store must converge to the same rows. */
  private val streamAnnIngest = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val tag = graft.sqlx.PathTag.of(d)
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-stream-$tag"
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-ann-stream-src-$tag-${graft.sources.SourceFingerprint.of(s, d, "embeddings")}")
      if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
        e.where(col("vec_id") % 10 === 7).repartition(2)
          .write.mode("overwrite").parquet(dir.toString)
      }
      graft.ann.IvfPq.writeIndex(e.where(col("vec_id") % 10 =!= 7), path, dim = 64)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("emb",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      graft.streaming.Drain.availableNow(s, stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.ann.IvfPq.appendToIndex(batch.sparkSession, path, batch, incrementId = id + 1)
          ()
        })
      graft.ann.IvfPq.approxTopKStored(s, path, e, q, k = 10, dim = 64)
        .orderBy("query_id", "rank")
    },
    ivfPqIncrementalOracle)

  /** Index-health / quantizer-drift monitor (graft.ann.IvfPq.indexHealth):
    * per-cell fill counts, global imbalance, and mean PQ reconstruction
    * error split base-vs-newest-increment over the SAME stored composed
    * index ann_ivfpq_incremental maintains — the input the documented
    * "drift ⇒ refit+rebuild" maintenance decision was missing. The oracle
    * replays both base-restricted fits, the full-corpus assignment, and
    * per-(vector, subspace) reconstruction error as MIN over codebook
    * entries (the stored code IS the argmin, so recomputing its distance
    * equals the min — which also makes the report an integrity check of
    * the stored codes). Means go through the §6 decimal-sum + VARCHAR
    * ROUND canon; ratios are single IEEE divisions of exact counts. */
  private val annIndexHealth = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val inc = e.where(col("vec_id") % 10 === 7)
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-health-${graft.sqlx.PathTag.of(d)}"
      graft.ann.IvfPq.writeIndex(e.where(col("vec_id") % 10 =!= 7), path, dim = 64)
      graft.ann.IvfPq.appendToIndex(s, path, inc, incrementId = 1L)
      graft.ann.IvfPq.indexHealth(s, path, e, inc.select("vec_id"), dim = 64)
    }, {
      val m = graft.ann.Pq.SubSpaces
      val sd = 64 / m
      val nCells = 16
      def decSum(cond: String): String =
        s"CAST(CAST(SUM(CASE WHEN $cond THEN CAST(d2 AS DECIMAL(25,10)) END) AS VARCHAR) AS DOUBLE)"
      def r4(x: String): String =
        s"CAST(ROUND(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE)"
      s"""WITH ${ivfFitCtes(k = nCells, iters = 5, dim = 64, seed = 42L, maxTrain = 65536,
                            fitWhere = "vec_id % 10 <> 7")},
         |${pqFitCtes(m = m, sd = sd, codes = graft.ann.Pq.Codes, iters = graft.ann.Pq.Iters,
                      seed = 42L, maxTrain = 65536, includeHead = false)},
         |jj AS (SELECT unnest(range($m)) AS j),
         |sub AS (
         |  SELECT a.vec_id, a.cell, jj.j,
         |         list_slice(a.emb, jj.j * $sd + 1, (jj.j + 1) * $sd) AS sv,
         |         a.vec_id % 10 = 7 AS is_inc
         |  FROM asg a CROSS JOIN jj),
         |td AS (
         |  SELECT s.vec_id, s.cell, s.j, s.is_inc,
         |         MIN(list_dot_product(list_transform(generate_series(1, $sd), i -> s.sv[i] - c.cent[i]),
         |                              list_transform(generate_series(1, $sd), i -> s.sv[i] - c.cent[i]))) AS d2
         |  FROM sub s JOIN cb c ON c.j = s.j
         |  GROUP BY 1, 2, 3, 4),
         |pc AS (
         |  SELECT cell,
         |    CAST(COUNT(*) / $m AS BIGINT) AS n_vectors,
         |    CAST(COUNT(CASE WHEN is_inc THEN 1 END) / $m AS BIGINT) AS n_increment,
         |    ${decSum("NOT is_inc")} AS se_base,
         |    ${decSum("is_inc")} AS se_inc
         |  FROM td GROUP BY cell),
         |tot AS (SELECT SUM(n_vectors) AS total, MAX(n_vectors) AS maxn FROM pc)
         |SELECT cell, n_vectors, n_increment,
         |  CAST(n_vectors * $nCells AS DOUBLE) / CAST(total AS DOUBLE) AS fill_ratio,
         |  CAST(maxn * $nCells AS DOUBLE) / CAST(total AS DOUBLE) AS imbalance,
         |  CASE WHEN n_vectors - n_increment = 0 THEN NULL
         |       ELSE ${r4("se_base / CAST(n_vectors - n_increment AS DOUBLE)")} END AS mse_base,
         |  CASE WHEN n_increment = 0 THEN NULL
         |       ELSE ${r4("se_inc / CAST(n_increment AS DOUBLE)")} END AS mse_increment
         |FROM pc CROSS JOIN tot
         |ORDER BY cell""".stripMargin
    })

  /** Auto-refit — the maintenance loop CLOSED (graft.ann.IvfPq
    * .refitIfDrifted): the health monitor's thresholds pull the documented
    * refit lever instead of feeding a dashboard. The staged scenario
    * guarantees drift deterministically: the increment's vectors are
    * shifted +2.0 per coordinate (a pure element transform both engines
    * compute identically), so the base-fitted codebooks have no resolution
    * where the increment lives, the mse trigger trips, and the store is
    * rebuilt over the full drifted corpus. The registered output is the
    * probe over the REFIT store; the oracle replays the full-corpus
    * two-fit (ivfFitCtes embExpr carries the same shift) + probe — i.e.
    * it verifies the refit actually ran AND re-fit on the union: a
    * silently skipped refit would hash-mismatch against the full-fit
    * replay. */
  private val annIndexAutorefit = Q(
    (s, d) => {
      val shifted = corpusEmb(s, d).withColumn("emb",
        when(col("vec_id") % 10 === 7,
          transform(col("emb"), x => x + lit(2.0))).otherwise(col("emb")))
      val inc = shifted.where(col("vec_id") % 10 === 7)
      val q = shifted.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-refit-${graft.sqlx.PathTag.of(d)}"
      graft.ann.IvfPq.writeIndex(shifted.where(col("vec_id") % 10 =!= 7), path, dim = 64)
      graft.ann.IvfPq.appendToIndex(s, path, inc, incrementId = 1L)
      val refit = graft.ann.IvfPq.refitIfDrifted(
        s, path, shifted, inc.select("vec_id"), dim = 64)
      require(refit, "the staged +2.0 shift must trip the drift triggers")
      graft.ann.IvfPq.approxTopKStored(s, path, shifted, q, k = 10, dim = 64)
        .orderBy("query_id", "rank")
    }, {
      val shiftExpr =
        """CASE WHEN vec_id % 10 = 7
          |     THEN list_transform(embedding::DOUBLE[], x -> x + 2.0)
          |     ELSE embedding::DOUBLE[] END""".stripMargin
      s"""WITH ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536,
                            embExpr = shiftExpr)},
         |${pqFitCtes(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                      codes = graft.ann.Pq.Codes, iters = graft.ann.Pq.Iters,
                      seed = 42L, maxTrain = 65536, includeHead = false)},
         |${pqAdcSql(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                     rerank = graft.ann.Pq.Rerank, k = 10, probed = Some(("c5", 8)))}""".stripMargin
    })

  /** Index-level forget (graft.ann.IvfPq.deleteFromIndex): a takedown
    * request (vec_id % 10 = 3) is removed from the SERVING index without
    * touching the quantizer — affected cells located by a column-pruned
    * semi-join over the stored codes, only those cells rewritten
    * copy-on-write, replay-guarded exactly-once like the append path. The
    * registered output is the probe over the post-delete store; the
    * oracle replays the FULL-corpus two-fit (the fitted quantizer keeps
    * its training history — FAISS remove_ids semantics) with the deleted
    * ids excluded from the ADC candidate set, so a delete that silently
    * left rows behind — or dropped a survivor — hash-mismatches.
    * IvfPqForgetSpec pins the file-level contract (unaffected cells keep
    * their files, emptied cells list none, replay no-op). */
  private val annForget = Q(
    (s, d) => {
      val e = corpusEmb(s, d)
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-forget-${graft.sqlx.PathTag.of(d)}"
      graft.ann.IvfPq.writeIndex(e, path, dim = 64)
      graft.ann.IvfPq.deleteFromIndex(
        s, path, e.where(col("vec_id") % 10 === 3).select("vec_id"), incrementId = 1L)
      graft.ann.IvfPq.approxTopKStored(s, path, e, q, k = 10, dim = 64)
        .orderBy("query_id", "rank")
    },
    s"""WITH ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536)},
       |${pqFitCtes(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                    codes = graft.ann.Pq.Codes, iters = graft.ann.Pq.Iters,
                    seed = 42L, maxTrain = 65536, includeHead = false)},
       |${pqAdcSql(m = graft.ann.Pq.SubSpaces, sd = 64 / graft.ann.Pq.SubSpaces,
                   rerank = graft.ann.Pq.Rerank, k = 10, probed = Some(("c5", 8)),
                   candWhere = a => s"$a.vec_id % 10 <> 3")}""".stripMargin)

  /** SemDeDup: k-means-cell-restricted semantic dedup at the embedding
    * near-dup threshold — O(Σ cell²) instead of corpus². Oracle-green: the
    * deterministic fit (ivfFitCtes — same cells as IvfIndex.assign) makes
    * even the cell-split "miss" pattern replayable, so the oracle re-runs
    * the fit, the in-cell pair search, and the connected-components
    * resolution (transitive-closure recursive CTE, the dedup_clusters
    * pattern). SemDeDupSpec's planted-duplicate and no-false-positive
    * cross-checks stay. */
  // the adaptive cell default (Adaptive.cellsForPairs) resolves to the
  // oracle's k = 16 at every driver SF (≤ 2048 vectors); at stress scale
  // cells grow ∝N so the in-cell pair bill stays linear (SCALING.md)
  private val dedupSemantic = Q(
    (s, d) => graft.ann.SemDeDup.dedup(corpusEmb(s, d),
      threshold = EmbDedupThreshold).orderBy("vec_id"),
    s"""WITH RECURSIVE ${ivfFitCtes(k = 16, iters = 5, dim = 64, seed = 42L, maxTrain = 65536)},
       |vn AS (SELECT vec_id, emb, cell, sqrt(list_dot_product(emb, emb)) AS nrm FROM asg),
       |pr AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM vn a JOIN vn b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CAST(ROUND(CAST(CAST(
       |    CASE WHEN a.nrm <> 0 AND b.nrm <> 0
       |         THEN list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END
       |  AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) >= $EmbDedupThreshold
       |),
       |sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM pr UNION SELECT dst, src FROM pr),
       |reach(u, v) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s2.v FROM reach r JOIN sym s2 ON r.v = s2.u
       |),
       |root AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS group_id FROM reach GROUP BY u)
       |SELECT a.vec_id, a.cell,
       |       COALESCE(r.group_id, a.vec_id) AS group_id,
       |       COALESCE(r.group_id, a.vec_id) <> a.vec_id AS is_semantic_dup
       |FROM asg a LEFT JOIN root r USING (vec_id)
       |ORDER BY vec_id""".stripMargin)

  /** Nearest-centroid domain classification (graft.ann.CentroidClassify):
    * per-source centroids fit on the train shard, every doc labelled with
    * its closest centroid. Oracle rebuilds the centroid lists with the
    * same quantize-then-exact-sum means and DuckDB's list cosine. */
  private val embeddingDomainClassify = Q(
    (s, d) => graft.ann.CentroidClassify.classify(s, d).orderBy("doc_id"),
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |d AS (SELECT doc_id, source FROM documents),
       |j AS (SELECT d.doc_id, d.source, e.emb FROM e JOIN d ON e.vec_id = d.doc_id),
       |ex AS (SELECT source, i, ${OracleSql.rnd("emb[i]", 6)} AS v6
       |       FROM (SELECT source, emb FROM j WHERE doc_id % 20 < 18) t,
       |            UNNEST(generate_series(1, len(emb))) AS g(i)),
       |cent AS (SELECT source, i,
       |         CAST(CAST(SUM(CAST(v6 AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) AS c
       |         FROM ex GROUP BY 1, 2),
       |cvec AS (SELECT source AS cand, list(c ORDER BY i) AS cv FROM cent GROUP BY 1),
       |sc AS (SELECT j.doc_id, j.source AS true_source, c.cand,
       |       ${cosRndSql("j.emb", "c.cv")} AS cosine
       |       FROM j CROSS JOIN cvec c),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cosine DESC, cand) AS rk FROM sc)
       |SELECT doc_id, true_source, cand AS predicted_source, cosine,
       |       cand = true_source AS is_correct
       |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin)

  // ---------------------------------------------------------------- text
  private def langScoreSql(words: Seq[String]): String = {
    val cnts = words.map(w =>
      s"len(list_filter(string_split(trim(text), ' '), t -> t = '$w'))").mkString(" + ")
    s"CAST($cnts AS DOUBLE) / CAST(GREATEST(len(string_split(trim(text), ' ')), 1) AS DOUBLE)"
  }
  private val langScoreDefs: Seq[String] =
    Corpus.Profiles.map { case (l, ws) => s"${langScoreSql(ws)} AS score_$l" }
  private val langOrdered: Seq[String] = Corpus.Profiles.map(_._1)
  /** Mirror of the Spark fold: nested CASE tracking (bestLang, bestScore). */
  private val bestLangSql: String =
    langOrdered.tail.foldLeft((s"'${langOrdered.head}'", s"score_${langOrdered.head}")) {
      case ((bl, bs), l) =>
        (s"CASE WHEN score_$l > $bs THEN '$l' ELSE $bl END",
          s"CASE WHEN score_$l > $bs THEN score_$l ELSE $bs END")
    }._1
  /** langid CTE pair: sc (per-profile scores) + p (predicted_lang). */
  private[queries] val langCte: String =
    s"""sc AS (
       |  SELECT doc_id, lang,
       |    ${langScoreDefs.mkString(",\n    ")}
       |  FROM documents
       |),
       |p AS (SELECT sc.*, $bestLangSql AS predicted_lang FROM sc)""".stripMargin

  private val textLangid = Q(
    (s, d) => Corpus.langId(s, d).orderBy("doc_id"),
    s"""WITH $langCte
       |SELECT doc_id, lang, predicted_lang, predicted_lang = lang AS is_correct,
       |  ${langOrdered.map(l => s"score_$l").mkString(", ")}
       |FROM p ORDER BY doc_id""".stripMargin)

  /** Shared DuckDB CTE chain for the heuristic quality score (mirrors
    * graft.text.Corpus.quality — single source of truth for the formula):
    * emits `q1` (raw counting columns incl. lang/source/punct) and `q2`
    * (q1 superset + quality_score) over `documents`. Spliced by
    * text_quality, corpus_curation_report, dedup_canonical, and
    * corpus_stats_by_source. */
  private[queries] val qualityCtes: String =
    """q1 AS (
      |  SELECT doc_id, lang, source,
      |    CAST(length(text) AS INTEGER) AS char_len,
      |    CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS token_cnt,
      |    CAST(len(list_distinct(string_split(trim(text), ' '))) AS INTEGER) AS uniq_token_cnt,
      |    CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS digit_cnt,
      |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INTEGER) AS punct_cnt
      |  FROM documents
      |),
      |q2 AS (
      |  SELECT q1.*,
      |    LEAST(1.0, CAST(token_cnt AS DOUBLE) / 50.0) * 0.4
      |      + CAST(uniq_token_cnt AS DOUBLE) / CAST(token_cnt AS DOUBLE) * 0.4
      |      + (1.0 - LEAST(1.0, CAST(digit_cnt AS DOUBLE) / CAST(GREATEST(char_len, 1) AS DOUBLE) * 10.0)) * 0.2 AS quality_score
      |  FROM q1
      |)""".stripMargin

  private val textQuality = Q(
    (s, d) => Corpus.quality(s, d).orderBy("doc_id"),
    s"""WITH $qualityCtes
       |SELECT doc_id, char_len, token_cnt, uniq_token_cnt,
       |  CAST(char_len - (token_cnt - 1) AS DOUBLE) / CAST(token_cnt AS DOUBLE) AS avg_word_len,
       |  CAST(uniq_token_cnt AS DOUBLE) / CAST(token_cnt AS DOUBLE) AS uniq_ratio,
       |  CAST(digit_cnt AS DOUBLE) / CAST(GREATEST(char_len, 1) AS DOUBLE) AS digit_ratio,
       |  punct_cnt, quality_score
       |FROM q2 ORDER BY doc_id""".stripMargin)

  /** Shared DuckDB CTE chain for the bigram-LM perplexity model (mirrors
    * graft.text.Perplexity — single source of truth for the smoothing and
    * split): expects a `toks(doc_id, w)` CTE in scope and emits
    * `pagg(doc_id, n_bigrams, slp)`. Aliases prefixed `p*` so composing
    * oracles (corpus_curation_report) can splice it without collisions. */
  private[queries] val perplexityCtes: String = {
    val sm = graft.text.Perplexity.Smoothing
    val lpExpr = s"ln((CAST(COALESCE(pm.c12, 0) AS DOUBLE) + $sm) / " +
      s"(CAST(COALESCE(pc.c1, 0) AS DOUBLE) + $sm * CAST(pv.v AS DOUBLE)))"
    s"""pbgl AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
       |                                       i -> w[i] || ' ' || w[i+1])) AS pair
       |  FROM toks WHERE len(w) >= 2
       |),
       |pbg AS (SELECT doc_id, pair, string_split(pair, ' ')[1] AS w1 FROM pbgl),
       |ptbg AS (SELECT pair, w1 FROM pbg WHERE doc_id % 20 < 18),
       |pm AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c12 FROM ptbg GROUP BY 1),
       |pc AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM ptbg GROUP BY 1),
       |pv AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
       |       FROM (SELECT unnest(w) AS t FROM toks WHERE doc_id % 20 < 18)),
       |psc AS (
       |  SELECT b.doc_id, ${OracleSql.rnd(lpExpr, 10)} AS lp_q
       |  FROM pbg b LEFT JOIN pm ON b.pair = pm.pair
       |             LEFT JOIN pc ON b.w1 = pc.w1
       |             CROSS JOIN pv
       |),
       |pagg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |         CAST(CAST(SUM(CAST(lp_q AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS slp
       |  FROM psc GROUP BY 1
       |)""".stripMargin
  }

  /** CCNet-style bigram-LM perplexity scoring (graft.text.Perplexity):
    * model trained on the corpus_split train shard, every doc scored with
    * add-0.5 smoothing. Per-bigram log-probs quantized to 10 dp on both
    * engines before the exact DECIMAL(25,10) sum (the decSumP rule). */
  private val textPerplexity = Q(
    (s, d) => graft.text.Perplexity.score(s, d).orderBy("doc_id"),
    {
      val avgExpr = "slp / CAST(n_bigrams AS DOUBLE)"
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         |$perplexityCtes
         |SELECT doc_id, n_bigrams,
         |  ${OracleSql.rd(avgExpr, "avg_logprob")},
         |  (${OracleSql.rnd(avgExpr, 4)} < ${graft.text.Perplexity.LowQualityThreshold}) AS is_low_quality
         |FROM pagg ORDER BY doc_id""".stripMargin
    })

  /** PII scrub (graft.text.Redact): per-class counts + the redacted text.
    * The synthetic corpus contains no PII, so the query deterministically
    * salts each document with one well-formed email / IPv4 / digit run
    * derived from doc_id — the IDENTICAL construction on both engines —
    * so the full detect-and-replace path is exercised end to end;
    * RedactSpec covers the pattern classes (multiples, adjacency,
    * no-PII pass-through) beyond this single shape. */
  private val textPiiRedact = Q(
    (s, d) => {
      import graft.text.Redact
      val salted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com via 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7 ref 4111111111111111"))
      Tables.documents(s, d)
        .select(col("doc_id"), salted.as("_t"))
        .select(col("doc_id"),
          Redact.emailCount(col("_t")).as("n_emails"),
          Redact.ipv4Count(col("_t")).as("n_ipv4"),
          Redact.digitRunCount(col("_t")).as("n_digit_runs"),
          Redact.redacted(col("_t")).as("redacted_text"))
        .orderBy("doc_id")
    },
    s"""WITH t AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via 10.0.'
       |      || CAST(doc_id % 256 AS VARCHAR) || '.7 ref 4111111111111111' AS _t
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(_t, '${graft.text.Redact.EmailRe}')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(_t, '${graft.text.Redact.Ipv4Re}')) AS INTEGER) AS n_ipv4,
       |  CAST(len(regexp_extract_all(_t, '${graft.text.Redact.DigitRunRe}')) AS INTEGER) AS n_digit_runs,
       |  regexp_replace(
       |    regexp_replace(
       |      regexp_replace(_t, '${graft.text.Redact.EmailRe}', '${graft.text.Redact.EmailTag}', 'g'),
       |      '${graft.text.Redact.Ipv4Re}', '${graft.text.Redact.IpTag}', 'g'),
       |    '${graft.text.Redact.DigitRunRe}', '${graft.text.Redact.NumberTag}', 'g') AS redacted_text
       |FROM t ORDER BY doc_id""".stripMargin)

  private val textTokens = Q(
    (s, d) => Corpus.tokens(s, d).orderBy("doc_id"),
    """SELECT doc_id,
      |  CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS token_count,
      |  CAST(len(list_distinct(string_split(trim(text), ' '))) AS INTEGER) AS uniq_token_count,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_piece_count,
      |  CAST(length(text) AS INTEGER) AS char_count
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** Deterministic train/val/test split (90/5/5 by doc_id modulus — a pure
    * row-local function of the key, so the split is reproducible across
    * runs, engines and partitionings, and any shard can be recomputed
    * independently at 100 TB; no sampling state, no rand()). Rollup of
    * per-split sizes and quality aggregates as the registered check. */
  private val corpusSplit = Q(
    (s, d) => Tables.documents(s, d)
      .withColumn("split",
        when(col("doc_id") % 20 < 18, "train")
          .when(col("doc_id") % 20 === 18, "val")
          .otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("split"),
    """SELECT CASE WHEN doc_id % 20 < 18 THEN 'train'
      |            WHEN doc_id % 20 = 18 THEN 'val'
      |            ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM documents
      |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Vocab build over the corpus (training-data pipeline staple): top-100
    * tokens by occurrence, with document frequencies. */
  private val vocabTopTokens = Q(
    (s, d) => Corpus.vocab(s, d, k = 100),
    """SELECT token,
      |  COUNT(*) AS n_occurrences,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY n_occurrences DESC, token
      |LIMIT 100""".stripMargin)

  private val textFingerprint = Q(
    (s, d) => Corpus.fingerprint(s, d).orderBy("doc_id"),
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 8) AS fingerprint_prefix
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** The end-to-end training-data cleaning pass, composed from the
    * deterministic pipeline stages: drop exact + token-set duplicates, drop
    * low-quality docs (score < 0.5 or < 5 tokens), keep docs whose n-gram
    * language ID agrees with the labelled language. Each stage is
    * oracle-green on its own; this query proves they compose into one
    * filtered-corpus DAG (three hash joins on doc_id — at 100 TB each side
    * is partitioned by doc_id, no stage materializes the full text twice). */
  private val corpusClean = Q(
    (s, d) => {
      import graft.sqlx.Exact.r4
      val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
      val dd = ExactDedup.dedup(s, d)
        .select(col("doc_id"), col("is_exact_dup"), col("is_tokenset_dup"))
      val q = Corpus.quality(s, d).select(col("doc_id"), col("token_cnt"), col("quality_score"))
      val l = Corpus.langId(s, d).select(col("doc_id"), col("predicted_lang"))
      docs.join(dd, "doc_id").join(q, "doc_id").join(l, "doc_id")
        .where(!col("is_exact_dup") && !col("is_tokenset_dup") &&
          col("quality_score") >= 0.5 && col("token_cnt") >= 5 &&
          col("predicted_lang") === col("lang"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("token_cnt"), r4(col("quality_score")).as("quality_score"))
        .orderBy("doc_id")
    },
    s"""WITH k AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS exact_key,
       |    md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS tokenset_key
       |  FROM documents
       |),
       |dk AS (
       |  SELECT doc_id,
       |    doc_id <> MIN(doc_id) OVER (PARTITION BY exact_key) AS is_exact_dup,
       |    doc_id <> MIN(doc_id) OVER (PARTITION BY tokenset_key) AS is_tokenset_dup
       |  FROM k
       |),
       |q1 AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS INTEGER) AS char_len,
       |    CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS token_cnt,
       |    CAST(len(list_distinct(string_split(trim(text), ' '))) AS INTEGER) AS uniq_token_cnt,
       |    CAST(len(regexp_extract_all(text, '[0-9]')) AS INTEGER) AS digit_cnt
       |  FROM documents
       |),
       |q2 AS (
       |  SELECT doc_id, token_cnt,
       |    LEAST(1.0, CAST(token_cnt AS DOUBLE) / 50.0) * 0.4
       |      + CAST(uniq_token_cnt AS DOUBLE) / CAST(token_cnt AS DOUBLE) * 0.4
       |      + (1.0 - LEAST(1.0, CAST(digit_cnt AS DOUBLE) / CAST(GREATEST(char_len, 1) AS DOUBLE) * 10.0)) * 0.2 AS quality_score
       |  FROM q1
       |),
       |$langCte
       |SELECT d.doc_id, d.lang, d.source, d.n_chars, q2.token_cnt,
       |  ${OracleSql.rd("q2.quality_score", "quality_score")}
       |FROM documents d
       |JOIN dk ON dk.doc_id = d.doc_id
       |JOIN q2 ON q2.doc_id = d.doc_id
       |JOIN p ON p.doc_id = d.doc_id
       |WHERE NOT dk.is_exact_dup AND NOT dk.is_tokenset_dup
       |  AND q2.quality_score >= 0.5 AND q2.token_cnt >= 5
       |  AND p.predicted_lang = d.lang
       |ORDER BY d.doc_id""".stripMargin)

  /** Gopher-style repetition filter (duplicate / top n-gram fractions for
    * n ∈ {2,3}); fractions are integer ratios rounded via the shared
    * tie-exact helper, flags compare exactly. */
  private val textRepetition = Q(
    (s, d) => Corpus.repetition(s, d).orderBy("doc_id"),
    {
      def gramCtes(n: Int): String =
        s"""g$n AS (
           |  SELECT doc_id,
           |         unnest(list_transform(range(1, len(tk) - ${n - 2}),
           |                               i -> array_to_string(tk[i:i+${n - 1}], ' '))) AS gram
           |  FROM toks WHERE len(tk) >= $n
           |),
           |c$n AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g$n GROUP BY doc_id, gram),
           |s$n AS (
           |  SELECT doc_id, SUM(cnt) AS total_$n, MAX(cnt) AS max_$n,
           |         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_$n
           |  FROM c$n GROUP BY doc_id
           |)""".stripMargin
      def frac(num: String, den: String, as: String): String =
        OracleSql.rd(s"CAST($num AS DOUBLE) / CAST($den AS DOUBLE)", as)
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
         |${gramCtes(2)},
         |${gramCtes(3)}
         |SELECT t.doc_id, CAST(len(t.tk) AS INTEGER) AS n_tokens,
         |  ${frac("dup_2", "total_2", "dup_2gram_frac")},
         |  ${frac("max_2", "total_2", "top_2gram_frac")},
         |  ${frac("dup_3", "total_3", "dup_3gram_frac")},
         |  ${frac("max_3", "total_3", "top_3gram_frac")},
         |  COALESCE(${OracleSql.rnd("CAST(max_2 AS DOUBLE) / CAST(total_2 AS DOUBLE)", 4)} > 0.20, FALSE)
         |    OR COALESCE(${OracleSql.rnd("CAST(max_3 AS DOUBLE) / CAST(total_3 AS DOUBLE)", 4)} > 0.18, FALSE)
         |    OR COALESCE(${OracleSql.rnd("CAST(dup_3 AS DOUBLE) / CAST(total_3 AS DOUBLE)", 4)} > 0.30, FALSE)
         |    AS is_repetitive
         |FROM toks t
         |LEFT JOIN s2 ON s2.doc_id = t.doc_id
         |LEFT JOIN s3 ON s3.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin
    })

  /** Cross-document duplicated-span analysis (RefinedWeb-style exact
    * substring dedup stats): per doc, how many of its w-token windows occur
    * in at least one other document. */
  private val DupSpanW = 8

  /** Duplicated-span REWRITE (graft.text.Corpus.dupSpanRewrite — the
    * removal half of exact-substring dedup, Lee et al. 2022 / RefinedWeb):
    * non-canonical occurrences of any cross- or intra-doc repeated
    * w-token window are cut and the documents reassembled from surviving
    * tokens. Oracle replays occurrence ranking (row_number over gram →
    * doc_id, pos), position coverage, the anti-join and the ordered
    * string_agg — the CLEANED TEXT itself is hash-compared, not just the
    * removal counts. */
  private val textDupSpanRewrite = Q(
    (s, d) => graft.text.Corpus.dupSpanRewrite(s, d, DupSpanW).orderBy("doc_id"),
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
       |occ AS (
       |  SELECT doc_id, i AS pos, array_to_string(tk[i:i+${DupSpanW - 1}], ' ') AS gram
       |  FROM toks, UNNEST(range(1, len(tk) - ${DupSpanW - 2})) AS r(i)
       |  WHERE len(tk) >= $DupSpanW
       |),
       |dup AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |           row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
       |    FROM occ) WHERE rk >= 2
       |),
       |cov AS (
       |  SELECT DISTINCT doc_id, p
       |  FROM dup, UNNEST(range(pos, pos + $DupSpanW)) AS u(p)
       |),
       |tokpos AS (
       |  SELECT doc_id, i AS p, tk[i] AS token
       |  FROM toks, UNNEST(range(1, len(tk) + 1)) AS u(i)
       |),
       |kept AS (
       |  SELECT t.doc_id, COUNT(*) AS n_kept,
       |         string_agg(t.token, ' ' ORDER BY t.p) AS text_clean
       |  FROM tokpos t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
       |  GROUP BY t.doc_id
       |)
       |SELECT b.doc_id, CAST(len(b.tk) AS INTEGER) AS n_tokens,
       |  CAST(len(b.tk) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(k.text_clean, '') AS text_clean
       |FROM toks b LEFT JOIN kept k USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin)

  private val textDupSpans = Q(
    (s, d) => Corpus.dupSpans(s, d, DupSpanW).orderBy("doc_id"),
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, len(tk) - ${DupSpanW - 2}),
       |                               i -> array_to_string(tk[i:i+${DupSpanW - 1}], ' '))) AS gram
       |  FROM toks WHERE len(tk) >= $DupSpanW
       |),
       |wc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
       |df AS (SELECT gram, COUNT(*) AS df FROM wc GROUP BY gram),
       |pd AS (
       |  SELECT doc_id, SUM(cnt) AS n_windows,
       |         SUM(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS n_shared
       |  FROM wc JOIN df USING (gram) GROUP BY doc_id
       |)
       |SELECT t.doc_id, CAST(len(t.tk) AS INTEGER) AS n_tokens,
       |  CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared_windows,
       |  ${OracleSql.rd("CAST(COALESCE(n_shared, 0) AS DOUBLE) / CAST(GREATEST(COALESCE(n_windows, 0), 1) AS DOUBLE)", "shared_window_frac")},
       |  COALESCE(n_shared, 0) > 0 AS has_cross_dup
       |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin)

  /** tf-idf keyword extraction: top-5 tokens per doc by cnt·ln(N/df).
    * ln mirrors bit-exactly across engines (the feat_targets log-return
    * precedent); ranking ties break on the token string. */
  private val textKeywords = Q(
    (s, d) => Corpus.keywords(s, d, k = 5).orderBy("doc_id", "rank"),
    s"""WITH tf AS (
       |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents)
       |  GROUP BY doc_id, token
       |),
       |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |sc AS (
       |  SELECT doc_id, token, tf, df,
       |         CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
       |  FROM tf JOIN df USING (token) CROSS JOIN n
       |),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INTEGER) AS rank
       |  FROM sc
       |)
       |SELECT doc_id, rank, token, tf, df, ${OracleSql.rd("tfidf", "tfidf")}
       |FROM r WHERE rank <= 5
       |ORDER BY doc_id, rank""".stripMargin)

  /** BM25 more-like-this retrieval (graft.text.Bm25): lexical top-10 per
    * query doc. Oracle replays the identical dyadic-constant score DAG —
    * integer tf/df/dl/N, shared ln expression, 10dp quantize →
    * DECIMAL(25,10) exact sum, rank on the exact total. */
  /** BM25 chain CTEs (tok…r) shared by `text_bm25` and `retrieval_rrf`. */
  private val bm25ChainCtes: String = {
      val tsExpr =
        "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)" +
          " * (CAST(t.tf AS DOUBLE) * 2.5)" +
          " / (CAST(t.tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)" +
          " / (CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
      s"""tok AS (
         |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
         |),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok),
         |qt AS (
         |  SELECT query_id, token FROM (
         |    SELECT f.doc_id AS query_id, f.token,
         |           row_number() OVER (PARTITION BY f.doc_id ORDER BY df, f.token) AS trank
         |    FROM tf f JOIN df USING (token) WHERE f.doc_id % 100 = 0)
         |  WHERE trank <= ${graft.text.Bm25.MaxQueryTerms}
         |),
         |bsc AS (
         |  SELECT q.query_id, t.doc_id,
         |         ${OracleSql.rnd(tsExpr, 10)} AS ts_q
         |  FROM qt q JOIN tf t USING (token)
         |            JOIN df USING (token)
         |            JOIN dl ON dl.doc_id = t.doc_id
         |            CROSS JOIN nd CROSS JOIN nt
         |  WHERE t.doc_id <> q.query_id
         |),
         |agg AS (
         |  SELECT query_id, doc_id,
         |         CAST(CAST(SUM(CAST(ts_q AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS s
         |  FROM bsc GROUP BY 1, 2
         |),
         |r AS (
         |  SELECT query_id, doc_id, s,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS INTEGER) AS rank
         |  FROM agg
         |)""".stripMargin
  }

  /** Memoized top-k retrieval lists per (session, dir), used ONLY by
    * `retrieval_rrf` — a retrieval stack computes each list once and
    * fuses, it doesn't re-retrieve per consumer. The `ann_topk` and
    * `text_bm25` registrations deliberately compute FRESH: they are the
    * benched retrieval passes, and a memoized registration would collapse
    * their min-of-N to a checkpoint-block scan, masking any future
    * regression against their committed baselines. localCheckpoint: the
    * lists are |queries|·k rows (metadata-sized). */
  private def bm25TopK(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "bm25topk", d))(
      graft.text.Bm25.moreLikeThis(s, d, k = 10).transform(graft.sqlx.Lineage.truncate))
  private def annTopK(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "anntopk", d))(
      Cosine.topK(s, d).transform(graft.sqlx.Lineage.truncate))

  private val textBm25 = Q(
    (s, d) => graft.text.Bm25.moreLikeThis(s, d, k = 10).orderBy("query_id", "rank"),
    s"""WITH $bm25ChainCtes
       |SELECT query_id, doc_id, ${OracleSql.rd("s", "bm25")}, rank
       |FROM r WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin)

  /** Hybrid retrieval: reciprocal-rank fusion of the ANN top-k (semantic)
    * and BM25 top-k (lexical) lists — graft.retrieval.Fusion. The oracle
    * replays BOTH retrieval chains (the BM25 CTEs above + the ann_topk
    * cross-scoring, renamed ae/aq/asc0/ar) and fuses with the identical
    * quantize → decimal-add → rank-on-exact-sum DAG. */
  private val retrievalRrf = Q(
    (s, d) => graft.retrieval.Fusion.rrf(
        annTopK(s, d).select(col("query_id"), col("vec_id").as("item_id"), col("rank")),
        bm25TopK(s, d).select(col("query_id"), col("doc_id").as("item_id"), col("rank")))
      .orderBy("query_id", "rank"),
    {
      val c = (r: String) =>
        s"CAST(COALESCE(${OracleSql.rnd(s"1.0/(60.0 + CAST($r AS DOUBLE))", 10)}, 0.0) AS DECIMAL(25,10))"
      s"""WITH $bm25ChainCtes,
         |lex AS (SELECT query_id, doc_id AS item_id, rank FROM r WHERE rank <= 10),
         |ae AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |aq AS (SELECT vec_id AS query_id, emb AS qemb FROM ae WHERE vec_id % 100 = 0),
         |asc0 AS (
         |  SELECT query_id, vec_id, ${cosRndSql("qemb", "emb")} AS cosine
         |  FROM ae CROSS JOIN aq WHERE vec_id <> query_id
         |),
         |ar AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank FROM asc0),
         |sem AS (SELECT query_id, vec_id AS item_id, rank FROM ar WHERE rank <= 10),
         |fused AS (
         |  SELECT COALESCE(s.query_id, l.query_id) AS query_id,
         |         COALESCE(s.item_id, l.item_id) AS item_id,
         |         s.rank AS sem_rank, l.rank AS lex_rank,
         |         ${c("s.rank")} + ${c("l.rank")} AS sd
         |  FROM sem s FULL OUTER JOIN lex l
         |    ON s.query_id = l.query_id AND s.item_id = l.item_id
         |),
         |rr AS (
         |  SELECT query_id, item_id, sem_rank, lex_rank,
         |         CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS rrf,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, item_id) AS INTEGER) AS rank
         |  FROM fused
         |)
         |SELECT query_id, item_id, sem_rank, lex_rank, rrf, rank
         |FROM rr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    })

  /** Distributed BPE vocabulary induction (first [[BpeMerges]] merges from
    * the corpus word-frequency table). Oracle-green: the merge rounds are
    * data-dependent but their COUNT is a query constant, so the loop
    * unrolls into k chained DuckDB CTE stages
    * ([[OracleSql.bpeMergesSql]] — pair count → argmax → boundary-anchored
    * `replace` rewrite, bit-exact to Bpe.learn's fold); BpeSpec additionally
    * differential-tests the merge sequence against an independent
    * single-node reference implementation. */
  /** Count-min token-frequency estimation (graft.operators.CountMin):
    * fixed Depth×Width sketch state regardless of corpus size, probed for
    * the top-20 true tokens and compared against their exact counts (the
    * exact side is the bounded demo baseline, same pattern as
    * `sketch_event_stats_exact`). Estimates are deterministic given the
    * md5 cell hashes, so the whole query is oracle-green — incl. the
    * ≥-true overestimate column. */
  private val sketchTokenFreqCms = Q(
    (s, d) => {
      import graft.operators.CountMin
      val toks = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " ")).as("t"))
        .where(length(col("t")) > 0)
      val sk = CountMin.sketch(toks, "t")
      val tc = toks.groupBy("t").agg(count(lit(1)).as("true_cnt"))
      val probes = tc.orderBy(col("true_cnt").desc, col("t")).limit(20)
      CountMin.estimate(sk, probes.select("t"))
        .join(probes, "t")
        .select(col("t").as("token"), col("true_cnt"), col("cms_est"),
          (col("cms_est") - col("true_cnt")).as("overestimate"))
        .orderBy(col("true_cnt").desc, col("token"))
    },
    {
      import graft.operators.CountMin.{cellSql, Depth}
      s"""WITH toks AS (
         |  SELECT t FROM (SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents)
         |  WHERE len(t) > 0
         |),
         |cells AS (
         |  SELECT j, ${cellSql("j", "t")} AS cell, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM toks, (SELECT UNNEST(generate_series(0, ${Depth - 1})) AS j)
         |  GROUP BY 1, 2
         |),
         |tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM toks GROUP BY 1),
         |probe AS (SELECT t, true_cnt FROM tc ORDER BY true_cnt DESC, t LIMIT 20),
         |pc AS (
         |  SELECT p.t, p.true_cnt, js.j, ${cellSql("js.j", "p.t")} AS cell
         |  FROM probe p, (SELECT UNNEST(generate_series(0, ${Depth - 1})) AS j) js
         |),
         |est AS (
         |  SELECT pc.t, pc.true_cnt, MIN(c.c) AS cms_est
         |  FROM pc JOIN cells c ON c.j = pc.j AND c.cell = pc.cell
         |  GROUP BY 1, 2
         |)
         |SELECT t AS token, true_cnt, cms_est, cms_est - true_cnt AS overestimate
         |FROM est ORDER BY true_cnt DESC, token""".stripMargin
    })

  /** Learned merge table memoized per (session, dir) — the training
    * artifact is metadata (12 rows), and both the vocab query and the
    * encode query consume the SAME artifact, like a shipped tokenizer
    * (same memoization rationale as the GBT fit in TradeSuccess). */
  private val BpeMerges = 12

  private def learnedMerges(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.sqlx.Memo.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "bpemerges", d)) {
      graft.text.Bpe.merges(Tables.documents(s, d), "text", nMerges = BpeMerges)
        .orderBy("step").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq
    }

  private val vocabBpeMerges = Q(
    (s, d) => {
      import s.implicits._
      learnedMerges(s, d).toDF("step", "left", "right", "merged", "pair_count")
        .orderBy("step")
    }, OracleSql.bpeMergesSql(BpeMerges))

  /** JL random projection 64 → 8 dims (graft.ann.RandomProjection): the
    * pre-reduction step large-scale ANN/clustering pipelines run before
    * indexing. Oracle-green: the ±1 sign matrix derives from md5 text
    * arithmetic both engines compute identically, and the sum follows the
    * §6 quantize→exact-decimal contract. */
  private val embeddingProject = Q(
    (s, d) => RandomProjection.project(
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")),
        dim = 64, k = 8)
      .orderBy("vec_id", "proj_dim"),
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |xv AS (
       |  SELECT vec_id, i, emb[i] AS x
       |  FROM e, (SELECT UNNEST(generate_series(1, 64)) AS i)
       |),
       |sg AS (
       |  SELECT i, j,
       |    CAST(1 - 2 * (ascii(substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)) % 2) AS DOUBLE) AS sgn
       |  FROM (SELECT UNNEST(generate_series(1, 64)) AS i),
       |       (SELECT UNNEST(generate_series(0, 7)) AS j)
       |),
       |t AS (SELECT vec_id, j, ${OracleSql.rnd("x * sgn", 10)} AS term FROM xv JOIN sg USING (i)),
       |p AS (
       |  SELECT vec_id, j,
       |    CAST(CAST(SUM(CAST(term AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS s
       |  FROM t GROUP BY 1, 2
       |)
       |SELECT vec_id, CAST(j AS INTEGER) AS proj_dim,
       |  ${OracleSql.rnd("s / sqrt(8.0)", 6)} AS proj_val
       |FROM p ORDER BY vec_id, proj_dim""".stripMargin)

  /** The APPLY half of the tokenizer: learn [[BpeMerges]] merges, segment
    * the DISTINCT word table once (graft.text.Bpe.encodeWords), then roll
    * subword counts back to documents through a word equi-join — the corpus
    * is never re-segmented per occurrence. Oracle-green via the same
    * unrolled merge chain as `vocab_bpe_merges`: training's per-round
    * rewrite applies every selected merge to every word in learned order,
    * which IS encodeWords' fold, so the chain's final word table carries
    * each word's subword count ([[OracleSql.bpeEncodeSql]]).
    * BpeEncodeSpec additionally differential-tests per-doc counts and
    * sampled subword sequences against a single-node encoder. */
  private val corpusBpeEncode = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val merges = learnedMerges(s, d).map { case (_, l, r, _, _) => (l, r) }
      val words = docs.select(explode(split(trim(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0).distinct()
      val enc = graft.text.Bpe.encodeWords(words, merges)
        .select(col("word"), col("n_subwords"))
      val rolled = docs
        .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("word"))
        .where(length(col("word")) > 0)
        .join(enc, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word")).cast("long")).as("n_chars"),
          sum(col("n_subwords")).as("n_subwords"))
      // keep a row for every document: all-whitespace text has no words
      // but must not vanish from the rollup (cf. corpus_chunk_overlap)
      docs.select("doc_id").join(rolled, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_chars"), lit(0L)).as("n_chars"),
          coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
        .orderBy("doc_id")
    }, OracleSql.bpeEncodeSql(BpeMerges))

  // ---------------------------------------------------------------- multimodal
  /** Payload layout CTE shared by both multimodal oracles: every synthetic
    * P6 byte is a pure function of (doc_id, n_chars) — see
    * [[graft.multimodal.Binary.ppmPayload]] — so DuckDB recomputes the
    * header string, its length, and the channel constants without ever
    * materializing the binary. */
  private val ppmCte: String =
    """pm AS (
      |  SELECT doc_id,
      |         CAST(n_chars % 64 + 1 AS INTEGER) AS w,
      |         CAST(n_chars % 48 + 1 AS INTEGER) AS h,
      |         'P6' || chr(10) || CAST(n_chars % 64 + 1 AS VARCHAR) || ' ' ||
      |           CAST(n_chars % 48 + 1 AS VARCHAR) || chr(10) || '255' || chr(10) AS hdr
      |  FROM documents
      |),
      |pp AS (
      |  SELECT doc_id, w, h, hdr, octet_length(encode(hdr)) AS hlen,
      |         octet_length(encode(hdr)) + w * h * 3 AS blen
      |  FROM pm
      |)""".stripMargin

  /** Decoded-feature extraction through the real P6 codec: parsed width /
    * height / maxval plus per-channel pixel means. */
  private val mmFeatures = Q(
    (s, d) => Binary.features(s, d).toDF()
      .select("doc_id", "media_type", "byte_len", "decoded_width", "decoded_height",
        "maxval", "r_mean", "g_mean", "b_mean", "frame_count")
      .orderBy("doc_id"),
    s"""WITH $ppmCte
       |SELECT doc_id, 'image/ppm' AS media_type,
       |  CAST(blen AS INTEGER) AS byte_len,
       |  w AS decoded_width, h AS decoded_height,
       |  255 AS maxval,
       |  CAST((doc_id * 31) % 256 AS DOUBLE) AS r_mean,
       |  CAST((doc_id * 31 + 7) % 256 AS DOUBLE) AS g_mean,
       |  CAST((doc_id * 31 + 14) % 256 AS DOUBLE) AS b_mean,
       |  CAST(blen // 16 AS INTEGER) AS frame_count
       |FROM pp ORDER BY doc_id""".stripMargin)

  /** Frame-sampling plumbing over the synthesized payload column; the
    * oracle mirrors the byte chunking in SQL — header bytes come from the
    * reconstructed header string, pixel bytes from the channel formula. */
  private val mmFrames = Q(
    (s, d) => Binary.frameSample(Binary.records(s, d)).toDF()
      .orderBy("doc_id", "frame_idx"),
    s"""WITH $ppmCte,
       |idx AS (
       |  SELECT doc_id, hdr, hlen, blen,
       |         UNNEST(range(0, CAST(ceil(blen / 16.0) AS BIGINT))) AS fi
       |  FROM pp
       |)
       |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       |       CAST(LEAST(16, blen - fi * 16) AS INTEGER) AS frame_len,
       |       CASE WHEN fi * 16 < hlen
       |            THEN ascii(substr(hdr, CAST(fi * 16 + 1 AS INTEGER), 1))
       |            ELSE CAST((doc_id * 31 + 7 * ((fi * 16 - hlen) % 3)) % 256 AS INTEGER)
       |       END AS first_byte
       |FROM idx WHERE fi % 4 = 0
       |ORDER BY doc_id, frame_idx""".stripMargin)

  /** Retrieval-quality evaluation (graft.retrieval.Eval): recall@10, MRR
    * and nDCG@10 of the memoized BM25 top-k lists against a deterministic
    * relevance rule — doc d is relevant to query q iff they share
    * (source, lang) and d ≠ q (the grouping the corpus actually carries).
    * Consumes the SAME memoized list `retrieval_rrf` fuses (a stack
    * retrieves once and both fuses and evaluates); the oracle replays the
    * BM25 chain plus the metrics with the IDENTICAL Scala-computed gain /
    * ideal-DCG literal tables — no engine evaluates a log at compare
    * time. */
  private val retrievalEval = Q(
    (s, d) => {
      val docs = graft.Tables.documents(s, d).select("doc_id", "source", "lang")
      val queries = docs.where(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"), col("source"), col("lang"))
      val relevant = queries.join(docs,
          Seq("source", "lang")).where(col("doc_id") =!= col("query_id"))
        .select("query_id", "doc_id")
      graft.retrieval.Eval.metrics(
          bm25TopK(s, d).select("query_id", "doc_id", "rank"), relevant, k = 10)
        .orderBy("query_id")
    },
    s"""WITH $bm25ChainCtes,
       |rel AS (
       |  SELECT q.doc_id AS query_id, d2.doc_id
       |  FROM documents q JOIN documents d2
       |    ON q.source = d2.source AND q.lang = d2.lang AND q.doc_id <> d2.doc_id
       |  WHERE q.doc_id % 100 = 0
       |),
       |relc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant FROM rel GROUP BY 1),
       |g(rank, g10) AS (VALUES ${graft.retrieval.Eval.gainValuesSql(10)}),
       |icg(m, idcg) AS (VALUES ${graft.retrieval.Eval.idcgValuesSql(10)}),
       |hits AS (
       |  SELECT r.query_id, r.rank FROM r JOIN rel USING (query_id, doc_id)
       |  WHERE r.rank <= 10
       |),
       |hq AS (
       |  SELECT query_id,
       |         CAST(COUNT(*) AS BIGINT) AS hits_at_k,
       |         MIN(rank) AS min_rank,
       |         CAST(CAST(SUM(CAST(g10 AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS dcg
       |  FROM hits JOIN g USING (rank) GROUP BY 1
       |)
       |SELECT relc.query_id, n_relevant,
       |  COALESCE(hits_at_k, 0) AS hits_at_k,
       |  ${OracleSql.rd("CAST(COALESCE(hits_at_k, 0) AS DOUBLE) / CAST(n_relevant AS DOUBLE)", "recall_at_k")},
       |  CASE WHEN min_rank IS NOT NULL THEN 1.0 / CAST(min_rank AS DOUBLE) ELSE 0.0 END AS mrr,
       |  COALESCE(dcg, 0.0) AS dcg,
       |  icg.idcg AS idcg,
       |  ${OracleSql.rd("COALESCE(dcg, 0.0) / icg.idcg", "ndcg_at_k")}
       |FROM relc
       |JOIN icg ON icg.m = LEAST(n_relevant, 10)
       |LEFT JOIN hq USING (query_id)
       |ORDER BY query_id""".stripMargin)

  /** Contrastive training-triplet mining (query, positive, hard negative)
    * — the operator that turns a retrieval corpus into embedding-model
    * TRAINING rows (the SimCSE/DPR data shape): for each query vector,
    * the positive is its highest-cosine SAME-label neighbour in the ANN
    * top-k and the negative its highest-cosine DIFFERENT-label neighbour
    * from the same list — an in-list hard negative (high-scoring but
    * wrong), exactly what contrastive losses need; `margin` = pos − neg
    * cosine is the row's difficulty. Queries whose top-k lacks either
    * side are dropped (no fabricated pairs). Consumes the memoized ANN
    * list (retrieve once, fuse/evaluate/mine many — the stack
    * convention); the oracle replays the cosine chain + label joins +
    * the two row_number picks. */
  private val trainingTriplets = Q(
    (s, d) => {
      val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val topk = annTopK(s, d)
        .join(labels.withColumnRenamed("label", "item_label"), Seq("vec_id"))
        .join(labels.select(col("vec_id").as("query_id"), col("label").as("query_label")),
          Seq("query_id"))
      val wPos = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("rank"))
      val pos = topk.where(col("item_label") === col("query_label"))
        .withColumn("rn", row_number().over(wPos)).where(col("rn") === 1)
        .select(col("query_id"), col("vec_id").as("pos_id"),
          col("cosine").as("pos_cosine"), col("rank").as("pos_rank"))
      val neg = topk.where(col("item_label") =!= col("query_label"))
        .withColumn("rn", row_number().over(wPos)).where(col("rn") === 1)
        .select(col("query_id"), col("vec_id").as("neg_id"),
          col("cosine").as("neg_cosine"), col("rank").as("neg_rank"))
      pos.join(neg, Seq("query_id"))
        .withColumn("margin", graft.sqlx.Exact.r4(col("pos_cosine") - col("neg_cosine")))
        .orderBy("query_id")
    },
    s"""WITH ae AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
       |aq AS (SELECT vec_id AS query_id, emb AS qemb, label AS query_label FROM ae WHERE vec_id % 100 = 0),
       |asc0 AS (
       |  SELECT query_id, query_label, ae.vec_id, ae.label AS item_label,
       |         ${cosRndSql("qemb", "emb")} AS cosine
       |  FROM ae CROSS JOIN aq WHERE ae.vec_id <> query_id
       |),
       |ar AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
       |  FROM asc0
       |),
       |topk AS (SELECT * FROM ar WHERE rank <= 10),
       |pos AS (
       |  SELECT query_id, vec_id AS pos_id, cosine AS pos_cosine, rank AS pos_rank,
       |         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rn
       |  FROM topk WHERE item_label = query_label
       |),
       |neg AS (
       |  SELECT query_id, vec_id AS neg_id, cosine AS neg_cosine, rank AS neg_rank,
       |         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rn
       |  FROM topk WHERE item_label <> query_label
       |)
       |SELECT p.query_id, p.pos_id, p.pos_cosine, p.pos_rank,
       |       n.neg_id, n.neg_cosine, n.neg_rank,
       |       ${OracleSql.rd("p.pos_cosine - n.neg_cosine", "margin")}
       |FROM pos p JOIN neg n USING (query_id)
       |WHERE p.rn = 1 AND n.rn = 1
       |ORDER BY p.query_id""".stripMargin)

  /** Sample/count layout shared by both audio oracles — the SQL mirror of
    * [[graft.multimodal.Audio]]'s synthesis formula (sample i of doc d =
    * (d·37 + i·97) mod 65536 − 32768; count = n_chars mod 200 + 16): the
    * registered queries decode REAL RIFF/WAVE bytes through the chunk
    * walker, the oracle replays every decoded field from the integer
    * formula without materializing binary. */
  private val wavCte: String =
    """au AS (SELECT doc_id, CAST(n_chars % 200 + 16 AS BIGINT) AS n FROM documents),
      |sm AS (
      |  SELECT doc_id, n, i, (doc_id * 37 + i * 97) % 65536 - 32768 AS s
      |  FROM au, UNNEST(range(0, n)) AS t(i)
      |)""".stripMargin

  /** Audio decode + signal features through the real WAV parser. RMS is
    * one IEEE sqrt of an exact BIGINT-sum ratio — bit-stable across
    * engines (sqrt is correctly rounded); everything else is integer. */
  private val mmAudioFeatures = Q(
    (s, d) => graft.multimodal.Audio.features(s, d).toDF().orderBy("doc_id"),
    s"""WITH $wavCte,
       |lg AS (
       |  SELECT doc_id, n, i, s, lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps
       |  FROM sm
       |)
       |SELECT doc_id, 'audio/wav' AS media_type,
       |  CAST(44 + 2 * n AS INTEGER) AS byte_len,
       |  ${graft.multimodal.Audio.SampleRate} AS sample_rate,
       |  CAST(n AS INTEGER) AS n_samples,
       |  CAST(n AS DOUBLE) * 1000.0 / ${graft.multimodal.Audio.SampleRate}.0 AS duration_ms,
       |  SQRT(CAST(SUM(s * s) AS DOUBLE) / n) AS rms,
       |  CAST(SUM(CASE WHEN ps IS NOT NULL AND ps * s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       |  CAST(MAX(ABS(s)) AS INTEGER) AS peak
       |FROM lg GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)

  /** Fixed 64-sample frame energies (keyframe-sampling analog): per-frame
    * Σ s² rides BIGINT — the whole row is integer-exact. */
  private val mmAudioFrames = Q(
    (s, d) => graft.multimodal.Audio.frameEnergies(
        graft.multimodal.Audio.records(s, d)).toDF()
      .orderBy("doc_id", "frame_idx"),
    s"""WITH $wavCte
       |SELECT doc_id, CAST(i // 64 AS INTEGER) AS frame_idx,
       |  CAST(COUNT(*) AS INTEGER) AS n_in_frame,
       |  CAST(SUM(s * s) AS BIGINT) AS energy,
       |  CAST(MAX(ABS(s)) AS INTEGER) AS frame_peak
       |FROM sm GROUP BY doc_id, i // 64
       |ORDER BY doc_id, frame_idx""".stripMargin)

  val all: Map[String, Q] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_jaccard" -> dedupJaccard,
    "dedup_minhash" -> dedupMinhash,
    "dedup_simhash" -> dedupSimhash,
    "sql_extensions_simhash" -> sqlExtensionsSimhash,
    "ann_topk" -> annTopk,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_ivf_incremental" -> annIvfIncremental,
    "ann_pq" -> annPq,
    "ann_ivfpq" -> annIvfPq,
    "ann_ivfpq_incremental" -> annIvfPqIncremental,
    "ann_index_health" -> annIndexHealth,
    "ann_index_autorefit" -> annIndexAutorefit,
    "ann_forget" -> annForget,
    "stream_ann_ingest" -> streamAnnIngest,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh,
    "dedup_embedding_lsh_hi" -> dedupEmbeddingLshHi,
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_tokens" -> textTokens,
    "text_pii_redact" -> textPiiRedact,
    "text_perplexity" -> textPerplexity,
    "embedding_domain_classify" -> embeddingDomainClassify,
    "dedup_semantic" -> dedupSemantic,
    "text_repetition" -> textRepetition,
    "text_dup_spans" -> textDupSpans,
    "text_dup_span_rewrite" -> textDupSpanRewrite,
    "text_keywords" -> textKeywords,
    "text_bm25" -> textBm25,
    "retrieval_rrf" -> retrievalRrf,
    "retrieval_eval" -> retrievalEval,
    "training_triplets" -> trainingTriplets,
    "text_fingerprint" -> textFingerprint,
    "vocab_top_tokens" -> vocabTopTokens,
    "vocab_bpe_merges" -> vocabBpeMerges,
    "corpus_bpe_encode" -> corpusBpeEncode,
    "embedding_project" -> embeddingProject,
    "ann_hard_negatives" -> annHardNegatives,
    "sketch_token_freq_cms" -> sketchTokenFreqCms,
    "corpus_split" -> corpusSplit,
    "corpus_clean" -> corpusClean,
    "mm_features" -> mmFeatures,
    "mm_frames" -> mmFrames,
    "mm_audio_features" -> mmAudioFeatures,
    "mm_audio_frames" -> mmAudioFrames)
}
