package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.{ConnectedComponents, Jaccard}
import graft.operators.{Chunking, Packing}
import graft.text.Decontaminate

/** Corpus-pipeline composition queries — the operators a training-data
  * pipeline runs AFTER pair generation and splitting:
  *
  *  - `dedup_clusters`: transitive closure of the exact-Jaccard near-dup
  *    pairs via large-star/small-star connected components, assigning every
  *    document a cluster id (= min doc_id in its cluster) and a canonical
  *    flag. Oracle: DuckDB recursive CTE over the same pair set.
  *  - `corpus_pack`: concatenate-and-chunk sequence packing of the corpus
  *    into fixed 512-token context windows (one row per doc × window
  *    overlap). Oracle: global window cumsum + generate_series.
  *  - `decontaminate`: n-gram-overlap decontamination of the train+val
  *    splits against the `corpus_split` test split (doc_id % 20 = 19).
  *    Oracle: shingle left join + per-doc rollup.
  *
  * All three reuse the session-cached shingle index / jaccard pair frames,
  * so the dedup family shares one explode and one inverted-index self-join
  * per session.
  */
object CorpusOpsQueries {

  private val WindowTokens = 512
  private val ChunkTokens = 32
  private val ChunkStride = 16
  private val JsonlShards = 8
  private val ContaminationThreshold = 0.5
  private val HoldoutMod = 19 // the `corpus_split` test split

  /** Shared DuckDB CTE chain: word-trigram shingles → exact Jaccard pairs
    * at the dedup threshold (mirrors LlmQueries.dedupJaccard). */
  private def jaccardPairsCte(threshold: Double): String =
    s"""toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, list_transform(generate_series(1, len(w) - 2),
       |                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS ss
       |    FROM toks), UNNEST(ss) AS t(s)
       |),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |ip AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
       |),
       |jp AS (
       |  SELECT doc_a, doc_b
       |  FROM ip JOIN cnt ca ON ca.doc_id = ip.doc_a JOIN cnt cb ON cb.doc_id = ip.doc_b
       |  WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= $threshold
       |)""".stripMargin

  private val dedupClusters = Q(
    (s, d) => {
      val pairs = Jaccard.pairs(s, d, LlmQueries.JaccardThreshold)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cc = ConnectedComponents.components(pairs)
        .withColumnRenamed("node", "doc_id")
      Tables.documents(s, d).select("doc_id")
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id")))
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
        .orderBy("doc_id")
    },
    s"""WITH RECURSIVE ${jaccardPairsCte(LlmQueries.JaccardThreshold)},
       |sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM jp UNION SELECT doc_b, doc_a FROM jp),
       |reach(u, v) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s2.v FROM reach r JOIN sym s2 ON r.v = s2.u
       |),
       |root AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u),
       |lab AS (
       |  SELECT dd.doc_id, COALESCE(r.cluster_id, dd.doc_id) AS cluster_id
       |  FROM documents dd LEFT JOIN root r ON r.doc_id = dd.doc_id
       |)
       |SELECT doc_id, cluster_id,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       |  doc_id = cluster_id AS is_canonical
       |FROM lab ORDER BY doc_id""".stripMargin)

  /** Quality-aware canonical selection: after near-dup clustering, the
    * document kept from each cluster is the HIGHEST heuristic-quality one
    * (ties to the smaller doc_id), not the minimum id — what a curation
    * pipeline actually wants when dropping near-copies (keep the cleanest
    * exemplar, cf. `dedup_clusters` which labels min-id canonicals). The
    * per-cluster argmax is one window over cluster_id; near-dup clusters
    * are small by construction (the pair generator's candidate capping
    * bounds them), so the partition sizes stay tiny at 100 TB, and the
    * quality frame joins on doc_id with no extra corpus-sized shuffle. */
  private val dedupCanonical = Q(
    (s, d) => {
      val pairs = Jaccard.pairs(s, d, LlmQueries.JaccardThreshold)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cc = ConnectedComponents.components(pairs)
        .withColumnRenamed("node", "doc_id")
      val quality = graft.text.Corpus.quality(s, d).select("doc_id", "quality_score")
      val best = Window.partitionBy("cluster_id")
        .orderBy(col("quality_score").desc, col("doc_id"))
      Tables.documents(s, d).select("doc_id")
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .join(quality, Seq("doc_id"))
        .withColumn("canonical_doc_id", first(col("doc_id")).over(best))
        .withColumn("is_kept", col("doc_id") === col("canonical_doc_id"))
        .orderBy("doc_id")
    },
    s"""WITH RECURSIVE ${jaccardPairsCte(LlmQueries.JaccardThreshold)},
       |sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM jp UNION SELECT doc_b, doc_a FROM jp),
       |reach(u, v) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s2.v FROM reach r JOIN sym s2 ON r.v = s2.u
       |),
       |root AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u),
       |lab AS (
       |  SELECT dd.doc_id, COALESCE(r.cluster_id, dd.doc_id) AS cluster_id
       |  FROM documents dd LEFT JOIN root r ON r.doc_id = dd.doc_id
       |),
       |${LlmQueries.qualityCtes},
       |sel AS (
       |  SELECT lab.doc_id, cluster_id, quality_score,
       |    FIRST_VALUE(lab.doc_id) OVER (
       |      PARTITION BY cluster_id ORDER BY quality_score DESC, lab.doc_id) AS canonical_doc_id
       |  FROM lab JOIN q2 USING (doc_id)
       |)
       |SELECT doc_id, cluster_id, quality_score, canonical_doc_id,
       |  doc_id = canonical_doc_id AS is_kept
       |FROM sel ORDER BY doc_id""".stripMargin)

  private val corpusPack = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(split(trim(col("text")), " ")).as("n_tokens"))
      Packing.packWindows(docs, "doc_id", "n_tokens", WindowTokens)
        .orderBy("window_id", "doc_id")
    },
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
       |  FROM t WHERE n_tokens > 0
       |),
       |x AS (SELECT *, start_offset + n_tokens AS end_offset FROM o),
       |wn AS (
       |  SELECT doc_id, n_tokens, start_offset, end_offset,
       |    UNNEST(generate_series(start_offset // $WindowTokens,
       |                           (end_offset - 1) // $WindowTokens)) AS window_id
       |  FROM x
       |)
       |SELECT doc_id, window_id, start_offset, n_tokens,
       |  CAST(LEAST(end_offset, (window_id + 1) * $WindowTokens)
       |       - GREATEST(start_offset, window_id * $WindowTokens) AS BIGINT) AS tokens_in_window,
       |  window_id = start_offset // $WindowTokens AS is_head
       |FROM wn ORDER BY window_id, doc_id""".stripMargin)

  private val decontaminate = Q(
    (s, d) => Decontaminate.overlap(
        Tables.documents(s, d), col("doc_id") % 20 === HoldoutMod,
        ContaminationThreshold,
        precomputedShingles = Some(Jaccard.cachedShingles(s, d)))
      .orderBy("doc_id"),
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, list_transform(generate_series(1, len(w) - 2),
       |                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS ss
       |    FROM toks), UNNEST(ss) AS t(s)
       |),
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = $HoldoutMod),
       |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> $HoldoutMod),
       |agg AS (
       |  SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |         CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
       |  FROM tr LEFT JOIN bench b ON tr.s = b.s GROUP BY tr.doc_id
       |)
       |SELECT d.doc_id,
       |  COALESCE(n_shingles, 0) AS n_shingles,
       |  COALESCE(n_contaminated, 0) AS n_contaminated,
       |  CAST(COALESCE(n_contaminated, 0) AS DOUBLE)
       |    / CAST(GREATEST(COALESCE(n_shingles, 0), 1) AS DOUBLE) AS contamination_ratio,
       |  CAST(COALESCE(n_contaminated, 0) AS DOUBLE)
       |    / CAST(GREATEST(COALESCE(n_shingles, 0), 1) AS DOUBLE) >= $ContaminationThreshold AS is_contaminated
       |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
       |WHERE d.doc_id % 20 <> $HoldoutMod
       |ORDER BY d.doc_id""".stripMargin)

  /** Incremental dedup: documents with doc_id % 7 = 3 play the daily
    * increment; find their near-dups against the existing corpus AND within
    * the batch, touching only the increment's shingles on one join side
    * (Jaccard.pairsForIncrement) — never the corpus-wide pair set. */
  private val dedupIncremental = Q(
    (s, d) => Jaccard.pairsForIncrement(
        Jaccard.cachedShingles(s, d),
        Tables.documents(s, d).where(col("doc_id") % 7 === 3).select("doc_id"),
        LlmQueries.JaccardThreshold)
      .orderBy("doc_a", "doc_b"),
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, list_transform(generate_series(1, len(w) - 2),
       |                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS ss
       |    FROM toks), UNNEST(ss) AS t(s)
       |),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |newids AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 3),
       |ip AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM sh a
       |  JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
       |  JOIN newids nb ON b.doc_id = nb.doc_id
       |  LEFT JOIN newids na ON a.doc_id = na.doc_id
       |  WHERE na.doc_id IS NULL OR a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, inter, ca.n AS na, cb.n AS nb,
       |       CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
       |FROM ip JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= ${LlmQueries.JaccardThreshold}
       |ORDER BY doc_a, doc_b""".stripMargin)

  /** Domain-weighted epoch sampling (graft.operators.Mixing): the source
    * index mod 4 assigns each domain a rate of 2.5 / 1.0 / 0.5 / 0.25
    * epochs; inclusion of the fractional copy is a deterministic
    * content-hash bucket so both engines (and any re-run) pick the exact
    * same rows. One scan + explode, no shuffle. The oracle TRY_CASTs the
    * extracted digits so a digit-free source name falls through to the
    * ELSE rate exactly like Spark's NULL-yielding cast (the engines would
    * otherwise diverge: DuckDB errors on CAST('' AS INTEGER)). */
  private val corpusSampleMix = Q(
    (s, d) => {
      val grp = regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 4
      val rate = when(grp === 0, 250).when(grp === 1, 100)
        .when(grp === 2, 50).otherwise(25)
      graft.operators.Mixing.sampleMix(
          Tables.documents(s, d).select("doc_id", "source", "text"), rate, col("text"))
        .select(col("doc_id"), col("source"), col("rate_pct"),
          col("mix_bucket"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    },
    """WITH m AS (
      |  SELECT doc_id, source,
      |    TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 4 AS g,
      |    (ascii(substr(md5(text), 1, 1)) * 961 + ascii(substr(md5(text), 2, 1)) * 31
      |       + ascii(substr(md5(text), 3, 1))) % 100 AS mix_bucket
      |  FROM documents
      |),
      |r AS (
      |  SELECT doc_id, source, mix_bucket,
      |    CASE g WHEN 0 THEN 250 WHEN 1 THEN 100 WHEN 2 THEN 50 ELSE 25 END AS rate_pct
      |  FROM m
      |),
      |e AS (SELECT *, UNNEST(generate_series(0, rate_pct // 100)) AS copy_idx FROM r)
      |SELECT doc_id, source, CAST(rate_pct AS INTEGER) AS rate_pct,
      |  CAST(mix_bucket AS INTEGER) AS mix_bucket, CAST(copy_idx AS INTEGER) AS copy_idx
      |FROM e WHERE copy_idx < rate_pct // 100 OR mix_bucket < rate_pct % 100
      |ORDER BY doc_id, copy_idx""".stripMargin)

  /** Fuzzy (whole-document) decontamination: MinHash-banded candidates vs
    * the full held-out set (val+test, doc_id % 20 >= 18 — training data is
    * decontaminated against everything not trained on), exactly verified at
    * the dedup Jaccard threshold. Since the round-9 md5 derandomization the
    * bands replay bit-for-bit in DuckDB, so the LSH miss pattern is
    * deterministic too and the query is ORACLE-GREEN — the oracle reuses
    * LlmQueries.minhashBandCtes (the dedup_minhash chain) and only changes
    * the candidate join from `doc_a < doc_b` to corpus-side × holdout-side.
    * Planted-pair recall stays spec-asserted (DecontaminateSpec). */
  private val decontaminateFuzzy = Q(
    (s, d) => Decontaminate.fuzzy(
        Tables.documents(s, d), col("doc_id") % 20 >= 18,
        LlmQueries.JaccardThreshold,
        precomputedSets = Some(Jaccard.cachedShingleSets(s, d)))
      .orderBy("doc_id", "benchmark_id"),
    s"""WITH ${LlmQueries.minhashBandCtes},
       |cand AS (
       |  SELECT DISTINCT c.doc_id AS doc_a, h.doc_id AS doc_b
       |  FROM bands c JOIN bands h
       |    ON c.band = h.band AND c.bucket = h.bucket
       |  WHERE c.doc_id % 20 < 18 AND h.doc_id % 20 >= 18
       |),
       |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM cand JOIN sh a ON a.doc_id = doc_a
       |            JOIN sh b ON b.doc_id = doc_b AND b.s = a.s
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a AS doc_id, doc_b AS benchmark_id, inter,
       |       ca.n AS na, cb.n AS nb,
       |       CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) AS jaccard
       |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(inter AS DOUBLE) / CAST(ca.n + cb.n - inter AS DOUBLE) >= ${LlmQueries.JaccardThreshold}
       |ORDER BY doc_id, benchmark_id""".stripMargin)

  /** Deterministic pre-training corpus shuffle: md5-keyed global
    * permutation + round-robin shard assignment (graft.operators
    * .DeterministicShuffle — exact global positions via the 256-bucket
    * offset two-pass, never a single-partition window). Oracle mirrors the
    * order with one global window, which DuckDB can afford at oracle SF. */
  private val corpusShuffle = Q(
    (s, d) => graft.operators.DeterministicShuffle
      .permutation(Tables.documents(s, d), "doc_id", nShards = 8)
      .orderBy("position"),
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shuffle'), doc_id) AS BIGINT) AS position,
      |  CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shuffle'), doc_id) - 1) % 8 AS INTEGER) AS shard
      |FROM documents ORDER BY position""".stripMargin)

  /** DSIR importance weights (graft.text.Dsir): every train-shard doc
    * scored by the hashed-n-gram log-likelihood ratio between the held-out
    * target distribution and the source distribution. */
  private val corpusDsirWeights = Q(
    (s, d) => graft.text.Dsir.weights(
        Tables.documents(s, d), col("doc_id") % 20 >= 18)
      .orderBy("doc_id"),
    {
      val lrExpr = "ln(((CAST(COALESCE(p.cp, 0) AS DOUBLE) + 0.5) / " +
        "(CAST(tot.tp AS DOUBLE) + 0.5 * 1024.0)) / " +
        "((CAST(q.cq AS DOUBLE) + 0.5) / (CAST(tot.tq AS DOUBLE) + 0.5 * 1024.0)))"
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
         |uni AS (SELECT doc_id, unnest(w) AS f FROM toks),
         |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         |                                            i -> w[i] || ' ' || w[i+1])) AS f
         |       FROM toks WHERE len(w) >= 2),
         |feats AS (
         |  SELECT doc_id,
         |    ((ascii(substr(md5(f), 1, 1)) * 131 + ascii(substr(md5(f), 2, 1))) * 131
         |      + ascii(substr(md5(f), 3, 1))) % 1024 AS bucket
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
         |),
         |tf AS (SELECT * FROM feats WHERE doc_id % 20 >= 18),
         |sfe AS (SELECT * FROM feats WHERE doc_id % 20 < 18),
         |p AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cp FROM tf GROUP BY 1),
         |q AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cq FROM sfe GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tf) AS tp,
         |               (SELECT CAST(COUNT(*) AS BIGINT) FROM sfe) AS tq),
         |ratio AS (
         |  SELECT q.bucket, ${OracleSql.rnd(lrExpr, 10)} AS lr_q
         |  FROM q LEFT JOIN p ON q.bucket = p.bucket CROSS JOIN tot
         |),
         |agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         |         CAST(CAST(SUM(CAST(lr_q AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS slw
         |  FROM sfe JOIN ratio USING (bucket) GROUP BY 1
         |)
         |SELECT doc_id, n_feats,
         |  ${OracleSql.rd("slw", "log_weight")},
         |  (${OracleSql.rnd("slw", 4)} > 0.0) AS is_selected
         |FROM agg ORDER BY doc_id""".stripMargin
    })

  /** Overlapping retrieval chunks for every document (graft.operators
    * .Chunking): 32-token windows at stride 16, the RAG-side counterpart of
    * `corpus_pack`. Narrow per-doc explode — zero shuffle at any scale. */
  private val corpusChunkOverlap = Q(
    (s, d) => Chunking.slidingWindows(
        Tables.documents(s, d), "doc_id", col("text"), ChunkTokens, ChunkStride)
      .orderBy("doc_id", "chunk_idx"),
    s"""WITH t AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS w,
       |         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n
       |  FROM documents
       |),
       |c AS (
       |  SELECT doc_id, w, n,
       |         UNNEST(generate_series(0, (n - 1) // $ChunkStride)) AS chunk_idx
       |  FROM t
       |),
       |x AS (
       |  SELECT doc_id, w, chunk_idx, chunk_idx * $ChunkStride AS start_token,
       |         LEAST($ChunkTokens, n - chunk_idx * $ChunkStride) AS chunk_len
       |  FROM c
       |)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(start_token AS BIGINT) AS start_token,
       |  CAST(chunk_len AS BIGINT) AS chunk_len,
       |  array_to_string(w[start_token + 1 : start_token + chunk_len], ' ') AS chunk_text
       |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)

  /** Shard-partitioned JSONL export of the corpus and its read-back
    * (graft.sources.JsonlTables) — the `shard=K/part-*.json` layout
    * pre-training corpora ship in. Hash-exact vs the source table: JSON
    * escaping is lossless for strings and integral columns are exact. */
  private val corpusJsonlRoundtrip = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("shard", (col("doc_id") % JsonlShards).cast("int"))
      val path = s"${sys.props("java.io.tmpdir")}/graft-docs-jsonl-${graft.sqlx.PathTag.of(d)}"
      graft.sources.JsonlTables.write(docs, path, "shard")
      graft.sources.JsonlTables.read(s, path, docs.schema).orderBy("doc_id")
    },
    s"""SELECT doc_id, text, lang, source, n_chars,
       |  CAST(doc_id % $JsonlShards AS INTEGER) AS shard
       |FROM documents ORDER BY doc_id""".stripMargin)

  /** Per-source corpus dashboard: the rollup a curation run reports per
    * provenance bucket — doc/token/char volume, mean heuristic quality
    * (10-dp quantize → exact decimal sum → 4-dp round, the §6 contract for
    * computed-double averages), low-quality share, and language spread.
    * One hash aggregation keyed by `source`; source cardinality is tiny,
    * so the plan is a map-side partial agg + one metadata-sized shuffle
    * regardless of corpus size. */
  private val corpusStatsBySource = Q(
    (s, d) => {
      import graft.sqlx.Exact
      val q = graft.text.Corpus.quality(s, d)
        .select("doc_id", "char_len", "token_cnt", "quality_score")
      Tables.documents(s, d).select("doc_id", "lang", "source")
        .join(q, "doc_id")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("token_cnt").cast("long")).as("total_tokens"),
          sum(col("char_len").cast("long")).as("total_chars"),
          Exact.r4(Exact.decSumAgg(round(col("quality_score"), 10) + lit(0.0)) /
            count(lit(1)).cast("double")).as("avg_quality"),
          sum(when(col("quality_score") < 0.5 || col("token_cnt") < 5, 1L)
            .otherwise(0L)).as("n_low_quality"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    },
    s"""WITH ${LlmQueries.qualityCtes}
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(token_cnt) AS BIGINT) AS total_tokens,
       |  CAST(SUM(char_len) AS BIGINT) AS total_chars,
       |  ${OracleSql.rd(
            s"CAST(CAST(SUM(CAST(${OracleSql.rnd("quality_score", 10)} AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE)" +
              " / CAST(COUNT(*) AS DOUBLE)", "avg_quality")},
       |  CAST(SUM(CASE WHEN quality_score < 0.5 OR token_cnt < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
       |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
       |FROM q2 GROUP BY source ORDER BY source""".stripMargin)

  /** End-to-end curation ledger — the decision table a training-data
    * pipeline actually ships: every document with its drop-reason flags
    * (exact/tokenset dup, low heuristic quality, language mismatch,
    * smaller-id near-dup partner, benchmark contamination, high bigram-LM
    * perplexity) and the final `keep` verdict. Composes six independently
    * oracle-green paths into one DAG; every component frame is keyed by
    * doc_id, so the composition is hash joins on the same key — at 100 TB
    * each signal is computed once and the ledger adds no new corpus-sized
    * shuffle beyond its inputs'. */
  private val corpusCurationReport = Q(
    (s, d) => {
      import graft.text.Corpus
      val docs = Tables.documents(s, d).select("doc_id", "lang", "source")
      val dd = graft.dedup.Exact.dedup(s, d)
        .select(col("doc_id"), col("is_exact_dup"), col("is_tokenset_dup"))
      val q = Corpus.quality(s, d).select(col("doc_id"), col("token_cnt"), col("quality_score"))
      val l = Corpus.langId(s, d).select(col("doc_id"), col("predicted_lang"))
      val nd = Jaccard.pairs(s, d, LlmQueries.JaccardThreshold)
        .select(col("doc_b").as("doc_id")).distinct().withColumn("has_nd", lit(true))
      val cont = Decontaminate.overlap(Tables.documents(s, d),
          col("doc_id") % 20 === HoldoutMod, ContaminationThreshold,
          precomputedShingles = Some(Jaccard.cachedShingles(s, d)))
        .select(col("doc_id"), col("is_contaminated").as("cont"))
      val ppl = graft.text.Perplexity.score(s, d)
        .select(col("doc_id"), col("is_low_quality").as("hp"))
      docs.join(dd, "doc_id").join(q, "doc_id").join(l, "doc_id")
        .join(nd, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .join(ppl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"), col("source"),
          col("is_exact_dup"), col("is_tokenset_dup"),
          (col("quality_score") < 0.5 || col("token_cnt") < 5).as("low_quality"),
          (col("predicted_lang") =!= col("lang")).as("lang_mismatch"),
          coalesce(col("has_nd"), lit(false)).as("has_near_dup_partner"),
          coalesce(col("cont"), lit(false)).as("is_contaminated"),
          coalesce(col("hp"), lit(false)).as("high_perplexity"))
        .withColumn("keep",
          !(col("is_exact_dup") || col("is_tokenset_dup") || col("low_quality") ||
            col("lang_mismatch") || col("has_near_dup_partner") ||
            col("is_contaminated") || col("high_perplexity")))
        .orderBy("doc_id")
    },
    {
      val contExpr =
        s"CAST(n_cont AS DOUBLE) / CAST(GREATEST(n_sh, 1) AS DOUBLE) >= $ContaminationThreshold"
      val lowQ = "(q2.quality_score < 0.5 OR q2.token_cnt < 5)"
      s"""WITH ${jaccardPairsCte(LlmQueries.JaccardThreshold)},
         |ndp AS (SELECT DISTINCT doc_b AS doc_id FROM jp),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = $HoldoutMod),
         |trn AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> $HoldoutMod),
         |cagg AS (
         |  SELECT trn.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
         |         CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cont
         |  FROM trn LEFT JOIN bench b ON trn.s = b.s GROUP BY trn.doc_id
         |),
         |k AS (
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
         |${LlmQueries.qualityCtes},
         |${LlmQueries.langCte},
         |${LlmQueries.perplexityCtes},
         |ppl AS (SELECT doc_id,
         |        (${OracleSql.rnd("slp / CAST(n_bigrams AS DOUBLE)", 4)}
         |          < ${graft.text.Perplexity.LowQualityThreshold}) AS hp FROM pagg)
         |SELECT d.doc_id, d.lang, d.source,
         |  dk.is_exact_dup, dk.is_tokenset_dup,
         |  $lowQ AS low_quality,
         |  p.predicted_lang <> d.lang AS lang_mismatch,
         |  ndp.doc_id IS NOT NULL AS has_near_dup_partner,
         |  COALESCE($contExpr, FALSE) AS is_contaminated,
         |  COALESCE(ppl.hp, FALSE) AS high_perplexity,
         |  NOT (dk.is_exact_dup OR dk.is_tokenset_dup OR $lowQ
         |    OR p.predicted_lang <> d.lang OR ndp.doc_id IS NOT NULL
         |    OR COALESCE($contExpr, FALSE) OR COALESCE(ppl.hp, FALSE)) AS keep
         |FROM documents d
         |JOIN dk USING (doc_id) JOIN q2 USING (doc_id) JOIN p USING (doc_id)
         |LEFT JOIN ndp USING (doc_id)
         |LEFT JOIN cagg USING (doc_id)
         |LEFT JOIN ppl USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })

  /** Curriculum ordering (graft.operators.ExactQuantiles): the corpus
    * sorted easy-to-hard for curriculum training — tier 0 = top quality
    * quartile first, tier 3 = bottom — with tiers cut at EXACT
    * interpolated quartile bounds of the heuristic quality score
    * (distributed global-rank machinery, no single-partition sort; the
    * same implementation the fundamentals fcf bounds use) and a
    * deterministic md5 order within each tier (the corpus_shuffle
    * doctrine: no rand(), any engine recomputes the same order). The
    * registered ORDER (tier, order_key, doc_id) IS the curriculum; the
    * oracle replays the quality chain, the franked-window quantile
    * interpolation (bit-equal: 0.25/0.5/0.75 are dyadic, the
    * interpolation is the identical IEEE op DAG) and the md5 keys. */
  private val corpusCurriculum = Q(
    (s, d) => {
      val q = graft.text.Corpus.quality(s, d).select(col("doc_id"), col("quality_score"))
      val bs = graft.operators.ExactQuantiles.interpolated(
        q.select(col("quality_score").as("v")), Seq(0.25, 0.5, 0.75))
      val Seq(b25, b50, b75) = bs.map(_.getOrElse(Double.NaN))
      q.withColumn("tier",
          when(col("quality_score").isNull, lit(3))
            .when(col("quality_score") <= lit(b25), lit(3))
            .when(col("quality_score") <= lit(b50), lit(2))
            .when(col("quality_score") <= lit(b75), lit(1))
            .otherwise(lit(0)))
        .withColumn("order_key",
          md5(concat(col("doc_id").cast("string"), lit(":curriculum"))))
        .orderBy("tier", "order_key", "doc_id")
    }, {
      def b(q: String) = {
        val lo = s"floor($q * CAST(fn - 1 AS DOUBLE)) + 1"
        s"""MAX(CASE WHEN frn = $lo THEN v END)
           |      + (COALESCE(MAX(CASE WHEN frn = $lo + 1 THEN v END),
           |                  MAX(CASE WHEN frn = $lo THEN v END))
           |         - MAX(CASE WHEN frn = $lo THEN v END))
           |        * MAX(CASE WHEN frn = $lo
           |              THEN $q * CAST(fn - 1 AS DOUBLE) - floor($q * CAST(fn - 1 AS DOUBLE)) END)""".stripMargin
      }
      s"""WITH ${LlmQueries.qualityCtes},
         |cvals AS (SELECT quality_score AS v FROM q2 WHERE quality_score IS NOT NULL),
         |cranked AS (SELECT v, row_number() OVER (ORDER BY v) AS frn, COUNT(*) OVER () AS fn FROM cvals),
         |cb AS (
         |  SELECT ${b("0.25")} AS b25,
         |         ${b("0.5")} AS b50,
         |         ${b("0.75")} AS b75
         |  FROM cranked
         |)
         |SELECT doc_id, quality_score,
         |  CASE WHEN quality_score IS NULL THEN 3
         |       WHEN quality_score <= b25 THEN 3
         |       WHEN quality_score <= b50 THEN 2
         |       WHEN quality_score <= b75 THEN 1
         |       ELSE 0 END AS tier,
         |  md5(CAST(doc_id AS VARCHAR) || ':curriculum') AS order_key
         |FROM q2 CROSS JOIN cb
         |ORDER BY tier, order_key, doc_id""".stripMargin
    })

  /** Corpus release diff (graft.operators.DatasetDiff): version N vs a
    * deterministically simulated N+1 — doc_id % 19 = 5 withdrawn
    * (takedowns), doc_id % 7 = 2 revised (text + ' rev2'), doc_id % 13 = 1
    * re-released as new ids past the old max. Each side reduces to
    * (key, md5 fingerprint, length) at the scan, so the aligning
    * full-outer join moves 16-byte hashes, never documents — the
    * governance primitive behind "what changed between training-data
    * releases". Oracle replays the simulation and the diff with DuckDB's
    * own md5 (statuses compare within one engine, so the hash only has
    * to be a deterministic fingerprint on both sides). */
  private val corpusVersionDiff = Q(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max("doc_id").as("m"))
      val removed = col("doc_id") % 19 === 5
      val revised = col("doc_id") % 7 === 2
      val next = docs.where(!removed)
        .withColumn("text",
          when(revised, concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        .unionByName(
          docs.where(col("doc_id") % 13 === 1).crossJoin(broadcast(mx))
            .withColumn("doc_id", col("doc_id") + col("m") + 1).drop("m"))
      graft.operators.DatasetDiff.summary(docs, next, "doc_id", Seq("text"))
        .orderBy("status")
    },
    """WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
      |a AS (SELECT doc_id, text FROM documents),
      |b AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 19 <> 5
      |  UNION ALL
      |  SELECT doc_id + mx.m + 1, text FROM documents, mx WHERE doc_id % 13 = 1
      |),
      |j AS (
      |  -- presence = KEY presence (a row can exist with a NULL payload);
      |  -- fingerprints and lengths are per-column null-safe, matching
      |  -- DatasetDiff: NULL hashes to the '-' token, NULL length counts 0
      |  SELECT a.doc_id AS aid, b.doc_id AS bid,
      |         a.text AS atext, b.text AS btext
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      |),
      |st AS (
      |  SELECT CASE WHEN aid IS NULL THEN 'added'
      |              WHEN bid IS NULL THEN 'removed'
      |              WHEN COALESCE(md5(atext), '-') <> COALESCE(md5(btext), '-')
      |                THEN 'changed'
      |              ELSE 'unchanged' END AS status,
      |         CASE WHEN bid IS NOT NULL THEN COALESCE(LENGTH(btext), 0)
      |              ELSE COALESCE(LENGTH(atext), 0) END AS n_chars
      |  FROM j
      |)
      |SELECT status, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
      |FROM st GROUP BY 1 ORDER BY 1""".stripMargin)

  val all: Map[String, Q] = Map(
    "corpus_version_diff" -> corpusVersionDiff,
    "corpus_curriculum" -> corpusCurriculum,
    "dedup_clusters" -> dedupClusters,
    "dedup_canonical" -> dedupCanonical,
    "corpus_curation_report" -> corpusCurationReport,
    "corpus_pack" -> corpusPack,
    "corpus_chunk_overlap" -> corpusChunkOverlap,
    "corpus_jsonl_roundtrip" -> corpusJsonlRoundtrip,
    "corpus_stats_by_source" -> corpusStatsBySource,
    "corpus_shuffle" -> corpusShuffle,
    "corpus_dsir_weights" -> corpusDsirWeights,
    "decontaminate" -> decontaminate,
    "decontaminate_fuzzy" -> decontaminateFuzzy,
    "dedup_incremental" -> dedupIncremental,
    "corpus_sample_mix" -> corpusSampleMix)
}
