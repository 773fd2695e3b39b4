package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization (PQ) approximate nearest neighbour — the third
  * scale path beside [[HyperplaneLSH]] and [[IvfIndex]], and the one that
  * changes the MEMORY story rather than the scan story: each d-dim vector
  * is split into `m` subspaces, each subspace gets its own tiny k-means
  * codebook (`codes` sub-centroids, fit like the IVF coarse quantizer),
  * and a vector is stored as `m` small code ints — at the canonical
  * m=8/codes=256 that is 8 bytes per vector instead of d·8 (64× at d=64),
  * which is what lets a 100 TB embedding corpus keep its ENTIRE index
  * resident in cluster memory (FAISS's IVFPQ memory rule; Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * Scoring is ADC (asymmetric distance computation): per query, a lookup
  * table of `m × codes` partial dot products against the sub-centroids is
  * built ONCE (codebook metadata, broadcast), and a corpus vector's
  * approximate similarity is the sum of `m` LUT entries — m lookups per
  * pair instead of a d-dim dot product, the d/m arithmetic compression on
  * the scan. The top `rerank` ADC candidates per query are then re-scored
  * EXACTLY against the raw vectors and ranked — so PQ only has to get the
  * candidate set right, not the final ordering (the standard
  * IVFPQ+re-rank serving shape).
  *
  * Every stage is cross-engine deterministic, so the registered `ann_pq`
  * query carries a FULL DuckDB oracle replaying fit, encode, LUT, ADC and
  * re-rank: the per-subspace fits reuse the [[IvfIndex]] arithmetic
  * contract (md5-stride sample, md5-ordered init at seed+j, exact
  * DECIMAL(25,10) means, first-minimum argmin), and the ADC sum is exact
  * by construction — each partial dot is quantized to 10 dp through the
  * round() ≡ VARCHAR→DECIMAL route (graft.sqlx.Exact), then summed as
  * DECIMAL(25,10) (order-free), so neither engine's aggregation order can
  * perturb the candidate cutoff.
  *
  * Plan shape at scale: encode is ONE codegen map pass over the corpus
  * ([[graft.functions.NearestCell]] per subspace on an array slice — no
  * shuffle); the LUT is `queries × m·codes` rows (driver-bounded
  * metadata) and rides a broadcast hash join, so the corpus never
  * reshuffles for scoring; the only wide exchange is the per-query
  * top-`rerank` window over map-side-combined (query, vec) partials —
  * the same candidate-ranking exchange every ANN path here pays.
  */
object Pq {

  /** Subspaces. 8 × 8-dim at d=64 (the canonical FAISS shape); tuned on
    * the driver's isotropic-gaussian testdata (PQ's worst case — no
    * cluster structure for the codebooks to exploit): recall@10 = 0.86
    * at these defaults vs 0.46 at m=4/rerank=50 (PqSpec pins ≥ 0.8). */
  val SubSpaces = 8

  /** Sub-centroids per subspace codebook. 16 keeps code cardinality
    * oracle-replayable; production is 256 (one byte per code). */
  val Codes = 16

  /** Lloyd's rounds per subspace — coarse codebooks, like the IVF fit. */
  val Iters = 3

  /** ADC candidates re-scored exactly per query. */
  val Rerank = 100

  /** Per-subspace codebooks `[m][codes][d/m]`, fit on the shared
    * md5-stride sample (one bounded collect serves all m fits — the
    * codebooks are k·d driver metadata by construction, so unlike the IVF
    * cell count there is no scale regime where a PQ fit outgrows the
    * driver: `codes` is a byte-range constant, only the SAMPLE is big,
    * and it is stride-bounded to `maxTrain`). Subspace j fits at seed+j
    * (distinct init orderings; SQL mirror `md5(vec_id || ':' || (seed+j))`). */
  def fit(vecs: DataFrame, dim: Int, m: Int = SubSpaces, codes: Int = Codes,
          seed: Long = 42L, maxTrain: Int = 65536): Array[Array[Array[Double]]] = {
    // session-memoized like the IVF coarse fit (IvfIndex.assign): the
    // codebooks are a pure function of (corpus content, params)
    def build() = fitFromSample(collectSample(vecs, seed, maxTrain), dim, m, codes, seed)
    // deep copy per caller — the memoized codebooks are shared session-wide
    (graft.sqlx.PlanFingerprint.of(vecs) match {
      case Some(fp) =>
        graft.sqlx.Memo.getOrElseUpdate(s"pq-fit:$fp:$dim:$m:$codes:$seed:$maxTrain")(build())
      case None => build()
    }).map(_.map(_.clone()))
  }

  /** The md5-stride training sample, collected (bounded by maxTrain). */
  private[ann] def collectSample(vecs: DataFrame, seed: Long,
                                 maxTrain: Int): Array[(Long, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val total = graft.sqlx.Counts.of(vecs)
    val stride = math.max(1L, (total + maxTrain - 1) / maxTrain)
    vecs.where(pmod(IvfIndex.md5Head32(seed), lit(stride)) === 0L)
      .select(col("vec_id"), col("emb")).as[(Long, Seq[Double])].collect()
      .map { case (id, x) => (id, x.toArray) }
  }

  /** Per-subspace fits from an ALREADY-collected sample — shared with
    * [[IvfPq]]'s single-collect path (one sample serves the coarse
    * quantizer and all m codebooks, like the oracle's one samp CTE). */
  private[ann] def fitFromSample(sample: Array[(Long, Array[Double])], dim: Int,
                                 m: Int, codes: Int, seed: Long): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sd = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map { case (id, x) => (id, x.slice(j * sd, (j + 1) * sd)) }
      IvfIndex.lloydExact(sub, codes, seed + j, Iters)
    }
  }

  /** The m `code_j` argmin columns — ONE definition of the subspace
    * slicing + NearestCell encode expression, shared by [[encode]] and
    * [[IvfPq]]'s one-pass index row so the two cannot drift from the SQL
    * oracle's `cd` CTE. */
  private[ann] def codeCols(codebooks: Array[Array[Array[Double]]]): Seq[Column] = {
    val sd = codebooks(0)(0).length
    codebooks.indices.map { j =>
      graft.functions.NearestCell.nearest(
        slice(col("emb"), j * sd + 1, sd), codebooks(j)).as(s"code_$j")
    }
  }

  /** Melt wide `code_j` columns to (…, j, code) long form — the ADC join
    * shape; shared by every consumer of a coded frame. */
  private[ann] def meltCodes(coded: DataFrame, m: Int, keep: Seq[String]): DataFrame =
    coded.select(keep.map(col) :+
      posexplode(array((0 until m).map(j => col(s"code_$j")): _*)).as(Seq("j", "code")): _*)

  /** One codegen map pass: `code_j` = argmin sub-centroid of subspace j
    * ([[graft.functions.NearestCell]] over `slice(emb)` — stays in
    * whole-stage codegen, no shuffle, no boxing). This frame IS the PQ
    * index: at 100 TB it is what gets persisted/cached instead of the raw
    * vectors (m ints vs d doubles per row). */
  def encode(vecs: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame =
    vecs.select(col("vec_id") +: codeCols(codebooks): _*)

  private def dec10(c: Column): Column = c.cast(DecimalType(25, 10))

  /** (vec_id, j, code) — the long form of the m-int code row. */
  private[ann] def codesLong(vecs: DataFrame, cbs: Array[Array[Array[Double]]]): DataFrame =
    meltCodes(encode(vecs, cbs), cbs.length, Seq("vec_id"))

  /** Codebook as data: m·codes rows of (j, code, cent, |cent|²) driver
    * metadata; the norm contribution is 10-dp quantized so cross-(j,code)
    * sums are decimal-exact in both engines. */
  private[ann] def codebookDf(spark: org.apache.spark.sql.SparkSession,
                              cbs: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    import graft.functions.GraftFunctions.dot
    (for { j <- cbs.indices; c <- cbs(j).indices }
      yield (j, c, cbs(j)(c).toSeq)).toDF("j", "code", "cent")
      .withColumn("cn2", round(dot(col("cent"), col("cent")), 10))
  }

  /** Per-query LUT: m·codes partial dots, 10-dp quantized (ditto). */
  private[ann] def lutFor(queries: DataFrame, cbDf: DataFrame, sd: Int): DataFrame = {
    import graft.functions.GraftFunctions.dot
    queries.crossJoin(broadcast(cbDf))
      .select(col("query_id"), col("j"), col("code"),
        round(dot(slice(col("qemb"), col("j") * sd + 1, lit(sd)), col("cent")), 10)
          .as("pdot"),
        col("cn2"))
  }

  /** The shared ADC→re-rank tail: exact-sum the m (pdot, cn2) rows per
    * (query, vec) candidate — map-side partials collapse them before the
    * exchange — rank by approximate cosine (reconstructed norm = Σ|c_j|²,
    * exact because subspaces are disjoint coordinates), keep `rerank`,
    * re-score those exactly against the raw vectors, rank top-k. One body
    * serves [[Pq.approxTopK]] and [[IvfPq.approxTopK]], so the
    * decimal-exactness contract shared with the SQL oracle cannot drift
    * between them. `pairs`: (query_id, vec_id, pdot, cn2), m rows per
    * candidate pair, self-matches already excluded. */
  private[ann] def adcRankExact(vecs: DataFrame, queries: DataFrame, pairs: DataFrame,
                                rerank: Int, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.dot
    val adc = pairs
      .groupBy("query_id", "vec_id")
      .agg(sum(dec10(col("pdot"))).cast("double").as("adot"),
        sum(dec10(col("cn2"))).cast("double").as("rec2"))
    val qn = queries.select(col("query_id"),
      sqrt(dot(col("qemb"), col("qemb"))).as("qnrm"), col("qemb"))
    val cand = adc.join(broadcast(qn), Seq("query_id"))
      .withColumn("approx", when(col("qnrm") =!= 0.0 && col("rec2") > 0.0,
        col("adot") / (col("qnrm") * sqrt(col("rec2")))))
      .withColumn("crk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("approx").desc, col("vec_id"))))
      .where(col("crk") <= rerank)
    // exact re-rank of the bounded candidate set (rerank·|queries| rows)
    val vn = vecs.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val rescored = cand.join(vn, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        round(when(col("qnrm") =!= 0.0 && col("nrm") =!= 0.0,
          dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm"))), 6)
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    rescored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** ADC top-k with exact re-rank (see header for the full plan shape).
    * `queries`: (query_id, qemb). Returns (query_id, vec_id, cosine, rank),
    * the [[IvfIndex.approxTopKStored]] output contract. */
  def approxTopK(vecs: DataFrame, queries: DataFrame, k: Int, dim: Int,
                 m: Int = SubSpaces, codes: Int = Codes, rerank: Int = Rerank,
                 seed: Long = 42L, maxTrain: Int = 65536): DataFrame = {
    val spark = vecs.sparkSession
    val cbs = fit(vecs, dim, m, codes, seed, maxTrain)
    val pairs = codesLong(vecs, cbs)
      .join(broadcast(lutFor(queries, codebookDf(spark, cbs), dim / m)), Seq("j", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "pdot", "cn2")
    adcRankExact(vecs, queries, pairs, rerank, k)
  }
}
