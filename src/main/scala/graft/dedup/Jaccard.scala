package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact n-gram Jaccard near-duplicate pairs via an inverted shingle index:
  * explode distinct word trigrams, equi-join on shingle (pairs only among
  * docs sharing ≥1 shingle — never an all-pairs cartesian), count
  * intersections, and compute |∩| / (|A| + |B| − |∩|).
  *
  * Two cost regimes:
  *  - standalone exact near-dup (`pairsFromShingles`): the shingle self-join
  *    is quadratic in per-shingle document frequency, so the 100 TB path
  *    caps hot shingles via `maxShingleDf` (a stopword-grade trigram shared
  *    by k docs alone contributes k·(k−1)/2 join rows; dropping shingles
  *    with df > cap bounds the fan-out at cap·|distinct shingles| while
  *    na/nb stay exact — only pairs whose overlap is entirely hot shingles
  *    can be missed). The cap defaults to off so the oracle check stays
  *    bit-exact at test SF.
  *  - LSH verify (`pairsForCandidateSets`): exact Jaccard computed only for
  *    LSH candidate pairs, by intersecting the two documents' shingle SETS
  *    (one row per doc, [[shingleSets]]) — each candidate joins its two
  *    sets by doc id and intersects them in place, so the cost is
  *    O(candidates × shingles/doc) with no shingle ever exploded or
  *    shuffled, never O(corpus²). This is the verify stage [[MinHashLSH]]
  *    uses.
  */
object Jaccard {
  /** Distinct word-trigram shingle SET of a text column, as one array —
    * the per-row form a stream can compute without aggregation state;
    * [[shingles]] is its exploded table twin. Linear in the word count:
    * `w` is split once, outside the lambda, and the lambda reads only its
    * own (w[i], w[i+1], w[i+2]) struct from the zip of three shifted
    * slices (a lambda naming `w` would re-split the whole text per
    * trigram — subexpression elimination does not reach into lambdas). */
  def shingleArray(text: Column): Column = {
    val w = split(trim(text), " ")
    val k = size(w) - 2
    val tri = when(size(w) >= 3,
      transform(arrays_zip(slice(w, lit(1), k), slice(w, lit(2), k), slice(w, lit(3), k)),
        t => concat_ws(" ", t.getField("0"), t.getField("1"), t.getField("2"))))
      .otherwise(array().cast("array<string>"))
    array_distinct(tri)
  }

  /** Distinct word-trigram shingles per document. The explode runs over
    * the expression itself: exploding a projected attribute would let the
    * optimizer infer a `size(shingles) > 0` filter and inline the whole
    * shingle build into it a second time. */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingleArray(col("text"))).as("shingle"))

  /** (doc_id, shingles): each document's distinct-trigram set as one row —
    * the unit MinHash signs and the LSH verify intersects. */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleArray(col("text")).as("shingles"))

  /** Memoized + persisted shingle sets per (session, dir): MinHash signs
    * them map-side, the LSH verify intersects them, and [[cachedShingles]]
    * explodes them for the inverted-index consumers — one shingle build
    * per session and corpus. */
  def cachedShingleSets(spark: SparkSession, dir: String): DataFrame =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(spark, "shingle_sets", dir))(
      shingleSets(Tables.documents(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The (doc_id, shingle) inverted-index table, exploded from the cached
    * sets. */
  def cachedShingles(spark: SparkSession, dir: String): DataFrame =
    cachedShingleSets(spark, dir).select(col("doc_id"), explode(col("shingles")).as("shingle"))

  def pairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    graft.sqlx.FrameCache.getOrElseUpdate(
        graft.sqlx.FrameCache.key(spark, "jaccard", dir, threshold.toString))(
      pairsFromShingles(cachedShingles(spark, dir), threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** |A∩B| → Jaccard ≥ threshold, given per-pair intersection counts and
    * per-doc shingle counts. */
  private def score(inter: DataFrame, counts: DataFrame, threshold: Double): DataFrame =
    inter
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")

  /** Exact pairs over the whole corpus via the inverted shingle index.
    * `maxShingleDf` drops shingles whose document frequency exceeds the cap
    * before the self-join (the hot set is tiny → broadcast anti-join);
    * na/nb remain exact full-set sizes. */
  def pairsFromShingles(sh: DataFrame, threshold: Double,
                        maxShingleDf: Option[Long] = None): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val joinable = maxShingleDf match {
      case Some(cap) =>
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") > cap).select("shingle")
        sh.join(broadcast(hot), Seq("shingle"), "left_anti")
      case None => sh
    }
    val inter = joinable.as("a").join(joinable.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    score(inter, counts, threshold)
  }

  /** Incremental near-dup pairs: new-batch documents (`newIds`) against the
    * FULL corpus (existing + the batch itself), without recomputing the
    * corpus-wide pair set — the daily-increment form of [[pairsFromShingles]]
    * (same incremental contract as graft.etl.Watermarks' gated recompute).
    * One side of the inverted-index join is only the increment's shingles,
    * so cost is O(|increment shingles| × df), independent of how many
    * corpus-internal pairs exist. Emits (doc_a, doc_b) with doc_b in the
    * batch and doc_a either existing (any id) or an earlier batch doc
    * (doc_a < doc_b, so within-batch pairs appear once). */
  def pairsForIncrement(sh: DataFrame, newIds: DataFrame, threshold: Double): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // distinct: a duplicated id in newIds would duplicate shingle rows on
    // both join sides and silently inflate the intersection counts
    val ids = newIds.select(col("doc_id")).distinct()
    val shNew = sh.join(ids, "doc_id")
    val shAll = sh.join(ids.withColumn("_new", lit(true)), Seq("doc_id"), "left")
    val inter = shAll.as("a").join(shNew.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          (col("a._new").isNull || col("a.doc_id") < col("b.doc_id")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    score(inter, counts, threshold)
  }

  /** Exact Jaccard restricted to candidate (doc_a < doc_b) pairs — the LSH
    * verify path, over [[shingleSets]] rows. Each candidate joins both
    * documents' sets and intersects them: |A∩B| = size(array_intersect),
    * |A| and |B| the set sizes — equal to the inverted-index counts of
    * [[pairsFromShingles]] because both sides are distinct sets. A pair
    * sharing no shingle yields no row, as in the inverted index. Cost is
    * O(candidates × shingles/doc), independent of corpus size. */
  def pairsForCandidateSets(sets: DataFrame, cand: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("bigint").as("inter"),
        size(col("sa")).cast("bigint").as("na"),
        size(col("sb")).cast("bigint").as("nb"))
      .where(col("inter") > 0)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
}
