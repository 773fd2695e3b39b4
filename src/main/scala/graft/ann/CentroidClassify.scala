package graft.ann

import graft.Tables
import graft.sqlx.Exact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Nearest-centroid domain classification over the embedding column — the
  * curation pass that labels every document with the domain whose
  * embedding centroid it is closest to (Rocchio / nearest-class-mean;
  * the building block of cluster-based mixing and SemDeDup-style
  * curation). Centroids are fit on the train shard (doc_id % 20 < 18)
  * per document `source`, and every document is classified, so held-out
  * accuracy is measurable from the output.
  *
  * Scale shape: the centroid fit is one posexplode + groupBy(source, dim)
  * aggregation — output is |sources|·d rows (metadata), re-assembled into
  * |sources| arrays and broadcast. Classification is a map-side broadcast
  * cross join (N·|sources| rows) with a codegen'd dot product
  * (graft.functions.DotProduct) and a per-doc argmax window keyed by
  * doc_id. Nothing shuffles except the N-row argmax; at 100 TB this is the
  * standard nearest-centroid scan.
  *
  * Exactness: per-dimension means quantize embedding values to 6 dp on
  * both engines before the DECIMAL(25,10) exact sum (the decSumP rule), so
  * centroid components are bit-identical to the oracle's; cosines then
  * round to 6 dp (the ann_topk convention) with rank ties broken by
  * source. */
object CentroidClassify {

  def classify(spark: SparkSession, dir: String): DataFrame =
    classifyFrames(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")),
      Tables.documents(spark, dir).select(col("doc_id"), col("source")))

  /** Same over explicit (vec_id, emb) / (doc_id, source) frames. */
  def classifyFrames(e: DataFrame, d: DataFrame): DataFrame = {
    val joined = e.join(d, e("vec_id") === d("doc_id"))

    // per-(source, dim) exact mean over the train shard → |sources| arrays
    val cent = joined.where(col("doc_id") % 20 < 18)
      .select(col("source"), posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy("source", "pos")
      .agg((Exact.decSumAgg(round(col("v"), 6)) /
        count(lit(1)).cast("double")).as("c"))
      .groupBy("source")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
      .select(col("source").as("cand"), col("cv"),
        sqrt(graft.functions.GraftFunctions.dot(col("cv"), col("cv"))).as("cnrm"))

    val scored = joined
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.dot(col("emb"), col("emb"))))
      .crossJoin(broadcast(cent))
      .select(col("doc_id"), col("source").as("true_source"), col("cand"),
        round(when(col("nrm") =!= 0.0 && col("cnrm") =!= 0.0,
          graft.functions.GraftFunctions.dot(col("emb"), col("cv")) /
            (col("nrm") * col("cnrm"))), 6).as("cosine"))
    val w = Window.partitionBy("doc_id").orderBy(col("cosine").desc, col("cand"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("doc_id"), col("true_source"),
        col("cand").as("predicted_source"), col("cosine"),
        (col("cand") === col("true_source")).as("is_correct"))
  }
}
