package graft.ann

import graft.SparkSpec
import graft.sources.CellStore
import org.apache.spark.sql.functions._

/** Streaming ANN index ingest (the stream_ann_ingest composition):
  * foreachBatch → IvfPq.appendToIndex with batchId-derived increment ids.
  * Pins the two contracts the registered query's oracle can't see
  * directly: the streamed store converges to the single-batch append
  * row-for-row, and a replayed batch id (Structured Streaming's
  * at-least-once delivery into foreachBatch) is a no-op guarded by the
  * head version's applied id. */
class IvfPqStreamSpec extends SparkSpec {

  private lazy val e = graft.Tables.embeddings(spark, sf("sf0.001"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  private def codesOf(path: String): Set[Seq[Any]] =
    CellStore.read(spark, path, CellStore.head(spark, path)).collect()
      .map(r => r.toSeq.map {
        case s: Seq[_] => s.toList
        case v => v
      }).toSet

  test("streamed micro-batch appends converge to the batch append, and a replayed batch is a no-op") {
    val base = e.where(col("vec_id") % 10 =!= 7)
    val inc = e.where(col("vec_id") % 10 === 7)

    // reference store: one batch append
    val refPath = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-stream-spec-ref"
    IvfPq.writeIndex(base, refPath, dim = 64, nCells = 8)
    assert(IvfPq.appendToIndex(spark, refPath, inc, incrementId = 1L))

    // streamed store: the increment arrives as 3 files = 3 micro-batches
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-stream-spec"
    val src = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-stream-spec-src"
    inc.repartition(3).write.mode("overwrite").parquet(src)
    IvfPq.writeIndex(base, path, dim = 64, nCells = 8)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("emb",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    var applied = Seq.empty[(Long, Boolean)]
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val did = IvfPq.appendToIndex(batch.sparkSession, path, batch, incrementId = id + 1)
        applied = applied :+ (id + 1, did)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(applied.count(_._2) >= 2, s"expected >= 2 genuine micro-batch appends, got $applied")

    // convergence: how the increment was batched is invisible to the store
    assert(codesOf(path) == codesOf(refPath),
      "streamed store diverged from the single-append store")

    // exactly-once: replaying the last delivered batch must be a no-op
    val lastId = applied.map(_._1).max
    val before = codesOf(path)
    assert(!IvfPq.appendToIndex(spark, path, inc, incrementId = lastId),
      "replayed increment id was applied twice")
    assert(codesOf(path) == before, "replay mutated the store")

    // and the probes agree too (same rows => same index => same answers)
    val qs = e.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val a = IvfPq.approxTopKStored(spark, path, e, qs, k = 5, dim = 64)
    val b = IvfPq.approxTopKStored(spark, refPath, e, qs, k = 5, dim = 64)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
