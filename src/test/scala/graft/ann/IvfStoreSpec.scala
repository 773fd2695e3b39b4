package graft.ann

import graft.SparkSpec
import graft.sources.CellStore
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Stored IVF index (IvfIndex.writeIndex / approxTopKStored): the probe must
  * read ONLY the probed cells' files — the storage-layout pruning the
  * operator's header promises for 100 TB — and return exactly what the
  * in-memory path returns (same seed ⇒ same quantizer ⇒ same answer, so
  * the stored path is a pure physical rewrite). */
class IvfStoreSpec extends SparkSpec {

  private lazy val e = graft.Tables.embeddings(spark, sf("sf0.001"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
  private lazy val q = e.where(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
  private val path = s"${sys.props("java.io.tmpdir")}/graft-ivf-spec"

  test("stored probe returns exactly the in-memory approxTopK answer") {
    IvfIndex.writeIndex(e, path)
    val stored = IvfIndex.approxTopKStored(spark, path, q, k = 10)
      .select("query_id", "vec_id", "cosine", "rank")
    val mem = IvfIndex.approxTopK(e, q, k = 10)
      .select("query_id", "vec_id", "cosine", "rank")
    assert(stored.count() > 0)
    assert(stored.exceptAll(mem).isEmpty && mem.exceptAll(stored).isEmpty,
      "stored probe diverges from the in-memory path")
  }

  test("probe scan is partition-pruned to the probed cells only") {
    IvfIndex.writeIndex(e, path, nCells = 8)
    val one = q.orderBy("query_id").limit(1)
    val probe = IvfIndex.approxTopKStored(spark, path, one, k = 5, nProbe = 2)
    probe.collect()
    val head = CellStore.head(spark, path)
    val scans = graft.PlanCheck.allNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.relation.location.inputFiles.exists(_.contains("graft-ivf-spec/w=")) => f }
    assert(scans.nonEmpty, "no file scan over the stored index found")
    // the scan opens exactly the files the head lists for two cells
    val read = scans.head.relation.location.inputFiles
      .map(f => f.substring(f.indexOf("/w=") + 1)).toSet
    val byCell = head.files.filter(_._2.exists(read))
    assert(byCell.size == 2, s"probe read cells ${byCell.keySet}, expected the 2 probed cells")
    assert(read == byCell.values.flatten.toSet)
    assert(scans.head.metrics.get("numPartitions").map(_.value).contains(2L))
  }
}
