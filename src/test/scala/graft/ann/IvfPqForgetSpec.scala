package graft.ann

import graft.SparkSpec
import graft.sources.CellStore
import org.apache.spark.sql.functions._

/** The index-delete contract (IvfPq.deleteFromIndex), at the file level
  * where the oracle can't see — read through the committed manifest
  * (CellStore), never raw directories:
  *   - delete ≡ writeIndex(full) with the deleted rows filtered — same
  *     codes, same cells, same quantizer (raw PQ codes are per-row);
  *   - UNAFFECTED cells keep their exact files (copy-on-write per cell:
  *     O(affected) IO);
  *   - a cell whose last vector is deleted lists no files and probing it
  *     just yields nothing;
  *   - a replayed delete (same incrementId) is a no-op;
  *   - the probe never returns a deleted id.
  */
class IvfPqForgetSpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = graft.Tables.embeddings(spark, sf("sf0.01"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
  private lazy val q = e.where(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("query_id"), col("emb").as("qemb"))

  private def cellFiles(path: String): Map[Int, Seq[String]] =
    CellStore.head(spark, path).files

  private def codes(path: String) =
    CellStore.read(spark, path, CellStore.head(spark, path))

  private def codeRows(path: String): Set[String] =
    codes(path).collect().map(_.mkString("|")).toSet

  test("delete rewrites only the affected cells and equals a filtered rebuild") {
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-forget-spec"
    IvfPq.writeIndex(e, path, dim = 64)
    val before = cellFiles(path)
    // the request: a handful of ids confined to FEW cells — materialized
    // BEFORE the delete, so the request is a fixed id set
    val victimIds = IvfPq.approxTopKStored(spark, path, e, q.limit(1), k = 5, dim = 64)
      .select("vec_id").distinct().as[Long].collect().toSet
    val victims = victimIds.toSeq.sorted.toDF("vec_id")
    assert(victimIds.nonEmpty)
    val affectedCells = codes(path)
      .where(col("vec_id").isin(victimIds.toSeq: _*))
      .select("cell").distinct().as[Int].collect().toSet
    assert(IvfPq.deleteFromIndex(spark, path, victims, incrementId = 1L))
    val after = cellFiles(path)
    affectedCells.foreach { c =>
      assert(after.get(c) != before.get(c), s"affected cell $c must be rewritten")
    }
    (before.keySet -- affectedCells).foreach { c =>
      assert(after(c) == before(c), s"unaffected cell $c was rewritten")
    }
    // delete ≡ rebuild-on-survivors with the same (full-history) quantizer:
    // code rows are per-row functions of the stored metadata
    val ref = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-forget-ref"
    IvfPq.writeIndex(e, ref, dim = 64)
    val expect = codeRows(ref)
      .filterNot(r => victimIds.exists(id => r.startsWith(s"$id|")))
    assert(codeRows(path) == expect)
    // the probe never returns a deleted id
    val got = IvfPq.approxTopKStored(spark, path, e, q, k = 10, dim = 64)
      .select("vec_id").as[Long].collect().toSet
    assert((got intersect victimIds).isEmpty)
    // a replayed delete is a no-op (false): no new version, files untouched
    val head = CellStore.head(spark, path)
    assert(!IvfPq.deleteFromIndex(spark, path, victims, incrementId = 1L))
    assert(CellStore.head(spark, path) == head)
  }

  test("deleting a cell's last vector drops the partition; probes keep working") {
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-forget-empty"
    IvfPq.writeIndex(e, path, dim = 64, nCells = 4)
    val stored = codes(path)
    val cellCounts = stored.groupBy("cell").count().as[(Int, Long)].collect().toMap
    val victimCell = cellCounts.minBy(_._2)._1
    val victimIdsSeq = stored.where(col("cell") === victimCell)
      .select("vec_id").as[Long].collect().toSeq.sorted
    val victims = victimIdsSeq.toDF("vec_id")
    assert(IvfPq.deleteFromIndex(spark, path, victims, incrementId = 1L))
    assert(!cellFiles(path).contains(victimCell),
      "an emptied cell must hold no files")
    // probing with every cell reachable still works and returns no victim
    val victimIds = victimIdsSeq.toSet
    val got = IvfPq.approxTopKStored(spark, path, e, q, k = 10, dim = 64, nProbe = 4)
    assert(got.count() > 0)
    assert((got.select("vec_id").as[Long].collect().toSet intersect victimIds).isEmpty)
  }

  test("storedIds audits the served membership exactly and refuses an uncommitted store") {
    // the compliance read behind forget_cascade_full: after a delete, the
    // committed codes hold precisely base-minus-victims — count AND ids
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-storedids-spec"
    IvfPq.writeIndex(e, path, dim = 64)
    val all = e.select("vec_id").as[Long].collect().toSet
    assert(IvfPq.storedIds(spark, path).select("vec_id").as[Long].collect().toSet == all)
    val victims = all.filter(_ % 7 == 3)
    assert(IvfPq.deleteFromIndex(
      spark, path, victims.toSeq.toDF("vec_id"), incrementId = 1L))
    assert(IvfPq.storedIds(spark, path).select("vec_id").as[Long].collect().toSet ==
      all -- victims)
    // a store with no committed version cannot witness anything
    val never = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-storedids-none"
    val ex = intercept[IllegalArgumentException] { IvfPq.storedIds(spark, never) }
    assert(ex.getMessage.contains("no committed index version"))
  }

  test("forgotten codes leave the disk once retention and the orphan age pass") {
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-forget-erasure"
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    IvfPq.writeIndex(e, path, dim = 64)
    val victims = e.where(col("vec_id") % 7 === 3).select("vec_id")
    val victimIds = victims.as[Long].collect().toSet
    // the bytes on disk, not the served view: every data file under root
    def onDisk(): Set[Long] = spark.read.parquet(s"$path/w=*/cell=*/*.parquet")
      .select("vec_id").as[Long].collect().toSet
    def quietCommit(id: Long) = assert(IvfPq.deleteFromIndex(
      spark, path, e.where(col("vec_id") === -1L).select("vec_id"), incrementId = id))
    assert(IvfPq.deleteFromIndex(spark, path, victims, incrementId = 1L))
    assert((IvfPq.storedIds(spark, path).select("vec_id").as[Long].collect().toSet
      intersect victimIds).isEmpty, "logical erasure is immediate")
    assert(victimIds.subsetOf(onDisk()), "the retained previous version still lists the old files")
    // the previous version leaves retention, but its files are younger
    // than the orphan age: still on disk
    quietCommit(2L)
    assert(victimIds.subsetOf(onDisk()))
    val prevAge = graft.sources.TableMaintenance.OrphanAgeMs
    graft.sources.TableMaintenance.OrphanAgeMs = 0L
    try quietCommit(3L) finally graft.sources.TableMaintenance.OrphanAgeMs = prevAge
    assert((onDisk() intersect victimIds).isEmpty, "physical erasure after retention + age")
    assert(onDisk() == e.select("vec_id").as[Long].collect().toSet -- victimIds)
  }
}
