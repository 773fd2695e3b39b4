package graft.ann

import graft.SparkSpec
import graft.sources.CellStore
import org.apache.spark.sql.functions._

/** Incremental IVF maintenance contract (IvfIndex.appendToIndex): because
  * cell assignment is per-row against fixed centroids, appending an
  * increment to a base-built index must yield exactly the store — and
  * exactly the probe results — of rebuilding the assignment over
  * base ∪ increment with the same quantizer. Stores are read through the
  * committed reader (CellStore), never raw directories. */
class IvfIncrementalSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  private def emb = graft.Tables.embeddings(spark, dir)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  private def stored(path: String) =
    CellStore.read(spark, path, CellStore.head(spark, path))

  test("append ≡ rebuild-with-same-quantizer, for the store and the probe") {
    val base = emb.where(col("vec_id") % 10 =!= 7)
    val inc = emb.where(col("vec_id") % 10 === 7)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-incr-spec").toString
    val appended = s"$tmp/appended"; val rebuilt = s"$tmp/rebuilt"

    IvfIndex.writeIndex(base, appended)
    assert(IvfIndex.appendToIndex(spark, appended, inc, incrementId = 1L))
    // a replayed increment id must be a no-op (the applied-id guard)
    assert(!IvfIndex.appendToIndex(spark, appended, inc, incrementId = 1L))

    // rebuild: the base-fit centroids, one-shot assignment of the union,
    // published as its own store
    val head = CellStore.head(spark, appended)
    val centRows = CellStore.table(spark, appended, head, "centroids").sortBy(_.int("cell"))
    val cents = centRows.map(_.doubles("centroid")).toArray
    val full = emb.select(col("vec_id"), col("emb"),
      graft.functions.NearestCell.nearest(col("emb"), cents).as("cell"))
    CellStore.build(spark, rebuilt, "spec rebuild") {
      (full, Seq(("centroids", Seq("cell" -> "int", "centroid" -> "array<double>"),
        centRows.map(r => Seq[Any](r.int("cell"), r.doubles("centroid"))))))
    }

    val a = stored(appended).select("vec_id", "cell")
    val b = stored(rebuilt).select("vec_id", "cell")
    assert(a.count() == emb.count(), "append must cover base + increment exactly once")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "appended store must equal a rebuild with the same quantizer")

    val q = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val pa = IvfIndex.approxTopKStored(spark, appended, q, k = 10)
    val pb = IvfIndex.approxTopKStored(spark, rebuilt, q, k = 10)
    assert(pa.exceptAll(pb).isEmpty && pb.exceptAll(pa).isEmpty)
    assert(pa.count() > 0)

    // the increment genuinely landed in existing cells (no refit happened):
    // the append carried the build's centroid table forward by reference
    assert(CellStore.head(spark, appended).tables == head.tables)

    // a store with no committed version refuses probes and appends
    val empty = s"$tmp/never-built"
    intercept[IllegalArgumentException] {
      IvfIndex.approxTopKStored(spark, empty, q, k = 10)
    }
    intercept[IllegalArgumentException] {
      IvfIndex.appendToIndex(spark, empty, inc, incrementId = 2L)
    }
  }

  test("retry after a crash before the commit applies the increment once") {
    val base = emb.where(col("vec_id") % 10 =!= 7)
    val inc = emb.where(col("vec_id") % 10 === 7)
    val store = java.nio.file.Files.createTempDirectory("graft-ivf-crash-spec").toString
    IvfIndex.writeIndex(base, store)
    val q = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    def probe() = IvfIndex.approxTopKStored(spark, store, q, k = 10).collect().toSet
    val before = probe()
    val head = CellStore.head(spark, store)
    // the increment's files land, then the writer dies at the commit CAS
    graft.StoreFaults.crashAtCommit(IvfIndex.appendToIndex(spark, store, inc, incrementId = 1L))
    assert(CellStore.head(spark, store) == head, "the crash must not move the head")
    assert(probe() == before, "the previous version must keep probing identically")
    // the orchestrator's retry of increment 1 lands once; a replay is a no-op
    assert(IvfIndex.appendToIndex(spark, store, inc, incrementId = 1L))
    assert(!IvfIndex.appendToIndex(spark, store, inc, incrementId = 1L))
    val ids = stored(store).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids.size == emb.count() && ids.distinct.size == ids.size,
      "every vector exactly once after crash + retry")
  }
}
