package graft.ann

import graft.SparkSpec
import graft.sources.CellStore
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

/** IVF+PQ composition specs: recall through BOTH approximations
  * (cell pruning × code quantization) vs brute force, the exactness limit
  * (probe everything + re-rank everything ⇒ bit-identical brute force),
  * and that candidates really are confined to the probed cells. */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val e = graft.Tables.embeddings(spark, sf("sf0.01"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
  private lazy val q = e.where(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("query_id"), col("emb").as("qemb"))

  test("IVFPQ recall@10 >= 0.7 vs brute force on the isotropic worst case; no CartesianProduct") {
    val exact = Cosine.topK(spark, sf("sf0.01"), k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val df = IvfPq.approxTopK(e, q, k = 10, dim = 64)
    val got = df.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    // two stacked approximations on data with NO cluster structure (the
    // documented IVF worst case): the floor is deliberately below the
    // single-approximation specs' 0.8
    assert(recall >= 0.7, s"IVFPQ recall@10 = $recall")
    assert(df.queryExecution.executedPlan.collect {
      case c: CartesianProductExec => c
    }.isEmpty)
  }

  test("probe-all + re-rank-all makes IVFPQ exactly the brute-force top-k") {
    val n = e.count().toInt
    val exact = Cosine.topK(spark, sf("sf0.01"), k = 10)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val got = IvfPq.approxTopK(e, q, k = 10, dim = 64, nProbe = 16, rerank = n)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == exact,
      s"diff: missing=${(exact -- got).take(3)} extra=${(got -- exact).take(3)}")
  }

  test("stored probe returns exactly the in-memory answer; scan is pruned to probed cells") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-spec"
    IvfPq.writeIndex(e, path, dim = 64, nCells = 8)
    val stored = IvfPq.approxTopKStored(spark, path, e, q, k = 10, dim = 64, nProbe = 2)
    val mem = IvfPq.approxTopK(e, q, k = 10, dim = 64, nCells = 8, nProbe = 2)
    assert(stored.count() > 0)
    assert(stored.exceptAll(mem).isEmpty && mem.exceptAll(stored).isEmpty,
      "stored probe diverges from the in-memory path")
    // pruning: one query probing 2 of 8 cells opens exactly the files the
    // head lists for those 2 cells
    val one = q.orderBy("query_id").limit(1)
    val probe = IvfPq.approxTopKStored(spark, path, e, one, k = 5, dim = 64, nProbe = 2)
    probe.collect()
    val scans = graft.PlanCheck.allNodes(probe.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.relation.location.inputFiles.exists(_.contains("graft-ivfpq-spec/w=")) => f }
    assert(scans.nonEmpty, "no file scan over the stored code table found")
    val read = scans.head.relation.location.inputFiles
      .map(f => f.substring(f.indexOf("/w=") + 1)).toSet
    val byCell = CellStore.head(spark, path).files.filter(_._2.exists(read))
    assert(byCell.size == 2, s"probe read cells ${byCell.keySet}, expected the 2 probed cells")
    assert(read == byCell.values.flatten.toSet)
    assert(scans.head.metrics.get("numPartitions").map(_.value).contains(2L))
  }

  test("append-to-stored-index == bulk indexing the union with the same quantizer") {
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-spec-incr"
    val base = e.where(col("vec_id") % 10 =!= 7)
    val inc = e.where(col("vec_id") % 10 === 7)
    IvfPq.writeIndex(base, path, dim = 64)
    assert(IvfPq.appendToIndex(spark, path, inc, incrementId = 1L))
    // replay of the same increment id is a no-op: no doubled vec_ids/ADC partials
    assert(!IvfPq.appendToIndex(spark, path, inc, incrementId = 1L))
    val stored = IvfPq.storedIds(spark, path)
    assert(stored.count() == e.count(), "append must add every increment row exactly once")
    assert(stored.select("vec_id").distinct().count() == e.count())
    // the appended rows carry exactly the (cell, codes) the bulk path
    // would compute against the same stored metadata — probe behavior is
    // therefore identical to a one-shot index of base ∪ increment
    val probed = IvfPq.approxTopKStored(spark, path, e, q, k = 10, dim = 64)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(probed.nonEmpty)
    val incIds = inc.select("vec_id").as[Long].collect().toSet
    assert(probed.exists { case (_, v, _) => incIds.contains(v) },
      "appended vectors must be reachable through the probe")
  }

  test("composed oracle defines the shared training sample exactly once (head-less chaining holds)") {
    // ann_ivfpq's SQL = ivfFitCtes (owns e/samp) + pqFitCtes(includeHead =
    // false) + probed ADC. If either builder drifts (samp renamed, head
    // re-emitted, fitWhere added on one side only) this shape breaks and
    // the PQ fits would silently train on a different sample than Spark.
    val sql = graft.queries.LlmQueries.all("ann_ivfpq").oracle.get
    assert("samp AS".r.findAllMatchIn(sql).size == 1, "exactly one shared sample CTE")
    assert("e AS \\(SELECT vec_id, embedding".r.findAllMatchIn(sql).size == 1,
      "exactly one corpus CTE")
    assert(sql.contains("c5"), "coarse-quantizer chain present")
    assert(sql.contains("c0_0"), "subspace codebook chains present")
    assert(sql.contains("prb <="), "probe present")
  }

  test("every returned neighbour lies in one of its query's probed cells") {
    val nProbe = 4
    val (assigned, cents) = IvfIndex.assign(e, nCells = 16)
    val probed = IvfIndex.probeCells(q, cents, nProbe)
      .select("query_id", "cell").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cellOf = assigned.select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val got = IvfPq.approxTopK(e, q, k = 10, dim = 64, nProbe = nProbe)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (qid, vid) =>
      assert(probed(qid).contains(cellOf(vid)),
        s"neighbour $vid of query $qid came from an unprobed cell")
    }
  }
}
