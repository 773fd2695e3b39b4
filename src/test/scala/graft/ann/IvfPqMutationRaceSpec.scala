package graft.ann

import graft.SparkSpec
import graft.sources.CellStore
import org.apache.spark.sql.functions._

/** Differential contract for the two LIVE mutations on one store —
  * appendToIndex (ingest) and deleteFromIndex (forget) — against each
  * other and against concurrent readers:
  *   - a probe while a mutation is in flight (held mid-data-job by a
  *     gate) serves the head it resolved — the pre-mutation answer, never
  *     a refusal — and the next probe sees the committed mutation;
  *   - an append racing a forget from the same head: exactly one
  *     publishes, the loser fails loudly (ConcurrentCommitException),
  *     leaves the store as the winner committed it, and its retry from
  *     the new head lands;
  *   - order-independence of DISJOINT mutations: append(A) ∘ forget(B) ≡
  *     forget(B) ∘ append(A) — same code rows, same probe results;
  *   - forget of JUST-appended ids removes them from the probe stream
  *     (ingest-then-takedown, the governance sequence forget_cascade
  *     drives one level up).
  */
class IvfPqMutationRaceSpec extends SparkSpec {
  import spark.implicits._
  import graft.StoreFaults.{await, background, open, pass, reset}

  private lazy val e = graft.Tables.embeddings(spark, sf("sf0.01"))
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
  private lazy val q = e.where(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("query_id"), col("emb").as("qemb"))

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft-ivfpq-race-$name"
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    path
  }

  private def codeRows(path: String): Set[String] =
    CellStore.read(spark, path, CellStore.head(spark, path))
      .collect().map(_.mkString("|")).toSet

  private def probeRows(path: String): Seq[String] =
    IvfPq.approxTopKStored(spark, path, e, q, k = 10, dim = 64)
      .orderBy("query_id", "rank").collect().map(_.mkString("|")).toSeq

  private val base = () => e.where(col("vec_id") % 10 =!= 7)
  private val incr = () => e.where(col("vec_id") % 10 === 7)
  private val forgetIds = () => e.where(col("vec_id") % 20 === 7).select("vec_id")

  /** `df` whose evaluation opens gate `arrive`, then waits for `proceed`. */
  private def held(df: org.apache.spark.sql.DataFrame, arrive: String, proceed: String) =
    df.coalesce(1).withColumn("vec_id", pass(col("vec_id"), arrive, proceed))

  test("a probe during an in-flight append serves the pre-append version; the next sees it") {
    val path = fresh("read-append")
    IvfPq.writeIndex(base(), path, dim = 64)
    val before = probeRows(path)
    val ref = fresh("read-append-ref")
    IvfPq.writeIndex(base(), ref, dim = 64)
    assert(IvfPq.appendToIndex(spark, ref, incr(), incrementId = 1L))

    reset("append-running", "append-go")
    val append = background(IvfPq.appendToIndex(spark, path,
      held(incr(), "append-running", "append-go"), incrementId = 1L))
    await("append-running") // the append resolved v=1 and is writing its cells
    try {
      assert(probeRows(path) == before, "a probe mid-append must serve the head it resolved")
      assert(CellStore.head(spark, path).number == 1L)
    } finally open("append-go")
    assert(append() == Right(true))
    assert(probeRows(path) == probeRows(ref), "the next probe must see the committed append")
  }

  test("a probe during an in-flight forget serves the pre-forget version; the next sees it") {
    val path = fresh("read-forget")
    IvfPq.writeIndex(e, path, dim = 64)
    val before = probeRows(path)
    val ref = fresh("read-forget-ref")
    IvfPq.writeIndex(e, ref, dim = 64)
    assert(IvfPq.deleteFromIndex(spark, ref, forgetIds(), incrementId = 1L))
    assert(probeRows(ref) != before, "fixture: the forget must change the probe")

    reset("forget-running", "forget-go")
    val forget = background(IvfPq.deleteFromIndex(spark, path,
      held(forgetIds(), "forget-running", "forget-go"), incrementId = 1L))
    await("forget-running") // the forget resolved v=1 and is locating cells
    try {
      assert(probeRows(path) == before, "a probe mid-forget must serve the head it resolved")
      assert(CellStore.head(spark, path).number == 1L)
    } finally open("forget-go")
    assert(forget() == Right(true))
    assert(probeRows(path) == probeRows(ref), "the next probe must see the committed forget")
  }

  test("append racing a forget: one publishes, the loser retries") {
    val path = fresh("excl")
    IvfPq.writeIndex(base(), path, dim = 64)
    val gone = e.where(col("vec_id") % 20 === 4).select("vec_id")
    // each mutation's data job waits until BOTH resolved the head (v=1),
    // so both CAS v=2 and exactly one can win
    reset("race-append", "race-forget")
    val append = background(IvfPq.appendToIndex(spark, path,
      held(incr(), "race-append", "race-forget"), incrementId = 1L))
    val forget = background(IvfPq.deleteFromIndex(spark, path,
      held(gone, "race-forget", "race-append"), incrementId = 2L))
    val got = Seq(append(), forget())
    assert(got.count(_ == Right(true)) == 1, s"exactly one mutation publishes: $got")
    got.collect { case Left(x) => x }.foreach { x =>
      assert(x.isInstanceOf[graft.sources.ConcurrentCommitException], s"loser not loud: $x")
    }
    // the store is exactly the winner's commit: the loser left nothing
    val head = CellStore.head(spark, path)
    assert(head.number == 2L)
    assert(CellStore.liveRefs(spark, path).map(_.takeWhile(_ != '/')) ==
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).map(_.getPath.getName)
        .filter(_.startsWith("w=")).toSet, "the loser must delete its write dir")
    val ids = IvfPq.storedIds(spark, path).select("vec_id").as[Long].collect().toSet
    val gonIds = gone.as[Long].collect().toSet
    val incIds = incr().select("vec_id").as[Long].collect().toSet
    if (got.head.isRight) assert(incIds.subsetOf(ids) && gonIds.subsetOf(ids))
    else assert(ids.intersect(gonIds).isEmpty && ids.intersect(incIds).isEmpty)
    // the loser re-reads the head and retries as the next increment
    if (got.head.isRight) assert(IvfPq.deleteFromIndex(spark, path, gone, incrementId = 3L))
    else assert(IvfPq.appendToIndex(spark, path, incr(), incrementId = 3L))
    val all = IvfPq.storedIds(spark, path).select("vec_id").as[Long].collect().toSeq
    assert(all.distinct.size == all.size)
    assert(all.toSet == e.select("vec_id").as[Long].collect().toSet -- gonIds)
  }

  test("disjoint append and forget commute: same code rows, same probe") {
    val pAF = fresh("af")
    val pFA = fresh("fa")
    // forgotten ids (vec_id % 20 = 7 with vec_id % 10 != 7 -> none; use
    // base-resident ids disjoint from the increment instead)
    val gone = e.where(col("vec_id") % 20 === 4).select("vec_id")

    IvfPq.writeIndex(base(), pAF, dim = 64)
    assert(IvfPq.appendToIndex(spark, pAF, incr(), incrementId = 1L))
    assert(IvfPq.deleteFromIndex(spark, pAF, gone, incrementId = 2L))

    IvfPq.writeIndex(base(), pFA, dim = 64)
    assert(IvfPq.deleteFromIndex(spark, pFA, gone, incrementId = 1L))
    assert(IvfPq.appendToIndex(spark, pFA, incr(), incrementId = 2L))

    assert(codeRows(pAF) == codeRows(pFA),
      "append∘forget and forget∘append must store the same rows")
    assert(probeRows(pAF) == probeRows(pFA),
      "probe results must be order-independent for disjoint mutations")
  }

  test("forget of just-appended ids removes them from the probe stream") {
    val path = fresh("takedown")
    IvfPq.writeIndex(base(), path, dim = 64)
    assert(IvfPq.appendToIndex(spark, path, incr(), incrementId = 1L))
    val appended = incr().select("vec_id").as[Long].collect().toSet
    val takedown = appended.filter(_ % 20 == 7)
    assert(takedown.nonEmpty, "fixture must append ids it then forgets")
    assert(IvfPq.deleteFromIndex(spark, path,
      incr().where(col("vec_id") % 20 === 7).select("vec_id"), incrementId = 2L))
    val probed = IvfPq.approxTopKStored(spark, path, e, q, k = 10, dim = 64)
      .select("vec_id").as[Long].collect().toSet
    assert(probed.intersect(takedown).isEmpty,
      s"forgotten appended ids leaked into the probe: ${probed.intersect(takedown)}")
    // survivors of the increment are still probe-visible somewhere: the
    // store retains them (codes), even if no query ranks them top-k
    val stored = IvfPq.storedIds(spark, path).select("vec_id").as[Long].collect().toSet
    assert((appended -- takedown).subsetOf(stored))
  }
}
