package graft.streaming

import graft.SparkSpec
import graft.dedup.{Jaccard, MinHashLSH}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** Stream ≡ batch for the LSH bucket-state near-dup detector: documents
  * arrive over three MemoryStream micro-batches; the emitted candidate set
  * must equal the batch bucket equi-join's, and some candidates must span
  * arrival batches (i.e. the bucket STATE, not within-trigger pairing, is
  * doing the work). */
case class NearDupDoc(doc_id: Long, text: String)

case class TimedDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)

class StreamNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("bucket-state candidates over three arrival batches equal the batch bucket join") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").as[NearDupDoc].collect().toSeq

    val in = MemoryStream[NearDupDoc]
    val q = StreamNearDup.candidatePairs(StreamNearDup.bandedDocs(in.toDF()))
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode(OutputMode.Append()).start()
    // arrival split by doc_id % 3: near-dup pairs land in different batches
    val batches = (0 until 3).map(k => docs.filter(_.doc_id % 3 == k))
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()

    val streamed = spark.table("neardup_stream")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val batch = MinHashLSH.candidatesFromSets(
        Jaccard.shingleSets(docs.toDF()))
      .as[(Long, Long)].collect().toSet

    assert(batch.nonEmpty, "fixture has no LSH candidates — spec can't bite")
    assert(streamed == batch,
      s"stream=${streamed.size} batch=${batch.size} " +
        s"onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
    val crossBatch = batch.filter { case (a, b) => a % 3 != b % 3 }
    assert(crossBatch.nonEmpty,
      "no candidate pair spans arrival batches — bucket state untested")
  }

  test("preloaded corpus state: streaming only the increment emits exactly the increment-touching pairs") {
    implicit val sqlCtx = spark.sqlContext
    val docsDF = graft.Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
    val isNew = (id: Long) => id % 7 == 3
    val corpus = docsDF.where(col("doc_id") % 7 =!= 3)
    val incr = docsDF.where(col("doc_id") % 7 === 3).as[NearDupDoc].collect().toSeq

    val in = MemoryStream[NearDupDoc]
    val q = StreamNearDup.candidatePairsFromState(
        StreamNearDup.bandedDocs(in.toDF()),
        StreamNearDup.initialBucketState(corpus))
      .writeStream.format("memory").queryName("neardup_incr_stream")
      .outputMode(OutputMode.Append()).start()
    val batches = (0 until 2).map(k => incr.filter(_.doc_id % 2 == k))
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()

    val streamed = spark.table("neardup_incr_stream")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val expected = MinHashLSH.candidatesFromSets(Jaccard.shingleSets(docsDF))
      .as[(Long, Long)].collect().toSet
      .filter(p => isNew(p._1) || isNew(p._2))
    assert(expected.nonEmpty, "fixture increment collides with nothing — spec can't bite")
    assert(streamed == expected,
      s"stream=${streamed.size} expected=${expected.size} " +
        s"onlyStream=${(streamed -- expected).take(3)} onlyExpected=${(expected -- streamed).take(3)}")
    // the state preload is doing the work: some pair must touch the corpus side
    assert(expected.exists(p => !isNew(p._1) || !isNew(p._2)),
      "no corpus-vs-increment pair — initial state untested")
  }

  test("event-time TTL EVICTS aged bucket state, keeps in-horizon detection, " +
    "and loses exactly the cross-horizon pairs (the documented trade)") {
    implicit val sqlCtx = spark.sqlContext
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    // base well above epoch: rows with event time <= the INITIAL watermark
    // (epoch 0) are dropped as late before the stateful operator sees them
    def t(minutes: Long) = new java.sql.Timestamp(1700000000000L + minutes * 60000L)
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum

    val in = MemoryStream[TimedDoc]
    // watermark delay 10 min, TTL 60 min of event time
    val q = StreamNearDup.candidatePairsWithTTL(
        StreamNearDup.bandedDocsWithTime(in.toDF()), "10 minutes", 60L * 60000L)
      .writeStream.format("memory").queryName("neardup_ttl_stream")
      .outputMode(OutputMode.Append()).start()
    def pairs(): Set[(Long, Long)] = spark.table("neardup_ttl_stream")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    try {
      // batch 1: duplicate pair at t=0 → detected immediately
      in.addData(TimedDoc(1L, t(0), dup), TimedDoc(2L, t(0), dup))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 2L)), "in-horizon pair must be detected")
      val populated = stateRows(q)
      assert(populated > 0, "bucket state must exist after batch 1")

      // batches 2+3: unrelated docs far in the future advance the watermark
      // past t0 + TTL (wm = 180 - 10 = 170 > 60); once it crosses, the
      // engine processes the overdue timeouts (it even runs an extra
      // no-data micro-batch on watermark advancement, so the eviction may
      // land inside either processAllAvailable) and doc 1/2's buckets leave
      in.addData(TimedDoc(10L, t(180), "completely different words entirely unrelated content here"))
      q.processAllAvailable()
      in.addData(TimedDoc(11L, t(185), "still different text with nothing shared at all whatsoever"))
      q.processAllAvailable()
      val evicted = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsRemoved).sum
      assert(evicted > 0, "the aged buckets must be timed out and REMOVED")
      // docs 10/11 hold at most Bands buckets each; with docs 1/2's aged
      // buckets gone the total must sit strictly below the no-eviction
      // floor of 3·Bands (1/2 shared + 10's + 11's)
      val afterEvict = stateRows(q)
      assert(afterEvict < 3L * MinHashLSH.Bands,
        s"state must shrink by the eviction: $populated -> $afterEvict (evicted $evicted)")

      // batch 4: a third copy of the duplicate, 3h after the originals —
      // outside the horizon, so the (1,3)/(2,3) pairs are LOST by design
      in.addData(TimedDoc(3L, t(190), dup))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 2L)),
        "a duplicate arriving after its partners' bucket aged out must NOT pair (recall trade)")

      // batch 5: a fourth copy inside doc 3's fresh horizon → detection
      // still works after eviction, seeded by the post-eviction state
      in.addData(TimedDoc(4L, t(195), dup))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 2L), (3L, 4L)),
        "in-horizon detection must survive eviction")
    } finally q.stop()
  }

  test("assertNoSaturatedBucket: passes the registered corpus, rejects a planted hot bucket") {
    val docs = graft.Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
    // the stream ≡ oracle precondition holds on the real corpus
    StreamNearDup.assertNoSaturatedBucket(docs)
    // a planted >cap bucket (identical texts share every band bucket) is
    // exactly where stream (first-cap emission) and batch oracle (bucket
    // dropped) diverge — the guard must name it loudly
    val hot = (1L to 12L).map(i => (i, "the same degenerate boilerplate text repeated"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      StreamNearDup.assertNoSaturatedBucket(hot, cap = 8)
    }
    assert(e.getMessage.contains("MaxBucketSize"))
  }
}
