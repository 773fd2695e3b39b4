package graft.dedup

import graft.SparkSpec

/** The planted-hot-bucket skew guard (MinHashLSH.MaxBucketSize): one
  * degenerate bucket with far more members than the cap must contribute
  * ZERO candidate pairs (instead of m²/2 of them), while ordinary
  * near-dup clusters below the cap are untouched — the LSH twin of the
  * Jaccard inverted-index df-cap, and the property the streaming
  * saturation backstop mirrors. */
class HotBucketSpec extends SparkSpec {
  import spark.implicits._

  // planted corpus: 3·cap identical docs (every band bucket of that text
  // is hot) + two small genuine near-dup clusters + unique noise
  private val cap = MinHashLSH.MaxBucketSize
  private val hotText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private lazy val docs = {
    val hot = (0 until 3 * cap).map(i => (i.toLong, hotText))
    val nearA = Seq(
      (100000L, "one two three four five six seven eight nine ten eleven twelve"),
      (100001L, "one two three four five six seven eight nine ten eleven thirteen"))
    val nearB = Seq(
      (100002L, "red orange yellow green blue indigo violet pink brown black white"),
      (100003L, "red orange yellow green blue indigo violet pink brown black gray"))
    val noise = (200000 until 200020).map(i =>
      (i.toLong, s"unique filler document number $i with words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
    (hot ++ nearA ++ nearB ++ noise).toDF("doc_id", "text")
  }

  test("an over-cap bucket contributes no pairs; under-cap clusters are unaffected") {
    val sets = Jaccard.shingleSets(docs)
    val cands = MinHashLSH.candidatesFromSets(sets)
      .as[(Long, Long)].collect().toSet
    // the hot cluster alone would be 3·cap choose 2 ≈ 4.7M pairs; the cap
    // must remove ALL of them (identical docs share every band bucket)
    assert(!cands.exists { case (a, b) => a < 3L * cap && b < 3L * cap },
      "over-cap bucket leaked candidate pairs")
    // bounded output: what's left is the small clusters + band collisions
    assert(cands.size < 1000, s"candidate set not bounded: ${cands.size}")
    // genuine near-dup pairs below the cap still surface
    assert(cands.contains((100000L, 100001L)), "near-dup cluster A lost")
    assert(cands.contains((100002L, 100003L)), "near-dup cluster B lost")
  }

  test("the streaming operator's saturation backstop bounds state and emission " +
    "(small cap so the planted blowup stays test-sized)") {
    implicit val sqlCtx = spark.sqlContext
    val smallCap = 32
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.NearDupDoc]
    val q = graft.streaming.StreamNearDup.candidatePairs(
        graft.streaming.StreamNearDup.bandedDocs(in.toDF()), cap = smallCap)
      .writeStream.format("memory").queryName("hot_bucket_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    // 10·cap identical docs + the two small near-dup clusters, two batches
    val rows = ((0 until 10 * smallCap).map(i => graft.streaming.NearDupDoc(i.toLong, hotText)) ++
      Seq(graft.streaming.NearDupDoc(100000L, "one two three four five six seven eight nine ten eleven twelve"),
        graft.streaming.NearDupDoc(100001L, "one two three four five six seven eight nine ten eleven thirteen")))
    try {
      rows.grouped((rows.length + 1) / 2).foreach { b =>
        in.addData(b.toSeq); q.processAllAvailable()
      }
      val emitted = spark.table("hot_bucket_stream").count()
      // un-capped, the hot cluster alone emits bands · (10·cap choose 2) ≈
      // 1.6M pair rows; frozen at cap it is ≤ bands · cap²/2 + the cluster
      val bound = MinHashLSH.Bands.toLong * smallCap * smallCap
      assert(emitted < bound, s"stream emission not bounded: $emitted >= $bound")
      // the saturated buckets hold exactly cap members — state is bounded
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 10L * MinHashLSH.Bands,
        s"bucket state rows not bounded: $stateRows")
      // in-cap detection still works: the small cluster's pair is present
      val pairs = spark.table("hot_bucket_stream")
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((100000L, 100001L)), "under-cap pair lost")
    } finally q.stop()
  }
}
