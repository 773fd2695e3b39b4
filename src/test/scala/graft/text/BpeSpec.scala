package graft.text

import graft.SparkSpec

/** Differential test of the distributed BPE trainer against an independent
  * single-node reference implementation (greedy leftmost non-overlapping
  * merge application, count-desc then pair-lex argmax). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Single-node reference BPE over a word-frequency map. */
  private def refBpe(words: Map[String, Long], n: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 0
    var stop = false
    while (step < n && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((step, l, r, l + r, cnt))
        vocab = vocab.map { case (syms, f) =>
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              b += (l + r); i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.result(), f)
        }
        step += 1
      }
    }
    out.result()
  }

  private def wordFreqs(docs: Seq[String]): Map[String, Long] =
    docs.flatMap(_.trim.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }

  test("merge sequence matches the reference on a crafted fixture") {
    val texts = Seq(
      "low low low lower lower newest newest newest newest widest",
      "low newest widest widest newest",
      "lowest newest")
    val df = texts.toDF("text")
    val got = Bpe.merges(df, "text", nMerges = 8).as[(Int, String, String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    val want = refBpe(wordFreqs(texts), 8)
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("merge sequence matches the reference on the real sf0.001 corpus") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val got = Bpe.merges(docs, "text", nMerges = 12).as[(Int, String, String, String, Long)]
      .collect().toSeq.sortBy(_._1)
    val texts = docs.select("text").as[String].collect().toSeq
    val want = refBpe(wordFreqs(texts), 12)
    assert(got == want, s"\ngot  $got\nwant $want")
  }

  test("merges terminate early when every word is a single symbol") {
    val df = Seq("a b", "a").toDF("text")
    val got = Bpe.merges(df, "text", nMerges = 5).collect()
    assert(got.isEmpty) // all words are single chars: no adjacent pairs at all
  }

  test("minFreq cap: tail dropped in-aggregation, merge sequence invariant when counts dominate the dropped mass") {
    // head: high-frequency words (selected pair counts >= 40);
    // tail: five distinct frequency-1 words (the web-corpus long tail
    // stand-in) -> dropped pair mass D = 5 * (3-1) = 10 << 40
    val common = Seq.fill(40)("lower newest newest widest").mkString(" ")
    val tail = Seq("qa1", "qa2", "qa3", "qa4", "qa5").mkString(" ")
    val texts = Seq(common, tail)
    val df = texts.toDF("text")
    val uncapped = Bpe.merges(df, "text", 8)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    val capped = Bpe.merges(df, "text", 8, minFreq = 2L)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    // the cap didn't perturb the sequence (every selected count > D)...
    assert(capped == uncapped, s"\ncapped   $capped\nuncapped $uncapped")
    // ...and the capped run is exactly the reference over the capped table
    // (the declared semantics: learn over words with freq >= minFreq)
    val cappedRef = refBpe(wordFreqs(texts).filter(_._2 >= 2L), 8)
    assert(capped == cappedRef)
    assert(capped.nonEmpty && capped.forall(_._5 >= 40L))
  }

  test("maxWords cap: the frequency-threshold rule bounds the collected table " +
    "and learns exactly the reference over the retained words") {
    // four frequency classes: 2 words @40, 2 @3, 5 @1 — maxWords = 2 must
    // raise the effective floor to 4 (freq-40 class fits, freq-3 would
    // overflow), so learning sees ONLY the two @40 words
    val common = Seq.fill(40)("lower newest").mkString(" ")
    val mid = Seq.fill(3)("wider older").mkString(" ")
    val tail = Seq("qa1", "qa2", "qa3", "qa4", "qa5").mkString(" ")
    val texts = Seq(common, mid, tail)
    val df = texts.toDF("text")
    // 24 merges exhaust the two retained words' pair space, so the capped
    // run must STOP where the uncapped run keeps learning from the @3 class
    val capped = Bpe.merges(df, "text", 24, maxWords = 2L)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    val want = refBpe(wordFreqs(texts).filter(_._2 >= 4L), 24)
    assert(capped == want, s"\ncapped $capped\nwant   $want")
    assert(capped.nonEmpty && capped.forall(_._5 >= 40L),
      s"a sub-threshold word leaked into learning: $capped")
    // default bound: same fixture uncapped learns from all three classes
    val uncapped = Bpe.merges(df, "text", 24)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(uncapped == refBpe(wordFreqs(texts), 24))
    assert(uncapped.size > capped.size, "fixture must distinguish capped from uncapped")
  }

  test("maxWords cap: a single over-cap frequency class is kept whole (loud degenerate escape)") {
    // three distinct words sharing one frequency: no threshold fits
    // maxWords = 2, so the class is retained rather than learning nothing
    val texts = Seq(Seq.fill(5)("lower newest widest").mkString(" "))
    val got = Bpe.merges(texts.toDF("text"), "text", 4, maxWords = 2L)
      .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(got == refBpe(wordFreqs(texts), 4), s"degenerate class must learn whole: $got")
  }

  test("minFreq cap: an all-tail corpus collapses to zero merges") {
    val df = Seq("each word appears exactly once here").toDF("text")
    assert(Bpe.merges(df, "text", 5, minFreq = 2L).collect().isEmpty)
    // sanity: uncapped still learns
    assert(Bpe.merges(df, "text", 5).collect().nonEmpty)
  }

  test("tie-break ordering is code-point order == UTF-8 byte order (what the SQL oracle compares)") {
    // supplementary-plane vs BMP-private-use is exactly where Java's
    // UTF-16 code-unit compareTo inverts the UTF-8 binary order
    val samples = Seq("a", "b", "ab", "", new String(Character.toChars(0x1F600)),
      "z", "z" + new String(Character.toChars(0x1F600)), "", "aa")
    for (x <- samples; y <- samples) {
      val bytes = java.util.Arrays.compareUnsigned(
        x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      assert(Integer.signum(Bpe.codePointOrdering.compare(x, y)) == Integer.signum(bytes),
        s"order of ${x.codePoints().toArray.toSeq} vs ${y.codePoints().toArray.toSeq}")
    }
    // and Java's order indeed differs on the critical pair (the reason the
    // explicit ordering exists)
    assert("".compareTo(new String(Character.toChars(0x1F600))) > 0)
    assert(Bpe.codePointOrdering.compare("", new String(Character.toChars(0x1F600))) < 0)
  }

  test("256 merges cost a bounded number of Spark jobs (single word-freq collect)") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = Bpe.merges(docs, "text", nMerges = 256)
        .as[(Int, String, String, String, Long)].collect().toSeq.sortBy(_._1)
      // listener delivery is async: wait until the job counter is stable
      var prev = -1
      var waited = 0
      while (jobs.get() != prev && waited < 5000) {
        prev = jobs.get(); Thread.sleep(250); waited += 250
      }
      // learning is driver-side over the collected word-freq table: the job
      // count must not scale with nMerges (was one full pass PER merge)
      assert(jobs.get() <= 10, s"expected <=10 Spark jobs for 256 merges, saw ${jobs.get()}")
      assert(got.size > 50) // deep chain (the sf0.001 vocab exhausts at ~89 merges)
      val texts = docs.select("text").as[String].collect().toSeq
      assert(got == refBpe(wordFreqs(texts), 256))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
