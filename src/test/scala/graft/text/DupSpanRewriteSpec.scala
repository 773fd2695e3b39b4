package graft.text

import graft.SparkSpec

/** Exact-substring removal semantics on planted fixtures (w = 4 here):
  * the canonical first occurrence of a repeated window survives, every
  * other occurrence is cut, overlapping duplicated windows union their
  * coverage, short documents are untouched, and a verbatim copy of a
  * document reduces to nothing. */
class DupSpanRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val W = 4

  private def rewrite(rows: (Long, String)*): Map[Long, (Long, String)] =
    Corpus.rewriteSpans(rows.toSeq.toDF("doc_id", "text"), W)
      .select("doc_id", "n_removed", "text_clean")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("the canonical first occurrence survives; the copy loses the whole span") {
    val got = rewrite(
      1L -> "a b c d e f",      // holds the canonical occurrences
      2L -> "a b c d e f")      // verbatim copy: every window duplicated
    assert(got(1L) == ((0L, "a b c d e f")), "doc 1 is canonical everywhere — untouched")
    assert(got(2L) == ((6L, "")), "a verbatim copy is fully covered and reduces to nothing")
  }

  test("a shared span inside otherwise-distinct docs is cut only from the later doc") {
    val got = rewrite(
      1L -> "p q r SHARED1 SHARED2 SHARED3 SHARED4 s t",
      2L -> "x y SHARED1 SHARED2 SHARED3 SHARED4 z w")
    assert(got(1L)._1 == 0L)
    assert(got(2L) == ((4L, "x y z w")),
      s"only the 4-token shared window goes, surroundings stitch: ${got(2L)}")
  }

  test("intra-document repetition: the second occurrence in the SAME doc is cut") {
    val got = rewrite(1L -> "m n o p KK LL MM NN q r KK LL MM NN s")
    assert(got(1L) == ((4L, "m n o p KK LL MM NN q r s")))
  }

  test("overlapping duplicated windows union their coverage (no double counting, no gaps)") {
    // doc 2 shares a 6-token run with doc 1 → three overlapping w=4
    // windows in doc 2 are all non-canonical; coverage is the 6-token union
    val got = rewrite(
      1L -> "h i A B C D E F j k",
      2L -> "u v A B C D E F w z")
    assert(got(2L) == ((6L, "u v w z")))
  }

  test("differential: random corpora (seeded) match a single-node reference implementation") {
    val rnd = new scala.util.Random(20260816L)
    // small vocab forces plenty of genuine repeated windows
    def doc(len: Int): Seq[String] = Seq.fill(len)(s"w${rnd.nextInt(6)}")
    (1 to 4).foreach { c =>
      val docs: Seq[(Long, Seq[String])] =
        (0 until 30).map(i => i.toLong -> doc(3 + rnd.nextInt(12)))
      // reference: rank occurrences per gram by (doc_id, pos), cover rk>=2
      val occ = for {
        (id, tk) <- docs; if tk.size >= W
        p <- 1 to (tk.size - W + 1)
      } yield (tk.slice(p - 1, p - 1 + W).mkString(" "), id, p)
      val covered: Set[(Long, Int)] = occ.groupBy(_._1).values.flatMap { os =>
        os.sortBy(o => (o._2, o._3)).drop(1)
          .flatMap(o => (o._3 until o._3 + W).map(q => (o._2, q)))
      }.toSet
      val expected = docs.map { case (id, tk) =>
        val kept = tk.zipWithIndex.collect { case (t, i) if !covered((id, i + 1)) => t }
        id -> ((tk.size - kept.size).toLong, kept.mkString(" "))
      }.toMap
      val got = rewrite(docs.map { case (id, tk) => id -> tk.mkString(" ") }: _*)
      assert(got == expected, s"case $c diverged from the reference")
    }
  }

  test("documents shorter than w are never touched") {
    val got = rewrite(1L -> "a b c", 2L -> "a b c")
    assert(got(1L) == ((0L, "a b c")) && got(2L) == ((0L, "a b c")),
      "sub-window docs generate no occurrences and must pass through verbatim")
  }
}
