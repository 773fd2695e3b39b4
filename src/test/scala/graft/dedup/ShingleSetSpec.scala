package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixture spec for the per-document shingle-set kernels: hand-written
  * trigram sets for the token edge cases of `split(trim(text), " ")`, and
  * the set-intersection verify held bit-for-bit against the inverted-index
  * pairs restricted to the same candidates. */
class ShingleSetSpec extends SparkSpec {
  import spark.implicits._

  test("shingleArray: hand-written trigram sets for the tokenizer's edge cases") {
    val cases = Seq(
      // double spaces split into empty tokens, which join like any other
      (1L, "a  b c", Seq("a  b", " b c")),
      // leading and trailing spaces are trimmed away
      (2L, "  x y z  ", Seq("x y z")),
      (3L, "two words", Seq.empty[String]),
      (4L, "solo", Seq.empty[String]),
      (5L, "", Seq.empty[String]),
      // a repeated trigram is kept once, at its first position
      (6L, "a b c a b c a b", Seq("a b c", "b c a", "c a b")),
      (7L, "naïve café über straße", Seq("naïve café über", "café über straße")),
      (8L, "один два три четыре", Seq("один два три", "два три четыре")),
      (9L, "p q r s t", Seq("p q r", "q r s", "r s t")))
    val got = cases.map { case (id, text, _) => (id, text) }.toDF("doc_id", "text")
      .select(col("doc_id"), Jaccard.shingleArray(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    cases.foreach { case (id, text, want) =>
      assert(got(id) == want, s"doc $id <$text>: got ${got(id)}, want $want")
    }
    // a null text has no trigrams
    val nul = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(Jaccard.shingleArray(col("text"))).as[Seq[String]].head()
    assert(nul == Seq.empty[String], s"null text: got $nul")
  }

  test("pairsForCandidateSets equals the inverted-index pairs restricted to the candidates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "a completely different sentence about other things"),
      (4L, "the quick brown fox sleeps under the warm sun"),
      (5L, "two words"),
      (6L, "the quick brown fox jumps over the lazy dog today and again"),
      (7L, "naïve café über straße naïve café"),
      (8L, "naïve café über straße und mehr"))
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 4L), (1L, 6L), (2L, 6L), (4L, 6L), (7L, 8L),
      // shares no shingle with doc 1: must be absent at every threshold
      (1L, 3L),
      // doc 5 has an empty set
      (3L, 5L))
      .toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    for (threshold <- Seq(0.0, 0.2, 0.5)) {
      val exact = rows(Jaccard.pairsFromShingles(Jaccard.shingles(docs), threshold)
        .join(cand, Seq("doc_a", "doc_b"), "left_semi"))
      val viaSets = rows(Jaccard.pairsForCandidateSets(Jaccard.shingleSets(docs), cand, threshold))
      assert(viaSets == exact,
        s"t=$threshold onlySets=${viaSets -- exact} onlyExact=${exact -- viaSets}")
      assert(!viaSets.exists(p => p._1 == 1L && p._2 == 3L), s"t=$threshold: disjoint pair emitted")
      assert(!viaSets.exists(p => p._2 == 5L), s"t=$threshold: empty set paired")
      // doubles equal bit for bit, not just within ==
      val bits = (s: Set[(Long, Long, Long, Long, Long, Double)]) =>
        s.map(p => (p._1, p._2, java.lang.Double.doubleToRawLongBits(p._6)))
      assert(bits(viaSets) == bits(exact))
    }
    // the fixture bites: at t=0 the near pairs are all present
    val all = rows(Jaccard.pairsForCandidateSets(Jaccard.shingleSets(docs), cand, 0.0))
    assert(all.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 4L), (1L, 6L), (2L, 6L), (4L, 6L), (7L, 8L)),
      s"pairs: $all")
  }
}
