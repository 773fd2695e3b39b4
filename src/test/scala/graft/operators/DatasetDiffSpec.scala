package graft.operators

import graft.SparkSpec

/** DatasetDiff fixture semantics the registered rollup can't show:
  * per-row status assignment, and the fingerprint's null-safety — NULL
  * and the strings that would naively concatenate to the same bytes must
  * not collide. */
class DatasetDiffSpec extends SparkSpec {
  import spark.implicits._

  test("statuses: added / removed / changed / unchanged on a hand fixture") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "t")
    val b = Seq((2L, "y"), (3L, "zz"), (4L, "w")).toDF("k", "t")
    val got = DatasetDiff.diff(a, b, "k", Seq("t"))
      .select("k", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("fingerprints are null-safe and injection-proof across column boundaries") {
    val a = Seq((1L, Some("x"), None: Option[String]),
                (2L, Some("x"), Some("")),
                (3L, Some("x\u0001y"), Some("z")))
      .toDF("k", "p1", "p2")
    val b = Seq((1L, Some("x"), Some("")),
                (2L, Some("x"), None: Option[String]),
                (3L, Some("x"), Some("y\u0001z")))
      .toDF("k", "p1", "p2")
    // k=1,2: NULL vs "" must differ; k=3: a separator-like char INSIDE a
    // value must not let ("x?y","z") collide with ("x","y?z") — the
    // injection ambiguity per-column hashing exists to kill
    val got = DatasetDiff.diff(a, b, "k", Seq("p1", "p2"))
      .select("k", "status").as[(Long, String)].collect().toMap
    assert(got.values.toSet == Set("changed"),
      s"every pair differs semantically and must fingerprint differently: $got")
  }

  test("differential: random version pairs (seeded) classify exactly like a brute-force compare") {
    val rnd = new scala.util.Random(20260816L)
    def corpus(drop: Int => Boolean, mut: Int => Boolean): Map[Long, String] =
      (0 until 400).filterNot(drop)
        .map(i => i.toLong -> (if (mut(i)) s"doc-$i!rev" else s"doc-$i")).toMap
    (1 to 5).foreach { c =>
      val (da, db, m) = (rnd.nextInt(7) + 2, rnd.nextInt(7) + 2, rnd.nextInt(5) + 2)
      val av = corpus(_ % da == 0, _ => false)
      val bv = corpus(_ % db == 0, _ % m == 0)
      val expected = (av.keySet ++ bv.keySet).map { k =>
        k -> ((av.get(k), bv.get(k)) match {
          case (None, _) => "added"
          case (_, None) => "removed"
          case (Some(x), Some(y)) if x != y => "changed"
          case _ => "unchanged"
        })
      }.toMap
      val got = DatasetDiff.diff(
          av.toSeq.toDF("k", "t"), bv.toSeq.toDF("k", "t"), "k", Seq("t"))
        .select("k", "status").as[(Long, String)].collect().toMap
      assert(got == expected, s"case $c (da=$da db=$db m=$m) diverged from brute force")
    }
  }

  test("NULL payloads: present-with-NULL is not absent, and all-NULL groups sum 0, not NULL") {
    // k=1 NULL -> NULL stays unchanged (both fingerprint to the '-' token);
    // k=2 "x" -> NULL is changed (not removed — the KEY is still present);
    // k=3 exists only in a with a NULL payload: removed with n_chars 0.
    val a = Seq((1L, None: Option[String]), (2L, Some("x")),
                (3L, None: Option[String])).toDF("k", "t")
    val b = Seq((1L, None: Option[String]), (2L, None: Option[String])).toDF("k", "t")
    val rows = DatasetDiff.diff(a, b, "k", Seq("t"))
      .select("k", "status", "n_chars").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows == Map(1L -> (("unchanged", 0L)), 2L -> (("changed", 0L)),
      3L -> (("removed", 0L))))
    val sums = DatasetDiff.summary(a, b, "k", Seq("t"))
      .select("status", "chars_sum").as[(String, Long)].collect().toMap
    // every status group here is all-NULL-payload: chars_sum must be 0
    assert(sums == Map("unchanged" -> 0L, "changed" -> 0L, "removed" -> 0L))
  }

  test("a NULL key fails loudly instead of classifying one document as removed+added") {
    val a = Seq((Some(1L), "x"), (None: Option[Long], "y")).toDF("k", "t")
    val b = Seq((Some(1L), "x")).toDF("k", "t")
    val e = intercept[Exception] {
      DatasetDiff.diff(a, b, "k", Seq("t")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("NULL")), s"unexpected failure: $e")
  }

  test("the summary's n_chars follows the surviving side") {
    val a = Seq((1L, "aaaa"), (2L, "bb")).toDF("k", "t")
    val b = Seq((2L, "cccccc"), (5L, "d")).toDF("k", "t")
    val got = DatasetDiff.summary(a, b, "k", Seq("t"))
      .select("status", "n_docs", "chars_sum").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      "removed" -> ((1L, 4L)),   // a-side length for removed
      "changed" -> ((1L, 6L)),   // b-side length wins
      "added" -> ((1L, 1L))))
  }
}
