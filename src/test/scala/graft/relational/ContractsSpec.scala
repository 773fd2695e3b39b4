package graft.relational

import graft.SparkSpec

/** Key-integrity contracts (Contracts.scala): the testdata tables honor
  * their declared PKs, and planted violations (duplicate key, NULL key)
  * flip the verdict with the right tallies. */
class ContractsSpec extends SparkSpec {
  import spark.implicits._

  test("testdata verdicts: 9 tables honor their PK; lineitem's TPC-H PK violation is flagged") {
    val rep = Contracts.report(spark, sf("sf0.001")).collect()
    assert(rep.length === Contracts.keysByTable.size)
    rep.foreach { r =>
      val t = r.getAs[String]("table_name")
      if (t == "lineitem") {
        // the synthetic generator reuses (l_orderkey, l_linenumber) —
        // a real violation of the declared TPC-H PK (4599 distinct of
        // 6000 rows at sf0.001, and no compact column subset is unique
        // at any SF). The checker's job is to SAY so, not to hide it.
        assert(!r.getAs[Boolean]("pk_ok"))
        assert(r.getAs[Long]("n_distinct_keys") < r.getAs[Long]("n_rows"))
      } else {
        assert(r.getAs[Boolean]("pk_ok"), s"pk violated: $t")
        assert(r.getAs[Long]("n_distinct_keys") === r.getAs[Long]("n_rows"))
      }
      assert(r.getAs[Long]("n_null_key_rows") === 0L)
    }
  }

  test("planted duplicate and NULL keys flip pk_ok with exact tallies") {
    val bad = Seq(
      (Some(1), Some(1), "a"), // pk (1,1) ...
      (Some(1), Some(1), "b"), // ... duplicated
      (Some(2), None, "c"),    // null key component
      (Some(3), Some(1), "d")
    ).toDF("k1", "k2", "v")
    val r = Contracts.check(bad, "bad", Seq("k1", "k2")).head
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Long]("n_distinct_keys") === 2L) // (1,1) and (3,1)
    assert(r.getAs[Long]("n_null_key_rows") === 1L)
    assert(!r.getAs[Boolean]("pk_ok"))
  }

  test("testdata FK verdicts: every declared REFERENCES edge resolves (or is flagged)") {
    val rep = Contracts.fkReport(spark, sf("sf0.001")).collect()
    assert(rep.length === Contracts.foreignKeys.size)
    rep.foreach { r =>
      // the verdict must be CONSISTENT with its own tallies whatever the
      // synthetic generator produced; clean edges must say fk_ok
      assert(r.getAs[Boolean]("fk_ok") === (r.getAs[Long]("n_orphans") === 0L))
      assert(r.getAs[Long]("n_child_rows") > 0L)
    }
    // the TPC-H core generators key children off real parents: spot-pin
    // the canonical edge as actually clean, not just self-consistent
    val li = rep.find(r => r.getAs[String]("child_table") == "lineitem"
      && r.getAs[String]("fk_column") == "l_orderkey").get
    assert(li.getAs[Boolean]("fk_ok"), "lineitem.l_orderkey should resolve to orders")
  }

  test("planted orphans and NULL FKs split correctly (NULL is not an orphan)") {
    import org.apache.spark.sql.functions.col
    val parent = Seq(1L, 2L).toDF("p_id")
    val child = Seq(Some(1L), Some(2L), Some(99L), None).toDF("c_fk")
    val orphans = child.where(col("c_fk").isNotNull)
      .join(parent.select(col("p_id")).distinct(), col("c_fk") === col("p_id"), "left_anti")
      .count()
    assert(orphans === 1L) // 99 only; the NULL row is not an orphan
  }

  test("composite key is injective under the separator join") {
    // ("1","11") vs ("11","1") must not collide in the joined key string
    val df = Seq((1, 11), (11, 1)).toDF("a", "b")
    val r = Contracts.check(df, "t", Seq("a", "b")).head
    assert(r.getAs[Long]("n_distinct_keys") === 2L)
    assert(r.getAs[Boolean]("pk_ok"))
  }
}
