package graft.sqlx

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the lineage-truncation seam (round 18, VERDICT r17 item 5): the
  * default path localCheckpoints, the cluster path (flag + checkpoint dir)
  * routes to reliable checkpoint(), and BOTH yield identical rows — which
  * path runs can never change what a query computes. */
class LineageSpec extends SparkSpec {

  private def sample = {
    import spark.implicits._
    (1L to 100L).toDF("id")
      .withColumn("v", col("id") * 2)
      .groupBy((col("id") % 10).as("k")).agg(sum("v").as("s"))
  }

  test("default path truncates via localCheckpoint and preserves rows") {
    assert(spark.conf.getOption(Lineage.Flag).isEmpty ||
      spark.conf.get(Lineage.Flag) == "false")
    val t = Lineage.truncate(sample)
    // truncated: the plan is a scan of checkpointed blocks — the
    // aggregation tree is gone from the lineage
    assert(!t.queryExecution.optimizedPlan.toString.contains("Aggregate"))
    assert(t.orderBy("k").collect().toSeq == sample.orderBy("k").collect().toSeq)
  }

  test("flag without a checkpoint dir falls back to local truncation") {
    // runs before the reliable-path test, which sets a checkpoint dir that a
    // SparkContext cannot unset; asserted, not assumed, so it never skips
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "no suite sets a checkpoint dir before this one")
    spark.conf.set(Lineage.Flag, "true")
    try {
      val t = Lineage.truncate(sample) // checkpoint() would throw with no dir
      assert(t.orderBy("k").collect().toSeq == sample.orderBy("k").collect().toSeq)
    } finally spark.conf.unset(Lineage.Flag)
  }

  test("reliable path writes through the checkpoint dir and rebuilds identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-ckpt").toString
    spark.conf.set(Lineage.Flag, "true")
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val expected = sample.orderBy("k").collect().toSeq
      val t = Lineage.truncate(sample)
      assert(t.orderBy("k").collect().toSeq == expected)
      // the blocks really live in the reliable store, not executor memory
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try assert(wrote.filter(p => java.nio.file.Files.isRegularFile(p)).count() > 0)
      finally wrote.close()
      // a second consumer of the truncated frame reads the same rows
      assert(t.groupBy().agg(sum("s")).head().getLong(0) ==
        expected.map(_.getLong(1)).sum)
    } finally {
      spark.conf.unset(Lineage.Flag)
      FrameCache.clear()
    }
  }
}
