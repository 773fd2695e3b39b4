package graft.etl

import graft.SparkSpec
import graft.sources.CellStore
import org.apache.spark.sql.functions._

/** MV-maintenance properties beyond the registered oracle: merge ≡
  * recompute across arbitrary splits, untouched bucket partitions are not
  * rewritten by a refresh, chained increments compose, an empty
  * increment is a no-op, a crash before the commit leaves the head
  * serving, and a read builds its frame without a Spark job. */
class MaterializedAggSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("grp", "sub")

  /** Seeded synthetic frame: 60 groups across the bucket space. */
  private lazy val data = {
    val rnd = new scala.util.Random(20260815L)
    (1 to 4000).map { i =>
      (s"g${rnd.nextInt(12)}", rnd.nextInt(5), i.toLong,
        if (rnd.nextInt(50) == 0) None else Some(rnd.nextDouble() * 200 - 100))
    }.toDF("grp", "sub", "row_id", "value")
  }

  private def finalize(df: org.apache.spark.sql.DataFrame) = {
    import graft.sqlx.Exact
    df.groupBy("grp", "sub").agg(
      count(lit(1)).as("n_rows"),
      Exact.decSumAgg(col("value")).as("value_sum"),
      Exact.r4(Exact.decSumAgg(col("value")) / count(col("value"))).as("value_avg"),
      min(col("value")).as("value_min"),
      max(col("value")).as("value_max"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  /** A store root with nothing under it: writeInit publishes the next
    * version of whatever store it finds, so each test starts empty. */
  private def freshRoot(name: String): String = {
    val root = s"${sys.props("java.io.tmpdir")}/graft-mv-spec-$name"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    root
  }

  /** bucket -> the files the committed head lists for it: a refresh must
    * list NEW files for the touched buckets and leave every untouched
    * bucket's file list identical (copy-on-write, no rewrite of live
    * files). */
  private def bucketFiles(root: String): Map[String, Set[String]] =
    CellStore.head(spark, root).files.map { case (b, fs) => s"bucket=$b" -> fs.toSet }

  test("incremental refresh == full recompute, for any split; empty increment is a no-op") {
    for (mod <- Seq(2, 7)) {
      val root = freshRoot(mod.toString)
      val base = data.where(col("row_id") % mod =!= 0)
      val inc = data.where(col("row_id") % mod === 0)
      MaterializedAgg.writeInit(base, keys, "value", root)
      val touched = MaterializedAgg.refresh(spark, root, inc, keys, "value")
      assert(touched.nonEmpty)
      val got = rows(MaterializedAgg.read(spark, root, keys))
      assert(got == rows(finalize(data)), s"mod=$mod incremental != recompute")
      // empty increment: no buckets touched, state unchanged
      assert(MaterializedAgg.refresh(spark, root, data.where(lit(false)), keys, "value").isEmpty)
      assert(rows(MaterializedAgg.read(spark, root, keys)) == got)
    }
  }

  test("refresh rewrites only the touched bucket partitions") {
    val root = freshRoot("touch")
    MaterializedAgg.writeInit(data, keys, "value", root)
    val before = bucketFiles(root)
    // an increment confined to ONE group -> exactly one bucket
    val inc = Seq(("g3", 1, 99999L, Some(42.0))).toDF("grp", "sub", "row_id", "value")
    val touched = MaterializedAgg.refresh(spark, root, inc, keys, "value")
    assert(touched.size == 1)
    val after = bucketFiles(root)
    val touchedDir = s"bucket=${touched.head}"
    assert(after(touchedDir) != before(touchedDir), "touched bucket must be rewritten")
    (before.keySet - touchedDir).foreach { dir =>
      assert(after(dir) == before(dir), s"untouched $dir was rewritten")
    }
    // and the merged view is still exact
    assert(rows(MaterializedAgg.read(spark, root, keys)) ==
      rows(finalize(data.unionByName(inc))))
  }

  test("refreshOnce makes a replayed micro-batch a no-op (exactly-once on the store)") {
    val root = freshRoot("once")
    val base = data.where(col("row_id") <= 3000)
    val inc = data.where(col("row_id") > 3000)
    MaterializedAgg.writeInit(base, keys, "value", root)
    assert(MaterializedAgg.refreshOnce(spark, root, 7L, inc, keys, "value"))
    val after = rows(MaterializedAgg.read(spark, root, keys))
    // the crash-replay: same batch id delivered again must not double-count
    assert(!MaterializedAgg.refreshOnce(spark, root, 7L, inc, keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == after)
    assert(after == rows(finalize(data)))
    // and writeInit resets the applied-batch set along with the state
    MaterializedAgg.writeInit(base, keys, "value", root)
    assert(MaterializedAgg.refreshOnce(spark, root, 7L, inc, keys, "value"))
  }

  test("an EMPTY micro-batch still advances the applied-batch mark (mark-only flip)") {
    val root = freshRoot("emptymark")
    val base = data.where(col("row_id") <= 3000)
    val inc = data.where(col("row_id") > 3000)
    MaterializedAgg.writeInit(base, keys, "value", root)
    val before = rows(MaterializedAgg.read(spark, root, keys))
    // batch 5 delivers zero rows: applied, data untouched — but the mark
    // must advance with the reported application, or a replay of batch 5
    // carrying DIFFERENT (now non-empty) rows would double-apply later ids
    assert(MaterializedAgg.refreshOnce(spark, root, 5L, data.where(lit(false)), keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == before)
    // the mark advanced: a replay of batch 5 (even non-empty) is a no-op...
    assert(!MaterializedAgg.refreshOnce(spark, root, 5L, inc, keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == before)
    // ...and the next batch applies normally
    assert(MaterializedAgg.refreshOnce(spark, root, 6L, inc, keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == rows(finalize(data)))
  }

  test("uncommitted generation dirs (a crashed refresh) are invisible to readers " +
    "and overwritten idempotently by the retry") {
    val root = freshRoot("crash")
    val base = data.where(col("row_id") <= 3000)
    val inc = data.where(col("row_id") > 3000)
    MaterializedAgg.writeInit(base, keys, "value", root)
    val before = rows(MaterializedAgg.read(spark, root, keys))
    val head = CellStore.head(spark, root)
    // the merged buckets' files land, then the writer dies at the CAS
    graft.StoreFaults.crashAtCommit(
      MaterializedAgg.refreshOnce(spark, root, 1L, inc, keys, "value"))
    assert(CellStore.head(spark, root) == head, "a crashed refresh must not move the head")
    // readers resolve through the committed head: the crash is invisible
    assert(rows(MaterializedAgg.read(spark, root, keys)) == before)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val writeDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("w=")).toSet
    val live = CellStore.liveRefs(spark, root).map(_.takeWhile(_ != '/'))
    assert((writeDirs -- live).nonEmpty, "the crash left its unreferenced write dir")
    // the replayed batch lands exactly once; a replay after it is a no-op
    assert(MaterializedAgg.refreshOnce(spark, root, 1L, inc, keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == rows(finalize(data)))
    assert(!MaterializedAgg.refreshOnce(spark, root, 1L, inc, keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == rows(finalize(data)))
  }

  test("read builds its frame from the manifest without starting a Spark job") {
    val root = freshRoot("read-jobs")
    MaterializedAgg.writeInit(data, keys, "value", root)
    MaterializedAgg.refresh(spark, root,
      Seq(("g3", 1, 99999L, Some(42.0))).toDF("grp", "sub", "row_id", "value"), keys, "value")
    val group = "mv-spec-read"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        else if (g == s"$group-flush") flushed.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "MaterializedAgg.read")
      val view = try MaterializedAgg.read(spark, root, keys)
                 finally spark.sparkContext.clearJobGroup()
      // the listener bus is FIFO: once a later job's start is delivered,
      // every job the read could have started has been counted
      spark.sparkContext.setJobGroup(s"$group-flush", "listener flush")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() == 0, s"MaterializedAgg.read started ${jobs.get()} job(s)")
      assert(rows(view) == rows(finalize(data.unionByName(
        Seq(("g3", 1, 99999L, Some(42.0))).toDF("grp", "sub", "row_id", "value")))))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("chained increments compose: refresh(refresh(init)) == one recompute") {
    val root = freshRoot("chain")
    MaterializedAgg.writeInit(data.where(col("row_id") <= 2000), keys, "value", root)
    MaterializedAgg.refresh(spark, root,
      data.where(col("row_id") > 2000 && col("row_id") <= 3000), keys, "value")
    MaterializedAgg.refresh(spark, root,
      data.where(col("row_id") > 3000), keys, "value")
    assert(rows(MaterializedAgg.read(spark, root, keys)) == rows(finalize(data)))
  }

  test("retract == recompute of the remaining rows (boundary min/max and null deletes included)") {
    for (mod <- Seq(3, 10)) {
      val root = freshRoot(s"retract-$mod")
      MaterializedAgg.writeInit(data, keys, "value", root)
      // row_id % mod = 0 deletes hit ~every group, including rows holding
      // group minima/maxima (boundary recompute) and null-valued rows
      val gone = col("row_id") % mod === 0
      val touched = MaterializedAgg.retract(
        spark, root, data.where(gone), data.where(!gone), keys, "value")
      assert(touched.nonEmpty)
      assert(rows(MaterializedAgg.read(spark, root, keys)) ==
        rows(finalize(data.where(!gone))), s"mod=$mod retraction != recompute")
      // retraction composes with a later insert refresh
      MaterializedAgg.refresh(spark, root, data.where(gone), keys, "value")
      assert(rows(MaterializedAgg.read(spark, root, keys)) == rows(finalize(data)))
    }
  }

  test("retracting a group's last row removes the group from the view") {
    val root = freshRoot("retract-all")
    MaterializedAgg.writeInit(data, keys, "value", root)
    val gone = col("grp") === "g5"
    MaterializedAgg.retract(spark, root, data.where(gone), data.where(!gone), keys, "value")
    val view = MaterializedAgg.read(spark, root, keys)
    assert(view.where(col("grp") === "g5").count() == 0, "emptied groups must vanish")
    assert(rows(view) == rows(finalize(data.where(!gone))))
  }

  test("retract rewrites only the touched bucket partitions") {
    val root = freshRoot("retract-touch")
    MaterializedAgg.writeInit(data, keys, "value", root)
    val before = bucketFiles(root)
    // a delete confined to ONE group -> exactly one bucket
    val gone = col("grp") === "g3" && col("sub") === 1
    val rid = data.where(gone).agg(min("row_id")).head().getLong(0)
    val touched = MaterializedAgg.retract(
      spark, root, data.where(col("row_id") === rid),
      data.where(col("row_id") =!= rid), keys, "value")
    assert(touched.size == 1)
    val after = bucketFiles(root)
    val touchedDir = s"bucket=${touched.head}"
    assert(after(touchedDir) != before(touchedDir), "touched bucket must be rewritten")
    (before.keySet - touchedDir).foreach { dir =>
      assert(after(dir) == before(dir), s"untouched $dir was rewritten by a retract")
    }
  }

  test("retractOnce: delete micro-batches apply exactly once and converge across splits") {
    val root = freshRoot("retract-once")
    MaterializedAgg.writeInit(data, keys, "value", root)
    val gone = col("row_id") % 5 === 0
    val remaining = data.where(!gone)
    // the delete set arrives as two batches; `remaining` is the base with
    // ALL deletes applied (the CDC shape — base commits before the view)
    val b0 = data.where(gone && col("row_id") % 2 === 0)
    val b1 = data.where(gone && col("row_id") % 2 === 1)
    assert(MaterializedAgg.retractOnce(spark, root, 0L, b0, remaining, keys, "value"))
    // a replayed batch is a no-op: state unchanged, returns false
    val afterB0 = rows(MaterializedAgg.read(spark, root, keys))
    assert(!MaterializedAgg.retractOnce(spark, root, 0L, b0, remaining, keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == afterB0,
      "a replayed delete batch must never subtract twice")
    assert(MaterializedAgg.retractOnce(spark, root, 1L, b1, remaining, keys, "value"))
    assert(rows(MaterializedAgg.read(spark, root, keys)) == rows(finalize(remaining)),
      "n delete micro-batches must converge to the one-shot recompute")
    // an EMPTY delete batch still advances the mark (mark-only flip)
    assert(MaterializedAgg.retractOnce(spark, root, 2L, data.where(lit(false)), remaining, keys, "value"))
    assert(!MaterializedAgg.retractOnce(spark, root, 2L, data.where(lit(false)), remaining, keys, "value"))
  }

  test("a bad delete batch aborts loudly BEFORE anything is written") {
    val root = freshRoot("retract-bad")
    MaterializedAgg.writeInit(data, keys, "value", root)
    val before = rows(MaterializedAgg.read(spark, root, keys))
    val filesBefore = bucketFiles(root)
    // over-delete: the same rows twice -> would drive counts negative
    val doubled = data.where(col("grp") === "g2").unionByName(data.where(col("grp") === "g2"))
    intercept[IllegalArgumentException] {
      MaterializedAgg.retract(spark, root, doubled, data, keys, "value")
    }
    // orphan group: a delete for a key the view never held
    val orphan = Seq(("nope", 9, 1L, Some(1.0))).toDF("grp", "sub", "row_id", "value")
    intercept[IllegalArgumentException] {
      MaterializedAgg.retract(spark, root, orphan, data, keys, "value")
    }
    assert(rows(MaterializedAgg.read(spark, root, keys)) == before, "state must be unpoisoned")
    assert(bucketFiles(root) == filesBefore, "no generation may land for a rejected batch")
  }
}
