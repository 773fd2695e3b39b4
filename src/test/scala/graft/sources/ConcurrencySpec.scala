package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Optimistic concurrency on the versioned stores (round 13): exactly one
  * writer wins each version, the loser fails LOUDLY with
  * ConcurrentCommitException, no state is lost or orphaned-and-served, and
  * a loser that retries from the new head succeeds. Each store's conflict
  * rule is documented at its write path; this spec races real writers.
  *
  * Timing note: two racing threads may also serialize cleanly (both
  * commit, at different versions) — that is a LEGAL outcome of optimistic
  * concurrency, so the assertions check the invariants (unique versions,
  * final state ≡ recompute over exactly the successful writes, losers
  * loud) rather than demanding a conflict occurred; the CAS primitive
  * itself is conflict-tested deterministically first. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    s"${sys.props("java.io.tmpdir")}/graft-conc-$name"

  private def clear(root: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    ()
  }

  /** Run the thunks simultaneously (latch-released), return each outcome. */
  private def race[T](thunks: Seq[() => T]): Seq[Either[Throwable, T]] = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, T]]()
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      new Thread(() => {
        latch.await()
        results.put(i, try Right(t()) catch { case e: Throwable => Left(e) })
        ()
      })
    }
    threads.foreach(_.start())
    latch.countDown()
    threads.foreach(_.join())
    thunks.indices.map(results.get(_))
  }

  private def isLoud(e: Throwable): Boolean = e match {
    case _: ConcurrentCommitException => true
    // Spark may wrap the commit-time throw when it crosses a write job
    case other => Option(other.getCause).exists(isLoud)
  }

  test("CAS primitive: the second publish of a version loses, deterministically") {
    val root = tmp("cas-prim"); clear(root)
    CommittedVersions.publishVersion(Seq(1L).toDF("x"), root, 1L, "test")
    val staged = s"$root/_staged-rival"
    Seq(2L).toDF("x").write.mode("overwrite").parquet(staged)
    assert(!CommittedVersions.tryPublish(spark, root, 1L, staged),
      "rename onto a committed version must fail")
    // the staged dir was cleaned up on loss
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staged)))
    // and the winner's bytes are untouched
    assert(spark.read.parquet(s"$root/v=1").head().getLong(0) == 1L)
    intercept[ConcurrentCommitException] {
      CommittedVersions.publishVersion(Seq(3L).toDF("x"), root, 1L, "test")
    }
  }

  test("CAS primitive: concurrent id claims never collide") {
    val root = tmp("cas-claim"); clear(root)
    val got = race((1 to 8).map(_ => () => CommittedVersions.claimId(spark, root, 5L)))
    val ids = got.map(_.toOption.get)
    assert(ids.distinct.size == 8, s"duplicate claimed ids: $ids")
    assert(ids.min == 5L)
  }

  test("Watermarks: two concurrent writeState calls — one version each at most, loser loud, state never torn") {
    val root = tmp("wm"); clear(root)
    val wm = graft.etl.Watermarks.watermarkTable(spark, sf("sf0.001"))
    graft.etl.Watermarks.writeState(wm, root) // v=1 head
    val a = wm.withColumn("consecutive_failures", lit(0))
    val b = wm.withColumn("consecutive_failures", lit(1))
    val got = race(Seq(() => graft.etl.Watermarks.writeState(a, root),
                       () => graft.etl.Watermarks.writeState(b, root)))
    got.collect { case Left(e) => e }.foreach(e => assert(isLoud(e), s"loser not loud: $e"))
    val wins = got.collect { case Right(v) => v }
    assert(wins.nonEmpty && wins.distinct.size == wins.size,
      s"winners must take distinct versions, got $wins")
    // the head is exactly one writer's table, never an interleaving
    val head = graft.etl.Watermarks.readState(spark, root)
    val fails = head.select("consecutive_failures").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(fails == Set(0) || fails == Set(1), s"torn state: $fails")
    assert(head.count() == wm.count())
  }

  test("Watermarks.updateWithRetry: four racing read-modify-write cycles ALL land (no lost update)") {
    val root = tmp("wm-rmw"); clear(root)
    val wm = graft.etl.Watermarks.watermarkTable(spark, sf("sf0.001"))
    graft.etl.Watermarks.writeState(
      wm.withColumn("consecutive_failures", lit(0)), root)
    // each updater increments the counter for ITS disjoint symbol slice;
    // a lost update would leave some slice at 0
    val got = race((0 until 4).map { slice => () =>
      graft.etl.Watermarks.updateWithRetry(spark, root) { cur =>
        cur.withColumn("consecutive_failures",
          when(col("symbol_id") % 4 === slice,
            col("consecutive_failures") + 1)
            .otherwise(col("consecutive_failures")))
      }
    })
    assert(got.forall(_.isRight), s"an updater exhausted its retries: $got")
    val head = graft.etl.Watermarks.readState(spark, root)
    val counts = head.groupBy(col("symbol_id") % 4).agg(
      min(col("consecutive_failures")), max(col("consecutive_failures")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(counts.forall { case (_, mn, mx) => mn == 1 && mx == 1 },
      s"lost or doubled update: $counts")
    // serialized commits: 4 distinct new versions past the init
    assert(got.collect { case Right(v) => v }.distinct.size == 4)
  }

  test("MaterializedAgg: two concurrent refreshers — no lost updates, loser loud, retry from new head lands") {
    val root = tmp("mv"); clear(root)
    val keys = Seq("event_type")
    val ev = graft.Tables.events(spark, sf("sf0.001"))
      .withColumn("etag", col("event_id") % 3)
    val base = ev.where(col("etag") === 0).drop("etag")
    val incA = ev.where(col("etag") === 1).drop("etag")
    val incB = ev.where(col("etag") === 2).drop("etag")
    graft.etl.MaterializedAgg.writeInit(base, keys, "value", root)
    val got = race(Seq(
      () => graft.etl.MaterializedAgg.refresh(spark, root, incA, keys, "value"),
      () => graft.etl.MaterializedAgg.refresh(spark, root, incB, keys, "value")))
    got.collect { case Left(e) => e }.foreach(e => assert(isLoud(e), s"loser not loud: $e"))
    // the view must equal the recompute over base + exactly the successes
    val applied = Seq(incA, incB).zip(got).collect { case (inc, Right(_)) => inc }
    assert(applied.nonEmpty, "both refreshers failed — the race lost both writers")
    def recompute(dfs: Seq[org.apache.spark.sql.DataFrame]) =
      graft.etl.MaterializedAgg
        .partials(dfs.reduce(_ unionByName _), keys, "value")
        .select("event_type", "n_rows").as[(String, Long)].collect().toMap
    def view() = graft.etl.MaterializedAgg.read(spark, root, keys)
      .select("event_type", "n_rows").as[(String, Long)].collect().toMap
    assert(view() == recompute(base +: applied),
      "view diverged from recompute over the successful refreshes")
    // loser retries from the new head: everything lands exactly once
    Seq(incA, incB).zip(got).collect { case (inc, Left(_)) => inc }.foreach { inc =>
      graft.etl.MaterializedAgg.refresh(spark, root, inc, keys, "value")
    }
    assert(view() == recompute(Seq(base, incA, incB)))
    // committed manifest versions are unique (one winner per version)
    val vs = CommittedVersions.list(spark, s"$root/_manifest")
    assert(vs.distinct.size == vs.size)
  }

  test("TableMaintenance: two concurrent maintainers — one pointer flip per version, data intact, loser loud") {
    val root = tmp("tm"); clear(root)
    val ev = graft.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "value")
    ev.write.parquet(TableMaintenance.dataPath(root, 1L))
    TableMaintenance.initGen(spark, root, Seq("value"), Seq("event_id"))
    val n = ev.count()
    def maintainOnce() = TableMaintenance.maintain(
      spark, root, "value", targetRowsPerFile = 300L,
      statsCols = Seq("value"), bloomCols = Seq("event_id"))
    val got = race(Seq(() => maintainOnce(), () => maintainOnce()))
    got.collect { case Left(e) => e }.foreach(e => assert(isLoud(e), s"loser not loud: $e"))
    val wins = got.collect { case Right(g) => g }
    assert(wins.nonEmpty && wins.distinct.size == wins.size,
      s"winning maintainers must land distinct generations, got $wins")
    // the committed head serves the exact same rows
    val cur = TableMaintenance.currentGen(spark, root)
    assert(wins.contains(cur))
    assert(spark.read.parquet(TableMaintenance.dataPath(root, cur)).count() == n)
    // pointer versions unique; a later maintain vacuums any CAS orphan
    // (orphan reaping is age-gated against live rivals — none are in
    // flight by this point, so the test reaps deterministically at 0)
    val hist = TableMaintenance.pointerHistory(spark, root)
    assert(hist.map(_._1).distinct.size == hist.size)
    val prevAge = TableMaintenance.OrphanAgeMs
    TableMaintenance.OrphanAgeMs = 0L
    try maintainOnce() finally TableMaintenance.OrphanAgeMs = prevAge
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong)
    val live = TableMaintenance.pointerHistory(spark, root).map(_._2).toSet
    assert(gens.filter(_ < live.max).forall(live), s"unvacuumed orphan gens: $gens vs live $live")
  }

  test("TableMaintenance: forgets racing a maintainer are NEVER lost — masked now, purged by some cycle") {
    val root = tmp("tm-forget"); clear(root)
    import spark.implicits._
    (0 until 20000).map(i => (i.toLong, i.toDouble)).toDF("k", "value")
      .repartition(4).write.parquet(TableMaintenance.dataPath(root, 1L))
    TableMaintenance.initGen(spark, root, Seq("k"), Seq("k"))
    // one maintainer races four forget requests (disjoint delete sets);
    // legal outcomes per request: purged by THIS cycle (landed before its
    // horizon) or pending on the new generation — lost is the only bug
    val mods = Seq(11L, 13L, 17L, 19L)
    def forgetOnce(m: Long) = TableMaintenance.forget(spark, root, "k",
      spark.range(20000).select(col("id").as("k")).where(col("k") % 100 === m))
    val got = race(
      (() => TableMaintenance.maintain(spark, root, "k", 5000L, Seq("k"), Seq("k")): Any) +:
        mods.map(m => () => forgetOnce(m): Any))
    got.collect { case Left(e) => e }.foreach(e => throw e) // all writers must land
    // every delete set is in force on the current version immediately...
    val masked = TableMaintenance.readCurrent(spark, root)
    mods.foreach(m => assert(masked.where(col("k") % 100 === m).count() == 0,
      s"forget k%100==$m lost after racing the maintainer"))
    assert(masked.count() == 20000 - mods.size * 200)
    // ...and one more quiet cycle physically purges whatever was pending
    TableMaintenance.maintain(spark, root, "k", 5000L, Seq("k"), Seq("k"))
    val raw = spark.read.parquet(
      TableMaintenance.dataPath(root, TableMaintenance.currentGen(spark, root)))
    mods.foreach(m => assert(raw.where(col("k") % 100 === m).count() == 0))
    assert(TableMaintenance.pendingTombstones(spark, root).isEmpty)
  }

  /** Every `w=` write dir under an index root is listed by a retained
    * version: no loser's or crashed writer's files are left behind. */
  private def unreferencedWriteDirs(root: String): Set[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("w=")).toSet
    onDisk -- CellStore.liveRefs(spark, root).map(_.takeWhile(_ != '/'))
  }

  test("ANN index store: a crash before the CAS leaves the head serving") {
    import graft.ann.IvfPq
    val root = tmp("ivfpq-crash"); clear(root)
    val e = graft.Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = e.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val base = e.where(col("vec_id") % 10 =!= 7)
    val inc = e.where(col("vec_id") % 10 === 7)
    def probe() = IvfPq.approxTopKStored(spark, root, e, q, k = 10, dim = 64)
      .collect().map(_.mkString("|")).toSet
    IvfPq.writeIndex(base, root, dim = 64, nCells = 8)
    val before = probe()
    val head = CellStore.head(spark, root)

    // the increment's files land, then the writer dies at the commit
    graft.StoreFaults.crashAtCommit(IvfPq.appendToIndex(spark, root, inc, 1L))
    assert(CellStore.head(spark, root) == head, "a crashed mutation must not move the head")
    assert(probe() == before, "the previous version must keep probing identically")
    assert(unreferencedWriteDirs(root).nonEmpty, "the crash left its unreferenced write dir")

    // the orchestrator's retry applies the increment exactly once
    assert(IvfPq.appendToIndex(spark, root, inc, 1L))
    assert(!IvfPq.appendToIndex(spark, root, inc, 1L), "a replay after the retry is a no-op")
    val ids = IvfPq.storedIds(spark, root).select("vec_id").as[Long].collect().toSeq
    assert(ids.sorted == e.select("vec_id").as[Long].collect().toSeq.sorted,
      "every vector exactly once after crash + retry")

    // age-gated vacuum: the crashed writer's dir outlives any live
    // writer's staging window and goes with the next commit
    val prevAge = TableMaintenance.OrphanAgeMs
    TableMaintenance.OrphanAgeMs = 0L
    try assert(IvfPq.deleteFromIndex(spark, root, e.where(col("vec_id") === -1L).select("vec_id"), 2L))
    finally TableMaintenance.OrphanAgeMs = prevAge
    assert(unreferencedWriteDirs(root).isEmpty, "vacuum left an unreferenced write dir")
  }

  test("ANN index store: racing appends, one publishes, the loser retries") {
    import graft.ann.IvfPq
    import graft.StoreFaults.{background, pass, reset}
    val root = tmp("ivfpq"); clear(root)
    val e = graft.Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val base = e.where(col("vec_id") % 10 =!= 7)
    // each appender's data job waits until BOTH have resolved the head
    // (v=1), so both CAS v=2 and exactly one can win
    reset("race-a", "race-b")
    val incA = e.where(col("vec_id") % 20 === 7).coalesce(1)
      .withColumn("vec_id", pass(col("vec_id"), "race-a", "race-b"))
    val incB = e.where(col("vec_id") % 20 === 17).coalesce(1)
      .withColumn("vec_id", pass(col("vec_id"), "race-b", "race-a"))
    IvfPq.writeIndex(base, root, dim = 64, nCells = 8)
    val a = background(IvfPq.appendToIndex(spark, root, incA, incrementId = 1L))
    val b = background(IvfPq.appendToIndex(spark, root, incB, incrementId = 2L))
    val got = Seq(a(), b())
    assert(got.count(_ == Right(true)) == 1, s"exactly one appender publishes: $got")
    got.collect { case Left(x) => x }.foreach(x => assert(isLoud(x), s"loser not loud: $x"))
    assert(CellStore.head(spark, root).number == 2L)
    assert(unreferencedWriteDirs(root).isEmpty, "the loser must delete its write dir")
    def ids() = IvfPq.storedIds(spark, root).select("vec_id").as[Long].collect().toSeq
    def idsOf(df: org.apache.spark.sql.DataFrame) = df.select("vec_id").as[Long].collect().toSet
    val (winner, loser) = if (got.head.isRight) (incA, incB) else (incB, incA)
    assert(ids().distinct.size == ids().size, "no duplicate vec_id at the head")
    assert(ids().toSet == idsOf(base) ++ idsOf(winner), "the head is base + the winner only")
    // the loser re-reads the head and retries as the next increment
    assert(IvfPq.appendToIndex(spark, root, loser, incrementId = 3L))
    assert(ids().distinct.size == ids().size)
    assert(ids().toSet == idsOf(e))
  }

  // ---- commit-filesystem envelope (docs/COMMITS.md) -------------------

  test("commit envelope: S3-class and unknown schemes are refused loudly BEFORE any I/O") {
    // no hadoop-aws on this classpath: if the refusal came after a
    // getFileSystem call these would die with "No FileSystem for scheme"
    // instead of the protocol's own exception — the assertion pins that
    // the scheme gate runs first.
    for (bad <- Seq("s3a://bucket/store", "s3://bucket/store", "gs://bucket/store",
                    "wasbs://c@a.blob.example/store", "mockfs://x/store")) {
      val e = intercept[UnsupportedCommitFilesystemException] {
        CommittedVersions.publishVersion(Seq(1L).toDF("x"), bad, 1L, "envelope-test")
      }
      assert(e.getMessage.contains("CommitArbiter.register"),
        s"refusal for $bad must name the seam to plug: ${e.getMessage}")
      val c = intercept[UnsupportedCommitFilesystemException] {
        CommittedVersions.claimId(spark, s"$bad/_claims", 1L)
      }
      assert(c.getMessage.contains("refused"), s"claimId must refuse $bad too: ${c.getMessage}")
      // the index stores write their data BEFORE the CAS, so they must
      // consult the arbiter before anything else — the fit included
      val vecs = Seq((1L, Seq(0.0, 1.0))).toDF("vec_id", "emb")
      intercept[UnsupportedCommitFilesystemException](
        graft.ann.IvfIndex.writeIndex(vecs, s"$bad/ivf"))
      intercept[UnsupportedCommitFilesystemException](
        graft.ann.IvfPq.writeIndex(vecs, s"$bad/ivfpq", dim = 2))
      intercept[UnsupportedCommitFilesystemException](
        graft.ann.IvfPq.appendToIndex(spark, s"$bad/ivfpq", vecs, incrementId = 1L))
    }
  }

  test("commit envelope: a registered arbiter is dispatched to for every primitive of a publish chain") {
    val creates = new java.util.concurrent.atomic.AtomicInteger(0)
    val renames = new java.util.concurrent.atomic.AtomicInteger(0)
    // counting delegator over the default arbiter: behaviorally identical,
    // so a concurrent suite publishing to file:// during the window is
    // unaffected — registration overrides resolution, not behavior
    val counting = new CommitArbiter {
      def tryCreateExclusive(s: org.apache.spark.sql.SparkSession, f: String) = {
        creates.incrementAndGet(); HadoopCommitArbiter.tryCreateExclusive(s, f)
      }
      def tryAtomicRename(s: org.apache.spark.sql.SparkSession,
                          src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path) = {
        renames.incrementAndGet(); HadoopCommitArbiter.tryAtomicRename(s, src, dst)
      }
    }
    CommitArbiter.register("file", counting)
    try {
      val root = tmp("arbiter-dispatch"); clear(root)
      CommittedVersions.publishVersion(Seq(1L).toDF("x"), root, 1L, "dispatch-test")
      val id = CommittedVersions.claimId(spark, s"$root/_claims", 1L)
      assert(id == 1L)
      assert(renames.get() >= 1, "publish chain never reached the registered arbiter's rename")
      assert(creates.get() >= 1, "claim chain never reached the registered arbiter's create")
      assert(CommittedVersions.latest(spark, root).contains(1L))
    } finally CommitArbiter.deregister("file")
    // post-deregistration the default resolution is back (snapshot-compare:
    // a concurrent suite's publish during the registration window may have
    // legitimately inflated the counter)
    val snapshot = renames.get()
    val root2 = tmp("arbiter-default"); clear(root2)
    CommittedVersions.publishVersion(Seq(2L).toDF("x"), root2, 1L, "dispatch-test")
    assert(renames.get() == snapshot, "deregistered arbiter still receiving calls")
  }
}
