package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** The table-maintenance TRANSACTION: compaction, skipping-index
  * re-harvest, and generation flip as ONE entry point — the loop real
  * table formats (Delta OPTIMIZE, Iceberg rewrite_data_files +
  * rewrite_manifests) close and round 11 left open: [[Compaction.compact]]
  * wrote a new generation root but nothing re-harvested
  * [[StatsManifest]] / [[BloomSkipIndex]] for it, so the conservative-keep
  * rule kept results correct while skipping silently degraded to
  * scan-everything on the compacted table.
  *
  * Store layout:
  * {{{
  *   root/gen=G/data/part-....parquet   the generation's data files
  *   root/gen=G/_stats/                 persisted min/max footer manifest
  *   root/gen=G/_bloom/                 persisted per-file Bloom index
  *   root/_current/v=N/                 one-row pointer (gen G), committed
  *                                      by its _SUCCESS marker
  * }}}
  *
  * The pointer flip is the commit: data + both indexes are fully written
  * under the NEW generation before the pointer version appears, so a crash
  * anywhere leaves the previous generation (and its indexes) live and
  * consistent — same versioned-commit discipline as
  * [[graft.etl.Watermarks.writeState]] and the [[CellStore]] manifest.
  * Readers resolve the current generation through the pointer and always
  * see data WITH the indexes harvested from exactly those files — an
  * index can never be paired with a generation it didn't scan.
  *
  * At 100 TB each piece keeps its documented cost: the compaction rewrite
  * is the data-sized job (clustered by the scan dimension so footer boxes
  * stay tight), both harvests are metadata jobs (footer reads / one
  * aggregation pass), the pointer is one row. Old generations are retained
  * for lagging readers ([[RetainGens]]) and vacuumed after.
  */
object TableMaintenance {

  /** Generations kept beyond the current one (lagging-reader grace). */
  val RetainGens = 1

  /** Unreferenced generations, write dirs and staging dirs younger than
    * this survive vacuum — here and in every [[CellStore]]. "Unreferenced
    * and below the head" alone cannot tell a CAS loser's dead orphan from
    * a LIVE rival still writing its in-flight compaction or cell rewrite,
    * whose commit would then die mid-write with an opaque FileNotFound
    * instead of its clean CAS loss; Delta's VACUUM retention window exists
    * for exactly this reason. Mutable as a test / operations hook (specs
    * reap deterministically at 0 once no writer is in flight). */
  private[graft] var OrphanAgeMs: Long = 60L * 60 * 1000

  def dataPath(root: String, gen: Long): String = s"$root/gen=$gen/data"
  private def statsPath(root: String, gen: Long) = s"$root/gen=$gen/_stats"
  private def bloomPath(root: String, gen: Long) = s"$root/gen=$gen/_bloom"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointerVersions(spark: SparkSession, root: String): Seq[Long] =
    CommittedVersions.list(spark, s"$root/_current")

  /** (pointer version, generation) at the committed head — the single
    * resolution shared by [[currentGen]] and [[maintain]] (which needs the
    * VERSION too, to CAS its commit against the head it read). */
  def head(spark: SparkSession, root: String): (Long, Long) = {
    val (v, gen, _) = headState(spark, root)
    (v, gen)
  }

  /** Full head state: (pointer version, generation, purged_through) —
    * `purged_through` is the highest tombstone version PHYSICALLY applied
    * to that generation's files; tombstones above it are still pending
    * (masked at read, purged by the next [[maintain]]). The pointer is a
    * ONE-ROW table: it is read on the driver ([[TinyParquet]]) — round 17
    * measured a full Spark job per pointer read, ~70 ms of fixed cost a
    * store operation pays up to five times over. */
  def headState(spark: SparkSession, root: String): (Long, Long, Long) = {
    val v = pointerVersions(spark, root).maxOption.getOrElse(
      sys.error(s"no committed generation pointer under $root"))
    val (gen, purged) = pointerAt(spark, root, v)
    (v, gen, purged)
  }

  /** (gen, purged_through) of pointer version `v` — driver-side read. */
  private def pointerAt(spark: SparkSession, root: String, v: Long): (Long, Long) = {
    val r = TinyParquet.rows(spark, s"$root/_current/v=$v").headOption.getOrElse(
      sys.error(s"empty generation pointer at $root/_current/v=$v"))
    (r.long("gen"), purgedThroughOf(r))
  }

  /** Pointer rows committed before the round-13 purge horizon carried only
    * `gen`; a store is upgraded in place by its next maintain(), so a
    * missing purged_through reads as 0 (nothing physically purged yet)
    * rather than throwing on every read path of a pre-existing store.
    * ONLY absence is legacy: a row that HAS the field but holds NULL is
    * corrupt and must fail loudly — reading it as 0 would let forget()'s
    * allocation floor reuse a dead tombstone version at or below the true
    * purge horizon after a vacuum, the lost-delete this watermark exists
    * to prevent (round-14 review finding). */
  private def purgedThroughOf(r: TinyParquet.Rec): Long =
    if (!r.has("purged_through")) 0L
    else {
      require(!r.isNull("purged_through"),
        "corrupt generation pointer: purged_through present but NULL")
      r.long("purged_through")
    }

  /** The committed current generation. */
  def currentGen(spark: SparkSession, root: String): Long = head(spark, root)._2

  /** Harvest BOTH skipping indexes over generation `gen`'s data dir,
    * persist them beside it, and flip the pointer — the commit half shared
    * by [[initGen]] and [[maintain]]. Everything lands before the pointer
    * version's `_SUCCESS`, so the flip is all-or-nothing. */
  /** Concurrency (round 13): the pointer flip is a check-and-fail CAS at
    * `v = basedOnVersion + 1`, where `basedOnVersion` is the pointer
    * version the caller READ AT THE START of its cycle — not re-read at
    * commit time, which would let a maintainer that compacted a
    * superseded generation slide in at head+1 and flip the table
    * BACKWARD with no conflict ever raised (review finding). Conflict
    * rule: if a rival committed basedOnVersion+1 first, this maintainer's
    * input generation is stale and it is REJECTED with a loud
    * ConcurrentCommitException — its claimed gen dir is an unreferenced
    * orphan a later maintain() vacuums. Re-read currentGen and re-run. */
  def commitGen(spark: SparkSession, root: String, gen: Long,
                statsCols: Seq[String], bloomCols: Seq[String],
                basedOnVersion: Long, purgedThrough: Long = 0L): Unit = {
    // the two index harvests read the same files but share no state:
    // submit them concurrently so the second's tasks back-fill the
    // first's tail (optimization-guide §2.6) — both still land strictly
    // before the pointer flip, so the commit contract is unchanged.
    // Par.run (not a bare Future) so a failed harvest is only surfaced
    // AFTER both writes terminated — no orphaned stats write left running
    // into the failed gen's path behind the caller's back (round-17
    // advisory).
    graft.sqlx.Par.run(
      () => StatsManifest.build(spark, dataPath(root, gen), statsCols)
        .coalesce(1).write.mode("overwrite").parquet(statsPath(root, gen)),
      () => BloomSkipIndex.build(spark, dataPath(root, gen), bloomCols)
        .coalesce(1).write.mode("overwrite").parquet(bloomPath(root, gen)))
    // the pointer is ONE driver-resident row: staged driver-side
    // (TinyParquet.write) — the coalesce(1) Spark job per flip was pure
    // fixed cost (round 18); the CAS publish itself is unchanged
    CommittedVersions.publishRowsVersion(
      spark, s"$root/_current", basedOnVersion + 1L, "TableMaintenance pointer",
      Seq("gen" -> "long", "purged_through" -> "long"),
      Seq(Seq(gen, purgedThrough)))
  }

  /** Initialize the store: the caller has written raw data under
    * `dataPath(root, 1)`; this harvests its indexes and commits gen 1
    * (based on the empty pointer — two concurrent initializers CAS-race
    * v=1 like any other flip). */
  def initGen(spark: SparkSession, root: String,
              statsCols: Seq[String], bloomCols: Seq[String]): Unit =
    commitGen(spark, root, 1L, statsCols, bloomCols,
      basedOnVersion = pointerVersions(spark, root).maxOption.getOrElse(0L))

  /** Total footer row count of generation `gen` from its persisted _stats
    * manifest — a driver-side O(#files × #statsCols) metadata read
    * ([[TinyParquet]], the Delta-checkpoint discipline). Per-file count =
    * max over that file's per-column rows (schema evolution can leave a
    * column absent from some files; n_rows is identical wherever present).
    * None when the manifest is missing or empty — callers fall back to an
    * exact count job. */
  private def statsRowCount(spark: SparkSession, root: String,
                            gen: Long): Option[Long] =
    try {
      val recs = TinyParquet.rows(spark, statsPath(root, gen))
      if (recs.isEmpty) None
      else Some(recs.groupBy(_.string("file")).values
        .map(_.map(_.long("n_rows")).max).sum)
    } catch { case NonFatal(_) => None }

  /** The maintenance transaction: bin-pack the current generation's files
    * clustered on `sortCol` (range partitioning keeps each output file's
    * min/max box tight in the scan dimension — compaction that ignored
    * clustering would merge disjoint boxes and undo the skipping layout),
    * RE-HARVEST both skipping indexes over the new files, flip the
    * pointer, and vacuum generations beyond the retention window. Returns
    * the new generation id. */
  def maintain(spark: SparkSession, root: String, sortCol: String,
               targetRowsPerFile: Long,
               statsCols: Seq[String], bloomCols: Seq[String]): Long = {
    // the head (version AND generation) is read ONCE at cycle start; the
    // pointer CAS commits at curV+1, so any rival flip during the
    // compaction rejects this cycle as stale
    val (curV, cur, purgedOld) = headState(spark, root)
    // tombstone horizon read BEFORE the data: a forget that commits after
    // this point gets a version > maxDel, stays pending on the new
    // generation (its purged_through records exactly what was applied),
    // and is purged by the next cycle — no lost delete, no lock
    val maxDel = CommittedVersions.latest(spark, deletesDir(root)).getOrElse(0L)
    // exclusive-create claim: concurrent maintainers compact into DISJOINT
    // generation dirs (both writing gen=cur+1 was the pre-CAS interleave
    // window); the pointer CAS in commitGen then rejects the stale one
    val next = CommittedVersions.claimId(spark, s"$root/_genclaims", cur + 1L)
    val df = applyTombstones(spark, root,
      spark.read.parquet(dataPath(root, cur)), purgedOld, maxDel)
    // Bin selection from METADATA, not a count job (guide §6 / round 18):
    // the current generation's persisted _stats manifest already carries
    // per-file footer row counts, so the input size is a driver-side read
    // — the old df.count() was a full extra pass over the data (linear in
    // the corpus, the dominant term of events_maintenance_cycle's 10×
    // scaling exponent). Pending tombstones make the footer total an
    // OVERESTIMATE of the masked row count, which only splits the output
    // into marginally smaller files (maxRecordsPerFile still bounds each
    // file; no reader depends on the exact file count). A store whose
    // manifest is missing/unreadable falls back to the exact count.
    val footerRows = statsRowCount(spark, root, cur)
    val nRows = footerRows.getOrElse(df.count())
    val nFiles = math.max(1L, math.ceil(
      nRows.toDouble / targetRowsPerFile).toLong)
    // clear uncommitted leftovers (defensive: the claim makes gen=next ours)
    fs(spark, root).delete(new Path(s"$root/gen=$next"), true)
    df.repartitionByRange(nFiles.toInt, col(sortCol))
      .write.option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(dataPath(root, next))
    commitGen(spark, root, next, statsCols, bloomCols, basedOnVersion = curV,
      purgedThrough = maxDel)
    // vacuum: committed pointer versions beyond retention, then every
    // generation no retained pointer references — but only BELOW the live
    // head: a higher unreferenced gen may be a concurrent maintainer's
    // claimed in-flight write (a CAS loser's orphan is cleaned by the
    // next maintain, once the head passes it). Dead claims likewise.
    val f = fs(spark, root)
    val versions = pointerVersions(spark, root).sorted
    versions.dropRight(RetainGens + 1).foreach { v =>
      f.delete(new Path(s"$root/_current/v=$v"), true)
    }
    // every retained pointer is read ONCE, on the driver (they are one-row
    // tables); liveGens and the purge floor below share this single pass
    val retainedPointers = pointerVersions(spark, root).map(v =>
      pointerAt(spark, root, v))
    val liveGens = retainedPointers.map(_._1).toSet
    val maxLive = liveGens.maxOption.getOrElse(0L)
    val cutoff = System.currentTimeMillis() - OrphanAgeMs
    f.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen=") &&
        s.getModificationTime < cutoff)
      .map(_.getPath.getName.stripPrefix("gen=").toLong)
      .filter(g => g < maxLive && !liveGens(g))
      .foreach(g => f.delete(new Path(s"$root/gen=$g"), true))
    // dead claims = at or below the OLDEST retained head (any retained
    // writer claims from readGen+1 > that); the live head's own claim must
    // survive or a stale rival could re-claim the live generation
    CommittedVersions.vacuumClaims(spark, s"$root/_genclaims",
      liveGens.minOption.getOrElse(0L))
    CommittedVersions.vacuumStaging(spark, s"$root/_current", OrphanAgeMs)
    // tombstone versions every RETAINED generation has physically applied
    // are dead: no current read masks with them, and as-of reads of
    // retained generations deliberately show the pre-delete state (the
    // documented erasure timeline). Pending ones (> any retained
    // purged_through) must survive for masking. ALL dead versions go —
    // including their key lists, which is part of the erasure story (a
    // tombstone that outlives its purpose retains exactly the identifiers
    // the request asked to forget). Version-number reuse is prevented by
    // [[forget]] allocating above the pointer's own purged_through
    // watermark, which survives any tombstone vacuum.
    val minPurged = retainedPointers.map(_._2).minOption.getOrElse(0L)
    val ddir = deletesDir(root)
    CommittedVersions.list(spark, ddir).filter(_ <= minPurged).foreach { v =>
      f.delete(new Path(s"$ddir/v=$v"), true)
    }
    CommittedVersions.vacuumStaging(spark, ddir, OrphanAgeMs)
    next
  }

  // ------------------------------------------------------ row-level forget

  /** Row-level delete ("right to be forgotten") as DELETION VECTORS — the
    * Delta/Iceberg two-phase shape. [[forget]] records the keys in an
    * O(delete-set) committed tombstone version under `root/_deletes/v=K`
    * (no data file is touched), every read path masks pending tombstones
    * immediately, and the next [[maintain]] purges them physically: the
    * compaction rewrite filters the tombstoned keys out, the skipping
    * indexes are re-harvested over the purged files (a forgotten key's
    * Bloom probe then prunes EVERY file), and the new generation's
    * `purged_through` marks those versions applied.
    *
    * Erasure timeline (the GDPR caveat, stated not implied): logical
    * erasure is immediate — no read of the CURRENT version surfaces a
    * tombstoned row. PHYSICAL erasure completes when the last retained
    * generation holding the bytes leaves the [[RetainGens]] window: one
    * maintain() purges the live files, the one after vacuums the
    * superseded generation. [[readAsOf]] on a retained pre-delete version
    * deliberately shows the pre-delete state (as-of semantics — Delta
    * time travel behaves identically); compliance-complete forget =
    * two maintenance cycles. TombstoneSpec pins the whole timeline.
    *
    * Concurrency: tombstone sets are UNION semantics — order-free and
    * content-independent of the version number they land at — so unlike
    * the pointer CAS, losing the `v=K` race is retried internally
    * (each retry re-reads the head version and publishes the same keys).
    * The maintain() interleave is handled by the purge horizon: maintain
    * reads `maxDel` BEFORE its data scan and records it as the new
    * generation's `purged_through`, so a forget landing mid-compaction
    * stays pending (masked) on the new generation rather than lost.
    */
  private def deletesDir(root: String) = s"$root/_deletes"

  /** Record a delete-set: `keys` (deduplicated values of `column`) become
    * tombstone version K. O(delete-set) metadata write. Returns K. */
  def forget(spark: SparkSession, root: String, column: String,
             keys: DataFrame, maxRetries: Int = 20): Long = {
    val dedup = keys.select(col(column)).distinct().coalesce(1)
    var attempt = 0
    while (true) {
      try {
        // one tombstone column per store: a second forget on a DIFFERENT
        // column would write versions whose parquet schema diverges, and
        // the multi-version union then reads the missing column as NULL —
        // an anti-join that silently matches nothing, i.e. a lost delete.
        // Fail loudly instead. The check lives INSIDE the retried block: a
        // concurrent maintain() can vacuum the version between latest()
        // and the parquet read, and that vanish must re-read, not fail.
        CommittedVersions.latest(spark, deletesDir(root)).foreach { v =>
          val existing = spark.read.parquet(s"${deletesDir(root)}/v=$v").columns.head
          require(existing == column,
            s"forget: store $root tombstones key column '$existing'; a delete-set " +
              s"on '$column' would be silently unreadable alongside it")
        }
        // allocation floor: the pointer's purged_through as well as the
        // latest live tombstone — vacuum deletes every fully-applied
        // version (keys included), and allocating from the watermark keeps
        // a post-vacuum forget from REUSING a dead number at or below
        // purged_through, which every read would treat as already applied
        val (_, _, purged) = headState(spark, root)
        val v = math.max(
          CommittedVersions.latest(spark, deletesDir(root)).getOrElse(0L), purged) + 1L
        CommittedVersions.publishVersion(
          dedup, deletesDir(root), v, "TableMaintenance tombstones")
        return v
      } catch {
        case e: Throwable if retriableForget(e) =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    sys.error("unreachable")
  }

  /** A forget attempt is retriable when it LOST A RACE, never when it
    * broke a contract: a rival committed the version number first
    * (ConcurrentCommitException), or a concurrent maintain() vacuumed the
    * tombstone version this attempt was reading between latest() and the
    * parquet read (surfacing as FileNotFound / path-does-not-exist at
    * plan or execution time, possibly wrapped by Spark). The
    * column-consistency require is an IllegalArgumentException and stays
    * fatal. */
  private def retriableForget(e: Throwable): Boolean = {
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    chain(e).exists {
      case _: ConcurrentCommitException => true
      case _: java.io.FileNotFoundException => true
      case t => Option(t.getMessage).exists(m =>
        m.contains("Path does not exist") || m.contains("PATH_NOT_FOUND"))
    }
  }

  /** Tombstone versions in (lo, hi], unioned — None when nothing is
    * pending in that window. Delete-request-sized. Deliberately NOT
    * deduplicated: the only consumer is a LEFT ANTI join, whose broadcast
    * hash relation is set-semantics anyway — a distinct() here would add
    * the mask's only shuffle for zero semantic effect (PlanAuditSpec pins
    * the exchange-free mask plan). */
  private def tombstonesBetween(spark: SparkSession, root: String,
                                lo: Long, hi: Long): Option[DataFrame] = {
    val vs = CommittedVersions.list(spark, deletesDir(root))
      .filter(v => v > lo && v <= hi)
    if (vs.isEmpty) None
    else Some(spark.read.parquet(vs.map(v => s"${deletesDir(root)}/v=$v"): _*))
  }

  /** Tombstones the current generation has NOT physically purged — the
    * set every current-version read must mask. */
  def pendingTombstones(spark: SparkSession, root: String): Option[DataFrame] = {
    val (_, _, purged) = headState(spark, root)
    tombstonesBetween(spark, root, purged, Long.MaxValue)
  }

  private def applyTombstones(spark: SparkSession, root: String, df: DataFrame,
                              lo: Long, hi: Long): DataFrame =
    tombstonesBetween(spark, root, lo, hi) match {
      case None => df
      case Some(t) =>
        df.join(broadcast(t), Seq(t.columns.head), "left_anti")
    }

  /** Current-generation read with pending tombstones masked — the plain
    * full-scan twin of [[readCurrentPruned]]. When nothing is pending the
    * plan is the bare scan (no anti-join is ever added). */
  def readCurrent(spark: SparkSession, root: String): DataFrame = {
    val (_, gen, purged) = headState(spark, root)
    applyTombstones(spark, root,
      spark.read.parquet(dataPath(root, gen)), purged, Long.MaxValue)
  }

  /** Committed pointer history: (version, generation) pairs within the
    * retention window — the time-travel surface. */
  def pointerHistory(spark: SparkSession, root: String): Seq[(Long, Long)] =
    pointerVersions(spark, root).sorted.map { v =>
      v -> pointerAt(spark, root, v)._1
    }

  /** Time travel: the data as of pointer version `version` (Delta's
    * VERSION AS OF). Retention-bounded — [[maintain]] keeps
    * [[RetainGens]] superseded generations and their pointer versions
    * alive precisely so a lagging reader (or an explicit as-of audit) can
    * still resolve them; older versions are vacuumed and raise here. */
  def readAsOf(spark: SparkSession, root: String, version: Long): DataFrame = {
    val hist = pointerHistory(spark, root).toMap
    val gen = hist.getOrElse(version,
      sys.error(s"pointer version $version is not committed (or was vacuumed); " +
        s"available: ${hist.keys.toSeq.sorted.mkString(", ")}"))
    spark.read.parquet(dataPath(root, gen))
  }

  /** The persisted stats manifest / Bloom index of a generation. */
  def statsManifest(spark: SparkSession, root: String, gen: Long): DataFrame =
    spark.read.parquet(statsPath(root, gen))
  def bloomIndex(spark: SparkSession, root: String, gen: Long): DataFrame =
    spark.read.parquet(bloomPath(root, gen))

  /** Box-pruned scan of the CURRENT generation through its own persisted
    * manifest — the read path that stays fast across maintenance cycles. */
  def readCurrentPruned(spark: SparkSession, root: String,
                        ranges: Seq[(String, Double, Double)],
                        residual: Column): DataFrame = {
    val (_, g, purged) = headState(spark, root)
    applyTombstones(spark, root,
      StatsManifest.readPruned(spark, dataPath(root, g),
        statsManifest(spark, root, g), ranges, residual),
      purged, Long.MaxValue)
  }

  /** Bloom-pruned point lookup on the current generation. */
  def pointLookupCurrent(spark: SparkSession, root: String,
                         column: String, value: Column): DataFrame = {
    val (_, g, purged) = headState(spark, root)
    applyTombstones(spark, root,
      BloomSkipIndex.readPruned(spark, dataPath(root, g),
        bloomIndex(spark, root, g), column, value),
      purged, Long.MaxValue)
  }
}
