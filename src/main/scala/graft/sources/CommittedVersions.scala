package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Loud loser of an optimistic-concurrency commit: the version the writer
  * staged against was committed by a rival first, so its read snapshot is
  * stale. The correct reaction is Delta/Iceberg's: re-read the new head,
  * recompute the increment against it, and retry — never blind-retry the
  * same staged bytes. */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** THE versioned-commit protocol, in one place: a `v=N` directory counts
  * as committed exactly when its `_SUCCESS` marker exists (Spark's job
  * committer writes it last), so a crashed mid-write version is invisible
  * and readers always resolve a complete state. Shared by every
  * versioned store in the engine — the watermark state
  * ([[graft.etl.Watermarks]]), the table-maintenance generation pointer
  * ([[TableMaintenance]]) and the [[CellStore]] manifests of the
  * materialized view and the ANN indexes — because hand-rolled copies of
  * a crash-consistency scanner is how one copy quietly diverges (round-12
  * review finding).
  *
  * Round 13 adds the WRITE half of the protocol: [[tryPublish]] makes the
  * version flip a check-and-fail CAS (stage the complete version dir,
  * atomically rename it to `v=expected`; the rename fails if a rival
  * committed `expected` first), and [[claimId]] hands out collision-free
  * generation ids by exclusive file create — together they turn the
  * stores' former last-writer-wins overwrite into optimistic concurrency:
  * exactly one writer wins each version, the loser gets a loud
  * [[ConcurrentCommitException]] instead of silently orphaning the
  * winner's work, and a crashed writer leaves only unreferenced staging /
  * claim garbage (vacuumed later) — never a blocked version number.
  *
  * Round 17 makes the filesystem binding explicit: both atomic
  * primitives dispatch through the pluggable [[CommitArbiter]] seam.
  * HDFS-class and local filesystems get the default arbiter; S3-class
  * object stores (no atomic rename, no conditional create through
  * Hadoop) are REFUSED before any I/O unless a conditional-primitive
  * arbiter is registered — the per-filesystem guarantee matrix lives in
  * `docs/COMMITS.md`. The read half ([[list]]/[[latest]]) is listing +
  * marker checks and works unguarded on any strongly-consistent store. */
object CommittedVersions {

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def list(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val p = new Path(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v=") &&
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
  }

  def latest(spark: SparkSession, root: String): Option[Long] =
    list(spark, root).maxOption

  /** Atomic exclusive file create — true iff THIS caller created it. One
    * of the two primitives every CAS here reduces to, dispatched through
    * the per-filesystem [[CommitArbiter]] seam (the default Hadoop
    * arbiter serves HDFS-class and local filesystems; object-store
    * schemes fail loudly unless a conditional-primitive arbiter is
    * registered — see docs/COMMITS.md). */
  private[graft] def tryCreateExclusive(spark: SparkSession, file: String): Boolean =
    CommitArbiter.forPath(file).tryCreateExclusive(spark, file)

  /** Allocate a fresh id ≥ `start` by exclusive create of
    * `claimDir/claim-<id>` — collision-free under any number of concurrent
    * writers, and a crashed claimer only wastes one number (ids are
    * pointers, not semantics; nothing requires them contiguous). */
  def claimId(spark: SparkSession, claimDir: String, start: Long): Long = {
    var id = start
    while (!tryCreateExclusive(spark, s"$claimDir/claim-$id")) {
      id += 1
      require(id - start < 100000,
        s"claimId runaway under $claimDir — ${id - start} consecutive taken ids")
    }
    id
  }

  /** Drop claim files whose id can never be allocated again. `maxDeadId`
    * must be UNREACHABLE by any writer still inside the retention window:
    * a writer claims from `readHead + 1`, and the oldest head a retained
    * reader/writer can have read is the oldest RETAINED version's — so
    * callers pass (oldest retained head's gen), never the current head's
    * (deleting the live head's claim would let a stale rival re-claim a
    * LIVE generation and destroy it — review finding). Writers staler
    * than the retention window are outside the protocol's protection,
    * the same boundary Delta's VACUUM retention draws. */
  def vacuumClaims(spark: SparkSession, claimDir: String, maxDeadId: Long): Unit = {
    val fs = fsOf(spark, claimDir)
    val d = new Path(claimDir)
    if (fs.exists(d)) {
      fs.listStatus(d).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("claim-"))
        .filter(_.getName.stripPrefix("claim-").toLongOption.exists(_ <= maxDeadId))
        .foreach(fs.delete(_, false))
    }
  }

  /** CAS half of the commit: atomically publish `staged` (a COMPLETE
    * version directory, `_SUCCESS` already inside) as `root/v=expected`.
    * Returns false — after cleaning up the staged dir — when a rival
    * committed `expected` first: rename-to-existing fails atomically, so
    * exactly one writer ever wins a version number. A crash before the
    * rename leaves only an invisible `_staged-*` dir (the `v=` prefix
    * filter in [[list]] never sees it); there is no claim to break and no
    * wedged next version. */
  /** Atomic no-overwrite rename — false iff dst already exists (or the
    * rename raced and lost). The second [[CommitArbiter]] primitive,
    * dispatched per filesystem like [[tryCreateExclusive]]. */
  private def tryAtomicRename(spark: SparkSession, src: Path, dst: Path): Boolean =
    CommitArbiter.forPath(dst.toString).tryAtomicRename(spark, src, dst)

  def tryPublish(spark: SparkSession, root: String, expected: Long,
                 staged: String): Boolean = {
    CommitArbiter.forPath(root) // refuse unsupported filesystems BEFORE any I/O
    val fs = fsOf(spark, root)
    val dst = new Path(root, s"v=$expected")
    def attempt(): Boolean = tryAtomicRename(spark, new Path(staged), dst)
    // rename FIRST — it is the atomic arbiter (rename onto an existing
    // non-empty dir fails). Only on failure do we look at why:
    //   - dst has _SUCCESS: a rival committed `expected` → lose.
    //   - dst exists without _SUCCESS: crash garbage from a pre-CAS direct
    //     write (a CAS writer never exposes an incomplete v= dir — versions
    //     appear whole via rename). Reclaiming it must not race a rival's
    //     commit, so the DELETE runs under an exclusive-create gate
    //     (`_reclaim-v=N`, one winner ever): while the garbage exists no
    //     rename can succeed, and after the gate-winner clears it the
    //     retried rename is again the single arbiter. A check-then-delete
    //     without the gate could recursively delete a version a rival
    //     committed between the check and the delete (review finding).
    val won =
      attempt() || {
        if (fs.exists(new Path(dst, "_SUCCESS"))) false
        else if (fs.exists(dst)) {
          // a crashed gate-winner must not wedge this version forever: a
          // reclaim gate older than the staging window is breakable (its
          // holder is dead — a live one finishes in seconds), and the gate
          // is released in finally so the success path leaves nothing
          val gate = new Path(s"$root/_reclaim-v=$expected")
          if (fs.exists(gate) && fs.getFileStatus(gate).getModificationTime <
                System.currentTimeMillis() - 60L * 60 * 1000)
            fs.delete(gate, false)
          if (tryCreateExclusive(spark, gate.toString)) {
            try {
              fs.delete(dst, true)
              attempt()
            } finally fs.delete(gate, false)
          } else false
        } else false
      }
    if (!won) fs.delete(new Path(staged), true)
    won
  }

  /** Stage-and-CAS convenience for the common one-small-table version dir:
    * writes `df` to a unique `_staged-*` sibling, then [[tryPublish]]es it
    * as `v=expected`; throws the loud [[ConcurrentCommitException]] naming
    * the store when a rival won.
    *
    * The staged write coalesces to `maxFiles` (default ONE): every current
    * store publishes a metadata-sized state — a row per symbol, a manifest,
    * a generation pointer, a tombstone key-set — and writing such a table
    * at shuffle parallelism lands up to 32 tiny files per version, times
    * versions per run; the per-file open/commit overhead was the top
    * inflater of the watermark queries on every loaded driver bench
    * (round-16 verdict). `coalesce` collapses only the final stage — any
    * upstream shuffle (the state derivation) keeps its parallelism. A
    * future store whose versions carry real data should raise `maxFiles`
    * toward its write parallelism rather than skip the bound. */
  def publishVersion(df: org.apache.spark.sql.DataFrame, root: String,
                     expected: Long, store: String, maxFiles: Int = 1): Unit = {
    val spark = df.sparkSession
    CommitArbiter.forPath(root) // refuse unsupported filesystems BEFORE the staged write
    val staged = s"$root/_staged-${java.util.UUID.randomUUID}"
    df.coalesce(maxFiles).write.mode("overwrite").parquet(staged)
    if (!tryPublish(spark, root, expected, staged))
      throw new ConcurrentCommitException(
        s"$store: version v=$expected under $root was committed by another " +
          "writer — this writer's snapshot is stale; re-read the head and retry")
  }

  /** [[publishVersion]] for DRIVER-RESIDENT metadata rows (round 18): the
    * staged version dir is written by [[TinyParquet.write]] on the driver
    * — no Spark job for a one-row generation pointer or a ≤-buckets-row
    * manifest — then published through the exact same [[tryPublish]] CAS.
    * Same contract, same crash story (the staged dir is invisible until
    * the atomic rename); only the staging write's execution engine
    * changes. Callers whose version payload is a computed DataFrame keep
    * [[publishVersion]]. */
  def publishRowsVersion(spark: SparkSession, root: String, expected: Long,
                         store: String, schema: Seq[(String, String)],
                         rows: Seq[Seq[Any]]): Unit = {
    CommitArbiter.forPath(root) // refuse unsupported filesystems BEFORE the staged write
    val staged = s"$root/_staged-${java.util.UUID.randomUUID}"
    TinyParquet.write(spark, staged, schema, rows)
    if (!tryPublish(spark, root, expected, staged))
      throw new ConcurrentCommitException(
        s"$store: version v=$expected under $root was committed by another " +
          "writer — this writer's snapshot is stale; re-read the head and retry")
  }

  /** Remove leftover staging dirs of CRASHED writers. Age-gated: deleting
    * a LIVE rival's staging dir mid-write kills its Spark job with a
    * confusing FileNotFound instead of the clean CAS loss it would
    * otherwise get (measured in ConcurrencySpec), so only dirs older than
    * `maxAgeMs` — far beyond any real commit's stage-to-rename window —
    * are treated as abandoned. Callers invoke it from their vacuum step. */
  def vacuumStaging(spark: SparkSession, root: String,
                    maxAgeMs: Long = 60L * 60 * 1000): Unit = {
    val fs = fsOf(spark, root)
    val p = new Path(root)
    if (fs.exists(p)) {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      fs.listStatus(p).toSeq
        .filter(_.getPath.getName.startsWith("_staged-"))
        .filter(_.getModificationTime < cutoff)
        .foreach(s => fs.delete(s.getPath, true))
    }
  }
}
