package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.CellStore
import graft.sqlx.Exact

/** Incremental materialized-view maintenance for algebraic aggregates —
  * the operator that turns a 100 TB nightly "recompute the rollup" into an
  * increment-sized job. The view is stored as PARTIAL aggregate state
  * (count / exact decimal sum / min / max per group), not final values:
  * partial states form a commutative monoid (counts add, DECIMAL(25,10)
  * sums add exactly, min/max combine), so refreshing with a new batch is
  * `merge(state, partials(increment))` — identical, bit-for-bit, to
  * recomputing over base ∪ increment, which is what makes the registered
  * query oracle-checkable by a plain GROUP BY over the whole table.
  * Derived values that are NOT algebraic (avg) finalize at read time from
  * the state (sum/count), the standard MV trick.
  *
  * Scale layout: state is hash-bucketed on the group keys and kept in a
  * [[CellStore]] — the copy-on-write format the stored ANN indexes use —
  * one store cell per bucket (the `bucket` column is written as the
  * store's `cell` and read back as `bucket`). An increment only touches
  * the buckets its groups hash into: a refresh reads ONLY those buckets'
  * files listed by the head version, merges increment-sized data, writes
  * the merged state into a fresh write dir and publishes the next version
  * with those buckets' file lists swapped ([[CellStore.rewrite]]).
  * Untouched buckets are never read, never shuffled, never rewritten —
  * refresh cost is O(increment + touched-bucket state), independent of
  * view size. A bucket whose state emptied leaves the layout.
  *
  * Crash consistency and concurrency are the store's: live files are
  * never touched, a version counts once its manifest is committed, and
  * readers resolve the committed head once — a crash at any point leaves
  * the previous version (and every file it lists) serving, the crashed
  * writer's dir unreferenced until vacuumed. The version also carries the
  * applied-batch high-water mark, so [[refreshOnce]]'s state swap and its
  * replay mark commit ATOMICALLY. Two refreshers racing from the same
  * head both CAS `head + 1`: exactly one wins, the loser gets a loud
  * [[graft.sources.ConcurrentCommitException]] (its snapshot was stale;
  * re-read and re-run) and deletes its write dir. ConcurrencySpec runs two
  * racing refreshers and proves one-winner-per-version, no lost updates,
  * loud loser.
  */
object MaterializedAgg {

  val NBuckets = 16

  /** Pinned on-disk type for the exact running sum. Spark widens decimal
    * precision on every sum() (25,10 → 35,10 → 38,10), so WITHOUT the pin
    * a refresh writes its touched buckets at a wider precision than the
    * init version and the store's one manifest schema stops describing
    * every file (parquet decimal physical types differ by precision). 28
    * integer digits of headroom; a value domain that could overflow it
    * needs a two-level sum split, not a wider decimal. */
  private val SumType = org.apache.spark.sql.types.DecimalType(38, 10)

  private def bucketCol(keys: Seq[String]): org.apache.spark.sql.Column =
    pmod(hash(keys.map(col): _*), lit(NBuckets))

  // ------------------------------------------------------------ state algebra

  /** Partial aggregate state of `df` per `keys`: (n_rows, n_vals,
    * sum_dec DECIMAL(25,10), vmin, vmax) + the key-hash bucket. */
  def partials(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col(valueCol)).as("n_vals"),
        sum(Exact.dec(col(valueCol))).cast(SumType).as("sum_dec"),
        min(col(valueCol)).as("vmin"),
        max(col(valueCol)).as("vmax"))
      .withColumn("bucket", bucketCol(keys))

  /** Combine two partial-state frames for the same keys (the monoid op). */
  private def combine(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_vals")).as("n_vals"),
        sum(col("sum_dec")).cast(SumType).as("sum_dec"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"))

  /** State rows as the store's cell rows: one file per touched bucket. */
  private def asCells(state: DataFrame): DataFrame =
    state.withColumnRenamed("bucket", "cell").repartition(col("cell"))

  /** The buckets `state` touches, sorted (metadata-sized: ≤ NBuckets). */
  private def bucketsOf(state: DataFrame): Seq[Int] =
    state.select("bucket").distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** The state of `buckets` at `head` (all buckets by default), `bucket`
    * recovered from the store's `cell`. Read through the manifest's schema
    * and file list: no footer-inference job. */
  private def readState(spark: SparkSession, root: String, head: CellStore.Version,
                        buckets: Option[Seq[Int]] = None): DataFrame =
    CellStore.read(spark, root, head, buckets).withColumnRenamed("cell", "bucket")

  /** The commit shared by [[refresh]] and [[retract]]: `merged` (the
    * touched buckets' complete new state) replaces their files in the
    * version after `head`, which records `appliedBatch` (< 0 keeps the
    * head's mark). No touched bucket: a publish that only records the
    * mark — an empty micro-batch still advances it, so the replay mark
    * never lags what refreshOnce/retractOnce report applied. */
  private def commit(spark: SparkSession, root: String, store: String, head: CellStore.Version,
                     touched: Seq[Int], appliedBatch: Long)(merged: => DataFrame): Unit =
    CellStore.rewrite(spark, root, store, head,
      if (appliedBatch >= 0) appliedBatch else head.applied, touched)(asCells(merged))

  // ------------------------------------------------------------ public API

  /** Initialize the view from a base frame: the base's partial state is
    * published as the store's next version with a fresh applied-batch
    * mark. A reader of the previous version keeps serving it meanwhile. */
  def writeInit(base: DataFrame, keys: Seq[String], valueCol: String, root: String): Unit =
    CellStore.build(base.sparkSession, root, "MaterializedAgg.writeInit") {
      (asCells(partials(base, keys, valueCol)), Nil)
    }

  /** Incremental refresh: fold `increment`'s partials into the store,
    * touching only the bucket partitions the increment's groups hash to,
    * and publish the next version. Returns the touched bucket ids
    * (sorted). `appliedBatch` < 0 preserves the current high-water mark
    * ([[refreshOnce]] passes the new one so mark and swap commit
    * together). */
  def refresh(spark: SparkSession, root: String, increment: DataFrame,
              keys: Seq[String], valueCol: String,
              appliedBatch: Long = -1L): Seq[Int] = {
    val inc = partials(increment, keys, valueCol)
    val touched = bucketsOf(inc)
    if (touched.nonEmpty || appliedBatch >= 0) {
      val head = CellStore.head(spark, root)
      commit(spark, root, "MaterializedAgg.refresh", head, touched, appliedBatch)(
        combine(readState(spark, root, head, Some(touched)), inc, keys))
    }
    touched
  }

  /** Delete RETRACTION — the other half of MV maintenance ([[refresh]]
    * folds inserts in; this folds deletes out), with the split every
    * incremental-view engine draws: the INVERTIBLE aggregates (count,
    * exact decimal sum — a group, i.e. an abelian one) subtract the
    * delete-set's partials algebraically, while MIN/MAX — a monoid with
    * no inverse — are recomputed, but ONLY for the boundary groups whose
    * deleted rows touched the stored extreme (deleted min = stored min or
    * deleted max = stored max; anything interior cannot move them). The
    * recompute reads `remaining` (the base table post-delete) semi-joined
    * to those boundary keys — delete-request-sized key set pruning a base
    * scan, the same shape Materialize/DBSP give MIN/MAX under deletions.
    *
    * Groups whose row count reaches zero leave the state entirely.
    * Contract: `deletes` must be rows the view actually folded in —
    * a subtraction that would drive any count negative aborts loudly
    * BEFORE anything is written (the state is never poisoned by a bad
    * delete batch). Commit/concurrency discipline is [[refresh]]'s
    * verbatim: the touched buckets rewritten copy-on-write, the store's
    * CAS at head + 1, loud [[graft.sources.ConcurrentCommitException]]
    * loser. Returns the touched buckets. */
  def retract(spark: SparkSession, root: String, deletes: DataFrame,
              remaining: DataFrame, keys: Seq[String], valueCol: String,
              appliedBatch: Long = -1L): Seq[Int] = {
    val del = partials(deletes, keys, valueCol)
      .select((keys.map(col) :+ col("bucket") :+
        col("n_rows").as("d_rows") :+ col("n_vals").as("d_vals") :+
        col("sum_dec").as("d_sum") :+ col("vmin").as("d_min") :+
        col("vmax").as("d_max")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = bucketsOf(del)
      if (touched.isEmpty) {
        if (appliedBatch >= 0)
          commit(spark, root, "MaterializedAgg.retract", CellStore.head(spark, root),
            touched, appliedBatch)(del)
        return touched
      }
      val head = CellStore.head(spark, root)
      // a delete aimed at buckets the view holds no state for reads an
      // empty state, and the orphan guard below refuses it
      val state = readState(spark, root, head, Some(touched))
      val joined = state.join(del.drop("bucket"), keys, "left")
      // subtraction operands narrowed to (37,10): Spark sizes a decimal
      // difference at max(p-s)+s+1 digits, so (38,10)-(38,10) would spill
      // past 38 and get its SCALE cut to 9 — a silent half-ulp rounding
      // that breaks retract ≡ recompute (caught by the spec). (37,10)
      // keeps 27 integer digits of headroom and a (38,10) exact result.
      val narrow = org.apache.spark.sql.types.DecimalType(37, 10)
      val updated = joined.select(
        (keys.map(col) :+ col("bucket") :+
          (col("n_rows") - coalesce(col("d_rows"), lit(0L))).as("n_rows") :+
          (col("n_vals") - coalesce(col("d_vals"), lit(0L))).as("n_vals") :+
          (col("sum_dec").cast(narrow) -
            coalesce(col("d_sum"), lit(0).cast(SumType)).cast(narrow))
            .cast(SumType).as("sum_dec") :+
          col("vmin") :+ col("vmax") :+
          (col("d_rows").isNotNull &&
            (col("d_min") <= col("vmin") || col("d_max") >= col("vmax")))
            .as("dirty")): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the (37,10) narrowing cast above is non-ANSI: a stored sum past
        // 27 integer digits would cast to NULL and silently poison the
        // group without tripping the negative-count guard. A group with
        // surviving non-null values (n_vals > 0) can never have a NULL
        // sum_dec legitimately. All three abort guards (decimal poisoning,
        // negative counts, orphaned delete groups) are metadata-sized
        // probes over the persisted state — they run as ONE Spark action
        // (a union of limit-1 branches) instead of three, a fixed-cost
        // job per guard on every retract (round-17 measurement); priority
        // among simultaneous violations is decided on the driver below.
        def witness(df: DataFrame, kind: String) =
          df.select(lit(kind).as("kind"),
            to_json(struct(df.columns.map(col): _*)).as("row")).limit(1)
        val issues = witness(updated.where(col("n_vals") > 0 && col("sum_dec").isNull),
            "poisoned")
          .unionByName(witness(updated.where(col("n_rows") < 0 || col("n_vals") < 0),
            "bad"))
          // orphaned deletes (a group the state never had) are the same
          // contract breach — they'd vanish silently through the left join
          .unionByName(witness(del.join(state, keys, "left_anti"), "orphan"))
          .collect()
        def firstOf(kind: String) = issues.collectFirst {
          case r if r.getString(0) == kind => r.getString(1)
        }
        val poisoned = firstOf("poisoned")
        require(poisoned.isEmpty,
          s"retract: decimal headroom exhausted — group " +
            s"${poisoned.getOrElse("")} has a stored " +
            "sum past the (37,10) cast's 27 integer digits and the subtraction " +
            "cast it to NULL; nothing was written")
        val bad = firstOf("bad")
        require(bad.isEmpty,
          s"retract: delete batch subtracts more rows than the view holds for " +
            s"group ${bad.getOrElse("")} — deletes must " +
            "be rows the view folded in; nothing was written")
        val orphan = firstOf("orphan")
        require(orphan.isEmpty,
          s"retract: delete batch names a group the view does not hold " +
            s"(${orphan.getOrElse("")})")
        val survivors = updated.where(col("n_rows") > 0)
        val dirtyKeys = survivors.where(col("dirty")).select(keys.map(col): _*)
        val recomputed = remaining.join(dirtyKeys, keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(min(col(valueCol)).as("r_min"), max(col(valueCol)).as("r_max"))
        val merged = survivors.join(recomputed, keys, "left")
          .select((keys.map(col) :+ col("bucket") :+ col("n_rows") :+
            col("n_vals") :+ col("sum_dec") :+
            when(col("dirty"), col("r_min")).otherwise(col("vmin")).as("vmin") :+
            when(col("dirty"), col("r_max")).otherwise(col("vmax")).as("vmax")): _*)
        commit(spark, root, "MaterializedAgg.retract", head, touched, appliedBatch)(merged)
        touched
      } finally { updated.unpersist(false); () }
    } finally { del.unpersist(false); () }
  }

  /** [[retract]] with exactly-once semantics under micro-batch REPLAY —
    * [[refreshOnce]]'s twin for a CDC DELETE stream: batch ids from one
    * stream are monotone, only the last batch replays, and the
    * applied-batch mark rides in the store's version, so the retraction and its
    * mark commit atomically (a replayed delete batch would otherwise
    * subtract twice — the exact dual of the insert double-count).
    *
    * `remaining` semantics under a multi-batch stream: pass the base
    * table WITH ALL DELETES APPLIED (in production CDC the base commits
    * before the view catches up, so the maintainer's base read is
    * naturally "ahead"). Counts and sums are exact per batch regardless;
    * a boundary min/max recomputed from the ahead base can be tighter
    * than the true intermediate state, but per group the LAST batch that
    * touches it recomputes from that group's true final rows (rows
    * achieving the final extreme survive every batch, so any later
    * deletion of a value tying the stored extreme re-triggers the dirty
    * recompute) — the view converges to the exact final state, which is
    * the contract the oracle checks. */
  def retractOnce(spark: SparkSession, root: String, batchId: Long, deletes: DataFrame,
                  remaining: DataFrame, keys: Seq[String], valueCol: String): Boolean = {
    if (batchId <= CellStore.head(spark, root).applied) false
    else {
      retract(spark, root, deletes, remaining, keys, valueCol, appliedBatch = batchId)
      true
    }
  }

  /** [[refresh]] with exactly-once semantics under micro-batch REPLAY —
    * what `foreachBatch` needs: Structured Streaming re-delivers the last
    * batch after a crash, and partial-state merges are NOT idempotent (a
    * replayed increment double-counts). Batch ids from one stream are
    * monotonically increasing and only the LAST batch is ever replayed, so
    * one high-water mark (the max applied id) suffices — and it rides IN
    * the store's version, so the state flip and the mark are one atomic
    * commit: a crash before the CAS replays the batch against the OLD
    * state+mark (the crashed writer's files are never listed), a crash
    * after it makes the replay a no-op. No double-count window remains. */
  def refreshOnce(spark: SparkSession, root: String, batchId: Long, increment: DataFrame,
                  keys: Seq[String], valueCol: String): Boolean = {
    if (batchId <= CellStore.head(spark, root).applied) false
    else {
      refresh(spark, root, increment, keys, valueCol, appliedBatch = batchId)
      true
    }
  }

  /** Finalized view: algebraic columns straight from state, avg derived as
    * exact-decimal sum / value count (the graft.sqlx.Exact double route,
    * so the read is bit-identical to a full recompute in any engine).
    * Resolves the committed head once and reads the files it lists with
    * the manifest's schema, so building the frame starts no Spark job. */
  def read(spark: SparkSession, root: String, keys: Seq[String]): DataFrame =
    readState(spark, root, CellStore.head(spark, root))
      .select(
        (keys.map(col) :+
          col("n_rows") :+
          col("sum_dec").cast("double").as("value_sum") :+
          when(col("n_vals") > 0, Exact.r4(col("sum_dec").cast("double") / col("n_vals")))
            .as("value_avg") :+
          col("vmin").as("value_min") :+
          col("vmax").as("value_max")): _*)
}
