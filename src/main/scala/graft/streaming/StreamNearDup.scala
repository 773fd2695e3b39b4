package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.dedup.{Jaccard, MinHashLSH}

/** Streaming near-duplicate detection — incremental corpus ingestion with
  * MinHash-LSH bucket state. Batch near-dup re-banding the whole corpus per
  * increment is the thing a 100 TB ingest pipeline cannot afford; here each
  * arriving micro-batch of documents is shingled, signed, and banded with
  * per-row deterministic expressions (the SAME codegen'd
  * [[graft.functions.MinHashSig]] kernel and band layout as the batch path
  * — [[MinHashLSH.bandBucketsFromArrays]] is shared by construction), and a
  * stateful operator keyed on (band, bucket) holds the doc-ids seen in each
  * bucket, emitting a candidate pair the moment a new doc lands in a
  * non-empty bucket.
  *
  * Scale shape: state is ONE id-list per occupied bucket — O(corpus · bands)
  * ids total, the same cardinality as the batch band table, sharded across
  * executors by the (band, bucket) grouping key, with no corpus-wide
  * shuffle per increment (only the increment is banded). Emitted work is
  * proportional to true bucket collisions, exactly like the batch bucket
  * equi-join. In production the state is bounded by
  * [[candidatePairsWithTTL]]: an event-time watermark +
  * `GroupStateTimeout.EventTimeTimeout` evicts buckets untouched for the
  * dedup horizon (StreamNearDupSpec EXERCISES the eviction: state row
  * count shrinks past the horizon, in-horizon pairs still emit, and the
  * documented recall loss — a duplicate arriving after its partner's
  * bucket aged out goes undetected — is pinned, not hand-waved). The
  * unbounded variants run NoTimeout so stream ≡ batch holds exactly.
  *
  * Candidate verification stays OUT of the stream: exact Jaccard needs the
  * shingle sets of both sides, i.e. a lookup against the document store, so
  * the emitted pairs are joined to the static corpus downstream
  * ([[Jaccard.pairsForCandidateSets]]) — the classic stream-detects /
  * store-verifies split. When every document has streamed through, the
  * pair set equals the batch [[MinHashLSH.candidatesFromSets]] output
  * (the pair SET over a bucket is arrival-order invariant: any split of a
  * bucket's members into micro-batches yields the same unordered pairs),
  * so the registered `stream_neardup` query shares `dedup_minhash`'s
  * bit-exact DuckDB oracle. StreamNearDupSpec drives multi-batch arrival
  * through MemoryStream and asserts stream ≡ batch plus genuinely
  * cross-batch pairs.
  */
object StreamNearDup {

  /** One doc's membership in one LSH band bucket. */
  final case class BandedDoc(doc_id: Long, band: Int, bucket: String)

  /** [[BandedDoc]] plus the document's event time — the TTL path's row. */
  final case class BandedDocT(doc_id: Long, ts: java.sql.Timestamp,
                              band: Int, bucket: String)

  /** Candidate near-dup pair, doc_a < doc_b. */
  final case class CandPair(doc_a: Long, doc_b: Long)

  /** (doc_id, band, bucket) rows for a (possibly streaming) frame with
    * `doc_id` and `text` — per-row expressions only, so the plan's single
    * stateful operator is the pairing stage. */
  def bandedDocs(docs: DataFrame): DataFrame =
    MinHashLSH.bandBucketsFromArrays(Jaccard.shingleSets(docs))

  /** Pair a bucket's newly-arrived docs against everything the bucket has
    * seen (and each other). Pure function of (state, batch) — emitted pair
    * sets are arrival-order invariant because every pair is canonicalized
    * to doc_a < doc_b and each (old × new) + (new × new) pair surfaces in
    * exactly the trigger where its later member arrives. */
  private[streaming] def pairBucket(cap: Int)(
      @scala.annotation.unused key: (Int, String), rows: Iterator[BandedDoc],
      state: GroupState[Seq[Long]]): Iterator[CandPair] = {
    val prev = state.getOption.getOrElse(Seq.empty)
    val seen = prev.toSet
    // hot-bucket saturation backstop (MinHashLSH.MaxBucketSize, the batch
    // path's skew guard): a saturated bucket stops adopting members and
    // stops emitting — bounded state AND bounded emission under a
    // degenerate bucket. Stream ≡ batch stays EXACT whenever no bucket
    // saturates (the registered corpora and specs — batch drops a hot
    // bucket's pairs entirely, the stream additionally emitted its first
    // cap-arrivals' pairs before freezing, so the two diverge only past
    // the cap; both bound the blowup).
    val room = cap - prev.size
    if (room <= 0) Iterator.empty
    else {
      val fresh = rows.map(_.doc_id).toSeq.distinct.filterNot(seen).sorted.take(room)
      if (fresh.isEmpty) Iterator.empty
      else {
        state.update(prev ++ fresh)
        val cross = for { b <- fresh.iterator; a <- prev.iterator }
          yield CandPair(math.min(a, b), math.max(a, b))
        val within = for {
          i <- fresh.indices.iterator; j <- (i + 1 until fresh.size).iterator
        } yield CandPair(fresh(i), fresh(j))
        cross ++ within
      }
    }
  }

  /** Guard for the one place stream and batch semantics DIVERGE: past the
    * saturation cap the stream has already emitted the first `cap`
    * arrivals' pairs while the batch oracle (minhashNearDupSql's
    * `HAVING COUNT(*) <= cap`) drops the bucket entirely — so a corpus
    * with a >cap band bucket would FAIL its oracle check rather than
    * degrade gracefully. Registered stream queries call this on their
    * corpus (memoized per content fingerprint) so the precondition is
    * ASSERTED, not implicitly guaranteed by the current test data: a
    * regenerated corpus that trips the backstop fails loudly here, naming
    * the divergence, instead of surfacing as an opaque hash mismatch. */
  def assertNoSaturatedBucket(docs: DataFrame, cap: Int = MinHashLSH.MaxBucketSize): Unit = {
    val worst = bandedDocs(docs).groupBy(col("band"), col("bucket"))
      .count().agg(org.apache.spark.sql.functions.max(col("count"))).head()
    val max = if (worst.isNullAt(0)) 0L else worst.getLong(0)
    require(max <= cap,
      s"corpus has a band bucket of size $max > MaxBucketSize=$cap: past the cap the " +
        "streaming backstop (first-cap emission) and the batch oracle (bucket dropped) " +
        "diverge by design — this corpus cannot back an oracle-checked stream query")
  }

  /** Streaming candidate pairs from banded rows: group on (band, bucket),
    * hold the bucket's members as state, emit pairs as they collide. The
    * output may repeat a pair that collides in several bands (same as the
    * batch bucket join pre-distinct) — the downstream verify dedups. */
  def candidatePairs(banded: DataFrame,
                     cap: Int = MinHashLSH.MaxBucketSize): Dataset[CandPair] = {
    import banded.sparkSession.implicits._
    banded.as[BandedDoc]
      .groupByKey(bd => (bd.band, bd.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(pairBucket(cap))
  }

  /** Banded rows carrying event time, for the TTL path: same codegen
    * banding kernel, with `ts` passed through beside each (band, bucket)
    * row (a post-banding join would be a second stateful op in a stream). */
  def bandedDocsWithTime(docs: DataFrame): DataFrame =
    MinHashLSH.bandBucketsFromArrays(
      docs.select(col("doc_id"), col("ts"),
        Jaccard.shingleArray(col("text")).as("shingles")),
      carry = Seq("ts"))

  /** [[pairBucket]] under an event-time TTL: a bucket untouched (no new
    * member) for `ttlMs` of event time past its last arrival is evicted —
    * O(1) state per live bucket window instead of per corpus lifetime.
    * Every arrival refreshes the bucket's timeout (timestamp = max event
    * time seen in the batch + TTL), so a hot bucket never ages out while
    * it keeps matching. The trade is explicit: a duplicate arriving after
    * its partner's bucket expired is NOT detected — the dedup horizon. */
  private[streaming] def pairBucketTTL(ttlMs: Long, cap: Int = MinHashLSH.MaxBucketSize)(
      @scala.annotation.unused key: (Int, String), rows: Iterator[BandedDocT],
      state: GroupState[Seq[Long]]): Iterator[CandPair] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val rs = rows.toSeq
      val prev = state.getOption.getOrElse(Seq.empty)
      val seen = prev.toSet
      // same saturation backstop as pairBucket; eviction eventually frees
      // a hot bucket here, so saturation is per-horizon, not permanent
      val room = cap - prev.size
      val fresh =
        if (room <= 0) Seq.empty
        else rs.map(_.doc_id).distinct.filterNot(seen).sorted.take(room)
      val horizon = rs.map(_.ts.getTime).max + ttlMs
      if (fresh.isEmpty) {
        // all members already known ⇒ state exists; refresh its horizon
        // (setTimeoutTimestamp requires existing state, hence the order)
        state.setTimeoutTimestamp(horizon)
        Iterator.empty
      } else {
        state.update(prev ++ fresh)
        state.setTimeoutTimestamp(horizon)
        val cross = for { b <- fresh.iterator; a <- prev.iterator }
          yield CandPair(math.min(a, b), math.max(a, b))
        val within = for {
          i <- fresh.indices.iterator; j <- (i + 1 until fresh.size).iterator
        } yield CandPair(fresh(i), fresh(j))
        cross ++ within
      }
    }
  }

  /** [[candidatePairs]] with bounded state: event-time watermark
    * (`watermarkDelay`) + per-bucket TTL eviction. The production 100 TB
    * ingest shape — state is O(buckets touched inside the horizon), not
    * O(corpus); pairs within the horizon match the batch oracle exactly,
    * pairs spanning more than the horizon are the documented recall
    * loss. `banded` must come from [[bandedDocsWithTime]]. */
  def candidatePairsWithTTL(banded: DataFrame, watermarkDelay: String,
                            ttlMs: Long): Dataset[CandPair] = {
    import banded.sparkSession.implicits._
    banded.withWatermark("ts", watermarkDelay)
      .as[BandedDocT]
      .groupByKey(bd => (bd.band, bd.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(pairBucketTTL(ttlMs))
  }

  /** The already-ingested corpus's bucket membership in the form
    * `flatMapGroupsWithState` preloads: one (band, bucket) → member-ids
    * state row per occupied bucket — built with ONE batch banding pass
    * over the corpus, never re-run per increment. */
  def initialBucketState(corpus: DataFrame): org.apache.spark.sql.KeyValueGroupedDataset[(Int, String), Seq[Long]] =
    initialBucketStateFrom(bucketStateFrame(corpus))

  /** The banding + per-bucket aggregation half of [[initialBucketState]],
    * split out so a session can compute (and cache) it ONCE per corpus —
    * re-seeding a fresh stream then pays only the state-store load, not a
    * re-band of the whole corpus (the once-per-deployment cost the bench
    * otherwise re-measures on every run). */
  def bucketStateFrame(corpus: DataFrame): DataFrame =
    bandedDocs(corpus)
      .groupBy(col("band"), col("bucket"))
      // sorted + capped: the preloaded state honors the same hot-bucket
      // bound as the live operator (a degenerate corpus bucket must not
      // smuggle unbounded state in through the seed)
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1,
        MinHashLSH.MaxBucketSize).as("ids"))

  def initialBucketStateFrom(frame: DataFrame): org.apache.spark.sql.KeyValueGroupedDataset[(Int, String), Seq[Long]] = {
    import frame.sparkSession.implicits._
    frame.as[(Int, String, Seq[Long])]
      .groupByKey { case (band, bucket, _) => (band, bucket) }
      .mapValues { case (_, _, ids) => ids }
  }

  /** The PRODUCTION shape: stream an increment against bucket state
    * preloaded from the already-ingested corpus ([[initialBucketState]]).
    * Per increment the work is O(increment bands + touched buckets) — the
    * corpus is banded once at state load, never re-shuffled per batch,
    * which is exactly what the full-corpus replay in [[candidatePairs]]
    * cannot give you. Emits every pair with ≥1 increment member (the
    * same [[pairBucket]] logic — state docs never re-pair with each
    * other). */
  def candidatePairsFromState(
      banded: DataFrame,
      initial: org.apache.spark.sql.KeyValueGroupedDataset[(Int, String), Seq[Long]]): Dataset[CandPair] = {
    import banded.sparkSession.implicits._
    banded.as[BandedDoc]
      .groupByKey(bd => (bd.band, bd.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout, initial)(
        pairBucket(MinHashLSH.MaxBucketSize))
  }
}
