package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** One-shot stream execution for the registered streaming queries:
  * `Trigger.AvailableNow` + `awaitTermination` instead of the test-utility
  * `processAllAvailable` + `stop` handshake. AvailableNow processes every
  * file already present (still honoring `maxFilesPerTrigger`, so
  * multi-batch state handoff is exercised exactly as before, including
  * the final watermark-advancing batch that flushes timed-out state) and
  * then TERMINATES ITSELF — the query's lifetime is data-paced, with no
  * idle trigger polling between "all data processed" and the caller's
  * stop() for host load to stretch (round-14 driver bench:
  * stream_file_source 4.4× its floor purely under loadavg 11). This is
  * also the production shape for incremental ingest: a cron-launched run
  * drains what arrived and exits, instead of parking a forever-running
  * query per table. */
object Drain {

  /** State partitions for a stateful stream whose micro-batches are small.
    * A stateful query fixes its state-store partition count to
    * `spark.sql.shuffle.partitions` at START, and the session default
    * (one per core: 32 on the driver host) paid 32 state commits per
    * trigger for state of dozens of rows (round 18); production jobs set
    * this per stream anyway. */
  val SmallStatePartitions = 8

  /** Run `w` to completion. With `statePartitions`, the session's
    * `spark.sql.shuffle.partitions` holds that count only while the query
    * starts: the query clones the session at start, so its stateful
    * operators keep the count, while the caller's session — and every
    * `foreachBatch` body that reads it — keeps its own value throughout
    * the drain. Returns the terminated query (its progress stays
    * readable). */
  def availableNow[T](spark: SparkSession, w: DataStreamWriter[T],
                      statePartitions: Option[Int] = None): StreamingQuery = {
    def start() = w.trigger(Trigger.AvailableNow()).start()
    val q = statePartitions.fold(start()) { n =>
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try start() finally spark.conf.set(key, prev)
    }
    // stop() in finally is a no-op on clean self-termination; it only
    // fires to tear down a query whose awaitTermination threw
    try q.awaitTermination() finally q.stop()
    q
  }
}
