package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.OutputMode

/** [[Drain.availableNow]]'s scoped state partitions: the count holds for
  * the stream's stateful operators only, never for the caller's session
  * while the drain runs. */
class DrainSpec extends SparkSpec {

  test("state partitions reach the stream's stateful operator, not the caller's session") {
    val key = "spark.sql.shuffle.partitions"
    val sessionValue = spark.conf.get(key)
    assert(sessionValue != Drain.SmallStatePartitions.toString,
      "the spec needs a session value distinct from the stream's")
    val dir = java.nio.file.Files.createTempDirectory("graft_drain_in")
    val input = dir.resolve("events.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf("sf0.001"), "events.parquet"), input)
    try drainChecks(dir.toString, key, sessionValue)
    finally { java.nio.file.Files.delete(input); java.nio.file.Files.delete(dir) }
  }

  private def drainChecks(dir: String, key: String, sessionValue: String): Unit = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = Drain.availableNow(spark,
      EventAggregates.windowedCounts(graft.Tables.eventsStream(spark, dir))
        .writeStream.outputMode(OutputMode.Complete())
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          // the caller's session, read while the drain runs; the batch is
          // consumed whole, as every state-store commit requires
          seen.add(spark.conf.get(key))
          batch.collect(); ()
        },
      Some(Drain.SmallStatePartitions))
    assert(!seen.isEmpty, "the stream ran no batch")
    assert(seen.toArray.forall(_ == sessionValue),
      s"the caller's session read $seen during the drain, not $sessionValue")
    assert(spark.conf.get(key) == sessionValue)
    val ops = q.lastProgress.stateOperators
    assert(ops.nonEmpty, "the stream has no stateful operator")
    assert(ops.forall(_.numShufflePartitions == Drain.SmallStatePartitions),
      s"state partitions: ${ops.map(_.numShufflePartitions).toSeq}")
  }
}
