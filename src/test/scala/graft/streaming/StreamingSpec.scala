package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** MemoryStream-driven specs for the streaming operators: windowed
  * aggregation with watermark, watermark-scoped dedup, and gap
  * sessionization with event-time timeout. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  test("windowed aggregation emits finalized windows after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventAggregates.windowedCounts(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("winagg").outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, ts(1), 1, "click", 1.5), Ev(2, ts(5), 2, "click", 2.5), Ev(3, ts(12), 1, "view", 1.0))
    q.processAllAvailable()
    in.addData(Ev(4, ts(60), 3, "click", 9.0)) // advances watermark past the first windows
    q.processAllAvailable()
    val out = spark.table("winagg").collect()
    q.stop()
    val click = out.find(r => r.getAs[String]("event_type") == "click" &&
      r.getAs[Long]("n_events") == 2)
    assert(click.isDefined, s"expected finalized click window, got ${out.toSeq}")
    assert(math.abs(click.get.getAs[Double]("value_sum") - 4.0) < 1e-9)
  }

  test("dropDuplicatesWithinWatermark removes replayed event ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventAggregates.dedupedEvents(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 2.0))
    q.processAllAvailable()
    in.addData(Ev(1, ts(3), 1, "click", 1.0)) // replay inside watermark
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n == 2, s"expected 2 unique events, got $n")
  }

  test("stream-static enrichment broadcast-joins the dimension per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "AUTOMOBILE"), (2L, "MACHINERY")).toDF("user_id", "segment")
    val in = MemoryStream[Ev]
    val q = EventAggregates.enrichedSegmentCounts(in.toDF(), dim, "10 minutes")
      .writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Complete()).start()
    in.addData(
      Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "view", 2.0),
      Ev(3, ts(3), 2, "click", 4.0),
      Ev(4, ts(4), 99, "click", 8.0)) // no dimension row → dropped by the join
    q.processAllAvailable()
    val out = spark.table("enrich").collect()
      .map(r => r.getAs[String]("segment") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("value_sum"))).toMap
    q.stop()
    assert(out == Map("AUTOMOBILE" -> ((2L, 3.0)), "MACHINERY" -> ((1L, 4.0))))
  }

  test("streaming windowed agg equals the batch mirror on real testdata") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r =>
        Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4))).toSeq
    val in = MemoryStream[Ev]
    val q = EventAggregates.windowedCounts(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("weq")
      .outputMode(OutputMode.Complete()).start()
    in.addData(rows)
    q.processAllAvailable()
    val streamed = spark.table("weq")
      .select("window_start", "event_type", "n_events", "value_sum")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    val batch = graft.Tables.events(spark, sf("sf0.001"))
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(25,10)")).cast("double").as("value_sum"))
      .select(col("window.start"), col("event_type"), col("n_events"), col("value_sum"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("stream-stream interval join attributes purchases to in-horizon clicks only") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[Ev]
    val src = in.toDF()
    val q = StreamJoin.attribution(
        src.where(col("event_type") === "click"),
        src.where(col("event_type") === "purchase"),
        horizonMinutes = 30, watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("attr").outputMode(OutputMode.Append()).start()
    in.addData(
      Ev(1, ts(0), 1, "click", 1.0),
      Ev(2, ts(10), 1, "purchase", 5.0), // within 30 min of click 1 → match
      Ev(3, ts(45), 1, "purchase", 7.0), // 45 min after click 1 → outside its horizon
      Ev(4, ts(5), 2, "purchase", 9.0), // user 2 never clicked → no match
      Ev(5, ts(40), 1, "click", 2.0)) // 5 min before purchase 3 → match (5,3)
    q.processAllAvailable()
    in.addData(Ev(9, ts(500), 3, "click", 0.0)) // advance both watermarks
    q.processAllAvailable()
    val pairs = spark.table("attr").collect()
      .map(r => (r.getAs[Long]("trigger_id"), r.getAs[Long]("conversion_id"))).toSet
    q.stop()
    assert(pairs == Set((1L, 2L), (5L, 3L)), s"got $pairs")
  }

  test("stream-stream join equals the batch mirror on real testdata") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rows = graft.Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect().map(r =>
        Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4))).toSeq
    val in = MemoryStream[Ev]
    val src = in.toDF()
    val q = StreamJoin.attribution(
        src.where(col("event_type") === "click"),
        src.where(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("attreq").outputMode(OutputMode.Append()).start()
    in.addData(rows)
    q.processAllAvailable()
    val streamed = spark.table("attreq")
      .select("trigger_id", "conversion_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    val batch = StreamJoin.attribution(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"))
      .select("trigger_id", "conversion_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: onlyStream=${(streamed -- batch).take(3)} onlyBatch=${(batch -- streamed).take(3)}")
  }

  test("salted two-phase aggregation is bit-identical to the direct aggregation") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf("sf0.001"))
    val salted = graft.sqlx.Skew.saltedCountSum(ev, Seq("event_type"), "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(graft.sqlx.Exact.dec(col("value"))).cast("double").as("value_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
  }

  test("sessionization closes a session after the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sessionize.Event]
    val q = Sessionize.sessions(in.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Append()).start()
    in.addData(
      Sessionize.Event(1, ts(0), "click", 1.0),
      Sessionize.Event(1, ts(10), "view", 2.0))
    q.processAllAvailable()
    // 40-minute gap then more activity far ahead to advance watermark + timeout
    in.addData(Sessionize.Event(1, ts(50), "click", 3.0))
    q.processAllAvailable()
    in.addData(Sessionize.Event(2, ts(200), "click", 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sessions").as[Sessionize.Session].collect()
    q.stop()
    assert(sessions.exists(s => s.user_id == 1 && s.n_events == 2 && math.abs(s.value_sum - 3.0) < 1e-9),
      s"expected closed first session, got ${sessions.toSeq}")
  }
}
