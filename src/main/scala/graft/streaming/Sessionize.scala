package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization with custom state: events group by user; a
  * session closes after a 30-minute inactivity gap (event-time timeout via
  * the watermark). `flatMapGroupsWithState` keeps O(1) state per active
  * user — the canonical Spark pattern for stateful stream logic the
  * built-in windows can't express.
  */
object Sessionize {
  case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)
  case class SessionState(start: Long, lastTs: Long, nEvents: Int, valueSum: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Int, value_sum: Double)

  val GapMs: Long = 30 * 60 * 1000L

  def sessions(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.nEvents, s.valueSum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= GapMs =>
                  cur = Some(s.copy(lastTs = math.max(s.lastTs, t), nEvents = s.nEvents + 1,
                    valueSum = s.valueSum + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.lastTs), s.nEvents, s.valueSum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + GapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
