package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/**
 * Stateful streaming sessionization: gap-based sessions as a
 * `transformWithState` operator with a processing-time timer.
 *
 * `TextOps`/`SessionOps.q16Sessionize` is the batch shadow of this operator
 * (lag + running sum over a window); this is the live form — state per user
 * is one open session (bounded), a session closes when the gap since its
 * last event exceeds `gapMs`, and a timer at (last trigger with data +
 * `gapMs`) flushes sessions for users that stop sending entirely (the part
 * a pure watermark join cannot express). Each user holds ONE timer: a
 * trigger with data moves it, because a batch runs its input rows before
 * its expired timers and a stale timer would flush the session that the
 * same batch just extended.
 *
 * Scale: state is O(active users), not O(events); closed sessions leave the
 * store immediately. Keys hash-partition across the cluster like any
 * stateful op. Requires the RocksDB state store provider.
 */
object Sessionize {

  final case class Event(userId: Long, tsMs: Long, eventId: Long)
  final case class OpenSession(startMs: Long, lastMs: Long, nEvents: Long)
  final case class ClosedSession(
      userId: Long, startMs: Long, endMs: Long, nEvents: Long, durationMs: Long)

  def sessions(
      events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.userId)
      .transformWithState(new Processor(gapMs), TimeMode.ProcessingTime(), OutputMode.Append())
  }

  private def closed(userId: Long, s: OpenSession): ClosedSession =
    ClosedSession(userId, s.startMs, s.lastMs, s.nEvents, s.lastMs - s.startMs)

  final class Processor(gapMs: Long)
      extends StatefulProcessor[Long, Event, ClosedSession] {

    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession](
        "open", Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long,
        events: Iterator[Event],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val out = Seq.newBuilder[ClosedSession]
      var cur = Option.when(open.exists())(open.get())
      events.toSeq.sortBy(e => (e.tsMs, e.eventId)).foreach { e =>
        cur match {
          case Some(s) if e.tsMs - s.lastMs <= gapMs =>
            cur = Some(s.copy(lastMs = math.max(s.lastMs, e.tsMs), nEvents = s.nEvents + 1))
          case Some(s) => // gap exceeded: close and start fresh
            out += closed(userId, s)
            cur = Some(OpenSession(e.tsMs, e.tsMs, 1))
          case None =>
            cur = Some(OpenSession(e.tsMs, e.tsMs, 1))
        }
      }
      cur.foreach { s =>
        open.update(s)
        // flush if the user stays quiet for a full gap of wall time
        getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(timerValues.getCurrentProcessingTimeInMs + gapMs)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(
        userId: Long,
        timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // user went quiet past the gap: flush the open session
      val out = Option.when(open.exists())(closed(userId, open.get()))
      open.clear()
      out.iterator
    }
  }
}
