package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

/**
 * Cross-batch ack-tracking as a Structured Streaming state operator: a
 * stream of receive/ack/nack/cancel events keyed by (topic, partition)
 * folds through a per-partition ack queue held in the Spark state store,
 * emitting a commit-watermark update whenever the contiguous prefix
 * advances and, through [[signals]], a head-of-line diversion order when
 * the detector fires.
 *
 * The engine's in-batch path (ForwardingEngine.processSlice) keeps an
 * [[AckTrackingQueue]] task-local because a micro-batch completes all its
 * messages; this operator is the cross-trigger form for deployments where
 * acks arrive on a separate stream (e.g. a consumer-ack topic) decoupled
 * from delivery (SURVEY.md §2.8).
 *
 * Built on `transformWithState` (Spark 4.x) so a 10,000-entry queue (the
 * reference's max ack-commit skew, application-uforwarder-worker.yaml:112)
 * is never deserialized whole: the queue is decomposed into typed state
 * primitives the RocksDB state store updates incrementally:
 *
 *   - `scalars`  ValueState — the watermark/bound scalars + counts;
 *   - `nodes`    MapState[offset, (status, next)] — the reference's
 *     LinkedAckTrackingQueue (LinkedAckTrackingQueue.java:22-264)
 *     re-expressed as a singly-linked list IN the state store: receive
 *     appends a node (one map put + one tail-link update), ack flips one
 *     node, and the commit-watermark purge walks exactly the acked prefix,
 *     deleting as it goes;
 *   - `pending`  ListState — receives (and their follow-up events)
 *     deferred by capacity backpressure, replayed next trigger.
 *
 * Per-trigger state-store traffic is O(events + purged), independent of
 * queue depth; the head-of-line walk runs only once the detector's load and
 * acked thresholds hold. Semantics are those of the pure [[AckTrackingQueue]]
 * + [[HeadBlockingDetector]] — the spec replays random event streams through
 * both and asserts equal output per trigger.
 */
object AckStateTws {

  /** One ack-protocol event. kind: receive | ack | nack | cancel.
    * ack/nack/cancel carry offset+1 per the Kafka commit convention. */
  final case class AckEvent(topic: String, partition: Int, offset: Long, kind: String)

  final case class WatermarkUpdate(
      topic: String,
      partition: Int,
      commitOffset: Long,
      inflight: Int,
      highestReceived: Long)

  /** Output of [[signals]]: a watermark advance or a head-of-line diversion
    * order. kind = "watermark" | "divert". A divert carries the stuck
    * MESSAGE offset the caller must fetch, re-produce to its retry/DLQ
    * route, and then ack back through the event stream — the reference's
    * cancel → poison-pill diversion (BlockingQueueStubManager.java:43-376;
    * cancel→code mapping ProcessorImpl.java:750-757). */
  final case class AckSignal(
      kind: String,
      topic: String,
      partition: Int,
      commitOffset: Long,
      inflight: Int,
      highestReceived: Long,
      divertOffset: Long)

  /** Bridge from the engine's per-message outcomes to the ack-event
    * protocol: every outcome is a receive followed by an ack, because the
    * engine resolves every message within its batch — terminal codes ack in
    * place, routed codes (destination != "") are resolved by the produce of
    * their re-wrapped copy, and even INVALID is acked after its bounded
    * in-memory retries (ForwardingEngine.complete). The decoupled
    * deployment this operator exists for replaces the ack half with events
    * from the consumer's own ack stream; this bridge is the degenerate
    * same-batch form and must reproduce the engine's watermark exactly. */
  def fromOutcomes(outcomes: Dataset[ForwardingEngine.Outcome]): Dataset[AckEvent] = {
    val spark = outcomes.sparkSession
    import spark.implicits._
    outcomes.flatMap { o =>
      Seq(
        AckEvent(o.physicalTopic, o.physicalPartition, o.physicalOffset, "receive"),
        AckEvent(o.physicalTopic, o.physicalPartition, o.physicalOffset + 1, "ack"))
    }
  }

  /** Commit-watermark advances of the event stream; requires the RocksDB
    * state store provider (a transformWithState requirement). */
  def updates(
      events: Dataset[AckEvent],
      capacity: Int = 10000): Dataset[WatermarkUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    fold(events, capacity, None)
      .map(s => WatermarkUpdate(s.topic, s.partition, s.commitOffset, s.inflight, s.highestReceived))
  }

  /**
   * [[updates]] plus live head-of-line detection: after each trigger's
   * fold, the detector inspects the queue — if the (nearly) full queue is
   * mostly acked with an unacked head, the lowest cancelable offset is
   * CANCELED in the queue state and a divert signal is emitted. The
   * canceled offset leaves the cancelable set, so the detector won't
   * re-order the same diversion on the next trigger; the watermark advances
   * once the caller's re-produce confirm arrives as an ack event.
   */
  def signals(
      events: Dataset[AckEvent],
      capacity: Int = 10000,
      detector: HeadBlockingDetector = HeadBlockingDetector()): Dataset[AckSignal] =
    fold(events, capacity, Some(detector))

  private def fold(
      events: Dataset[AckEvent],
      capacity: Int,
      detector: Option[HeadBlockingDetector]): Dataset[AckSignal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.topic, e.partition))
      .transformWithState(new Processor(capacity, detector), TimeMode.None(), OutputMode.Append())
  }

  /**
   * Run the mitigation loop as a streaming query: fold the ack-event
   * stream, emit watermarks, and hand each signal to `onSignal` on the
   * driver (the per-trigger signal count is bounded by the partition count,
   * so the collect is control-plane-sized by construction). The caller's
   * divert handler fetches the stuck record, produces it to its retry/DLQ
   * route, and feeds the produce-confirm back as an ack event — after
   * which the next trigger's fold advances the watermark past the pill.
   */
  def runMitigation(
      events: Dataset[AckEvent],
      capacity: Int,
      detector: HeadBlockingDetector,
      checkpointDir: String,
      queryName: String)(onSignal: AckSignal => Unit): StreamingQuery =
    signals(events, capacity, detector)
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[AckSignal], _: Long) =>
        batch.collect()
          .sortBy(s => (s.topic, s.partition, s.kind, s.commitOffset, s.divertOffset))
          .foreach(onSignal)
        ()
      }
      .start()

  /** Watermark/bound scalars. head/tail delimit the in-flight linked list
    * (None = -1 when empty); count is the in-flight size (MapState has no
    * O(1) size) and acked how many of those are acked, the detector's two
    * inputs. First-receive initialization mirrors AckTrackingQueue.receive. */
  final case class Scalars(
      highestReceived: Long,
      highestAcked: Long,
      committed: Long,
      head: Long,
      tail: Long,
      count: Int,
      acked: Int)

  /** One linked-list node: AckStatus rank (AckTrackingQueue.AckStatus) and
    * the next in-flight offset (-1 = list tail). */
  final case class Node(status: Int, next: Long)

  private val Nil_ = -1L
  private val Unset = 0
  private val Nacked = 1
  private val Canceled = 2
  private val Acked = 3

  final class Processor(capacity: Int, detector: Option[HeadBlockingDetector])
      extends StatefulProcessor[(String, Int), AckEvent, AckSignal] {

    @transient private var scalars: ValueState[Scalars] = _
    @transient private var nodes: MapState[Long, Node] = _
    @transient private var pending: ListState[AckEvent] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      scalars = getHandle.getValueState[Scalars](
        "scalars", Encoders.product[Scalars], TTLConfig.NONE)
      nodes = getHandle.getMapState[Long, Node](
        "nodes", Encoders.scalaLong, Encoders.product[Node], TTLConfig.NONE)
      pending = getHandle.getListState[AckEvent](
        "pending", Encoders.product[AckEvent], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: (String, Int),
        rows: Iterator[AckEvent],
        timerValues: TimerValues): Iterator[AckSignal] = {
      var s =
        if (scalars.exists()) scalars.get()
        else Scalars(Nil_, Nil_, Nil_, Nil_, Nil_, 0, 0)

      def validate(offset: Long): Boolean =
        offset > s.committed && offset <= s.highestReceived + 1

      // receive: append a node; one put + one tail-link update
      def receive(offset: Long): Boolean = {
        if (offset <= s.highestReceived) return false
        if (s.count >= capacity) return false
        if (s.highestReceived == Nil_)
          s = s.copy(committed = offset, highestAcked = offset)
        nodes.updateValue(offset, Node(Unset, Nil_))
        if (s.count == 0) s = s.copy(head = offset)
        else nodes.updateValue(s.tail, nodes.getValue(s.tail).copy(next = offset))
        s = s.copy(tail = offset, highestReceived = offset, count = s.count + 1)
        true
      }

      // ack: flip one node; purge walk touches exactly the acked prefix
      def ack(offset: Long): Long = {
        if (!validate(offset)) return AckTrackingQueue.CannotAck
        val k = offset - 1
        if (!nodes.containsKey(k)) return AckTrackingQueue.CannotAck
        val node = nodes.getValue(k)
        if (node.status == Acked) return AckTrackingQueue.DuplicatedAck
        nodes.updateValue(k, node.copy(status = Acked))
        s = s.copy(acked = s.acked + 1)
        if (s.highestAcked < offset) s = s.copy(highestAcked = offset)
        if (nodes.getValue(s.head).status != Acked) return AckTrackingQueue.InMemoryAckOnly
        var committed = s.committed
        var cur = s.head
        var walking = true
        while (walking && cur != Nil_) {
          val n = nodes.getValue(cur)
          if (n.status == Acked) {
            committed = cur + 1
            nodes.removeKey(cur)
            s = s.copy(count = s.count - 1, acked = s.acked - 1)
            cur = n.next
          } else walking = false
        }
        s = s.copy(committed = committed, head = cur,
          tail = if (cur == Nil_) Nil_ else s.tail)
        committed
      }

      def nack(offset: Long): Unit =
        if (validate(offset) && nodes.containsKey(offset - 1)) {
          val n = nodes.getValue(offset - 1)
          if (n.status == Unset) nodes.updateValue(offset - 1, n.copy(status = Nacked))
        }

      def cancel(offset: Long): Boolean =
        validate(offset) && nodes.containsKey(offset - 1) && {
          val n = nodes.getValue(offset - 1)
          val cancelable = n.status == Unset || n.status == Nacked
          if (cancelable) nodes.updateValue(offset - 1, n.copy(status = Canceled))
          cancelable
        }

      // lowest cancelable offset: the first Unset/Nacked node from the head
      def lowestCancelable(): Long = {
        var cur = s.head
        while (cur != Nil_) {
          val n = nodes.getValue(cur)
          if (n.status == Unset || n.status == Nacked) return cur
          cur = n.next
        }
        Nil_
      }

      // replay discipline: deferred events from prior triggers lead (events
      // within a group arrive unordered across the batch), receives replay
      // in offset order for the in-order-receive invariant, and an event
      // for a deferred message defers with it
      val out = scala.collection.mutable.ArrayBuffer.empty[AckSignal]
      val deferred = scala.collection.mutable.ArrayBuffer.empty[AckEvent]
      val deferredMsgs = scala.collection.mutable.Set.empty[Long]
      val prior = if (pending.exists()) pending.get().toSeq else Seq.empty
      val incoming = prior ++ rows
      val (receives, others) = incoming.partition(_.kind == "receive")
      receives.sortBy(_.offset).foreach { e =>
        // once one receive defers, every later one must too (in-order
        // invariant); a refused receive with spare capacity is a stale
        // duplicate and is dropped
        if (deferredMsgs.nonEmpty) { deferred += e; deferredMsgs += e.offset }
        else if (!receive(e.offset) && s.count >= capacity) {
          deferred += e; deferredMsgs += e.offset
        }
      }
      var lastCommitted = s.committed
      others.sortBy(_.offset).foreach { e =>
        // an ack/nack/cancel for a deferred message (events carry offset+1)
        // defers with it — applying it now would be silently ignored and the
        // message would stay unresolvable forever
        if (deferredMsgs.contains(e.offset - 1)) deferred += e
        else e.kind match {
          case "ack" =>
            val wm = ack(e.offset)
            if (wm >= 0 && wm != lastCommitted) {
              lastCommitted = wm
              out += AckSignal("watermark", key._1, key._2, wm, s.count, s.highestReceived,
                AckTrackingQueue.InitialOffset)
            }
          case "nack" => nack(e.offset)
          case "cancel" => cancel(e.offset)
          case _ =>
        }
      }
      detector.foreach { d =>
        val ackedFraction = if (s.count == 0) 0.0 else s.acked.toDouble / s.count
        if (d.blocked(s.count.toDouble / capacity, ackedFraction)) {
          val off = lowestCancelable()
          if (off != Nil_ && cancel(off + 1))
            out += AckSignal("divert", key._1, key._2, AckTrackingQueue.InitialOffset,
              s.count, s.highestReceived, off)
        }
      }
      scalars.update(s)
      if (deferred.nonEmpty) pending.put(deferred.toArray)
      else if (pending.exists()) pending.clear()
      out.iterator
    }
  }
}
