package graft.streaming

import scala.collection.mutable

/**
 * Per-topic-partition out-of-order ack/nack tracker computing the contiguous
 * commit watermark: `ack(offset)` returns the highest offset+1 such that every
 * earlier received offset is acked (safe to commit to the broker), or a
 * negative sentinel.
 *
 * Behavioral contract mirrored from uForwarder's ack queue
 * (reference: uforwarder/.../worker/processor/AckTrackingQueue.java:42-133,
 * LinkedAckTrackingQueue.java:22-264):
 *   - offsets are received in increasing order; out-of-order receives ignored
 *   - ack/nack take offset+1 (Kafka commit convention)
 *   - ack → CannotAck (out of range / never received), DuplicatedAck,
 *     InMemoryAckOnly (head not yet acked), or the new commit watermark
 *   - state machine per offset: Unset → Nacked → Canceled → Acked
 *   - bounded capacity: `isFull` signals admission backpressure
 *     (the caller stops feeding instead of blocking — micro-batch style)
 *
 * The engine's one ack state machine: ForwardingEngine.processSlice keeps
 * one per (topic, partition) of its slice, guarded by the slice's
 * completion lock. Not thread-safe on its own.
 */
object AckTrackingQueue {
  val InitialOffset: Long = -1L
  val CannotAck: Long = -1L
  val DuplicatedAck: Long = -2L
  val InMemoryAckOnly: Long = -3L

  sealed abstract class AckStatus
  object AckStatus {
    case object Unset    extends AckStatus
    case object Nacked   extends AckStatus
    case object Canceled extends AckStatus
    case object Acked    extends AckStatus
  }
}

final class AckTrackingQueue(val capacity: Int = 10000) {
  import AckTrackingQueue._

  // insertion-ordered: offsets arrive in increasing order
  private val statuses = mutable.LinkedHashMap.empty[Long, AckStatus]
  private val cancelable = mutable.LinkedHashSet.empty[Long]

  var highestReceivedOffset: Long = InitialOffset
  var highestCommittedOffset: Long = InitialOffset

  def size: Int = statuses.size
  def isFull: Boolean = statuses.size >= capacity
  def loadFactor: Double = statuses.size.toDouble / capacity

  /** Marks `offset` as received (in-flight). Returns false when ignored
    * (out-of-order or at capacity — caller must backpressure). */
  def receive(offset: Long): Boolean = {
    if (offset <= highestReceivedOffset) return false
    if (isFull) return false
    if (highestReceivedOffset == InitialOffset) highestCommittedOffset = offset
    statuses.put(offset, AckStatus.Unset)
    cancelable.add(offset)
    highestReceivedOffset = offset
    true
  }

  private def validate(offset: Long): Boolean =
    offset > highestCommittedOffset && offset <= highestReceivedOffset + 1

  /** Acks `offset` (= message offset + 1). Returns the commit watermark when
    * the head advances, else a sentinel. */
  def ack(offset: Long): Long = {
    if (!validate(offset)) return CannotAck
    val key = offset - 1
    statuses.get(key) match {
      case None => CannotAck
      case Some(AckStatus.Acked) => DuplicatedAck
      case Some(prev) =>
        statuses.update(key, AckStatus.Acked)
        if (prev != AckStatus.Canceled) cancelable.remove(key)
        // purge the acked prefix; watermark = last purged offset + 1
        if (statuses.head._2 == AckStatus.Acked) {
          val it = statuses.iterator
          var committed = highestCommittedOffset
          var purge = true
          while (purge && it.hasNext) {
            val (o, s) = it.next()
            if (s == AckStatus.Acked) committed = o + 1
            else purge = false
          }
          while (statuses.nonEmpty && statuses.head._1 < committed)
            statuses.remove(statuses.head._1)
          highestCommittedOffset = committed
          committed
        } else InMemoryAckOnly
    }
  }

  /** Nacks `offset` (= message offset + 1): the message must be re-produced
    * to a retry/DLQ topic, after which the caller acks it. */
  def nack(offset: Long): Boolean = {
    if (!validate(offset)) return false
    statuses.get(offset - 1) match {
      case Some(AckStatus.Unset) => statuses.update(offset - 1, AckStatus.Nacked); true
      case _ => false
    }
  }

  /** Begins cancellation of `offset` (head-of-line poison-pill mitigation). */
  def cancel(offset: Long): Boolean = {
    if (!validate(offset)) return false
    statuses.get(offset - 1) match {
      case None | Some(AckStatus.Acked) | Some(AckStatus.Canceled) => false
      case Some(_) =>
        statuses.update(offset - 1, AckStatus.Canceled)
        cancelable.remove(offset - 1)
        true
    }
  }

  /** Lowest offset still eligible for cancellation, or InitialOffset. */
  def lowestCancelableOffset: Long =
    if (cancelable.isEmpty) InitialOffset else cancelable.head

  /** Fraction of in-flight offsets already acked (head-of-line detection input). */
  def ackedFraction: Double = {
    if (statuses.isEmpty) return 0.0
    statuses.valuesIterator.count(_ == AckStatus.Acked).toDouble / statuses.size
  }
}

/**
 * Head-of-line blocking detector: when the queue is nearly full
 * (loadFactor ≥ critical) and most in-flight messages are already acked
 * (≥ minAckPercent), the unacked head is blocking the commit watermark —
 * cancel the lowest cancelable offset and divert it to the retry/DLQ route.
 *
 * (reference: uforwarder/.../worker/processor/HeadBlockingDetector.java:20-100)
 */
final case class HeadBlockingDetector(
    criticalLoadFactor: Double = 0.9,
    minAckPercent: Double = 0.9) {
  def detect(q: AckTrackingQueue): Option[Long] = {
    if (q.loadFactor >= criticalLoadFactor && q.ackedFraction >= minAckPercent) {
      val o = q.lowestCancelableOffset
      if (o != AckTrackingQueue.InitialOffset) Some(o) else None
    } else None
  }
}
