package graft

import graft.streaming.{CommitTarget, OffsetCommitter, WatermarkAccumulator}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Commit cadence / only-if-changed / keepalive policy, mirrored from
  * AbstractKafkaFetcherThread.java:407-501. Fake clock, fake target. */
class OffsetCommitterSpec extends AnyFunSuite {

  private class Recorder extends CommitTarget {
    val calls = mutable.ArrayBuffer.empty[(Long, Map[(String, Int), Long])]
    var now = 0L
    override def commit(group: String, offsets: Map[(String, Int), Long]): Unit = {
      calls += ((now, offsets)); ()
    }
  }

  private def mk(cadence: Long = 1000L, keepalive: Long = 60000L) = {
    val rec = new Recorder
    val c = new OffsetCommitter(rec, "g", cadence, keepalive, () => rec.now)
    (rec, c)
  }
  private val tp = ("t", 0)

  test("first offer commits immediately; cadence then rate-limits") {
    val (rec, c) = mk()
    c.offer(Map(tp -> 5L))
    assert(c.tick() == Map(tp -> 5L))
    // 500ms later: new progress but cadence not yet due
    rec.now = 500L
    c.offer(Map(tp -> 7L))
    assert(c.tick().isEmpty)
    // 1s after the last commit: due, commits the LATEST watermark
    rec.now = 1000L
    assert(c.tick() == Map(tp -> 7L))
    assert(rec.calls.map(_._1) == Seq(0L, 1000L))
  }

  test("unchanged offsets do not re-commit within the keepalive window") {
    val (rec, c) = mk()
    c.offer(Map(tp -> 5L)); c.tick()
    rec.now = 2000L
    assert(c.tick().isEmpty, "no progress, no keepalive due -> no commit")
    rec.now = 30000L
    assert(c.tick().isEmpty)
    assert(rec.calls.size == 1)
  }

  test("keepalive re-commits the same offsets after 60s of silence") {
    val (rec, c) = mk()
    c.offer(Map(tp -> 5L)); c.tick()
    rec.now = 60000L
    assert(c.tick() == Map(tp -> 5L), "keepalive must re-assert liveness")
    assert(rec.calls.size == 2)
    // and the keepalive itself resets the window
    rec.now = 61000L
    assert(c.tick().isEmpty)
  }

  test("watermarks are monotone: stale offers never roll progress back") {
    val (rec, c) = mk(cadence = 0L)
    c.offer(Map(tp -> 9L)); c.tick()
    c.offer(Map(tp -> 4L)) // out-of-order batch result
    rec.now = 1L
    assert(c.tick().isEmpty, "stale offer must not commit")
    c.offer(Map(tp -> 10L))
    rec.now = 2L
    assert(c.tick() == Map(tp -> 10L))
    assert(c.committedOffsets == Map(tp -> 10L))
  }

  test("negative watermarks (unknown) are ignored") {
    val (rec, c) = mk()
    c.offer(Map(tp -> -1L))
    assert(c.tick().isEmpty)
    assert(rec.calls.isEmpty)
  }

  test("only changed partitions commit; untouched ones ride keepalive") {
    val (rec, c) = mk(cadence = 0L)
    val tp2 = ("t", 1)
    c.offer(Map(tp -> 5L, tp2 -> 3L)); c.tick()
    c.offer(Map(tp -> 8L))
    rec.now = 1L
    assert(c.tick() == Map(tp -> 8L), "only the advanced partition commits")
  }

  test("watermark accumulator: max-merge, idempotent re-add, reset") {
    val (a0, a1, b0) = (("t", 0), ("t", 1), ("u", 0))
    val task1 = new WatermarkAccumulator
    task1.add(a0 -> 5L); task1.add(a0 -> 3L); task1.add(a1 -> 7L)
    task1.add(b0 -> -1L) // unknown watermark: ignored
    assert(task1.value == Map(a0 -> 5L, a1 -> 7L))
    val task2 = new WatermarkAccumulator
    task2.add(a0 -> 9L); task2.add(a1 -> 2L)
    val merged = new WatermarkAccumulator
    merged.merge(task1); merged.merge(task2)
    assert(merged.value == Map(a0 -> 9L, a1 -> 7L))
    // a retried or speculative task reporting the same watermarks again
    merged.merge(task1); merged.merge(task2.copy())
    assert(merged.value == Map(a0 -> 9L, a1 -> 7L))
    merged.add(a0 -> 9L)
    assert(merged.value == Map(a0 -> 9L, a1 -> 7L))
    assert(!merged.isZero)
    merged.reset()
    assert(merged.isZero && merged.value.isEmpty)
    assert(task2.copyAndReset().isZero && task2.value.nonEmpty)
  }
}
