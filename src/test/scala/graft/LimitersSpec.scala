package graft

import graft.streaming.{LatencyTracker, TokenBucket, VegasLimiter}
import org.scalatest.funsuite.AnyFunSuite

class LimitersSpec extends AnyFunSuite {

  test("token bucket caps credits and spends atomically") {
    val tb = new TokenBucket(3)
    assert(!tb.tryAcquire(1))
    tb.credit(10)
    assert(tb.available == 3) // capped
    assert(tb.tryAcquire(2))
    assert(tb.tryAcquire(1))
    assert(!tb.tryAcquire(1))
  }

  test("vegas limiter grows on fast RTTs and shrinks on queueing") {
    val v = new VegasLimiter(initialLimit = 4, maxLimit = 100)
    // fast identical RTTs -> queueing estimate 0 -> limit grows
    (1 to 20).foreach { _ =>
      assert(v.tryAcquire())
      v.release(1000000L, dropped = false)
    }
    assert(v.currentLimit > 4)
    val grown = v.currentLimit
    // 10x slower RTTs -> queueing estimate ~limit -> shrink
    (1 to 20).foreach { _ =>
      assert(v.tryAcquire())
      v.release(10000000L, dropped = false)
    }
    assert(v.currentLimit < grown)
  }

  test("vegas limiter bounds inflight at the limit") {
    val v = new VegasLimiter(initialLimit = 2, maxLimit = 2)
    assert(v.tryAcquire() && v.tryAcquire())
    assert(!v.tryAcquire())
    v.release(1000L, dropped = false)
    assert(v.tryAcquire())
  }

  test("vegas drop backs off multiplicatively") {
    val v = new VegasLimiter(initialLimit = 100, maxLimit = 100)
    assert(v.tryAcquire())
    v.release(0L, dropped = true)
    assert(v.currentLimit == 90)
  }

  test("latency tracker reports median/p99/max over the window") {
    val lt = new LatencyTracker(100)
    (1L to 100L).foreach(i => lt.record(i * 1000000L))
    val s = lt.stats
    assert(s.count == 100)
    assert(s.maxNanos == 100000000L)
    assert(s.medianNanos == 51000000L) // element at index n/2 of the sorted window
    assert(s.p99Nanos == 100000000L)
    assert(lt.isDegraded(50000000L))
    assert(!lt.isDegraded(60000000L))
  }

  test("latency tracker ring buffer evicts oldest") {
    val lt = new LatencyTracker(4)
    Seq(100L, 200L, 300L, 400L, 500L).foreach(lt.record)
    val s = lt.stats
    assert(s.count == 4)
    assert(s.maxNanos == 500L) // 100 evicted
  }
}
