package graft.streaming

/**
 * Flow-control primitives for the dispatch sink.
 *
 * These run per-executor inside mapPartitions/foreachBatch tasks — worker-
 * local by design, like the reference's limiters
 * (reference: the uforwarder worker limiter package).
 */

/**
 * Token bucket credited by successes and spent to admit timeout→DLQ
 * escalation (at-most `capacity` outstanding credits).
 *
 * (reference: uforwarder/.../limiter/WindowedTokenLimiter.java,
 *  DlqDispatchManager.java:14-60)
 */
final class TokenBucket(val capacity: Long) {
  private var tokens: Long = 0L
  def credit(n: Long): Unit = synchronized { tokens = math.min(capacity, tokens + n) }
  def tryAcquire(n: Long): Boolean = synchronized {
    if (tokens >= n) { tokens -= n; true } else false
  }
  def available: Long = synchronized(tokens)
}

/**
 * TCP-Vegas-style adaptive concurrency limiter: grow the in-flight limit
 * while observed latency stays near the observed minimum, shrink when the
 * queueing estimate (limit * (1 - minRtt/rtt)) exceeds beta.
 *
 * Mirrors the behavioral envelope of the reference's Vegas limiter
 * (reference: uforwarder/.../limiter/VegasAdaptiveInflightLimiter.java:10-54,
 *  AdaptiveInflightLimiter.java:14-100): initial 100, bounded by maxInflight,
 * non-blocking acquire with a dry-run mode.
 */
final class VegasLimiter(
    val initialLimit: Int = 100,
    val maxLimit: Int = 1000,
    val alpha: Int = 3,
    val beta: Int = 6) {

  private var limit: Int = math.min(initialLimit, maxLimit)
  private var inflight: Int = 0
  private var minRttNanos: Long = Long.MaxValue

  def currentLimit: Int = synchronized(limit)

  /** Non-blocking permit acquisition. */
  def tryAcquire(): Boolean = synchronized {
    if (inflight < limit) { inflight += 1; true } else false
  }

  /** Record a completed call and adapt the limit. */
  def release(rttNanos: Long, dropped: Boolean): Unit = synchronized {
    inflight = math.max(0, inflight - 1)
    if (dropped) {
      limit = math.max(1, (limit * 0.9).toInt)
      return
    }
    if (rttNanos > 0) {
      if (rttNanos < minRttNanos) minRttNanos = rttNanos
      val queued = limit * (1.0 - minRttNanos.toDouble / rttNanos.toDouble)
      if (queued < alpha) limit = math.min(maxLimit, limit + 1)
      else if (queued > beta) limit = math.max(1, limit - 1)
    }
  }
}

/**
 * Bounded-window RPC latency statistics: median / p99 / max over the last
 * `capacity` samples, used by the dispatch sink to spot latency regressions
 * against the configured rpc timeout
 * (reference: uforwarder/.../dispatcher/LatencyTracker.java).
 * Ring buffer, O(capacity log capacity) per stats read, worker-local.
 */
final class LatencyTracker(val capacity: Int = 1024) {
  private val ring = new Array[Long](capacity)
  private var n = 0
  private var pos = 0

  def record(nanos: Long): Unit = synchronized {
    ring(pos) = nanos
    pos = (pos + 1) % capacity
    if (n < capacity) n += 1
  }

  final case class Stats(count: Int, medianNanos: Long, p99Nanos: Long, maxNanos: Long)

  def stats: Stats = synchronized {
    if (n == 0) return Stats(0, 0L, 0L, 0L)
    val xs = java.util.Arrays.copyOf(ring, n)
    java.util.Arrays.sort(xs)
    Stats(n, xs(n / 2), xs(math.min(n - 1, (n * 99) / 100)), xs(n - 1))
  }

  /** True when median latency exceeds the given budget — the signal the
    * reference uses to flag a degraded downstream consumer. */
  def isDegraded(budgetNanos: Long): Boolean = {
    val s = stats
    s.count > 0 && s.medianNanos > budgetNanos
  }
}
