package graft.streaming

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.AccumulatorV2

/**
 * The forwarding data path: Kafka-shaped records in → per-message dispatch
 * over a pluggable RPC boundary → ack / tiered-retry / DLQ routing →
 * queue-topic produce + commit watermark out.
 *
 * Architecture (Spark-first re-expression of the reference's
 * fetcher→processor→dispatcher pipeline, SURVEY.md §3.2):
 *
 *  - source: `spark.readStream.format("kafka")` (or any DataFrame with the
 *    Kafka schema — tests use MemoryStream); flow control via
 *    `maxOffsetsPerTrigger` from `JobSpec.flowControl`.
 *  - unwrap + filter: columnar (`ProcessorMessage.of` equivalent) — decode
 *    the DLQMetadata key envelope on wrapped topics, drop replication loops
 *    by `original_cluster` header.
 *  - dispatch: executor-side `mapPartitions` over executor-resident
 *    dispatch state — one dispatcher per (factory, security) and one shared
 *    pool of daemon threads, lent to every slice ([[DispatcherRegistry]],
 *    [[SliceExecutor]]) — with per-slice Vegas-adaptive concurrency and the
 *    real AckTrackingQueue computing the contiguous commit watermark
 *    out-of-order-safely.
 *  - route: pure model functions (code → escalation → destination).
 *  - produce: one Kafka batch write with the per-row `topic` column
 *    (Kafka sink routes natively); tests plug an in-memory topic store.
 *
 * At scale: each trigger is one Spark job with one stage — source scan →
 * `processSlice` → the queue store's write. The Kafka and graft-queue
 * sources plan one offset-ordered slice per topic-partition, so the ack
 * queue per (topic,partition) is executor-local state and there is no
 * shuffle in the hot path. Commit watermarks ride back on the write job's
 * task results ([[WatermarkAccumulator]]), not on a second job.
 */
object ForwardingEngine {

  /** Kafka-source-shaped record (includeHeaders=true layout). */
  final case class KafkaRecord(
      key: Array[Byte],
      value: Array[Byte],
      topic: String,
      partition: Int,
      offset: Long,
      timestampNs: Long,
      headers: Map[String, Array[Byte]])

  /** The unwrapped processor message: physical + logical identity + counters
    * (reference: uforwarder/.../processor/ProcessorMessage.java:34-127). */
  final case class ProcessorMessage(
      key: Array[Byte],
      value: Array[Byte],
      physicalTopic: String,
      physicalPartition: Int,
      physicalOffset: Long,
      physicalTimestampNs: Long,
      logicalTopic: String,
      logicalPartition: Int,
      logicalOffset: Long,
      logicalTimestampNs: Long,
      retryCount: Long,
      timeoutCount: Long,
      producerCluster: String)

  /** Terminal outcome of one message within a batch. */
  final case class Outcome(
      physicalTopic: String,
      physicalPartition: Int,
      physicalOffset: Long,
      code: String,
      destination: String, // "" = acked in place
      outKey: Array[Byte],
      outValue: Array[Byte],
      retryCount: Long,
      timeoutCount: Long,
      commitWatermark: Long) // per-partition watermark as of this task, -1 if unknown

  /** Unwrap a raw record into a ProcessorMessage
    * (reference: ProcessorMessage.of, ProcessorMessage.java:173-228). */
  def unwrap(spec: JobSpec, r: KafkaRecord): ProcessorMessage = {
    val cluster = r.headers.get("original_cluster")
      .map(b => new String(b, "UTF-8")).getOrElse("")
    if (spec.isWrappedTopic(r.topic)) {
      DlqMetadata.decode(r.key) match {
        case Some(m) =>
          ProcessorMessage(m.data, r.value, r.topic, r.partition, r.offset,
            r.timestampNs, m.topic, m.partition, m.offset, m.timestampNs,
            m.retryCount, m.timeoutCount, cluster)
        case None => // malformed key: treat as plain (defensive)
          ProcessorMessage(r.key, r.value, r.topic, r.partition, r.offset,
            r.timestampNs, r.topic, r.partition, r.offset, r.timestampNs,
            0L, 0L, cluster)
      }
    } else {
      ProcessorMessage(r.key, r.value, r.topic, r.partition, r.offset,
        r.timestampNs, r.topic, r.partition, r.offset, r.timestampNs,
        0L, 0L, cluster)
    }
  }

  /** Adapt a Kafka-schema source DataFrame (the `format("kafka")` /
    * `format("graft-queue")` includeHeaders=true layout) into the engine's
    * typed record stream. One adapter serves both sources — the engine
    * never knows which connector produced the frame. */
  def fromSourceFrame(df: DataFrame): Dataset[KafkaRecord] = {
    import df.sparkSession.implicits._
    // Kafka's wire format allows REPEATED header keys (routine for tracing
    // headers); a plain map_from_entries would throw on the first duplicate
    // and kill the query. Fold with filter-then-concat instead: last
    // occurrence wins, matching Headers.lastHeader semantics. O(n²) in the
    // header count, which is single digits per record.
    val dedupedHeaders = expr(
      """aggregate(headers, CAST(map() AS MAP<STRING, BINARY>),
        |  (acc, h) -> map_concat(map_filter(acc, (k, v) -> k != h.key), map(h.key, h.value)))""".stripMargin)
    df.select(
        col("key"), col("value"), col("topic"), col("partition"), col("offset"),
        (unix_micros(col("timestamp")) * 1000L).as("timestampNs"),
        when(col("headers").isNotNull, dedupedHeaders)
          .otherwise(typedLit(Map.empty[String, Array[Byte]])).as("headers"))
      .as[KafkaRecord]
  }

  /** Anti-replication-loop guard
    * (reference: OriginalClusterFilter.java:8-27). */
  def clusterFilter(localCluster: String)(m: ProcessorMessage): Boolean =
    m.producerCluster.isEmpty || m.producerCluster.equalsIgnoreCase(localCluster)

  /** Wrap a message for produce to a retry/DLQ/resq topic: the key becomes
    * the DLQMetadata envelope carrying logical identity + the (already
    * incremented) redelivery counters
    * (reference: ProcessorMessage.getKafkaDispatcherMessage:311-341). */
  def wrapForProduce(m: ProcessorMessage, newRetryCount: Long, newTimeoutCount: Long): (Array[Byte], Array[Byte]) = {
    val meta = DlqMetadata(
      retryCount = newRetryCount,
      topic = m.logicalTopic,
      partition = m.logicalPartition,
      offset = m.logicalOffset,
      timestampNs = m.logicalTimestampNs,
      data = if (m.key == null) Array.emptyByteArray else m.key,
      timeoutCount = newTimeoutCount)
    (DlqMetadata.encode(meta), m.value)
  }

  /** The kafka-* metadata headers sent with each RPC
    * (reference: GrpcRequest.java:15-23, ConsumerMetadata.java:17-22). */
  def rpcHeaders(spec: JobSpec, m: ProcessorMessage, attempt: Long): Map[String, String] = Map(
    "kafka-topic" -> m.logicalTopic,
    "kafka-consumergroup" -> spec.consumerGroup,
    "kafka-partition" -> m.logicalPartition.toString,
    "kafka-offset" -> m.logicalOffset.toString,
    "kafka-retrycount" -> m.retryCount.toString,
    "kafka-attemptcount" -> attempt.toString)

  /** This executor's dispatchers, lent to every slice. An idle sweep closes
    * what stopped jobs left behind even if no slice borrows again. */
  private[graft] lazy val residents: DispatcherRegistry = {
    val r = new DispatcherRegistry(() => System.nanoTime())
    new java.util.Timer("graft-dispatcher-sweep", true)
      .schedule(new java.util.TimerTask { def run(): Unit = r.evictIdle() }, 10000L, 10000L)
    r
  }

  /** This executor's dispatch threads: daemons, started on demand and
    * retired after 60 s idle. Slices reach it only through a
    * [[SliceExecutor]], which bounds each slice's share. */
  private[graft] lazy val dispatchPool: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-dispatch-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /**
   * Process one partition-slice of records: dispatch each through the
   * Dispatcher with ack tracking, then compute routing outcomes.
   *
   * Runs on executors. Records in a slice belong to contiguous offsets of
   * few (topic,partition)s; an AckTrackingQueue per (topic,partition)
   * computes the commit watermark exactly as the reference does. Once every
   * record is terminal, each outcome's watermark goes into `watermarks`.
   * The dispatcher and the dispatch threads are the executor's
   * ([[residents]], [[dispatchPool]]); the limiter, token buckets, ack
   * queues and latency tracker are the slice's own.
   */
  def processSlice(
      spec: JobSpec,
      dispatcherFactory: DispatcherFactory,
      localCluster: String,
      ackCapacity: Int = 10000,
      holDetector: HeadBlockingDetector = HeadBlockingDetector(),
      watermarks: Option[WatermarkAccumulator] = None)(
      records: Iterator[KafkaRecord]): Iterator[Outcome] = {
    import java.util.concurrent.{CompletableFuture, TimeUnit}

    val poolSize = {
      val mi = spec.flowControl.maxInflightMessages
      if (mi >= Double.MaxValue) 32 else math.max(1, math.min(mi.toInt, 64))
    }
    val dispatcher = residents.borrow(dispatcherFactory, spec.security)
    val pool = new SliceExecutor(dispatchPool, poolSize)
    val vegas = new VegasLimiter(initialLimit = math.min(100, poolSize * 4),
      maxLimit = poolSize * 8)
    val latency = new LatencyTracker()
    val lock = new Object // guards queues/tokens/results across completions
    val queues = scala.collection.mutable.Map.empty[(String, Int), AckTrackingQueue]
    val tokens = scala.collection.mutable.Map.empty[(String, Int), TokenBucket]
    val results = scala.collection.mutable.ArrayBuffer.empty[Outcome]
    val inflightCfs = scala.collection.mutable.Map.empty[(String, Int, Long), CompletableFuture[DispatchCode]]
    val pending = scala.collection.mutable.ArrayBuffer.empty[CompletableFuture[Void]]

    /** terminal handling for one completed (or canceled) dispatch — runs on
      * whichever thread completes the future first (out-of-order acks). */
    def complete(idx: Int, r: KafkaRecord, m: ProcessorMessage, mapped: DispatchCode): Unit =
      lock.synchronized {
        val q = queues((r.topic, r.partition))
        val tb = tokens((r.topic, r.partition))
        val (code: DispatchCode, finalTimeout: Long) = mapped match {
          case DispatchCode.Commit | DispatchCode.Skip =>
            tb.credit(1) // successes credit the DLQ token bucket
            (mapped, m.timeoutCount)
          case DispatchCode.Backoff =>
            val esc = Routing.escalateBackoff(spec, r.topic, m.timeoutCount,
              tb.tryAcquire(1))
            (esc, m.timeoutCount + 1) // handleTimeout increments the counter
          case other => (other, m.timeoutCount)
        }
        val newRetryCount = m.retryCount + 1 // incremented before every produce
        // resq-origin timeout escalates to INVALID = "retry in memory"
        // (reference: handleTimeout), but the dispatch loop has already
        // finished by completion time — re-produce to the resq topic so the
        // message is redelivered rather than silently acked away
        val dest =
          if (code == DispatchCode.Invalid && spec.isResqTopic(r.topic)) spec.resqTopic
          else Routing.destinationTopic(spec, code, newRetryCount).getOrElse("")
        val (outKey, outValue) =
          if (dest.nonEmpty) wrapForProduce(m, newRetryCount, finalTimeout)
          else (null, null)
        // at-least-once: if the downstream produce fails the batch retries
        // wholesale; within the batch, nack precedes the queue produce
        if (dest.nonEmpty) q.nack(r.offset + 1)
        val wm = q.ack(r.offset + 1)
        val watermark = if (wm >= 0) wm else q.highestCommittedOffset
        while (results.size <= idx) results += null
        results(idx) = Outcome(r.topic, r.partition, r.offset, code.name, dest,
          outKey, outValue, m.retryCount, finalTimeout, watermark)
        inflightCfs.remove((r.topic, r.partition, r.offset))
        lock.notifyAll() // wake the producer waiting on capacity/permits
      }

    var idx = 0
    try {
      records.foreach { r =>
      val key = (r.topic, r.partition)
      val q = lock.synchronized(queues.getOrElseUpdate(key, new AckTrackingQueue(ackCapacity)))
      lock.synchronized(tokens.getOrElseUpdate(key, new TokenBucket(1000)))
      val m = unwrap(spec, r)

      // admission backpressure: wait for ack-queue capacity AND a Vegas
      // permit. Completions notify; if the head of line blocks a nearly-
      // all-acked queue, cancel it (poison pill -> retry route) exactly like
      // HeadBlockingDetector + MessageStub.cancel
      // (reference: BlockingQueueStubManager.java:43-376)
      lock.synchronized {
        val waitStart = System.nanoTime()
        var lastDetect = 0L
        while (q.isFull || !vegas.tryAcquire()) {
          // throttle the O(capacity) head-of-line scan to ~10/s: it runs
          // under the completion lock, and scanning every 1ms wake-up would
          // starve the very completions that free capacity
          val nowNs = System.nanoTime()
          if (q.isFull && nowNs - lastDetect > 100000000L) {
            lastDetect = nowNs
            holDetector.detect(q).foreach { headOffset =>
              if (q.cancel(headOffset + 1)) {
                inflightCfs.get((r.topic, r.partition, headOffset))
                  .foreach(_.complete(DispatchCode.Retry)) // resolve pending RPC now
              }
            }
          }
          lock.wait(1)
          // elapsed WALL time, not wake-up count: frequent notifyAll would
          // otherwise trip this long before 60 real seconds
          require(System.nanoTime() - waitStart < 60000000000L,
            "ack queue wedged: no completions for 60s")
        }
        q.receive(r.offset)
      }
      val myIdx = idx
      idx += 1

      if (!clusterFilter(localCluster)(m)) {
        vegas.release(0L, dropped = false)
        complete(myIdx, r, m, DispatchCode.Dropped) // dropped = acked immediately
      } else {
        val cf = new CompletableFuture[DispatchCode]()
        lock.synchronized(inflightCfs.put((r.topic, r.partition, r.offset), cf))
        val t0 = System.nanoTime()
        pool.execute(() => {
          // in-memory retry of INVALID outcomes (mirrors the Failsafe gRPC
          // retry policy, ProcessorImpl.java:645-706; bounded attempts
          // instead of wall-clock backoff to keep batches finite)
          try {
            var attempt = 0L
            var mapped: DispatchCode = DispatchCode.Invalid
            var continueRetry = true
            while (continueRetry && !cf.isDone) {
              val res = dispatcher.dispatch(DispatchRequest(m.value, rpcHeaders(spec, m, attempt)))
              mapped = Responses.codeFor(res.statusCode, res.overdue, res.action)
              attempt += 1
              continueRetry = mapped == DispatchCode.Invalid && attempt < 3
            }
            cf.complete(mapped)
            ()
          } catch { case e: Throwable => cf.complete(DispatchCode.Invalid); () }
        })
        // the barrier must await the *handler*, not just the dispatch result
        pending += cf.thenAccept { code =>
          val rtt = System.nanoTime() - t0
          latency.record(rtt)
          vegas.release(rtt, dropped = false)
          complete(myIdx, r, m, code)
        }
      }
      }
      CompletableFuture.allOf(pending.toSeq: _*).get(10, TimeUnit.MINUTES)
    }
    // the completion barrier runs inside the same try: on the success path
    // it awaits every handler; on any failure (wedge require, upstream
    // throw, task kill) the finally drops the slice's queued dispatches and
    // hands the dispatcher back. Running dispatches finish by their RPC
    // deadline; the shared threads are never interrupted.
    finally {
      pool.close()
      residents.giveBack(dispatcherFactory, spec.security)
    }
    // degraded-consumer health signal (reference: LatencyTracker median-vs-
    // timeout check feeding KafkaPipelineIssue)
    if (latency.isDegraded(spec.rpc.rpcTimeoutMs * 1000000L))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"[graft] ${spec.jobGroupId}: median dispatch latency " +
          s"${latency.stats.medianNanos / 1000000} ms exceeds rpc timeout ${spec.rpc.rpcTimeoutMs} ms")
    val out = results.filter(_ != null)
    watermarks.foreach(acc => out.foreach(o =>
      acc.add((o.physicalTopic, o.physicalPartition) -> o.commitWatermark)))
    out.iterator
  }

  /** Batch-process a Dataset of records (the foreachBatch body), in the
    * source's own partitions. The Kafka and graft-queue sources give each
    * topic-partition one offset-ordered slice; other inputs may split a
    * topic-partition across tasks, which is still correct because the
    * watermarks are committed only after the whole batch is terminal. The
    * task-local sort (no exchange) feeds each ack queue in offset order. */
  def processBatch(
      spec: JobSpec,
      dispatcherFactory: DispatcherFactory,
      localCluster: String,
      records: Dataset[KafkaRecord],
      watermarks: Option[WatermarkAccumulator] = None): Dataset[Outcome] = {
    import records.sparkSession.implicits._
    records
      .sortWithinPartitions("topic", "partition", "offset")
      .mapPartitions(processSlice(spec, dispatcherFactory, localCluster,
        watermarks = watermarks))
  }

  /**
   * Start the streaming pipeline: source stream → processBatch → produce
   * routed records to the queue store + expose outcomes.
   */
  def run(
      spec: JobSpec,
      dispatcherFactory: DispatcherFactory,
      localCluster: String,
      stream: Dataset[KafkaRecord],
      store: QueueStore,
      checkpointDir: String,
      queryName: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      committer: Option[OffsetCommitter] = None): StreamingQuery = {
    // default trigger: continuous micro-batches — a long-running forwarding
    // job keeps consuming as data arrives (AvailableNow would snapshot the
    // offsets at start and self-terminate, which only fits drain jobs)
    val watermarks = committer.map { _ =>
      val acc = new WatermarkAccumulator
      stream.sparkSession.sparkContext.register(acc, "graft.commitWatermarks")
      acc
    }
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[KafkaRecord], batchId: Long) =>
        // the store's one action is the batch's only job: it dispatches and
        // harvests the watermarks. Commit the ACK watermark per
        // (topic,partition) — the reference's semantic (commit the acked
        // prefix, not the fetch position) — only once that job succeeded
        try {
          store.produce(processBatch(spec, dispatcherFactory, localCluster, batch, watermarks))
          for (c <- committer; acc <- watermarks) { c.offer(acc.value); c.tick() }
        } finally watermarks.foreach(_.reset())
        ()
      }
      .start()
  }
}

/** One RPC to the consumer service (the gRPC boundary). */
final case class DispatchRequest(payload: Array[Byte], headers: Map[String, String])

/** Consumer's verdict: gRPC status name + optional kafka-action trailer +
  * whether the deadline had passed (overdue). */
final case class DispatchResult(statusCode: String, action: Option[String], overdue: Boolean)

trait Dispatcher extends java.io.Closeable {
  def dispatch(req: DispatchRequest): DispatchResult
  override def close(): Unit = ()
}

/** Serializable factory — one Dispatcher per executor per (factory,
  * security), lent to every slice by [[DispatcherRegistry]] (mirrors the
  * per-pipeline gRPC channel pool, which outlives any one batch). The
  * registry keys on the factory's value equality, so a factory must be a
  * case class or an object: two equal factories must be interchangeable,
  * and a factory without value equality gets a new dispatcher in every
  * task. A dispatcher must serve concurrent callers and re-dial a dead
  * connection itself. Security-aware factories would override the two-arg
  * form to build TLS channels / verify service identities from the job's
  * SecurityConfig (reference: job.proto:370-379; the fetcher side keys
  * channel pools by (cluster, isSecure) — ClusterAndIsSecureKey.java); no
  * factory here does, so dispatcher TLS is not implemented. */
trait DispatcherFactory extends Serializable {
  def create(): Dispatcher
  def create(security: graft.model.SecuritySpec): Dispatcher = create()
}

/** Lends one [[Dispatcher]] per (factory, security) to every slice that
  * asks for it. A slice never closes what it borrowed; an entry that no
  * slice has held for [[DispatcherRegistry.IdleNs]] is closed and removed,
  * and the next borrow creates a new one. The dispatchers re-dial dead or
  * retired connections themselves, so the registry keeps no health state. */
private[graft] final class DispatcherRegistry(clock: () => Long) {
  private final class Entry(val dispatcher: Dispatcher) {
    var borrowers = 0
    var lastUsedNs = 0L
  }
  private val entries = scala.collection.mutable.HashMap.empty[(DispatcherFactory, SecuritySpec), Entry]

  def borrow(factory: DispatcherFactory, security: SecuritySpec): Dispatcher = {
    evictIdle()
    synchronized {
      val e = entries.getOrElseUpdate((factory, security), new Entry(factory.create(security)))
      e.borrowers += 1
      e.lastUsedNs = clock()
      e.dispatcher
    }
  }

  def giveBack(factory: DispatcherFactory, security: SecuritySpec): Unit = synchronized {
    entries.get((factory, security)).foreach { e =>
      e.borrowers -= 1
      e.lastUsedNs = clock()
    }
  }

  /** Close and remove every entry no slice has held for the idle window. */
  def evictIdle(): Unit = {
    val idle = synchronized {
      val now = clock()
      val gone = entries.filter { case (_, e) => e.borrowers == 0 && now - e.lastUsedNs > DispatcherRegistry.IdleNs }
      entries --= gone.keys
      gone.values.map(_.dispatcher)
    }
    idle.foreach(d => try d.close() catch { case scala.util.control.NonFatal(_) => () })
  }
}

private[graft] object DispatcherRegistry {
  val IdleNs: Long = 60L * 1000000000L
}

/** One slice's share of the executor's shared dispatch pool: at most
  * `limit` of its tasks run at once, the rest wait in its own queue.
  * `close` drops what is still queued; what runs finishes on its own. */
private[graft] final class SliceExecutor(shared: java.util.concurrent.Executor, limit: Int)
    extends java.util.concurrent.Executor {
  private val queued = new java.util.ArrayDeque[Runnable]()
  private var running = 0
  private var closed = false

  def execute(r: Runnable): Unit = {
    val start = synchronized {
      if (closed) false
      else if (running < limit) { running += 1; true }
      else { queued.addLast(r); false }
    }
    if (start) shared.execute(() => drain(r))
  }

  private def drain(first: Runnable): Unit = {
    var next = first
    while (next != null) {
      try next.run() catch { case scala.util.control.NonFatal(_) => () }
      next = synchronized {
        val n = if (closed) null else queued.pollFirst()
        if (n == null) running -= 1
        n
      }
    }
  }

  def close(): Unit = synchronized { closed = true; queued.clear() }
}

/** Where routed (retry/DLQ/resq) records go. In production this is the Kafka
  * batch write with the per-row `topic` column; tests use an in-memory map. */
trait QueueStore extends Serializable {
  /** Run exactly ONE action over every partition of `outcomes`. Evaluating
    * `outcomes` is what dispatches the batch and harvests its commit
    * watermarks, so that action is the trigger's whole data path; a second
    * action would dispatch every message again, and skipping a partition
    * would leave its messages undispatched. */
  def produce(outcomes: Dataset[ForwardingEngine.Outcome]): Unit
}

/** Max commit watermark per (topic, partition), collected from the tasks of
  * the job that evaluates a batch's outcomes. Max-merge is idempotent, so a
  * retried or speculative task adding the same watermark again changes
  * nothing. Synchronized: tasks merge on the scheduler thread while the
  * foreachBatch thread reads and resets. */
final class WatermarkAccumulator
    extends AccumulatorV2[((String, Int), Long), Map[(String, Int), Long]] {
  private val wms = scala.collection.mutable.Map.empty[(String, Int), Long]
  override def isZero: Boolean = synchronized(wms.isEmpty)
  override def copy(): WatermarkAccumulator = synchronized {
    val c = new WatermarkAccumulator
    c.wms ++= wms
    c
  }
  override def reset(): Unit = synchronized(wms.clear())
  /** Watermarks below 0 mean "unknown" and are ignored. */
  override def add(v: ((String, Int), Long)): Unit = synchronized {
    val (tp, wm) = v
    if (wm >= 0 && wm > wms.getOrElse(tp, -1L)) wms(tp) = wm
  }
  override def merge(other: AccumulatorV2[((String, Int), Long), Map[(String, Int), Long]]): Unit =
    other.value.foreach(add)
  override def value: Map[(String, Int), Long] = synchronized(wms.toMap)
}
