package perfbench

import java.nio.ByteBuffer
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model._
import graft.sources.GraftBroker
import graft.streaming._
import org.apache.spark.sql.SparkSession

/**
 * The forwarding workload: a seeded, single-threaded open-loop generator
 * produces into graft-queue; the engine started through
 * `JobLauncher.launch` dispatches over multiplexed HTTP/2 to a consumer
 * stub that answers at once from a seeded verdict plan and stamps the
 * first receipt of each message; routed records go back through the DSv2
 * sink; an `OffsetCommitter` commits the ack watermark.
 */
object Forward {
  val Partitions = 8
  val LoRate = 1000
  /** Below what the engine sustains for this mix on a 4-vCPU host. At the
    * reference's 4,000 msgs/s per worker the backlog grew through each hi
    * window, so latency measured how long the window ran. */
  val HiRate = 2000

  /** Verdict plan codes: the levels at which a message is delivered and
    * its final fate. Level = `kafka-retrycount` of the delivery. */
  object Plan {
    val Ok = 0; val OkTier1 = 1; val OkTier2 = 2; val Exhaust = 3; val Stash = 4; val Skip = 5
    def finalLevel(p: Int): Int = p match { case OkTier1 => 1; case OkTier2 | Exhaust => 2; case _ => 0 }
    def inDlq(p: Int): Boolean = p == Exhaust || p == Stash
    def reaches(p: Int, level: Int): Boolean = level <= finalLevel(p)
  }

  /** Seeded message source. Message i is a pure function of (seed, i), so
    * any prefix or sample can be regenerated for the self-test. */
  final class Gen(seed: Long) {
    val payloadBytes = 1024
    // Zipf(1.35) over 1024 keys: about 40% of traffic lands on the hottest
    // of the 8 partitions, so one task sets each batch's time
    private val zipfCdf: Array[Double] = {
      val w = (1 to 1024).map(r => math.pow(r.toDouble, -1.35))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private def rng(i: Int) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

    def key(i: Int): Array[Byte] = {
      val rank = java.util.Arrays.binarySearch(zipfCdf, rng(i).nextDouble()) match {
        case k if k >= 0 => k
        case k => -k - 1
      }
      s"z$rank".getBytes("UTF-8")
    }
    def partition(k: Array[Byte]): Int = math.floorMod(java.util.Arrays.hashCode(k), Partitions)
    def payload(i: Int): Array[Byte] = {
      val r = rng(i); r.nextLong(); r.nextLong()
      val b = new Array[Byte](payloadBytes)
      r.nextBytes(b)
      ByteBuffer.wrap(b).putLong(0, i.toLong)
      b
    }
    /** About 20% of first deliveries fail retryably; a seeded subset fails
      * again on each tier so about 2% exhaust into the DLQ; 1% are stashed
      * straight to the DLQ and 1% answered as already processed (skip). */
    def plan(i: Int): Int = {
      val r = rng(i); r.nextLong()
      val u = r.nextDouble()
      if (u < 0.01) Plan.Stash else if (u < 0.02) Plan.Skip else if (u < 0.04) Plan.Exhaust
      else if (u < 0.11) Plan.OkTier2 else if (u < 0.22) Plan.OkTier1 else Plan.Ok
    }
    /** Digest of messages [0, n): keys, payloads, partitions, plan. */
    def digest(n: Int): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0 until n).foreach { i =>
        val k = key(i); md.update(k); md.update(payload(i)); md.update(partition(k).toByte)
        md.update(plan(i).toByte)
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** One open-loop window: nanoTime bounds and message ids [from, to). */
  final case class Window(start: Long, end: Long, from: Int, to: Int) {
    def count: Int = to - from
  }

  /** Same seed -> byte-identical messages and plan; another seed -> not. */
  def genSelfTest(seed: Long): Boolean = {
    val a = new Gen(seed).digest(2000)
    a == new Gen(seed).digest(2000) && a != new Gen(seed + 1).digest(2000)
  }

  /** Consumer stub ledger: the first receipt per (message, level) and the
    * number of deliveries. Index = message id carried in the payload. */
  final class Ledger(cap: Int, gen: Gen) {
    val plan = new Array[Byte](cap)
    val crc = new Array[Int](cap)
    val part = new Array[Int](cap)
    val off = new Array[Long](cap)
    val due = new Array[Long](cap)
    val phase = new Array[Byte](cap)
    val first: Array[AtomicLongArray] = Array.fill(3)(new AtomicLongArray(cap))
    val count: Array[AtomicIntegerArray] = Array.fill(3)(new AtomicIntegerArray(cap))
    val terminal = new AtomicIntegerArray(8) // per phase
    val bad = new AtomicLong
    val receipts = new AtomicLong
    @volatile var n = 0

    def handle(req: DispatchRequest): DispatchResult = {
      val now = System.nanoTime()
      val p = req.payload
      val id = if (p != null && p.length >= 8) ByteBuffer.wrap(p).getLong(0) else -2L
      if (id == -1L) return DispatchResult(GrpcStatus.OK, None, overdue = false) // tick
      receipts.incrementAndGet()
      val level = req.headers.get("kafka-retrycount").map(_.toInt).getOrElse(-1)
      if (id < 0 || id >= n || level < 0 || level > 2) {
        bad.incrementAndGet(); return DispatchResult(GrpcStatus.OK, None, overdue = false)
      }
      val i = id.toInt
      val c = new CRC32; c.update(p)
      if (p.length != gen.payloadBytes || c.getValue.toInt != crc(i) ||
          !req.headers.get("kafka-partition").contains(part(i).toString) ||
          !req.headers.get("kafka-offset").contains(off(i).toString))
        bad.incrementAndGet()
      if (count(level).incrementAndGet(i) == 1) {
        first(level).set(i, now)
        if (level == Plan.finalLevel(plan(i))) terminal.incrementAndGet(phase(i).toInt)
      }
      plan(i).toInt match {
        case Plan.Ok => DispatchResult(GrpcStatus.OK, None, overdue = false)
        case Plan.Stash => DispatchResult(GrpcStatus.OK, Some(KafkaAction.Stash), overdue = false)
        case Plan.Skip => DispatchResult(GrpcStatus.ALREADY_EXISTS, None, overdue = false)
        case pl if level < Plan.finalLevel(pl) || pl == Plan.Exhaust =>
          DispatchResult(GrpcStatus.RESOURCE_EXHAUSTED, None, overdue = false)
        case _ => DispatchResult(GrpcStatus.OK, None, overdue = false)
      }
    }
  }

  def run(spark: SparkSession, root: String, seed: Long, seconds: Int, rec: Record): Unit = {
    val gen = new Gen(seed)
    rec.check("generator_self_test", genSelfTest(seed))
    val main = "fwd-main"
    val group = "perfbench"
    val t1 = TopicNames.retry(main, group, 1)
    val t2 = TopicNames.retry(main, group, 2)
    val dlq = TopicNames.dlq(main, group)
    val tick = "fwd-tick"
    val consumed = Seq(main, t1, t2)
    GraftBroker.reset()
    Seq(main, t1, t2, dlq).foreach(GraftBroker.createTopic(_, Partitions))
    GraftBroker.createTopic(tick, 1)

    val warmN = 2000
    // set-up is repeated: the engine is launched, warmed and stopped
    // setupRuns times (each launch resumes from the group's committed
    // offsets); the last launch stays up for the measured phase
    val setupRuns = 3
    // three rounds of (backlog drain, lo window, hi window) fill --seconds;
    // each metric pools the rounds, which are spread over the run, so it
    // depends less on one disturbed stretch of a shared host
    val rounds = 3
    val backlogN = 1000 * seconds / rounds
    val loS = math.max(1.0, 0.2 * seconds)
    val hiS = math.max(1.0, 0.24 * seconds)
    val cap = setupRuns * warmN + rounds * (backlogN + (LoRate * loS).toInt + (HiRate * hiS).toInt) + 16
    val led = new Ledger(cap, gen)
    val server = new Http2ConsumerServer(led.handle)
    var query: org.apache.spark.sql.streaming.StreamingQuery = null
    val triggers = new TriggerRows
    spark.streams.addListener(triggers)
    try {
      val spec = JobSpec(
        jobGroupId = s"${main}__$group", cluster = "local-cluster", topic = main,
        consumerGroup = group,
        rpc = RpcSpec("grpc://consumer", s"kafka.consumerproxy.$group/$main",
          rpcTimeoutMs = 30000L, maxRpcTimeouts = 2, dlqTopic = dlq),
        retryEnabled = true,
        retryTiers = Seq(RetryTier(t1, 200L, 1), RetryTier(t2, 400L, 1)))
      val http2 = MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port, 30000L, connections = 1)
      val factory: DispatcherFactory = if (Trace.on) TimedDispatcherFactory(http2) else http2
      val target = new RecordingCommitTarget(new BrokerCommitTarget, spark)
      def launch(k: Int) = {
        val stream = ForwardingEngine.fromSourceFrame(spark.readStream.format("graft-queue")
          .option("topics", (consumed :+ tick).mkString(","))
          .option("groupid", group)
          .option("startingoffsets", "group")
          .option("visibilitydelays", s"$t1:200,$t2:400")
          .load())
        JobLauncher.launch(spark, spec, Some(stream), s"$root/checkpoint-$k",
          JobLauncher.Deps(factory, BrokerQueueStore, Some(new OffsetCommitter(target, group))))
      }

      // --- generator -------------------------------------------------------
      val producedPerPart = new Array[Long](Partitions)
      var next = 0
      var lateMaxNs = 0L
      var produceNs = 0L
      val tickId = ByteBuffer.allocate(8).putLong(-1L).array()

      /** Produce messages [next, next+n) due at `dueOf(j)`; one bulk append
        * per partition, as a batching producer does. */
      def produce(n: Int, ph: Int, dueOf: Int => Long): Unit = {
        val byPart = Array.fill(Partitions)(mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte])])
        (0 until n).foreach { j =>
          val i = next + j
          val k = gen.key(i); val p = gen.partition(k); val v = gen.payload(i)
          val c = new CRC32; c.update(v)
          led.plan(i) = gen.plan(i).toByte; led.crc(i) = c.getValue.toInt
          led.part(i) = p; led.off(i) = producedPerPart(p); producedPerPart(p) += 1
          led.due(i) = dueOf(j); led.phase(i) = ph.toByte
          byPart(p) += ((k, v))
        }
        next += n
        led.n = next
        val t0 = System.nanoTime()
        byPart.indices.foreach(p => if (byPart(p).nonEmpty) GraftBroker.produceAll(main, p, byPart(p)))
        produceNs += System.nanoTime() - t0
      }

      /** Open loop: message j of the phase is due at start + j/rate,
        * whatever the engine is doing. */
      def openLoop(ph: Int, rate: Int, secs: Double, sample: () => Unit): (Long, Int, Int) = {
        val total = (rate * secs).toInt
        val from = next
        val start = System.nanoTime()
        var sent = 0
        var lastSample = start
        while (sent < total) {
          val now = System.nanoTime()
          val dueCount = math.min(total, ((now - start) * rate / 1000000000L).toInt + 1)
          if (dueCount > sent) {
            val s0 = sent
            produce(dueCount - sent, ph, j => start + (s0 + j).toLong * 1000000000L / rate)
            lateMaxNs = math.max(lateMaxNs, System.nanoTime() - (start + s0.toLong * 1000000000L / rate))
            sent = dueCount
          }
          if (now - lastSample > 100000000L) { sample(); lastSample = now }
          java.util.concurrent.locks.LockSupport.parkNanos(200000L)
        }
        (start, from, next)
      }

      def committedAll(topic: String, ends: Map[Int, Long]): Boolean =
        ends.forall { case (p, e) => GraftBroker.committed(group, topic, p).getOrElse(0L) >= e }

      /** Wait until every message of phase `ph` reached its final level and
        * the group committed the main log up to `mainEnds` and every tier
        * to its end. The engine commits only inside a trigger, so while
        * waiting a tick record every 100 ms keeps triggers coming. */
      def settle(ph: Int, expected: Int, mainEnds: Map[Int, Long], timeoutS: Double): Long = {
        val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
        var lastTick = 0L
        while (true) {
          val now = System.nanoTime()
          if (led.terminal.get(ph) >= expected && committedAll(main, mainEnds) &&
              committedAll(t1, GraftBroker.endOffsets(t1)) &&
              committedAll(t2, GraftBroker.endOffsets(t2)))
            return now
          if (now > deadline) {
            throw new IllegalStateException(s"phase $ph did not settle in ${timeoutS}s: " +
              s"${led.terminal.get(ph)}/$expected terminal, lag ${GraftBroker.lag(group, main)}")
          }
          if (now - lastTick > 100000000L) {
            GraftBroker.produceAll(tick, 0, Seq((tickId, tickId))); lastTick = now
          }
          Thread.sleep(2)
        }
        0L
      }

      // --- set-up: engine launched, warm traffic delivered and committed ---
      rec.info("engine_start_s", (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      val setups = (0 until setupRuns).map { k =>
        val t0 = System.nanoTime()
        query = launch(k)
        openLoop(0, 2000, warmN / 2000.0, () => ())
        settle(0, next, GraftBroker.endOffsets(main), 120)
        val s = (System.nanoTime() - t0) / 1e9
        if (k < setupRuns - 1) { query.stop(); query = null }
        s
      }
      setups.zipWithIndex.foreach { case (s, k) => rec.info(s"engine_setup_s.$k", s) }
      rec.setupS = rec.infos("session_s") + Stats.median(setups)

      val sparkRows = rec.sparkRows
      sparkRows.foreach(_.start())
      val measureStart = System.nanoTime()
      val measureFrom = next
      val conns0 = server.acceptedConnections.get
      val steal0 = Diag.stealJiffies
      val gc0 = Diag.gcMs

      // --- rounds of backlog drain, lo window, hi window ------------------------
      val lagSamples = mutable.ArrayBuffer.empty[Double]
      def sampleLag(): Unit = lagSamples += GraftBroker.lag(group, main).values.sum.toDouble
      def window(ph: Int, rate: Int, secs: Double, sample: () => Unit): Window = {
        val (start, from, to) = openLoop(ph, rate, secs, sample)
        Window(start, System.nanoTime(), from, to)
      }
      var drained = 0; var loN = 0; var hiN = 0
      val perRound = (0 until rounds).map { _ =>
        // a backlog produced at once into the warmed pipeline
        val b0 = next
        produce(backlogN, 1, _ => 0L)
        val drainStart = System.nanoTime()
        (b0 until next).foreach(i => led.due(i) = drainStart)
        val cpu0 = Diag.cpuNs
        drained += backlogN
        val drainEnd = settle(1, drained, GraftBroker.endOffsets(main), 150)
        val drainCpu = Diag.cpuNs - cpu0
        val lo = window(2, LoRate, loS, () => ())
        val hi = window(3, HiRate, hiS, sampleLag)
        val backlog = GraftBroker.lag(group, main).values.sum.toDouble
        loN += lo.count; hiN += hi.count
        settle(2, loN, GraftBroker.endOffsets(main), 120)
        settle(3, hiN, GraftBroker.endOffsets(main), 120)
        ((drainEnd - drainStart) / 1e9, drainCpu, lo, hi, backlog)
      }
      val drainS = perRound.map(_._1).sum
      val drainCpu = perRound.map(_._2).sum
      val loWins = perRound.map(_._3); val hiWins = perRound.map(_._4)
      val backlogEnd = Stats.median(perRound.map(_._5))
      val measureEnd = System.nanoTime()
      sparkRows.foreach(_.stop())
      query.processAllAvailable()

      // --- correctness: fate ledger against the plan -------------------------
      val produced = next
      var failed = led.bad.get()
      var expectedDeliveries = 0L
      var deliveries = 0L
      (0 until produced).foreach { i =>
        val pl = led.plan(i).toInt
        var ok = true
        (0 to 2).foreach { l =>
          val c = led.count(l).get(i)
          deliveries += c
          if (Plan.reaches(pl, l)) { expectedDeliveries += 1; if (c == 0) ok = false }
          else if (c != 0) ok = false
        }
        if (!ok) failed += 1
      }
      // every routed key decodes back to the message it came from
      val idOf = mutable.HashMap.empty[(Int, Long), Int]
      (0 until produced).foreach(i => idOf((led.part(i), led.off(i))) = i)
      var codecNs = 0L
      var codecN = 0L
      def routed(topic: String): Map[Int, Int] = {
        val seen = mutable.HashMap.empty[Int, Int]
        GraftBroker.endOffsets(topic).foreach { case (p, e) =>
          GraftBroker.fetch(topic, p, 0L, e).foreach { r =>
            val t0 = System.nanoTime()
            val m = DlqMetadata.decode(r.key)
            val back = m.map(DlqMetadata.encode)
            codecNs += System.nanoTime() - t0; codecN += 1
            m match {
              case Some(meta) if meta.topic == main && back.exists(java.util.Arrays.equals(_, r.key)) &&
                  idOf.contains((meta.partition, meta.offset)) =>
                val id = idOf((meta.partition, meta.offset))
                if (!java.util.Arrays.equals(meta.data, gen.key(id))) failed += 1
                seen(id) = seen.getOrElse(id, 0) + 1
              case _ => failed += 1
            }
          }
        }
        seen.toMap
      }
      val inT1 = routed(t1); val inT2 = routed(t2); val inDlq = routed(dlq)
      (0 until produced).foreach { i =>
        val pl = led.plan(i).toInt
        val want1 = Plan.reaches(pl, 1); val want2 = Plan.reaches(pl, 2); val wantD = Plan.inDlq(pl)
        if (inT1.contains(i) != want1 || inT2.contains(i) != want2 || inDlq.contains(i) != wantD)
          failed += 1
      }
      // the group's committed offsets reach every consumed log end
      consumed.foreach { t =>
        GraftBroker.endOffsets(t).foreach { case (p, e) =>
          val c = GraftBroker.committed(group, t, p).getOrElse(0L)
          if (c < e) failed += (e - c)
        }
      }
      rec.attempted = produced
      rec.failed = failed
      rec.check("fate_ledger", failed == 0)

      // --- end-to-end metrics -------------------------------------------------
      def lat(from: Int, to: Int): Array[Double] =
        (from until to).flatMap { i =>
          val f = led.first(0).get(i); if (f == 0L) None else Some((f - led.due(i)) / 1e6)
        }.toArray
      // one percentile over the samples of all rounds
      val lo = loWins.flatMap(w => lat(w.from, w.to)).toArray
      val hi = hiWins.flatMap(w => lat(w.from, w.to)).toArray
      val m = rec.metrics
      m.put("work_s", drainS, "s")
      m.put("work_cpu_s", drainCpu / 1e9, "s")
      m.put("lo_p50_ms", Stats.pct(lo, 0.5), "ms")
      m.put("lo_p99_ms", Stats.pct(lo, 0.99), "ms")
      m.put("hi_p50_ms", Stats.pct(hi, 0.5), "ms")
      m.put("hi_p99_ms", Stats.pct(hi, 0.99), "ms")

      // --- per-layer ----------------------------------------------------------
      val l = rec.layers
      val trig = triggers.rows.asScala.toSeq
      def trigIn(a: Long, b: Long) = trig.filter(r => r.endNs >= a && r.endNs < b)
      def p50Of(rs: Seq[TriggerRows.Row], f: TriggerRows.Row => Double) = Stats.median(rs.map(f))
      val measured = trigIn(measureStart, measureEnd)
      val dataTrig = measured.filter(_.rows > 0)
      l.put("sources.latest_offset_ms", p50Of(dataTrig, _.d.getOrElse("latestOffset", 0L).toDouble), "ms")
      l.put("sources.offset_log_ms", p50Of(dataTrig, r =>
        (r.d.getOrElse("walCommit", 0L) + r.d.getOrElse("commitOffsets", 0L)).toDouble), "ms")
      l.put("sources.rows_per_trigger_p50", p50Of(dataTrig, _.rows.toDouble), "rows")
      l.put("sources.sink_write_ms", BrokerQueueStore.ns.sum / 1e6, "ms")
      val routedRetry = inT1.values.sum + inT2.values.sum
      val routedDlq = inDlq.values.sum
      l.put("sources.sink_rows", (routedRetry + routedDlq).toDouble, "rows")
      l.put("sources.produce_us_per_1k", produceNs / 1e3 / (produced / 1000.0), "us")
      l.put("sources.backlog_end_msgs", backlogEnd, "msgs")
      l.put("streaming.drain_msgs_per_s", drained / drainS, "msgs/s")
      l.put("streaming.cpu_ms_per_1k_msgs", drainCpu / 1e6 / (drained / 1000.0), "ms")
      def addBatchP50(ws: Seq[Window]) =
        p50Of(ws.flatMap(w => trigIn(w.start, w.end)).filter(_.rows > 0), _.d.getOrElse("addBatch", 0L).toDouble)
      l.put("streaming.lo_add_batch_ms_p50", addBatchP50(loWins), "ms")
      l.put("streaming.hi_add_batch_ms_p50", addBatchP50(hiWins), "ms")
      l.put("streaming.trigger_ms_p50", p50Of(dataTrig, _.d.getOrElse("triggerExecution", 0L).toDouble), "ms")
      l.put("streaming.query_planning_ms_p50", p50Of(dataTrig, _.d.getOrElse("queryPlanning", 0L).toDouble), "ms")
      val (rtt, busyNs) = DispatchRows.window(measureStart, measureEnd)
      l.put("streaming.dispatch_rtt_p50_us", Stats.pct(rtt, 0.5), "us")
      l.put("streaming.dispatch_rtt_p99_us", Stats.pct(rtt, 0.99), "us")
      l.put("streaming.dispatch_busy_s", busyNs / 1e9, "s")
      l.put("streaming.conns_per_1k_msgs", (server.acceptedConnections.get - conns0) / ((produced - measureFrom) / 1000.0), "count")
      l.put("streaming.dispatch_per_msg", led.receipts.get.toDouble / produced, "ratio")
      l.put("streaming.routed_retry", routedRetry.toDouble, "rows")
      l.put("streaming.routed_dlq", routedDlq.toDouble, "rows")
      l.put("streaming.dup_share",
        math.max(0L, deliveries - expectedDeliveries).toDouble / math.max(1L, expectedDeliveries), "ratio")
      val commits = target.commits.asScala.toSeq
      l.put("streaming.commit_calls",
        commits.count(c => c.atNs >= measureStart && c.atNs < measureEnd).toDouble, "count")
      l.put("streaming.commit_ms", target.ns.sum / 1e6, "ms")
      l.put("streaming.commit_lag_p99_msgs", Stats.pct(lagSamples.toArray, 0.99), "msgs")
      // hi: due time -> first group commit that passes the message's offset
      val commitAt = (0 until Partitions).map { p =>
        val pts = commits.flatMap(c => c.offsets.get((main, p)).map(o => (c.atNs, o))).sortBy(_._1)
        var best = -1L
        pts.map { case (t, o) => best = math.max(best, o); (t, best) }.toArray
      }
      val hiCommit = hiWins.flatMap(w => w.from until w.to).flatMap { i =>
        commitAt(led.part(i)).find(_._2 > led.off(i)).map(c => (c._1 - led.due(i)) / 1e6)
      }.toArray
      l.put("streaming.hi_commit_p99_ms", Stats.pct(hiCommit, 0.99), "ms")
      l.put("model.codec_ns_per_msg", if (codecN == 0) 0.0 else codecNs.toDouble / codecN, "ns")
      l.put("gen.lo_samples", lo.length.toDouble, "count")
      l.put("gen.hi_samples", hi.length.toDouble, "count")
      l.put("gen.late_max_ms", lateMaxNs / 1e6, "ms")
      val steal1 = Diag.stealJiffies
      rec.diag(steal0, steal1, Diag.gcMs - gc0)
      rec.info("hot_partition_share", (0 until Partitions).map(p => producedPerPart(p)).max.toDouble / produced)
      rec.info("backlog_msgs", drained.toDouble)
      rec.info("measure_s", (measureEnd - measureStart) / 1e9)
    } finally {
      if (query != null) query.stop()
      spark.streams.removeListener(triggers)
      server.close()
    }
  }
}
