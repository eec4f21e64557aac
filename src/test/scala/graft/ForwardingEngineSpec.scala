package graft

import graft.model._
import graft.streaming._
import graft.streaming.ForwardingEngine._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Static cross-task state for mock consumers (single-JVM local mode). */
object TestConsumer {
  // behaviorId -> (payload hash, physical topic) invocation counts
  val invocations = new ConcurrentHashMap[String, AtomicInteger]()
  // behaviorId -> behavior function
  @volatile var behaviors: Map[String, DispatchRequest => DispatchResult] = Map.empty

  def record(behaviorId: String, req: DispatchRequest): Unit = {
    val key = behaviorId + "|" + new String(req.payload, "UTF-8") + "|" +
      req.headers.getOrElse("kafka-topic", "?")
    invocations.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet()
    val total = behaviorId + "|TOTAL|" + new String(req.payload, "UTF-8")
    invocations.computeIfAbsent(total, _ => new AtomicInteger()).incrementAndGet()
  }
  def count(behaviorId: String, payload: String): Int =
    Option(invocations.get(behaviorId + "|TOTAL|" + payload)).map(_.get).getOrElse(0)
  def reset(): Unit = invocations.clear()
}

final case class MockDispatcherFactory(behaviorId: String) extends DispatcherFactory {
  def create(): Dispatcher = new Dispatcher {
    def dispatch(req: DispatchRequest): DispatchResult = {
      TestConsumer.record(behaviorId, req)
      TestConsumer.behaviors(behaviorId)(req)
    }
  }
}

class ForwardingEngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val topic = "test-topic"
  private val group = "test-group"

  private def specWithTiers(tiers: Int): JobSpec = JobSpec(
    jobGroupId = s"${topic}__$group", cluster = "local-cluster",
    topic = topic, consumerGroup = group,
    rpc = RpcSpec("grpc://consumer", s"kafka.consumerproxy.$group/$topic",
      maxRpcTimeouts = 2, dlqTopic = TopicNames.dlq(topic, group)),
    retryEnabled = tiers > 0,
    retryTiers = (1 to tiers).map(i =>
      RetryTier(TopicNames.retry(topic, group, i), i * 1000L, 1)))

  /** In-memory topic universe; replays queue topics back through the engine
    * like the reference's retry/DLQ fetchers. */
  private class TopicWorld(spec: JobSpec, behaviorId: String) {
    val topics: mutable.Map[String, Vector[KafkaRecord]] =
      mutable.Map.empty.withDefaultValue(Vector.empty)
    val consumedUpTo: mutable.Map[String, Int] = mutable.Map.empty.withDefaultValue(0)
    val allOutcomes: mutable.ArrayBuffer[Outcome] = mutable.ArrayBuffer.empty
    private var dlqMerged = false // DLQ merge is a bounded one-shot job

    def produceMain(msgs: Seq[(String, String)]): Unit =
      msgs.zipWithIndex.foreach { case ((k, v), i) =>
        topics(spec.topic) = topics(spec.topic) :+ KafkaRecord(
          k.getBytes("UTF-8"), v.getBytes("UTF-8"), spec.topic, 0, i.toLong,
          1700000000000000000L + i, Map.empty)
      }

    /** One consumption round over every consumable topic with new records. */
    def step(): Boolean = {
      var didWork = false
      // DLQ merge is bounded (start/end offsets) and runs once, mirroring
      // DlqTopicKafkaFetcher's bounded consumption — otherwise DLQ-origin
      // nacks re-producing to the DLQ would loop forever.
      val dlqTopics =
        if (spec.rpc.dlqTopic.nonEmpty && !dlqMerged && topics(spec.rpc.dlqTopic).nonEmpty) {
          dlqMerged = true
          Seq(spec.rpc.dlqTopic)
        } else Nil
      val consumable = Seq(spec.topic) ++ spec.sortedTiers.map(_.topic) ++ dlqTopics
      consumable.foreach { t =>
        val recs = topics(t).drop(consumedUpTo(t))
        if (recs.nonEmpty) {
          didWork = true
          consumedUpTo(t) = topics(t).size
          val ds: Dataset[KafkaRecord] = spark.createDataset(recs)
          val outcomes = ForwardingEngine.processBatch(
            spec, MockDispatcherFactory(behaviorId), "local-cluster", ds).collect()
          allOutcomes ++= outcomes
          outcomes.filter(_.destination.nonEmpty).foreach { o =>
            val dest = o.destination
            val off = topics(dest).size.toLong
            topics(dest) = topics(dest) :+ KafkaRecord(
              o.outKey, o.outValue, dest, 0, off, 1700000000000000000L, Map.empty)
          }
        }
      }
      didWork
    }

    def runToQuiescence(maxRounds: Int = 20): Unit = {
      var rounds = 0
      while (step() && rounds < maxRounds) rounds += 1
      assert(rounds < maxRounds, "topic world did not quiesce")
    }
  }

  // === scenario 1: happy path — 5 messages all delivered and committed
  // (reference: UforwarderIntegrationTests.java:164-197) ===
  test("scenario 1: commit handler delivers every message exactly once") {
    TestConsumer.reset()
    TestConsumer.behaviors += "commit" -> (_ => DispatchResult("OK", None, overdue = false))
    val spec = specWithTiers(0)
    val w = new TopicWorld(spec, "commit")
    w.produceMain((1 to 5).map(i => (s"k$i", s"v$i")))
    w.runToQuiescence()
    (1 to 5).foreach(i => assert(TestConsumer.count("commit", s"v$i") == 1))
    assert(w.allOutcomes.forall(_.code == "COMMIT"))
    // commit watermark advanced over all 5 offsets
    assert(w.allOutcomes.map(_.commitWatermark).max == 5L)
    // nothing produced to queue topics
    assert(w.topics.keySet == Set(topic))
  }

  // === scenario 2: RQ+DLQ — always-nack sees each message from original,
  // retry and DLQ topics (≥3 deliveries)
  // (reference: UforwarderIntegrationTests.java:199-244) ===
  test("scenario 2: nacking handler escalates through retry tier to DLQ") {
    TestConsumer.reset()
    TestConsumer.behaviors += "nack" -> (_ => DispatchResult("RESOURCE_EXHAUSTED", None, overdue = false))
    val spec = specWithTiers(1)
    val w = new TopicWorld(spec, "nack")
    w.produceMain(Seq(("k1", "m1")))
    w.runToQuiescence()
    // delivered from: main, 1 retry tier, then DLQ appearances
    assert(TestConsumer.count("nack", "m1") >= 3)
    val destinations = w.allOutcomes.map(_.destination).filter(_.nonEmpty)
    assert(destinations.contains(TopicNames.retry(topic, group, 1)))
    assert(destinations.contains(TopicNames.dlq(topic, group)))
  }

  // === scenario 3: tiered retry — ceilings walk tier1 -> tier2 -> DLQ
  // (reference: UforwarderIntegrationTests.java:246+) ===
  test("scenario 3: two retry tiers honored in order, then DLQ") {
    TestConsumer.reset()
    TestConsumer.behaviors += "nack2" -> (_ => DispatchResult("RESOURCE_EXHAUSTED", None, overdue = false))
    val spec = specWithTiers(2)
    val w = new TopicWorld(spec, "nack2")
    w.produceMain(Seq(("k1", "m1")))
    w.runToQuiescence()
    val hops = w.allOutcomes.sortBy(o => (o.retryCount, o.physicalTopic))
      .map(o => (o.physicalTopic, o.destination))
    // consumed from main -> tier1; tier1 -> tier2; tier2 -> DLQ; DLQ -> DLQ...
    assert(hops.head == (topic, TopicNames.retry(topic, group, 1)))
    assert(hops.contains((TopicNames.retry(topic, group, 1), TopicNames.retry(topic, group, 2))))
    assert(hops.exists { case (src, dst) =>
      src == TopicNames.retry(topic, group, 2) && dst == TopicNames.dlq(topic, group) })
  }

  // === stash action: straight to DLQ with metadata round-trip ===
  test("stash action goes directly to DLQ and the DlqMetadata key round-trips") {
    TestConsumer.reset()
    TestConsumer.behaviors += "stash" -> (_ => DispatchResult("INTERNAL", Some("Stash"), overdue = false))
    val spec = specWithTiers(2)
    val w = new TopicWorld(spec, "stash")
    w.produceMain(Seq(("user-key", "payload-1")))
    w.step() // just the first hop
    val dlq = w.topics(TopicNames.dlq(topic, group))
    assert(dlq.size == 1)
    val meta = DlqMetadata.decode(dlq.head.key).get
    assert(meta.topic == topic)
    assert(meta.offset == 0L)
    assert(meta.retryCount == 1L)
    assert(new String(meta.data, "UTF-8") == "user-key")
  }

  // === skip action: acked, never retried ===
  test("skip action acks without any produce") {
    TestConsumer.reset()
    TestConsumer.behaviors += "skip" -> (_ => DispatchResult("ALREADY_EXISTS", None, overdue = false))
    val spec = specWithTiers(2)
    val w = new TopicWorld(spec, "skip")
    w.produceMain(Seq(("k", "m")))
    w.runToQuiescence()
    assert(TestConsumer.count("skip", "m") == 1)
    assert(w.allOutcomes.map(_.code).toSet == Set("SKIP"))
    assert(w.topics.keySet == Set(topic))
  }

  // === timeout escalation: BACKOFF -> RETRY until maxRpcTimeouts, then DLQ
  // (token available after successes) ===
  test("timeout handler escalates to DLQ after maxRpcTimeouts") {
    TestConsumer.reset()
    // the same consumer also commits other traffic so the DLQ token bucket
    // has credit (tokens are credited by successes)
    TestConsumer.behaviors += "timeout" -> { req =>
      if (new String(req.payload, "UTF-8").startsWith("slow"))
        DispatchResult("DEADLINE_EXCEEDED", None, overdue = true)
      else DispatchResult("OK", None, overdue = false)
    }
    val spec = specWithTiers(1)
    val w = new TopicWorld(spec, "timeout")
    w.produceMain(Seq(("k0", "fast-1"), ("k1", "slow-1")))
    w.runToQuiescence()
    val slowOutcomes = w.allOutcomes.filter(o => o.destination.nonEmpty)
    // timeoutCount rises across hops; eventually BACKOFF -> DLQ once
    // timeoutCount >= maxRpcTimeouts (2) with a token available
    assert(w.allOutcomes.exists(o => o.code == "DLQ"))
    assert(slowOutcomes.exists(_.destination == TopicNames.dlq(topic, group)))
  }

  // === cluster filter: foreign-origin records are dropped ===
  test("original_cluster filter drops foreign records") {
    TestConsumer.reset()
    TestConsumer.behaviors += "cf" -> (_ => DispatchResult("OK", None, overdue = false))
    val spec = specWithTiers(0)
    val recs = Seq(
      KafkaRecord("k1".getBytes, "local".getBytes, topic, 0, 0L, 0L,
        Map("original_cluster" -> "local-cluster".getBytes("UTF-8"))),
      KafkaRecord("k2".getBytes, "foreign".getBytes, topic, 0, 1L, 0L,
        Map("original_cluster" -> "other-cluster".getBytes("UTF-8"))),
      KafkaRecord("k3".getBytes, "blank".getBytes, topic, 0, 2L, 0L, Map.empty))
    val outcomes = ForwardingEngine.processBatch(
      spec, MockDispatcherFactory("cf"), "local-cluster",
      spark.createDataset(recs)).collect()
    assert(TestConsumer.count("cf", "local") == 1)
    assert(TestConsumer.count("cf", "foreign") == 0)
    assert(TestConsumer.count("cf", "blank") == 1)
    assert(outcomes.find(_.physicalOffset == 1L).get.code == "DROPPED")
    // dropped messages still ack: watermark covers all three
    assert(outcomes.map(_.commitWatermark).max == 3L)
  }

  // === async dispatch: out-of-order completions still commit contiguously ===
  test("async dispatch acks out of order but commits the contiguous prefix") {
    TestConsumer.reset()
    TestConsumer.behaviors += "ooo" -> { req =>
      // head of each partition is slow: completions arrive out of order
      val off = req.headers("kafka-offset").toLong
      if (off == 0) Thread.sleep(200)
      DispatchResult("OK", None, overdue = false)
    }
    val spec = specWithTiers(0).copy(flowControl =
      graft.model.FlowControl(Double.MaxValue, Double.MaxValue, 8.0))
    val recs = (0 until 8).map(i =>
      KafkaRecord(null, s"o$i".getBytes, topic, 0, i.toLong, 0L, Map.empty))
    val outcomes = ForwardingEngine.processSlice(spec, MockDispatcherFactory("ooo"),
      "local-cluster")(recs.iterator).toSeq
    assert(outcomes.size == 8)
    assert(outcomes.forall(_.code == "COMMIT"))
    // the slow head gates the watermark: its own ack commits everything
    val headOutcome = outcomes.find(_.physicalOffset == 0L).get
    assert(headOutcome.commitWatermark == 8L)
  }

  // === head-of-line blocking: full queue + acked tail cancels the head ===
  test("head-of-line blocking cancels the stuck head into the retry route") {
    TestConsumer.reset()
    TestConsumer.behaviors += "hol" -> { req =>
      val off = req.headers("kafka-offset").toLong
      if (off == 0) Thread.sleep(5000) // stuck head far beyond the test budget
      DispatchResult("OK", None, overdue = false)
    }
    val spec = specWithTiers(1).copy(flowControl =
      graft.model.FlowControl(Double.MaxValue, Double.MaxValue, 4.0))
    val recs = (0 until 8).map(i =>
      KafkaRecord(null, s"h$i".getBytes, topic, 0, i.toLong, 0L, Map.empty))
    val t0 = System.nanoTime()
    val outcomes = ForwardingEngine.processSlice(spec, MockDispatcherFactory("hol"),
      "local-cluster", ackCapacity = 4,
      holDetector = graft.streaming.HeadBlockingDetector(0.9, 0.7))(recs.iterator).toSeq
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(outcomes.size == 8)
    val head = outcomes.find(_.physicalOffset == 0L).get
    // canceled head resolves to RETRY and is produced to the retry tier
    assert(head.code == "RETRY")
    assert(head.destination == TopicNames.retry(topic, group, 1))
    // the diverted pill is re-wrapped with its logical identity and the
    // bumped retry count, so the retry topic's consumer sees a well-formed message
    val meta = DlqMetadata.decode(head.outKey).get
    assert(meta.topic == topic && meta.partition == 0 && meta.offset == 0L)
    assert(meta.retryCount == 1L)
    assert(new String(head.outValue, "UTF-8") == "h0")
    assert(outcomes.filter(_.physicalOffset > 0).forall(_.code == "COMMIT"))
    // the batch must not have waited for the 5s-stuck dispatch
    assert(elapsedSec < 4.0, s"took $elapsedSec s")
    // watermark still reaches the end: cancel -> ack keeps the prefix moving
    assert(outcomes.map(_.commitWatermark).max == 8L)
  }

  // === streaming path: MemoryStream -> foreachBatch -> outcomes ===
  test("streaming run() processes a MemoryStream end to end") {
    TestConsumer.reset()
    InMemoryQueueStore.collected.set(0) // shared across suites
    TestConsumer.behaviors += "stream" -> (_ => DispatchResult("OK", None, overdue = false))
    val spec = specWithTiers(0)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaRecord](
      implicitly[org.apache.spark.sql.Encoder[KafkaRecord]], spark.sqlContext)
    input.addData((0 until 10).map(i =>
      KafkaRecord(s"k$i".getBytes, s"sv$i".getBytes, topic, i % 2, i.toLong / 2, 0L, Map.empty)))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = ForwardingEngine.run(spec, MockDispatcherFactory("stream"), "local-cluster",
      input.toDS(), InMemoryQueueStore, dir, "stream-test")
    q.processAllAvailable()
    q.stop()
    assert((0 until 10).forall(i => TestConsumer.count("stream", s"sv$i") == 1))
    assert(InMemoryQueueStore.collected.get() == 10)
  }

  // === crash recovery: a restarted query resumes from the checkpoint ===
  test("restart from checkpoint delivers everything, redelivers nothing committed") {
    TestConsumer.reset()
    TestConsumer.behaviors += "recov" -> (_ => DispatchResult("OK", None, overdue = false))
    val spec = specWithTiers(0)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaRecord](
      implicitly[org.apache.spark.sql.Encoder[KafkaRecord]], spark.sqlContext)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-recov-ckpt").toString

    input.addData((0 until 8).map(i =>
      KafkaRecord(s"k$i".getBytes, s"rv$i".getBytes, topic, 0, i.toLong, 0L, Map.empty)))
    val q1 = ForwardingEngine.run(spec, MockDispatcherFactory("recov"), "local-cluster",
      input.toDS(), InMemoryQueueStore, ckpt, "recov-1")
    q1.processAllAvailable()
    q1.stop() // "crash" after the batch committed

    // traffic that arrives while the query is down
    input.addData((8 until 16).map(i =>
      KafkaRecord(s"k$i".getBytes, s"rv$i".getBytes, topic, 0, i.toLong, 0L, Map.empty)))

    val q2 = ForwardingEngine.run(spec, MockDispatcherFactory("recov"), "local-cluster",
      input.toDS(), InMemoryQueueStore, ckpt, "recov-2")
    q2.processAllAvailable()
    q2.stop()

    // at-least-once across the restart: every message delivered...
    assert((0 until 16).forall(i => TestConsumer.count("recov", s"rv$i") >= 1))
    // ...and the committed first batch is NOT redelivered by the restart
    // (the checkpoint's offset log skips it)
    assert((0 until 8).forall(i => TestConsumer.count("recov", s"rv$i") == 1))
  }
}

/** Streaming-test sink: counts outcomes (produced records would go to the
  * Kafka sink in production). */
object InMemoryQueueStore extends QueueStore {
  val collected = new AtomicInteger(0)
  def produce(outcomes: Dataset[ForwardingEngine.Outcome]): Unit = {
    val rows = outcomes.collect()
    collected.addAndGet(rows.length)
    ()
  }
}
