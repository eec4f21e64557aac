package graft

import graft.model._
import graft.sources.GraftBroker
import graft.streaming._
import graft.streaming.ForwardingEngine._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/**
 * End-to-end replay of the reference's three integration scenarios
 * (UforwarderIntegrationTests.java:164,199,246) through Spark's REAL
 * streaming machinery: `spark.readStream.format("graft-queue")` →
 * MicroBatchExecution (offset log, checkpoints, admission control, source
 * commit) → the full forwarding engine → a DSv2 batch write with per-row
 * topic routing back into the broker. The only substitution vs the
 * reference harness is the broker itself (in-process, Kafka semantics) —
 * no Kafka jars exist in this environment; the engine code is
 * connector-agnostic (`fromSourceFrame`) and runs identically against
 * `format("kafka")`.
 */
class QueueSourceE2ESpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.metricsEnabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def spec(topic: String, group: String, tiers: Int, tierDelayMs: Long): JobSpec = JobSpec(
    jobGroupId = s"${topic}__$group", cluster = "local-cluster",
    topic = topic, consumerGroup = group,
    rpc = RpcSpec("grpc://consumer", s"kafka.consumerproxy.$group/$topic",
      maxRpcTimeouts = 2, dlqTopic = TopicNames.dlq(topic, group)),
    retryEnabled = tiers > 0,
    retryTiers = (1 to tiers).map(i =>
      RetryTier(TopicNames.retry(topic, group, i), tierDelayMs, 1)))

  /** Outcomes with a destination go back to the broker through the DSv2
    * batch write — per-row `topic` column routing, exactly the Kafka sink
    * call the production engine makes inside foreachBatch. */
  private object BrokerQueueStore extends QueueStore {
    def produce(outcomes: Dataset[Outcome]): Unit = {
      outcomes.filter(col("destination") =!= "")
        .select(col("destination").as("topic"),
          col("outKey").as("key"), col("outValue").as("value"))
        .write.format("graft-queue").mode("append").save()
      ()
    }
  }

  private def await(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(cond, s"timed out after ${timeoutMs}ms waiting for: $what")
  }

  private def ckpt(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-e2e-$tag").toString

  /** Jobs, and the widest stage, per (query id, batch id), read from the
    * local properties streaming sets on each job. Listener events arrive
    * asynchronously: `drained` runs a marker job and waits until it is seen,
    * so every earlier job has been counted. */
  private final class TriggerJobs extends SparkListener {
    private val jobs = scala.collection.mutable.Map.empty[(String, Long), (Int, Int)]
    @volatile private var markerSeen = false
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      if (p.exists(_.getProperty("graft.test.marker") != null)) markerSeen = true
      else for {
        props <- p
        q <- Option(props.getProperty("sql.streaming.queryId"))
        b <- Option(props.getProperty("streaming.sql.batchId"))
      } jobs.synchronized {
        val (n, w) = jobs.getOrElse((q, b.toLong), (0, 0))
        jobs((q, b.toLong)) = (n + 1, math.max(w, e.stageInfos.map(_.numTasks).max))
      }
    }
    def drained(): Map[(String, Long), (Int, Int)] = {
      val sc = spark.sparkContext
      sc.setLocalProperty("graft.test.marker", "1")
      try spark.range(1).count() finally sc.setLocalProperty("graft.test.marker", null)
      await("listener caught up")(markerSeen)
      jobs.synchronized(jobs.toMap)
    }
  }

  /** Runs `body` with a [[TriggerJobs]] listener attached. */
  private def withTriggerJobs[T](body: TriggerJobs => T): T = {
    val l = new TriggerJobs
    spark.sparkContext.addSparkListener(l)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  /** Jobs and widest stage of each trigger that read data. */
  private def dataTriggers(q: org.apache.spark.sql.streaming.StreamingQuery,
      l: TriggerJobs): Seq[(Long, (Int, Int))] = {
    val seen = l.drained()
    q.recentProgress.filter(_.numInputRows > 0).toSeq.map(_.batchId).distinct
      .map(b => b -> seen.getOrElse((q.id.toString, b), (0, 0)))
  }

  private def startEngine(
      s: JobSpec,
      behaviorId: String,
      subscribe: Seq[String],
      delays: Map[String, Long],
      checkpoint: String,
      extraOptions: Map[String, String] = Map.empty) = {
    var reader = spark.readStream.format("graft-queue")
      .option("topics", subscribe.mkString(","))
      .option("groupid", s.consumerGroup)
      .option("startingoffsets", "earliest")
    if (delays.nonEmpty)
      reader = reader.option("visibilitydelays",
        delays.map { case (t, d) => s"$t:$d" }.mkString(","))
    extraOptions.foreach { case (k, v) => reader = reader.option(k, v) }
    val stream = ForwardingEngine.fromSourceFrame(reader.load())
    // cadence 0: commit every batch so the test observes progress promptly;
    // production uses the default 1 s cadence / 60 s keepalive
    val committer = new OffsetCommitter(new BrokerCommitTarget, s.consumerGroup, cadenceMs = 0L)
    ForwardingEngine.run(s, MockDispatcherFactory(behaviorId), "local-cluster",
      stream, BrokerQueueStore, checkpoint, s"e2e-${s.topic}",
      committer = Some(committer))
  }

  // === scenario 1: happy path — 5 produced, 5 delivered exactly once,
  // consumer-group commit visible broker-side, checkpoint restart clean ===
  test("scenario 1 E2E: deliver 5, commit group offsets, survive restart") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-commit" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "e2e1-topic"; val group = "e2e1-group"
    GraftBroker.createTopic(topic, 2)
    (1 to 5).foreach(i => GraftBroker.produce(topic, Some((i - 1) % 2),
      s"k$i".getBytes, s"v$i".getBytes))
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    val cp = ckpt("s1")
    val q = startEngine(s, "e2e-commit", Seq(topic), Map.empty, cp)
    try {
      await("all 5 delivered once") {
        (1 to 5).forall(i => TestConsumer.count("e2e-commit", s"v$i") == 1)
      }
      // consumer-group commit exposure: lag drains to zero broker-side
      await("group lag reaches 0")(GraftBroker.lag(group, topic).values.sum == 0L)
      // drain: the awaited conditions fire INSIDE foreachBatch — without
      // this, stop() can cancel the query before the batch's commit-log
      // write and the restart (correctly, at-least-once) redelivers
      q.processAllAvailable()
    } finally q.stop()
    // restart from the checkpoint: committed records must NOT redeliver
    (6 to 7).foreach(i => GraftBroker.produce(topic, Some(i % 2),
      s"k$i".getBytes, s"v$i".getBytes))
    val q2 = startEngine(s, "e2e-commit", Seq(topic), Map.empty, cp)
    try {
      await("new records delivered after restart") {
        (6 to 7).forall(i => TestConsumer.count("e2e-commit", s"v$i") == 1)
      }
      (1 to 5).foreach(i =>
        assert(TestConsumer.count("e2e-commit", s"v$i") == 1, s"v$i redelivered"))
    } finally q2.stop()
  }

  // === scenario 2: always-nack escalates main -> retry tier -> DLQ; the
  // bounded DLQ merge (batch read) redelivers from the DLQ topic ===
  test("scenario 2 E2E: nack walks retry tier to DLQ; DLQ merge redelivers") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-nack" ->
      (_ => DispatchResult("RESOURCE_EXHAUSTED", None, overdue = false))
    val topic = "e2e2-topic"; val group = "e2e2-group"
    val s = spec(topic, group, tiers = 1, tierDelayMs = 300L)
    val retry1 = TopicNames.retry(topic, group, 1)
    GraftBroker.createTopic(topic, 1)
    GraftBroker.produce(topic, Some(0), "k1".getBytes, "m1".getBytes)
    val q = startEngine(s, "e2e-nack", Seq(topic, retry1),
      Map(retry1 -> 300L), ckpt("s2"))
    try {
      // nacked from main -> retry topic record appears; after the 300ms
      // visibility delay the SOURCE releases it, nacked again -> DLQ
      await("DLQ record produced")(GraftBroker.endOffsets(s.rpc.dlqTopic).values.sum == 1L)
      assert(GraftBroker.endOffsets(retry1).values.sum == 1L)
      assert(TestConsumer.count("e2e-nack", "m1") == 2) // main + retry views
    } finally q.stop()
    // bounded DLQ merge job: batch (not streaming) read of the DLQ topic
    val merged = ForwardingEngine.fromSourceFrame(
      spark.read.format("graft-queue").option("topics", s.rpc.dlqTopic).load())
    val outcomes = ForwardingEngine.processBatch(
      s, MockDispatcherFactory("e2e-nack"), "local-cluster", merged)
    BrokerQueueStore.produce(outcomes)
    // >= 3 views of the message, from original, retry, and DLQ topics
    // (the reference's scenario-2 assertion)
    assert(TestConsumer.count("e2e-nack", "m1") >= 3)
  }

  // === scenario 3: two tiers honored in ORDER, then DLQ ===
  test("scenario 3 E2E: tier1 -> tier2 -> DLQ with DlqMetadata retry counts") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-nack2" ->
      (_ => DispatchResult("RESOURCE_EXHAUSTED", None, overdue = false))
    val topic = "e2e3-topic"; val group = "e2e3-group"
    val s = spec(topic, group, tiers = 2, tierDelayMs = 200L)
    val t1 = TopicNames.retry(topic, group, 1)
    val t2 = TopicNames.retry(topic, group, 2)
    GraftBroker.createTopic(topic, 1)
    GraftBroker.produce(topic, Some(0), "k1".getBytes, "m1".getBytes)
    val q = startEngine(s, "e2e-nack2", Seq(topic, t1, t2),
      Map(t1 -> 200L, t2 -> 200L), ckpt("s3"))
    try {
      await("DLQ record after walking both tiers") {
        GraftBroker.endOffsets(s.rpc.dlqTopic).values.sum == 1L
      }
      // tier order: one record in each tier topic, three consumer views
      assert(GraftBroker.endOffsets(t1).values.sum == 1L)
      assert(GraftBroker.endOffsets(t2).values.sum == 1L)
      assert(TestConsumer.count("e2e-nack2", "m1") == 3)
      // the DLQ record's DlqMetadata envelope carries the full journey:
      // produced 3 times (tier1, tier2, dlq) and the original identity
      val dlqRec = GraftBroker.fetch(s.rpc.dlqTopic, 0, 0L, 1L).head
      val meta = DlqMetadata.decode(dlqRec.key).get
      assert(meta.retryCount == 3L)
      assert(meta.topic == topic && meta.partition == 0 && meta.offset == 0L)
      assert(new String(meta.data) == "k1")
    } finally q.stop()
  }

  // === timestamp-based start: the BatchJobCreator seek path, E2E ===
  test("timestamp start E2E: delivery begins at the resolved offset, survives restart") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-ts" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "e2e5-topic"; val group = "e2e5-group"
    GraftBroker.createTopic(topic, 1)
    val base = 1700000000000L
    (1 to 4).foreach(i => GraftBroker.produce(topic, Some(0), s"k$i".getBytes,
      s"v$i".getBytes, timestampMs = base + i * 1000L))
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    // drive the option surface through the control plane: ByTimestamp emits
    // the same startingTimestamp option format("kafka") takes
    // (KafkaSourceConfig.StartOffsets.ByTimestamp -> offsetsForTimes,
    //  reference: BatchJobCreator.java:117-260)
    val opts = graft.control.KafkaSourceConfig.sourceOptions(
      s, "unused:9092", graft.control.KafkaSourceConfig.StartOffsets.ByTimestamp(base + 2500L))
    assert(opts("startingTimestamp") == (base + 2500L).toString)
    val cp = ckpt("ts")
    val q = startEngine(s, "e2e-ts", Seq(topic), Map.empty, cp,
      extraOptions = Map("startingtimestamp" -> opts("startingTimestamp")))
    try {
      // first offset with record-ts >= base+2500 is v3 — v1/v2 predate the
      // seek timestamp and must never deliver
      await("records at/after the timestamp delivered") {
        (3 to 4).forall(i => TestConsumer.count("e2e-ts", s"v$i") == 1)
      }
      assert(TestConsumer.count("e2e-ts", "v1") == 0)
      assert(TestConsumer.count("e2e-ts", "v2") == 0)
      q.processAllAvailable()
    } finally q.stop()
    // checkpoint restart: the offset LOG governs now, not re-resolution —
    // new records deliver, pre-timestamp history stays skipped
    (5 to 6).foreach(i => GraftBroker.produce(topic, Some(0), s"k$i".getBytes,
      s"v$i".getBytes, timestampMs = base + i * 1000L))
    val q2 = startEngine(s, "e2e-ts", Seq(topic), Map.empty, cp,
      extraOptions = Map("startingtimestamp" -> opts("startingTimestamp")))
    try {
      await("post-restart records delivered") {
        (5 to 6).forall(i => TestConsumer.count("e2e-ts", s"v$i") == 1)
      }
      assert(TestConsumer.count("e2e-ts", "v1") == 0, "restart must not re-resolve the timestamp")
      (3 to 4).foreach(i =>
        assert(TestConsumer.count("e2e-ts", s"v$i") == 1, s"v$i redelivered"))
    } finally q2.stop()
  }

  // === bounded DLQ merge/purge through explicit offset ranges ===
  test("DLQ purge E2E: start==end dispatches nothing and still commits the range") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-purge" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "e2e6-topic"; val group = "e2e6-group"
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    val dlq = s.rpc.dlqTopic
    GraftBroker.createTopic(dlq, 1)
    (1 to 3).foreach(i => GraftBroker.produce(dlq, Some(0), s"k$i".getBytes, s"d$i".getBytes))
    val target = new BrokerCommitTarget
    // bounded merge [0,2): exactly two records dispatch, group commits to 2
    QueueJobs.runDlqBounded(spark, s, MockDispatcherFactory("e2e-purge"),
      "local-cluster", dlq, Map(0 -> 0L), Map(0 -> 2L), BrokerQueueStore, target)
    assert(TestConsumer.count("e2e-purge", "d1") == 1)
    assert(TestConsumer.count("e2e-purge", "d2") == 1)
    assert(TestConsumer.count("e2e-purge", "d3") == 0, "out-of-range record must not dispatch")
    assert(GraftBroker.committed(group, dlq, 0).contains(2L))
    // purge: start==end==high-watermark skips d3 entirely yet commits past
    // it (DlqTopicKafkaFetcher.java:103-115 — a purge job processes nothing
    // even inside the range)
    QueueJobs.runDlqBounded(spark, s, MockDispatcherFactory("e2e-purge"),
      "local-cluster", dlq, Map(0 -> 3L), Map(0 -> 3L), BrokerQueueStore, target)
    assert(TestConsumer.count("e2e-purge", "d3") == 0, "purge must not dispatch")
    assert(GraftBroker.committed(group, dlq, 0).contains(3L))
    assert(GraftBroker.lag(group, dlq) == Map(0 -> 0L), "purged range never redelivers")
  }

  // === connector behaviors the scenarios rely on ===

  test("headers round-trip the source; foreign original_cluster is dropped") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-hdr" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "e2e-hdr-topic"; val group = "e2e-hdr-group"
    GraftBroker.createTopic(topic, 1)
    GraftBroker.produce(topic, Some(0), "kf".getBytes, "foreign".getBytes,
      headers = Seq("original_cluster" -> "other-cluster".getBytes))
    GraftBroker.produce(topic, Some(0), "kl".getBytes, "local".getBytes,
      headers = Seq("original_cluster" -> "local-cluster".getBytes))
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    val q = startEngine(s, "e2e-hdr", Seq(topic), Map.empty, ckpt("hdr"))
    try {
      await("local-cluster record delivered")(TestConsumer.count("e2e-hdr", "local") == 1)
      await("group lag reaches 0")(GraftBroker.lag(group, topic).values.sum == 0L)
      assert(TestConsumer.count("e2e-hdr", "foreign") == 0, "replication loop not filtered")
    } finally q.stop()
  }

  test("duplicate header keys survive the adapter with last-wins semantics") {
    // Kafka's wire format allows repeated header keys (tracing headers do
    // this routinely); the adapter must not kill the query on them
    GraftBroker.reset()
    GraftBroker.createTopic("dup-hdr", 1)
    GraftBroker.produce("dup-hdr", Some(0), "k".getBytes, "v".getBytes,
      headers = Seq("trace" -> "first".getBytes, "other" -> "x".getBytes,
        "trace" -> "second".getBytes))
    val recs = ForwardingEngine.fromSourceFrame(
      spark.read.format("graft-queue").option("topics", "dup-hdr").load()).collect()
    assert(recs.length == 1)
    assert(new String(recs.head.headers("trace")) == "second", "last occurrence wins")
    assert(new String(recs.head.headers("other")) == "x")
  }

  test("admission control: maxoffsetspertrigger bounds every micro-batch") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-adm" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "e2e-adm-topic"; val group = "e2e-adm-group"
    GraftBroker.createTopic(topic, 1)
    (1 to 12).foreach(i => GraftBroker.produce(topic, Some(0), s"k$i".getBytes, s"v$i".getBytes))
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    val q = startEngine(s, "e2e-adm", Seq(topic), Map.empty, ckpt("adm"),
      extraOptions = Map("maxoffsetspertrigger" -> "3"))
    try {
      await("all 12 delivered under the trigger cap") {
        (1 to 12).forall(i => TestConsumer.count("e2e-adm", s"v$i") == 1)
      }
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.nonEmpty)
      assert(batches.forall(_.numInputRows <= 3),
        batches.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  // === the data path's shape: one job with one stage per trigger ===

  test("one job per data trigger, and no shuffle between source and dispatch") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-shape" -> { req =>
      // every 4th offset is nacked so the write job also produces rows
      val off = req.headers("kafka-offset").toLong
      if (off % 4 == 0) DispatchResult("RESOURCE_EXHAUSTED", None, overdue = false)
      else DispatchResult("OK", None, overdue = false)
    }
    val topic = "e2e-shape-topic"; val group = "e2e-shape-group"
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    GraftBroker.createTopic(topic, 3)
    GraftBroker.createTopic(s.rpc.dlqTopic, 1)
    (0 until 30).foreach(i => GraftBroker.produce(topic, Some(i % 3),
      s"k$i".getBytes, s"v$i".getBytes))
    withTriggerJobs { l =>
      val q = startEngine(s, "e2e-shape", Seq(topic), Map.empty, ckpt("shape"))
      try {
        await("group lag reaches 0")(GraftBroker.lag(group, topic).values.sum == 0L)
        q.processAllAvailable()
        (30 until 36).foreach(i => GraftBroker.produce(topic, Some(i % 3),
          s"k$i".getBytes, s"v$i".getBytes))
        q.processAllAvailable()
        await("second batch committed")(GraftBroker.lag(group, topic).values.sum == 0L)
      } finally q.stop()
      val triggers = dataTriggers(q, l)
      assert(triggers.size >= 2, triggers.toString)
      // produce + watermark harvest + commit all ride on the store's one job
      assert(triggers.forall(_._2._1 == 1), s"jobs per data trigger: $triggers")
    }
    assert((0 until 36).forall(i => TestConsumer.count("e2e-shape", s"v$i") == 1))
    assert(GraftBroker.endOffsets(s.rpc.dlqTopic).values.sum == 9L)
    // the same processBatch over the same source, planned as a batch
    val outcomes = ForwardingEngine.processBatch(s, MockDispatcherFactory("e2e-shape"),
      "local-cluster", ForwardingEngine.fromSourceFrame(
        spark.read.format("graft-queue").option("topics", topic).load()))
    outcomes.collect()
    val plan = outcomes.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.treeString)
  }

  test("committer over a topic-partition split across three tasks reaches the log end") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-split" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "e2e-split-topic"; val group = "e2e-split-group"
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    GraftBroker.createTopic(topic, 1)
    (0 until 30).foreach(i => GraftBroker.produce(topic, Some(0), s"k$i".getBytes, s"v$i".getBytes))
    // each addData block is one input partition of the trigger: offsets
    // [0,10), [10,20), [20,30) of partition 0 land in three tasks, the
    // layout Kafka's minPartitions gives a busy topic-partition
    import spark.implicits._
    val ms = MemoryStream[KafkaRecord](implicitly[org.apache.spark.sql.Encoder[KafkaRecord]],
      spark.sqlContext)
    GraftBroker.fetch(topic, 0, 0L, 30L).zipWithIndex.grouped(10).foreach { block =>
      ms.addData(block.map { case (r, off) =>
        KafkaRecord(r.key, r.value, topic, 0, off.toLong, 0L, Map.empty) })
    }
    val committer = new OffsetCommitter(new BrokerCommitTarget, group, cadenceMs = 0L)
    withTriggerJobs { l =>
      val q = ForwardingEngine.run(s, MockDispatcherFactory("e2e-split"), "local-cluster",
        ms.toDS(), BrokerQueueStore, ckpt("split"), "e2e-split", committer = Some(committer))
      try q.processAllAvailable() finally q.stop()
      val triggers = dataTriggers(q, l)
      assert(triggers.size == 1 && triggers.head._2._2 >= 3, s"(jobs, tasks): $triggers")
    }
    assert((0 until 30).forall(i => TestConsumer.count("e2e-split", s"v$i") == 1))
    assert(GraftBroker.endOffsets(topic) == Map(0 -> 30L))
    assert(GraftBroker.committed(group, topic, 0).contains(30L))
  }

  test("a failing queue store leaves the group's committed offsets where they were") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "e2e-sinkfail" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "e2e-sinkfail-topic"; val group = "e2e-sinkfail-group"
    val s = spec(topic, group, tiers = 0, tierDelayMs = 0L)
    GraftBroker.createTopic(topic, 2)
    (0 until 8).foreach(i => GraftBroker.produce(topic, Some(i % 2), s"k$i".getBytes, s"v$i".getBytes))
    GraftBroker.commitGroup(group, Map((topic, 0) -> 1L))
    // the store's action dispatches the whole batch — every watermark is in
    // the accumulator — and then the produce fails
    val failing = new QueueStore {
      def produce(outcomes: Dataset[Outcome]): Unit = {
        outcomes.count()
        throw new IllegalStateException("queue store down")
      }
    }
    val reader = spark.readStream.format("graft-queue").option("topics", topic)
      .option("groupid", group).option("startingoffsets", "earliest")
    val committer = new OffsetCommitter(new BrokerCommitTarget, group, cadenceMs = 0L)
    val q = ForwardingEngine.run(s, MockDispatcherFactory("e2e-sinkfail"), "local-cluster",
      ForwardingEngine.fromSourceFrame(reader.load()), failing, ckpt("sinkfail"),
      "e2e-sinkfail", committer = Some(committer))
    val e = intercept[StreamingQueryException](q.awaitTermination(60000L))
    assert(e.getMessage.contains("queue store down"), e.getMessage)
    assert((0 until 8).forall(i => TestConsumer.count("e2e-sinkfail", s"v$i") == 1))
    assert(committer.commits == 0L)
    assert(GraftBroker.committed(group, topic, 0).contains(1L))
    assert(GraftBroker.committed(group, topic, 1).isEmpty)
  }
}
