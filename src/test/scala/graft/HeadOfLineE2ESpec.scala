package graft

import graft.model._
import graft.sources.{GraftBroker, GraftQueue}
import graft.streaming._
import graft.streaming.AckStateTws.AckEvent
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/**
 * Head-of-line blocking ACTUATED in the live path: a never-acked head
 * message with a full, mostly-acked queue makes the detector fire inside
 * the running mitigation query; the cancel diverts the poison pill to the
 * retry topic and the commit watermark advances past it — the reference's
 * BlockingQueueStubManager.java:43-376 cancel flow with the cancel→code
 * routing of ProcessorImpl.java:750-757, expressed through
 * [[AckStateTws.signals]] + [[AckStateTws.runMitigation]].
 */
class HeadOfLineE2ESpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.metricsEnabled", "false")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def await(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(cond, s"timed out after ${timeoutMs}ms waiting for: $what")
  }

  test("head-of-line E2E: stuck head is cancelled, diverted to retry, watermark advances") {
    GraftBroker.reset()
    val topic = "hol-topic"; val group = "hol-group"; val acksTopic = "hol-acks"
    val spec = JobSpec(
      jobGroupId = s"${topic}__$group", cluster = "local-cluster",
      topic = topic, consumerGroup = group,
      rpc = RpcSpec("grpc://consumer", s"kafka.consumerproxy.$group/$topic",
        dlqTopic = TopicNames.dlq(topic, group)),
      retryEnabled = true,
      retryTiers = Seq(RetryTier(TopicNames.retry(topic, group, 1), 100L, 1)))
    val retryTopic = spec.sortedTiers.head.topic
    GraftBroker.createTopic(topic, 1)
    GraftBroker.createTopic(retryTopic, 1)
    GraftBroker.createTopic(acksTopic, 1)
    (0 until 10).foreach(i =>
      GraftBroker.produce(topic, Some(0), s"k$i".getBytes, s"v$i".getBytes))

    // ack-protocol feed (the decoupled consumer-ack stream): all 10 in
    // flight, v1..v9 acked — v0 never acks, blocking the commit watermark
    // with the 10-slot queue full and 90% acked
    def ackRec(kind: String, offset: Long): Unit = {
      GraftBroker.produce(acksTopic, Some(0), "c".getBytes, s"$kind,$topic,0,$offset".getBytes)
      ()
    }
    (0 until 10).foreach(i => ackRec("receive", i.toLong))
    (1 until 10).foreach(i => ackRec("ack", i + 1L))

    val events = ForwardingEngine.fromSourceFrame(
      spark.readStream.format("graft-queue")
        .option("topics", acksTopic)
        .option("startingoffsets", "earliest")
        .load())
      .map { r =>
        val f = new String(r.value, "UTF-8").split(",")
        AckEvent(f(1), f(2).toInt, f(3).toLong, f(0))
      }

    val watermarks = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val diverted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ckpt = java.nio.file.Files.createTempDirectory("hol-e2e").toString
    val q = AckStateTws.runMitigation(events, capacity = 10,
      HeadBlockingDetector(), ckpt, "hol-mitigation") { s =>
      if (s.kind == "divert") {
        diverted.add(s.divertOffset)
        // fetch the pill from the source topic, re-produce it to the retry
        // route with the retry count bumped, then confirm-ack it — the
        // produce-completion callback of the reference's diversion
        val rec = ForwardingEngine.fromSourceFrame(
          spark.read.format("graft-queue")
            .option("topics", s.topic)
            .option("startingoffsets",
              GraftQueue.offsetsToJson(Map(s.topic -> Map(s.partition -> s.divertOffset))))
            .option("endingoffsets",
              GraftQueue.offsetsToJson(Map(s.topic -> Map(s.partition -> (s.divertOffset + 1)))))
            .load()).collect().head
        val m = ForwardingEngine.unwrap(spec, rec)
        val (k, v) = ForwardingEngine.wrapForProduce(m, m.retryCount + 1, m.timeoutCount)
        GraftBroker.produce(retryTopic, Some(0), k, v)
        ackRec("ack", s.divertOffset + 1)
      } else watermarks.add(s.commitOffset)
      ()
    }
    try {
      await("poison pill lands on the retry topic")(
        GraftBroker.endOffsets(retryTopic).values.sum == 1L)
      await("commit watermark advances past the pill")(
        watermarks.asScala.exists(_ == 10L))
      // exactly one diversion — the canceled head leaves the cancelable set,
      // so the detector cannot re-order it while the queue stays hot
      assert(diverted.asScala.toSeq == Seq(0L))
      // the diverted record is v0, DLQMetadata-wrapped with its logical
      // identity and the bumped retry count — the next consumer of the
      // retry topic sees a well-formed re-wrapped message
      val pill = ForwardingEngine.fromSourceFrame(
        spark.read.format("graft-queue").option("topics", retryTopic).load())
        .collect().head
      val pm = ForwardingEngine.unwrap(spec, pill)
      assert(new String(pm.value, "UTF-8") == "v0")
      assert(pm.retryCount == 1L)
      assert(pm.logicalTopic == topic && pm.logicalOffset == 0L)
    } finally q.stop()
  }
}
