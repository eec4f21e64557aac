package graft

import graft.model._
import graft.streaming._
import graft.streaming.ForwardingEngine._
import org.apache.spark.SparkException
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The dispatch side of `processSlice` is executor-resident: triggers and
  * tasks share one dispatcher per (factory, security) and one bounded pool
  * of dispatch threads, instead of dialing and spawning per task. These
  * checks bound what a long-running job holds on an executor. */
class ResidentDispatchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val topic = "resident-topic"
  private val group = "resident-group"

  /** maxInflightMessages 64 gives the largest per-slice pool, 64; with
    * local[4] no more than 4 slices run at once anywhere in this JVM. */
  private val poolSize = 64
  private def spec1: JobSpec = JobSpec(
    jobGroupId = s"${topic}__$group", cluster = "local-cluster",
    topic = topic, consumerGroup = group,
    rpc = RpcSpec("grpc://consumer", s"kafka.consumerproxy.$group/$topic",
      maxRpcTimeouts = 2, dlqTopic = TopicNames.dlq(topic, group)),
    retryEnabled = true,
    retryTiers = Seq(RetryTier(TopicNames.retry(topic, group, 1), 1000L, 1)),
    flowControl = FlowControl(Double.MaxValue, Double.MaxValue, poolSize.toDouble))

  private def recs(n: Int): Dataset[KafkaRecord] = {
    import spark.implicits._
    spark.createDataset((0 until n).map(i =>
      KafkaRecord(s"k$i".getBytes("UTF-8"), s"m$i".getBytes("UTF-8"), topic,
        i % 4, i.toLong, 1700000000000000000L + i, Map.empty)))
  }

  private def routed(f: DispatcherFactory, n: Int): Seq[(String, Int, Long, String, String)] =
    ForwardingEngine.processBatch(spec1, f, "local-cluster", recs(n)).collect()
      .map(o => (o.physicalTopic, o.physicalPartition, o.physicalOffset, o.code, o.destination))
      .sortBy(x => (x._1, x._2, x._3)).toSeq

  private def liveThreads(prefix: String): Seq[Thread] = {
    val all = new Array[Thread](Thread.activeCount() + 64)
    val n = Thread.enumerate(all)
    all.take(n).filter(t => t != null && t.isAlive && t.getName.startsWith(prefix)).toSeq
  }

  /** Reader threads of connections that died a moment ago take one read
    * timeout to notice; wait that out before counting. */
  private def settledReaders(port: Int, atMost: Int): Int = {
    val deadline = System.nanoTime() + 5000000000L
    while (liveThreads(s"graft-h2mux-read-$port").size > atMost &&
      System.nanoTime() < deadline) Thread.sleep(20)
    liveThreads(s"graft-h2mux-read-$port").size
  }

  private def assertBounded(server: Http2ConsumerServer): Unit = {
    assert(server.acceptedConnections.get() <= 2,
      s"dialed ${server.acceptedConnections.get()} connections for a 2-connection factory")
    val readers = settledReaders(server.port, 2)
    assert(readers <= 2, s"$readers live HTTP/2 reader threads for a 2-connection factory")
    val pool = liveThreads("graft-dispatch-").size
    assert(pool <= 4 * poolSize, s"$pool shared dispatch threads, bound ${4 * poolSize}")
  }

  private def deterministicServer(): Http2ConsumerServer = {
    val handler = graft.operators.PipelineOps.DeterministicDispatcherFactory.create()
    new Http2ConsumerServer(handler.dispatch)
  }

  test("30 batches share one executor's connections and dispatch threads") {
    val server = deterministicServer()
    try {
      val f = MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port,
        rpcTimeoutMs = 10000, connections = 2)
      val expected = routed(graft.operators.PipelineOps.DeterministicDispatcherFactory, 400)
      (1 to 30).foreach { i =>
        assert(routed(f, 400) == expected, s"batch $i routed differently")
      }
      assertBounded(server)
    } finally server.close()
  }

  test("slices whose upstream throws leave no connections or threads behind") {
    val server = deterministicServer()
    try {
      val f = MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port,
        rpcTimeoutMs = 10000, connections = 2)
      import spark.implicits._
      val spec = spec1
      (1 to 20).foreach { _ =>
        val failing = recs(400).mapPartitions { it =>
          val upstream = it.zipWithIndex.map { case (r, j) =>
            if (j == 50) throw new IllegalStateException("upstream failed mid-slice")
            r
          }
          ForwardingEngine.processSlice(spec, f, "local-cluster")(upstream)
        }
        intercept[SparkException](failing.collect())
      }
      assertBounded(server)
      val viaMux = routed(f, 400)
      assert(viaMux.size == 400 &&
        viaMux == routed(graft.operators.PipelineOps.DeterministicDispatcherFactory, 400))
      assertBounded(server)
    } finally server.close()
  }

  test("an entry idle past the window is closed, and the next borrow dials anew") {
    val server = deterministicServer()
    try {
      var now = 0L
      val registry = new DispatcherRegistry(() => now)
      val f = MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port,
        rpcTimeoutMs = 5000, connections = 2)
      val sec = SecuritySpec()
      def ok(d: Dispatcher): Unit = assert(d.dispatch(DispatchRequest(
        "x".getBytes("UTF-8"), Map("kafka-offset" -> "0"))).statusCode == GrpcStatus.OK)

      val d1 = registry.borrow(f, sec)
      ok(d1)
      // a held entry is never evicted, however long the slice runs
      now += 2 * DispatcherRegistry.IdleNs
      registry.evictIdle()
      assert(registry.borrow(f, sec) eq d1)
      registry.giveBack(f, sec)
      registry.giveBack(f, sec)
      // returned, and borrowed again inside the window: still the same
      now += DispatcherRegistry.IdleNs
      assert(registry.borrow(f, sec) eq d1)
      registry.giveBack(f, sec)
      ok(d1)
      val dialed = server.acceptedConnections.get() // one per round-robin slot used
      assert(dialed == 2)

      now += DispatcherRegistry.IdleNs + 1
      val d2 = registry.borrow(f, sec)
      try {
        assert(!(d2 eq d1), "an idle entry outlived the window")
        ok(d2)
        assert(server.acceptedConnections.get() == dialed + 1, "the new dispatcher did not dial")
        assert(settledReaders(server.port, 1) == 1,
          "the evicted dispatcher's connection is still open")
      } finally registry.giveBack(f, sec)
    } finally server.close()
  }
}
