package graft

import graft.model._
import graft.streaming._
import graft.streaming.ForwardingEngine._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

object Http2World {
  val seen = new ConcurrentHashMap[String, AtomicInteger]()
  def sighting(payload: String): Int =
    seen.computeIfAbsent(payload, _ => new AtomicInteger()).incrementAndGet()
  def reset(): Unit = seen.clear()
}

/** The HTTP/2 dispatch path: the reference's wire contract — action
  * override and grpc-status arriving as TRAILERS
  * (GrpcDispatcher.java:362-404), kafka-* metadata as request headers,
  * deadline/unavailable precedence per Codes.codeFor — exercised over real
  * TCP, against graft's own server and against a stock Netty peer
  * ([[H2TestPeer]]). */
class Http2DispatcherSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val topic = "h2-topic"
  private val group = "h2-group"

  private def spec1: JobSpec = JobSpec(
    jobGroupId = s"${topic}__$group", cluster = "local-cluster",
    topic = topic, consumerGroup = group,
    rpc = RpcSpec("grpc://consumer", s"kafka.consumerproxy.$group/$topic",
      maxRpcTimeouts = 2, dlqTopic = TopicNames.dlq(topic, group)),
    retryEnabled = true,
    retryTiers = Seq(RetryTier(TopicNames.retry(topic, group, 1), 1000L, 1)))

  private def recs(msgs: Seq[(String, String)], t: String = topic): Dataset[KafkaRecord] =
    spark.createDataset(msgs.zipWithIndex.map { case ((k, v), i) =>
      KafkaRecord(k.getBytes("UTF-8"), v.getBytes("UTF-8"), t, 0, i.toLong,
        1700000000000000000L + i, Map.empty)
    })

  test("happy path over HTTP/2 frames: every message commits, connections pooled") {
    val server = new Http2ConsumerServer(_ =>
      DispatchResult(GrpcStatus.OK, None, overdue = false))
    try {
      val f = MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port, rpcTimeoutMs = 5000)
      val n = 200
      val out = ForwardingEngine.processBatch(
        spec1, f, "local-cluster", recs((1 to n).map(i => (s"k$i", s"m$i")))).collect()
      assert(out.length == n)
      assert(out.forall(_.code == "COMMIT"), out.map(_.code).distinct.mkString(","))
      assert(server.acceptedConnections.get() < n,
        s"dialed ${server.acceptedConnections.get()} connections for $n messages — pool not reusing")
    } finally server.close()
  }

  test("action arrives as a TRAILER and overrides grpc-status per Codes.codeFor") {
    // the handler's verdict rides back as trailers; precedence table:
    //   (OK, Retry-trailer)                → RETRY  (action wins over OK)
    //   (INVALID_ARGUMENT, Skip-trailer)   → SKIP   (action wins over DLQ status)
    //   (NOT_FOUND, Stash-trailer)         → DLQ    (Stash = DLQ path)
    //   (INVALID_ARGUMENT, no trailer)     → DLQ    (pure status mapping)
    val server = new Http2ConsumerServer(req => new String(req.payload, "UTF-8") match {
      case "retry-me" => DispatchResult(GrpcStatus.OK, Some(KafkaAction.Retry), overdue = false)
      case "skip-me"  => DispatchResult(GrpcStatus.INVALID_ARGUMENT, Some(KafkaAction.Skip), overdue = false)
      case "stash-me" => DispatchResult(GrpcStatus.NOT_FOUND, Some(KafkaAction.Stash), overdue = false)
      case _          => DispatchResult(GrpcStatus.INVALID_ARGUMENT, None, overdue = false)
    })
    try {
      val f = MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port, rpcTimeoutMs = 5000)
      // unrouted outcomes (SKIP) carry no outValue; key by physical offset
      // (recs assigns offset = input index)
      val names = Seq("retry-me", "skip-me", "stash-me", "dlq-me")
      val out = ForwardingEngine.processBatch(
        spec1, f, "local-cluster",
        recs(names.map(n => (s"k$n", n))))
        .collect().map(o => names(o.physicalOffset.toInt) -> o).toMap
      assert(out("retry-me").code == "RETRY")
      assert(out("retry-me").destination == TopicNames.retry(topic, group, 1))
      assert(out("skip-me").code == "SKIP" && out("skip-me").destination == "")
      assert(out("stash-me").code == "STASH" || out("stash-me").code == "DLQ",
        out("stash-me").code)
      assert(out("stash-me").destination == TopicNames.dlq(topic, group))
      assert(out("dlq-me").destination == TopicNames.dlq(topic, group))
    } finally server.close()
  }

  test("wire deadline → DEADLINE_EXCEEDED trailer precedence: overdue BACKOFF, redelivery commits") {
    Http2World.reset()
    val server = new Http2ConsumerServer(req => {
      val p = new String(req.payload, "UTF-8")
      if (p == "slow" && Http2World.sighting(p) == 1) Thread.sleep(800)
      DispatchResult(GrpcStatus.OK, None, overdue = false)
    })
    try {
      val f = MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port, rpcTimeoutMs = 150)
      val round1 = ForwardingEngine.processBatch(
        spec1, f, "local-cluster",
        recs(Seq(("k1", "fast1"), ("k2", "slow"), ("k3", "fast2")))).collect()
      assert(round1.count(_.code == "COMMIT") == 2)
      val stalled = round1.find(o => o.code != "COMMIT").get
      assert(stalled.code == "RETRY", stalled.code)
      assert(stalled.destination == TopicNames.retry(topic, group, 1))
      assert(stalled.timeoutCount == 1L)
      val replay = ForwardingEngine.processBatch(
        spec1, f, "local-cluster",
        spark.createDataset(Seq(KafkaRecord(
          stalled.outKey, stalled.outValue, stalled.destination, 0, 0L,
          1700000000000000000L, Map.empty)))).collect()
      assert(replay.length == 1 && replay.head.code == "COMMIT")
    } finally server.close()
  }

  test("refused connection: UNAVAILABLE (not overdue) → in-memory retry → INVALID") {
    val probe = new java.net.ServerSocket(0)
    val deadPort = probe.getLocalPort
    probe.close()
    val f = MultiplexedHttp2DispatcherFactory("127.0.0.1", deadPort, rpcTimeoutMs = 2000)
    val out = ForwardingEngine.processBatch(
      spec1, f, "local-cluster", recs(Seq(("k1", "m1")))).collect()
    assert(out.length == 1 && out.head.code == "INVALID" && out.head.destination == "")
  }

  test("framing round-trips arbitrary payloads (incl. >16KB multi-frame DATA) and headers") {
    def digest(req: DispatchRequest): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      req.headers.toSeq.sortBy(_._1).foreach { case (k, v) =>
        md.update(k.getBytes("UTF-8")); md.update(v.getBytes("UTF-8")) }
      md.update(req.payload)
      md.digest().map("%02x".format(_)).mkString
    }
    // the digest rides back in grpc-message... which we repurpose as the
    // statusCode channel; instead assert through kafka-action (free-form)
    val server = new Http2ConsumerServer(req =>
      DispatchResult(GrpcStatus.OK, Some(digest(req)), overdue = false))
    try {
      val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.port, rpcTimeoutMs = 5000)
      try {
        val rng = new scala.util.Random(7)
        for (i <- 0 until 40) {
          // include payloads past the 16 KiB default frame size to force
          // DATA splitting, and header values past 127 bytes to force
          // multi-byte HPACK ints
          val payload = new Array[Byte](if (i == 0) 0 else rng.nextInt(40000))
          rng.nextBytes(payload)
          val headers = (0 until rng.nextInt(5)).map(j =>
            s"kafka-h$j" -> ("v" * rng.nextInt(300))).toMap
          val req = DispatchRequest(payload, headers)
          val res = d.dispatch(req)
          assert(res.statusCode == GrpcStatus.OK)
          assert(res.action.contains(digest(req)), s"iteration $i framing mismatch")
          assert(!res.overdue)
        }
      } finally d.close()
    } finally server.close()
  }

  test("server close() unblocks pooled-idle serve threads (no lingering sockets)") {
    // a pooled client connection sits idle between dispatches on one of the
    // server's event-loop threads; close() must end those threads and the
    // connections they serve instead of leaving them behind
    def serveThreads(): Set[Thread] = {
      val all = new Array[Thread](Thread.activeCount() + 16)
      Thread.enumerate(all)
      all.filter(t => t != null && t.getName.startsWith("graft-h2-server-")).toSet
    }
    val before = serveThreads()
    val server = new Http2ConsumerServer(_ =>
      DispatchResult(GrpcStatus.OK, None, overdue = false))
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.port, rpcTimeoutMs = 5000)
    try {
      assert(d.dispatch(DispatchRequest("x".getBytes("UTF-8"), Map.empty))
        .statusCode == GrpcStatus.OK)
      // the connection is now pooled-idle on a server loop thread
      val during = serveThreads() -- before
      assert(during.nonEmpty, "expected a live server thread for the pooled connection")
      server.close()
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while ((during.exists(_.isAlive) || d.channels.exists(_.isActive)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(!during.exists(_.isAlive),
        "server threads still alive 5s after close(): " +
          during.filter(_.isAlive).map(_.getName).mkString(", "))
      assert(!d.channels.exists(_.isActive), "the client's connection outlived the server")
    } finally { d.close(); server.close() }
  }

  private def digestOf(payload: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(payload)
    md.digest().map("%02x".format(_)).mkString
  }

  test("multiplexed dispatcher: 8 in-flight streams on ONE connection, responses correlated by stream id out of order") {
    // A bare HTTP/2 peer that holds EIGHT complete requests on one
    // connection before answering, then replies in REVERSE stream-id
    // order, tagging each trailer's kafka-action with the REQUEST's
    // payload digest. Only true stream-id demultiplexing can hand every
    // caller its own digest: order-based correlation would hand caller 1
    // stream 15's verdict. This is RFC 9113 concurrency (the reference's
    // 250-streams/channel shape) exercised for real.
    val n = 8
    val held = scala.collection.mutable.ArrayBuffer.empty[(H2TestPeer.Stream, Array[Byte])]
    val peer = new H2TestPeer((s, payload) => { // on the peer's one loop thread
      held += s -> payload
      if (held.size == n) held.sortBy(-_._1.id).foreach { case (st, p) => // REVERSED
        st.reply(0, Some(digestOf(p)))
      }
    })
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", peer.port,
      rpcTimeoutMs = 10000, connections = 1)
    try {
      val results = new java.util.concurrent.ConcurrentHashMap[Int, DispatchResult]()
      val ts = (0 until n).map { i =>
        val th = new Thread(() => {
          results.put(i, d.dispatch(DispatchRequest(s"payload-$i".getBytes("UTF-8"),
            Map("kafka-offset" -> i.toString))))
          ()
        })
        th.start(); th
      }
      ts.foreach(_.join(30000))
      assert(results.size == n)
      (0 until n).foreach { i =>
        val r = results.get(i)
        assert(r.statusCode == GrpcStatus.OK, s"caller $i: $r")
        assert(r.action.contains(digestOf(s"payload-$i".getBytes("UTF-8"))),
          s"caller $i got someone else's response: $r")
      }
    } finally { d.close(); peer.close() }
  }

  test("multiplexed dispatcher: an expired stream is abandoned without poisoning its connection") {
    // the property stream-id correlation buys: a deadline on one stream
    // must not fail in-flight siblings or retire the connection — the late
    // response is simply dropped by the id lookup, and the SAME connection
    // keeps serving
    val stallMarker = "stall".getBytes("UTF-8")
    val server = new Http2ConsumerServer(req => {
      if (java.util.Arrays.equals(req.payload, stallMarker)) Thread.sleep(800)
      DispatchResult(GrpcStatus.OK, Some(digestOf(req.payload)), overdue = false)
    })
    try {
      val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.port,
        rpcTimeoutMs = 300, connections = 1)
      try {
        val r1 = d.dispatch(DispatchRequest(stallMarker, Map.empty))
        assert(r1.statusCode == GrpcStatus.DEADLINE_EXCEEDED && r1.overdue, r1.toString)
        Thread.sleep(700) // the stalled response arrives late and is dropped
        val after = "after".getBytes("UTF-8")
        val r2 = d.dispatch(DispatchRequest(after, Map.empty))
        assert(r2.statusCode == GrpcStatus.OK && r2.action.contains(digestOf(after)), r2.toString)
        assert(server.acceptedConnections.get() == 1,
          s"dispatcher redialed (${server.acceptedConnections.get()} connections) — " +
            "the deadline poisoned the connection")
      } finally d.close()
    } finally server.close()
  }

  test("concurrent callers each get their own response over 4 multiplexed connections") {
    // the echo carries the request's payload digest, its kafka-offset and
    // its length, so a response handed to the WRONG caller is a visible
    // mismatch, never a silent pass
    def echo(payload: Array[Byte], offset: String): String =
      s"${digestOf(payload)} offset=$offset len=${payload.length}"
    val server = new Http2ConsumerServer(req => DispatchResult(GrpcStatus.OK,
      Some(echo(req.payload, req.headers.getOrElse("kafka-offset", ""))), overdue = false))
    try {
      val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.port,
        rpcTimeoutMs = 5000, connections = 4)
      try {
        val threads = 16
        val perThread = 250
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val ts = (0 until threads).map { t =>
          val th = new Thread(() => {
            val rng = new scala.util.Random(1000 + t)
            for (i <- 0 until perThread) {
              val payload = new Array[Byte](1 + rng.nextInt(2048))
              rng.nextBytes(payload)
              val res = d.dispatch(DispatchRequest(payload,
                Map("kafka-offset" -> s"$t-$i", "kafka-topic" -> topic)))
              if (res.statusCode != GrpcStatus.OK)
                errs.add(s"thread $t iter $i: status ${res.statusCode}")
              else if (!res.action.contains(echo(payload, s"$t-$i")))
                errs.add(s"thread $t iter $i: got someone else's response ${res.action}")
            }
          })
          th.start(); th
        }
        ts.foreach(_.join(120000))
        assert(errs.isEmpty, errs.toArray.take(5).mkString("; "))
        // multiplexing is real: 4000 dispatches crossed exactly the
        // dispatcher's `connections` connections, not one per RPC or thread
        assert(server.acceptedConnections.get() == 4,
          s"expected 4 connections for ${threads * perThread} dispatches, " +
            s"dialed ${server.acceptedConnections.get()}")
      } finally d.close()
    } finally server.close()
  }

  test("multiplexed dispatcher: per-connection in-flight streams capped at 250 (reference's channel shape)") {
    // A bare HTTP/2 peer that advertises no stream limit and ANSWERS
    // NOTHING until the client stops sending: with 260 concurrent callers
    // on one connection, the client must stop opening streams at the
    // reference's 250/channel; the 10 over-cap callers wait and proceed
    // only as responses free streams. Without the cap the peer would see
    // all 260 requests before any reply.
    val n = MultiplexedHttp2Dispatcher.MaxConcurrentStreams + 10
    @volatile var seenBeforeReplies = -1
    // peer state below is touched only on the peer's one loop thread
    val held = scala.collection.mutable.ArrayBuffer.empty[H2TestPeer.Stream]
    var quiet = false
    var lull: io.netty.util.concurrent.ScheduledFuture[_] = null
    val peer = new H2TestPeer((s, _) =>
      if (quiet) s.reply(0)
      else {
        held += s
        if (lull != null) lull.cancel(false)
        // the client has stopped opening streams once 700 ms pass with no
        // new request: record, then answer everything
        lull = s.loop.schedule((() => {
          seenBeforeReplies = held.size
          quiet = true
          held.foreach(_.reply(0))
          held.clear()
        }): Runnable, 700, java.util.concurrent.TimeUnit.MILLISECONDS)
      })
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", peer.port,
      rpcTimeoutMs = 30000, connections = 1)
    try {
      val results = new java.util.concurrent.ConcurrentHashMap[Int, DispatchResult]()
      val ts = (0 until n).map { i =>
        val th = new Thread(() => {
          results.put(i, d.dispatch(DispatchRequest(s"p$i".getBytes("UTF-8"), Map.empty))); ()
        })
        th.start(); th
      }
      ts.foreach(_.join(60000))
      assert(results.size == n, s"only ${results.size}/$n callers completed")
      assert(seenBeforeReplies == MultiplexedHttp2Dispatcher.MaxConcurrentStreams,
        s"peer saw $seenBeforeReplies unanswered streams — the in-flight cap " +
          s"(${MultiplexedHttp2Dispatcher.MaxConcurrentStreams}) did not hold")
      (0 until n).foreach(i =>
        assert(results.get(i).statusCode == GrpcStatus.OK, s"caller $i: ${results.get(i)}"))
    } finally { d.close(); peer.close() }
  }

  test("multiplexed dispatcher: a peer's lower SETTINGS_MAX_CONCURRENT_STREAMS holds, calls past it wait") {
    // The peer advertises 8 streams and answers each request 5 ms late;
    // after a warm-up call has carried the SETTINGS both ways, 40 callers
    // share the connection. Calls past the limit must wait for a stream
    // to close, not fail, and the peer must never run more than 8.
    val limit = 8
    var inFlight = 0 // peer loop only
    @volatile var maxInFlight = 0
    val peer = new H2TestPeer((s, _) => {
      inFlight += 1
      maxInFlight = math.max(maxInFlight, inFlight)
      s.loop.schedule((() => { inFlight -= 1; s.reply(0) }): Runnable,
        5, java.util.concurrent.TimeUnit.MILLISECONDS)
      ()
    }, maxStreams = Some(limit.toLong))
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", peer.port, rpcTimeoutMs = 30000, connections = 1)
    try {
      assert(d.dispatch(DispatchRequest("warm".getBytes("UTF-8"), Map.empty)).statusCode == GrpcStatus.OK)
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ts = (0 until 40).map { t =>
        val th = new Thread(() => (0 until 5).foreach { i =>
          val r = d.dispatch(DispatchRequest(s"t$t-$i".getBytes("UTF-8"), Map.empty))
          if (r.statusCode != GrpcStatus.OK) bad.add(s"t$t-$i: $r")
        })
        th.start(); th
      }
      ts.foreach(_.join(60000))
      assert(bad.isEmpty, bad.toArray.take(5).mkString("; "))
      assert(maxInFlight <= limit, s"peer ran $maxInFlight requests at once, over its limit of $limit")
      assert(peer.connections.get() == 1, s"dialed ${peer.connections.get()} connections")
    } finally { d.close(); peer.close() }
  }

  test("a stream the peer refuses with REFUSED_STREAM is sent again on its connection") {
    // The peer refuses the first request it sees, unrun, as an HTTP/2
    // server over its stream limit does, and answers the rest.
    @volatile var requests = 0
    val peer = new H2TestPeer((s, _) => {
      requests += 1
      if (requests == 1) s.refuse() else s.reply(0, Some(KafkaAction.Skip))
    })
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", peer.port, rpcTimeoutMs = 5000, connections = 1)
    try {
      val r = d.dispatch(DispatchRequest("once".getBytes("UTF-8"), Map.empty))
      assert(r == DispatchResult(GrpcStatus.OK, Some(KafkaAction.Skip), overdue = false), r.toString)
      assert(requests == 2 && peer.connections.get() == 1,
        s"peer saw $requests requests on ${peer.connections.get()} connections")
    } finally { d.close(); peer.close() }
  }

  test("GOAWAY: calls the peer will not run go out on one new connection; the old one drains and closes") {
    // The peer allows 2 streams; on its first connection it holds the
    // first two requests after the warm-up, and 200 ms later, with the
    // other callers queued behind them, sends GOAWAY naming the later one
    // as its last; it answers both 100 ms after that. The queued callers
    // must be sent on a second connection, and the client must close the
    // first once its two streams are done.
    val held = scala.collection.mutable.ArrayBuffer.empty[H2TestPeer.Stream] // peer loop only
    @volatile var firstConnRequests = 0
    val peer = new H2TestPeer((s, payload) =>
      if (s.conn > 1) s.reply(0)
      else {
        firstConnRequests += 1
        if (new String(payload, "UTF-8") == "warm") s.reply(0)
        else {
          held += s
          if (held.size == 2) {
            s.loop.schedule((() => {
              s.goAway()
              s.loop.schedule((() => held.foreach(_.reply(0))): Runnable,
                100, java.util.concurrent.TimeUnit.MILLISECONDS)
              ()
            }): Runnable, 200, java.util.concurrent.TimeUnit.MILLISECONDS)
            ()
          }
        }
      }, maxStreams = Some(2L))
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", peer.port, rpcTimeoutMs = 10000, connections = 1)
    try {
      assert(d.dispatch(DispatchRequest("warm".getBytes("UTF-8"), Map.empty)).statusCode == GrpcStatus.OK)
      val results = new java.util.concurrent.ConcurrentHashMap[Int, DispatchResult]()
      val ts = (0 until 6).map { i =>
        val th = new Thread(() => {
          results.put(i, d.dispatch(DispatchRequest(s"p$i".getBytes("UTF-8"), Map.empty))); ()
        })
        th.start(); th
      }
      ts.foreach(_.join(30000))
      (0 until 6).foreach(i => assert(results.get(i) != null && results.get(i).statusCode == GrpcStatus.OK,
        s"caller $i: ${results.get(i)}"))
      assert(firstConnRequests == 3, s"the first connection ran $firstConnRequests requests, not warm-up + 2")
      assert(peer.connections.get() == 2, s"expected one replacement dial, saw ${peer.connections.get()}")
      val until = System.nanoTime() + 5000000000L
      while (peer.closedConnections.get() < 1 && System.nanoTime() < until) Thread.sleep(10)
      assert(peer.closedConnections.get() == 1, "the client never closed the connection that sent GOAWAY")
    } finally { d.close(); peer.close() }
  }

  test("stream-space exhaustion retires gracefully: the boundary request itself succeeds") {
    // The request that takes the last client stream id (2^31-1) must
    // still be answered on its connection, and the next dispatch must dial
    // exactly one replacement. The codec's local endpoint is moved to one
    // step before the boundary by opening (and closing) a stream there.
    val server = new Http2ConsumerServer(req =>
      DispatchResult(GrpcStatus.OK, Some(digestOf(req.payload)), overdue = false))
    try {
      val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.port,
        rpcTimeoutMs = 5000, connections = 1)
      try {
        val warm = "warm".getBytes("UTF-8")
        assert(d.dispatch(DispatchRequest(warm, Map.empty)).action.contains(digestOf(warm)))
        val ch = d.channels.head
        val codec = ch.pipeline().get(classOf[io.netty.handler.codec.http2.Http2ConnectionHandler])
        ch.eventLoop().submit((() => {
          codec.connection().local().createStream(Int.MaxValue - 2, true).close(); ()
        }): Runnable).get()
        val p1 = "boundary".getBytes("UTF-8")
        val r1 = d.dispatch(DispatchRequest(p1, Map.empty))
        assert(r1.statusCode == GrpcStatus.OK && r1.action.contains(digestOf(p1)),
          s"the stream-space boundary request failed: $r1")
        assert(codec.connection().local().lastStreamCreated() == Int.MaxValue,
          "the boundary request did not take the last stream id")
        // the retired connection is replaced for the next dispatch
        val p2 = "after-retire".getBytes("UTF-8")
        val r2 = d.dispatch(DispatchRequest(p2, Map.empty))
        assert(r2.statusCode == GrpcStatus.OK && r2.action.contains(digestOf(p2)), r2.toString)
        assert(server.acceptedConnections.get() == 2,
          s"expected one replacement dial after retirement, saw " +
            s"${server.acceptedConnections.get()} connections")
      } finally d.close()
    } finally server.close()
  }

  test("engine E2E: multiplexed HTTP/2 and in-process dispatchers route every record identically") {
    // one handler, reached over the wire and called in-process
    val inProcess = graft.operators.PipelineOps.DeterministicDispatcherFactory
    val handler = inProcess.create()
    val server = new Http2ConsumerServer(handler.dispatch)
    try {
      val n = 400
      def rs(): Dataset[KafkaRecord] =
        spark.createDataset((0 until n).map(i =>
          KafkaRecord(s"k$i".getBytes("UTF-8"), s"m$i".getBytes("UTF-8"), topic,
            i % 4, i.toLong, 1700000000000000000L + i, Map.empty)))
      def routed(f: DispatcherFactory): Seq[(String, Int, Long, String, String)] =
        ForwardingEngine.processBatch(spec1, f, "local-cluster", rs()).collect()
          .map(o => (o.physicalTopic, o.physicalPartition, o.physicalOffset, o.code, o.destination))
          .sortBy(x => (x._1, x._2, x._3)).toSeq
      val viaMux = routed(
        MultiplexedHttp2DispatcherFactory("127.0.0.1", server.port, rpcTimeoutMs = 10000))
      assert(viaMux.size == n && viaMux == routed(inProcess))
    } finally server.close()
  }

  test("grpc-status travels as its canonical code number, both ways") {
    assert(GrpcStatus.code(GrpcStatus.OK) == 0)
    assert(GrpcStatus.code(GrpcStatus.DEADLINE_EXCEEDED) == 4)
    assert(GrpcStatus.code(GrpcStatus.UNAVAILABLE) == 14)
    assert(GrpcStatus.code("NOT_A_STATUS") == 2)
    assert(GrpcStatus.named(4) == GrpcStatus.DEADLINE_EXCEEDED)
    assert(GrpcStatus.named(99) == GrpcStatus.UNKNOWN)
    assert(GrpcStatus.all.indices.forall(i => GrpcStatus.code(GrpcStatus.named(i)) == i))
  }

  test("interop: every verdict from a stock Netty HTTP/2 peer decodes, incl. Huffman, indexed fields and a 100 KiB reply") {
    // The peer's encoder uses Huffman strings and indexes repeated fields
    // in its dynamic table, so from the second reply on the response
    // headers and trailers arrive as table references. The "big" reply's
    // gRPC body exceeds the 64 KiB default windows: it arrives only if the
    // client returns WINDOW_UPDATEs as it reads.
    val big = Array.tabulate[Byte](100 * 1024)(i => (i % 251).toByte)
    val verdicts = Map(
      "ok" -> (0, None), "retry" -> (0, Some(KafkaAction.Retry)),
      "skip" -> (3, Some(KafkaAction.Skip)), "stash" -> (5, Some(KafkaAction.Stash)),
      "late" -> (4, None), "gone" -> (14, None), "big" -> (0, Some(KafkaAction.Retry)))
    val peer = new H2TestPeer((s, payload) => {
      val p = new String(payload, "UTF-8")
      val (status, action) = verdicts(p)
      s.reply(status, action, if (p == "big") big else Array.emptyByteArray)
    })
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", peer.port, rpcTimeoutMs = 5000, connections = 1)
    try {
      for (round <- 1 to 3; (p, (status, action)) <- verdicts.toSeq.sortBy(_._1)) {
        val r = d.dispatch(DispatchRequest(p.getBytes("UTF-8"), Map("kafka-offset" -> s"$round")))
        assert(r == DispatchResult(GrpcStatus.named(status), action, overdue = false),
          s"round $round, $p: $r")
      }
    } finally { d.close(); peer.close() }
  }
}
