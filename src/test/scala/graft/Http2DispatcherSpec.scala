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

/** The HTTP/2-framed dispatch path: the reference's wire contract — action
  * override and grpc-status arriving as TRAILERS
  * (GrpcDispatcher.java:362-404), kafka-* metadata as request headers,
  * deadline/unavailable precedence per Codes.codeFor — exercised over real
  * TCP with real RFC 9113 frames. */
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
          // include payloads past MaxFrame to force DATA splitting, and
          // header values past 127 bytes to force multi-byte HPACK ints
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
    // a pooled client connection sits idle between dispatches with its
    // serve thread blocked in readFrame; close() must close tracked
    // accepted sockets so those threads exit instead of lingering forever
    def serveThreads(): Set[Thread] = {
      val all = new Array[Thread](Thread.activeCount() + 16)
      Thread.enumerate(all)
      all.filter(t => t != null && t.getName.startsWith("graft-h2-serve-")).toSet
    }
    val before = serveThreads()
    val server = new Http2ConsumerServer(_ =>
      DispatchResult(GrpcStatus.OK, None, overdue = false))
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.port, rpcTimeoutMs = 5000)
    try {
      assert(d.dispatch(DispatchRequest("x".getBytes("UTF-8"), Map.empty))
        .statusCode == GrpcStatus.OK)
      // connection now pooled-idle; its serve thread is parked in readFrame
      val during = serveThreads() -- before
      assert(during.nonEmpty, "expected a live serve thread for the pooled connection")
      server.close()
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (serveThreads().intersect(during).exists(_.isAlive) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(!during.exists(_.isAlive),
        "serve threads still alive 5s after close(): " +
          during.filter(_.isAlive).map(_.getName).mkString(", "))
    } finally { d.close(); server.close() }
  }

  private def digestOf(payload: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(payload)
    md.digest().map("%02x".format(_)).mkString
  }

  test("multiplexed dispatcher: 8 in-flight streams on ONE connection, responses correlated by stream id out of order") {
    // A raw-frame HTTP/2 server that holds EIGHT complete requests on one
    // connection before answering, then replies in REVERSE stream-id
    // order, tagging each trailer's kafka-action with the REQUEST's
    // payload digest. Only true stream-id demultiplexing can hand every
    // caller its own digest: order-based correlation would hand caller 1
    // stream 15's verdict. This is RFC 9113 concurrency (the reference's
    // 250-streams/channel shape) exercised for real.
    val n = 8
    val server = new java.net.ServerSocket(0)
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        sock.setTcpNoDelay(true)
        val in = new java.io.DataInputStream(sock.getInputStream)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        val preface = new Array[Byte](Http2.Preface.length)
        in.readFully(preface)
        Http2.writeFrame(out, Http2.SETTINGS, 0, 0, Array.emptyByteArray)
        out.flush()
        val bodies = scala.collection.mutable.Map.empty[Int, java.io.ByteArrayOutputStream]
        val done = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
        while (done.size < n) {
          val f = Http2.readFrame(in)
          f.tpe match {
            case Http2.DATA =>
              bodies.getOrElseUpdate(f.streamId, new java.io.ByteArrayOutputStream())
                .write(f.payload)
              if ((f.flags & Http2.END_STREAM) != 0)
                done += f.streamId -> Http2.grpcUnframe(bodies(f.streamId).toByteArray)
            case _ => () // SETTINGS/HEADERS/PING — the test needs only bodies
          }
        }
        done.sortBy(-_._1).foreach { case (sid, payload) => // REVERSED
          Http2.writeFrame(out, Http2.HEADERS, Http2.END_HEADERS, sid,
            Http2.encodeHeaders(Seq(":status" -> "200", "content-type" -> "application/grpc")))
          Http2.writeData(out, sid, Http2.grpcFrame(Array.emptyByteArray), endStream = false)
          Http2.writeFrame(out, Http2.HEADERS, Http2.END_HEADERS | Http2.END_STREAM, sid,
            Http2.encodeHeaders(Seq("grpc-status" -> "0",
              "kafka-action" -> digestOf(payload))))
        }
        out.flush()
      } catch { case _: java.io.IOException => () }
    })
    t.setDaemon(true); t.start()
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.getLocalPort,
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
    } finally { d.close(); server.close() }
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
    // A raw-frame server that ANSWERS NOTHING until the client stops
    // sending: with 260 concurrent callers on one connection, a compliant
    // client must stop opening streams at SETTINGS_MAX_CONCURRENT_STREAMS-
    // scale (we cap at the reference's 250/channel); the 10 over-cap
    // callers block on the permit and proceed only as responses free
    // streams. Without the cap the server would see all 260 END_STREAMs
    // before any reply.
    val n = MultiplexedHttp2Dispatcher.MaxConcurrentStreams + 10
    val server = new java.net.ServerSocket(0)
    @volatile var seenBeforeReplies = -1
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        sock.setTcpNoDelay(true)
        val in = new java.io.DataInputStream(sock.getInputStream)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        val preface = new Array[Byte](Http2.Preface.length)
        in.readFully(preface)
        Http2.writeFrame(out, Http2.SETTINGS, 0, 0, Array.emptyByteArray)
        out.flush()
        val open = scala.collection.mutable.ArrayBuffer.empty[Int]
        def answer(sid: Int): Unit = {
          Http2.writeFrame(out, Http2.HEADERS, Http2.END_HEADERS, sid,
            Http2.encodeHeaders(Seq(":status" -> "200", "content-type" -> "application/grpc")))
          Http2.writeData(out, sid, Http2.grpcFrame(Array.emptyByteArray), endStream = false)
          Http2.writeFrame(out, Http2.HEADERS, Http2.END_HEADERS | Http2.END_STREAM, sid,
            Http2.encodeHeaders(Seq("grpc-status" -> "0")))
          out.flush()
        }
        var quiet = false
        var answered = 0
        while (answered < n) {
          val f =
            try { sock.setSoTimeout(if (quiet) 10000 else 700); Some(Http2.readFrame(in)) }
            catch { case _: java.net.SocketTimeoutException => None }
          f match {
            case Some(fr) if fr.tpe == Http2.DATA && (fr.flags & Http2.END_STREAM) != 0 =>
              if (quiet) { answer(fr.streamId); answered += 1 }
              else open += fr.streamId
            case Some(_) => ()
            case None => // the client has stopped opening streams: record and drain
              if (!quiet) {
                seenBeforeReplies = open.size
                quiet = true
                open.foreach(answer)
                answered += open.size
                open.clear()
              }
          }
        }
      } catch { case _: java.io.IOException => () }
    })
    t.setDaemon(true); t.start()
    val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.getLocalPort,
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
        s"server saw $seenBeforeReplies unanswered streams — the in-flight cap " +
          s"(${MultiplexedHttp2Dispatcher.MaxConcurrentStreams}) did not hold")
      (0 until n).foreach(i =>
        assert(results.get(i).statusCode == GrpcStatus.OK, s"caller $i: ${results.get(i)}"))
    } finally { d.close(); server.close() }
  }

  test("stream-space exhaustion retires gracefully: the boundary request itself succeeds") {
    // the r14-advisory race: `retiring` was set BEFORE the request entered
    // `pending`, so on the exhaustion boundary the reader could observe
    // retiring && pending.isEmpty, exit, and poison the socket before the
    // boundary request's frames were written — spuriously failing exactly
    // the request the graceful-retirement comment promises keeps serving.
    // The firstStreamId seam starts one step from the 31-bit boundary.
    val server = new Http2ConsumerServer(req =>
      DispatchResult(GrpcStatus.OK, Some(digestOf(req.payload)), overdue = false))
    try {
      val d = new MultiplexedHttp2Dispatcher("127.0.0.1", server.port,
        rpcTimeoutMs = 5000, connections = 1,
        firstStreamId = Int.MaxValue - 2) // the NEXT take exhausts the space
      try {
        val p1 = "boundary".getBytes("UTF-8")
        val r1 = d.dispatch(DispatchRequest(p1, Map.empty))
        assert(r1.statusCode == GrpcStatus.OK && r1.action.contains(digestOf(p1)),
          s"the stream-space boundary request failed: $r1")
        // the retired connection is replaced for the next dispatch
        val p2 = "after-retire".getBytes("UTF-8")
        val r2 = d.dispatch(DispatchRequest(p2, Map.empty))
        assert(r2.statusCode == GrpcStatus.OK && r2.action.contains(digestOf(p2)), r2.toString)
        assert(server.acceptedConnections.get() == 2,
          s"expected a replacement dial after retirement, saw " +
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

  test("frame layer emits legal HTTP/2 bytes: preface, 9-byte headers, HPACK decode parity") {
    // codec-level round trip without sockets: encode → decode across the
    // representative surface (pseudo-headers first, long values, empties)
    val hs = Seq(":method" -> "POST", ":path" -> "/kafka.consumerproxy.Consumer/Dispatch",
      "content-type" -> "application/grpc", "kafka-topic" -> "t",
      "long" -> ("x" * 5000), "empty" -> "")
    assert(Http2.decodeHeaders(Http2.encodeHeaders(hs)) == hs)
    // gRPC message framing round trip
    val msg = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    assert(Http2.grpcUnframe(Http2.grpcFrame(msg)).toSeq == msg.toSeq)
    // status code table is the canonical numbering both directions
    assert(Http2.statusToCode(GrpcStatus.OK) == 0)
    assert(Http2.statusToCode(GrpcStatus.DEADLINE_EXCEEDED) == 4)
    assert(Http2.statusToCode(GrpcStatus.UNAVAILABLE) == 14)
    assert(Http2.codeToStatus(4) == GrpcStatus.DEADLINE_EXCEEDED)
    // frame header layout: length/type/flags/stream id as RFC 9113 §4.1
    val bo = new java.io.ByteArrayOutputStream()
    Http2.writeFrame(new java.io.DataOutputStream(bo), Http2.HEADERS,
      Http2.END_HEADERS | Http2.END_STREAM, 7, Array[Byte](1, 2, 3))
    val b = bo.toByteArray
    assert(b.length == 9 + 3)
    assert((b(0), b(1), b(2)) == (0.toByte, 0.toByte, 3.toByte)) // 24-bit length
    assert(b(3) == Http2.HEADERS.toByte)
    assert(b(4) == (Http2.END_HEADERS | Http2.END_STREAM).toByte)
    assert(java.nio.ByteBuffer.wrap(b, 5, 4).getInt == 7) // R bit clear
  }
}
