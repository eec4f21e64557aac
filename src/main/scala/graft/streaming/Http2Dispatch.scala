package graft.streaming

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.concurrent.{CompletableFuture, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.model.GrpcStatus
import io.netty.bootstrap.{Bootstrap, ServerBootstrap}
import io.netty.buffer.{ByteBuf, ByteBufAllocator}
import io.netty.channel.{Channel, ChannelFuture, ChannelHandlerContext, ChannelInitializer, ChannelOption, EventLoopGroup, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.{NioServerSocketChannel, NioSocketChannel}
import io.netty.handler.codec.http2.{DefaultHttp2Headers, Http2ConnectionAdapter, Http2ConnectionHandler, Http2ConnectionHandlerBuilder, Http2Error, Http2FrameAdapter, Http2Headers, Http2Stream}
import io.netty.util.concurrent.DefaultThreadFactory

/**
 * The dispatch path's wire format, gRPC over HTTP/2, on Netty's codec
 * (`netty-codec-http2`): framing, full HPACK, flow control in both
 * directions, CONTINUATION frames and stream ids all come from the library.
 * What graft adds is the gRPC exchange the reference's dispatcher relies on.
 * A request is HEADERS (`:path` `/kafka.consumerproxy.Consumer/Dispatch`,
 * the kafka-* metadata as headers, as GrpcDispatcher.java:126-199 attaches
 * it) and one length-prefixed gRPC message in DATA. The answer ends with
 * TRAILERS that carry `grpc-status` and the optional `kafka-action`
 * override (GrpcDispatcher.java:362-404). No gRPC jars exist here, so the
 * 5-byte message prefix is written by hand.
 *
 * A connection's state lives on its Netty event loop; other threads only
 * hand work to the loop.
 */
private[graft] object Http2 {
  /** Threads of one event-loop group, on the JDK selector transport. A connection is served by one loop
    * for its life, and 4 is the dispatcher's default connection count, so
    * a default dispatcher's connections, or a server's first four
    * clients, never share a thread. An idle loop only sleeps. */
  val LoopThreads = 4

  def loops(name: String): EventLoopGroup =
    new MultiThreadIoEventLoopGroup(LoopThreads, new DefaultThreadFactory(name, true), NioIoHandler.newFactory())

  /** A gRPC length-prefixed message: uncompressed flag, length, body. */
  def message(alloc: ByteBufAllocator, body: Array[Byte]): ByteBuf =
    alloc.buffer(5 + body.length).writeByte(0).writeInt(body.length).writeBytes(body)
}

/**
 * The HTTP/2 [[Dispatcher]]: `connections` pooled connections, picked
 * round-robin, each carrying up to
 * [[MultiplexedHttp2Dispatcher.MaxConcurrentStreams]] concurrent streams,
 * the reference's channel shape (GrpcDispatcherConfiguration.java:10).
 * Calls past that cap, or past a lower SETTINGS_MAX_CONCURRENT_STREAMS
 * from the peer, wait on their connection for a stream to close.
 * Responses are matched to callers by stream id, in any order.
 *
 * A stream past its deadline completes DEADLINE_EXCEEDED (overdue) and is
 * reset with RST_STREAM; its siblings and the connection carry on. A
 * refused or lost connection completes its calls UNAVAILABLE, and the slot
 * dials anew on the next dispatch. A connection that has used the last
 * client stream id, or received GOAWAY, takes no new calls: it finishes
 * its open streams and closes while the slot dials a replacement. Calls
 * the peer never ran (still waiting, refused with REFUSED_STREAM, or past
 * the GOAWAY's last stream) go out again on the replacement.
 *
 * `dispatch` blocks its caller until the verdict. The connections' I/O
 * runs on one executor-wide group of daemon event-loop threads.
 */
final class MultiplexedHttp2Dispatcher(host: String, port: Int, rpcTimeoutMs: Long, connections: Int = 4)
    extends Dispatcher {
  import MultiplexedHttp2Dispatcher._

  private val slots = new Array[Conn](math.max(1, connections))
  private val locks = Array.fill(slots.length)(new Object)
  private val rr = new AtomicInteger(0)
  private val authority = s"$host:$port"

  def dispatch(req: DispatchRequest): DispatchResult = {
    val deadlineNs = System.nanoTime() + rpcTimeoutMs * 1000000L
    val slot = (rr.getAndIncrement() & Int.MaxValue) % slots.length
    var res = Redial
    while (res eq Redial) {
      val call = new Call(req, deadlineNs)
      res =
        try { connection(slot).submit(call); call.await(rpcTimeoutMs * 2 + 1000) }
        catch { case NonFatal(_) => call.unavailable } // the dial failed
    }
    res
  }

  private def connection(slot: Int): Conn = locks(slot).synchronized {
    if (slots(slot) == null || !slots(slot).usable) slots(slot) = new Conn
    slots(slot)
  }

  override def close(): Unit = slots.indices.foreach { i =>
    locks(i).synchronized {
      if (slots(i) != null) { slots(i).ch.close(); slots(i) = null }
    }
  }

  /** The slots' channels, for specs that reach into the codec. */
  private[graft] def channels: Seq[Channel] =
    slots.indices.flatMap(i => locks(i).synchronized(Option(slots(i)))).map(_.ch)

  /** One connection. `usable` and `submit` run on callers' threads; all
    * else runs on the connection's event loop. */
  private final class Conn extends Http2FrameAdapter {
    private val codec = new Http2ConnectionHandlerBuilder().server(false).frameListener(this)
      .gracefulShutdownTimeoutMillis(0).build()
    private val open = new java.util.HashMap[Integer, Call]()
    private val waiting = new java.util.ArrayDeque[Call]()
    @volatile private var retired = false

    codec.connection().addListener(new Http2ConnectionAdapter {
      // Answered, reset, failed to write, or the connection went away. Only
      // now does Netty count the stream as gone, so a waiting call can take
      // its place; the task runs after any close sweep that is under way.
      override def onStreamClosed(s: Http2Stream): Unit = {
        val conn = codec.connection()
        if (conn.goAwayReceived() && s.id > conn.local().lastStreamKnownByPeer()) refused(s.id)
        else finish(s.id, null)
        if (retired || !waiting.isEmpty) ch.eventLoop().execute(() => startWaiting())
      }
    })

    val ch: Channel = {
      val f = new Bootstrap().group(loops).channel(classOf[NioSocketChannel])
        .option[java.lang.Boolean](ChannelOption.TCP_NODELAY, true)
        .option[Integer](ChannelOption.CONNECT_TIMEOUT_MILLIS, math.max(1L, rpcTimeoutMs).min(Int.MaxValue).toInt)
        .handler(codec).connect(host, port).awaitUninterruptibly()
      if (!f.isSuccess) throw f.cause()
      f.channel()
    }
    private val ctx = ch.pipeline().context(codec)
    ch.closeFuture().addListener((_: ChannelFuture) => {
      retired = true
      while (!waiting.isEmpty) { val c = waiting.poll(); c.complete(c.unavailable) }
    })

    def usable: Boolean = ch.isActive && !retired

    def submit(c: Call): Unit = ch.eventLoop().execute(() => {
      c.timer = ch.eventLoop().schedule((() => expire(c)): Runnable,
        c.deadlineNs - System.nanoTime(), TimeUnit.NANOSECONDS)
      if (retired || (waiting.isEmpty && roomy)) start(c) else waiting.add(c)
    })

    /** Whether a new stream fits under both our cap and the peer's
      * SETTINGS_MAX_CONCURRENT_STREAMS, counted as Netty counts them. */
    private def roomy: Boolean = {
      val local = codec.connection().local()
      local.canOpenStream() && local.numActiveStreams() < MaxConcurrentStreams
    }

    private def start(c: Call): Unit =
      if (!ch.isActive) c.complete(c.unavailable)
      else if (retired) c.complete(Redial)
      else {
        val sid = codec.connection().local().incrementAndGetNextStreamId()
        if (sid < 0) { retired = true; c.complete(Redial) } // raced past the last id
        else {
          if (sid > Int.MaxValue - 2) retired = true // the last client stream id
          c.sid = sid
          open.put(sid, c)
          val headers = new DefaultHttp2Headers().method("POST").scheme("http")
            .path("/kafka.consumerproxy.Consumer/Dispatch").authority(authority)
            .set("content-type", "application/grpc").set("te", "trailers")
          c.req.headers.foreach { case (k, v) => headers.set(k, v) }
          val enc = codec.encoder()
          enc.writeHeaders(ctx, sid, headers, 0, false,
            ctx.newPromise().addListener((f: ChannelFuture) => if (!f.isSuccess) finish(sid, null)))
          enc.writeData(ctx, sid, Http2.message(ctx.alloc(), c.req.payload), 0, true, ctx.newPromise())
          flushSoon()
        }
      }

    private var flushQueued = false

    /** One flush after every call already queued on the loop: a burst of
      * calls leaves in one write. From outside a read, only the handler's
      * own flush moves DATA out of the flow controller. */
    private def flushSoon(): Unit = if (!flushQueued) {
      flushQueued = true
      ch.eventLoop().execute(() => { flushQueued = false; codec.flush(ctx) })
    }

    /** The RST_STREAM frees the stream's slot once it is written. */
    private def expire(c: Call): Unit = {
      if (c.sid > 0 && open.remove(c.sid) != null) {
        codec.resetStream(ctx, c.sid, Http2Error.CANCEL.code(), ctx.newPromise())
        flushSoon()
      } else waiting.remove(c)
      c.complete(DispatchResult(GrpcStatus.DEADLINE_EXCEEDED, None, overdue = true))
    }

    /** Completes stream `sid`'s call from its trailers, or UNAVAILABLE
      * when it closed without them (`trailers` null). */
    private def finish(sid: Int, trailers: Http2Headers): Unit = {
      val c = open.remove(sid)
      if (c != null) {
        c.timer.cancel(false)
        c.complete(if (trailers == null) c.unavailable else DispatchResult(
          GrpcStatus.named(Option(trailers.getInt("grpc-status")).fold(2)(_.intValue)),
          Option(trailers.get("kafka-action")).map(_.toString).filter(_.nonEmpty),
          overdue = System.nanoTime() >= c.deadlineNs))
      }
    }

    /** The peer never processed stream `sid`: its call goes out again. */
    private def refused(sid: Int): Unit = {
      val c = open.remove(sid)
      if (c != null) { c.timer.cancel(false); c.complete(Redial) }
    }

    /** Starts waiting calls while there is room; once retired, sends them
      * all back to redial, and closes when the last stream is gone. */
    private def startWaiting(): Unit = {
      while (!waiting.isEmpty && (retired || roomy)) start(waiting.poll())
      if (retired && codec.connection().numActiveStreams() == 0) { ch.close(); () }
    }

    /** Netty's decoder hands every HEADERS frame to this overload. */
    override def onHeadersRead(ctx: ChannelHandlerContext, sid: Int, headers: Http2Headers,
        dependency: Int, weight: Short, exclusive: Boolean, padding: Int, endOfStream: Boolean): Unit =
      if (endOfStream) finish(sid, headers)

    /** REFUSED_STREAM: the peer was at its stream limit (a burst sent
      * before its SETTINGS arrived) and did not run the request. */
    override def onRstStreamRead(ctx: ChannelHandlerContext, sid: Int, errorCode: Long): Unit =
      if (errorCode == Http2Error.REFUSED_STREAM.code()) refused(sid)

    /** Netty has already closed the streams past the peer's last one;
      * the rest finish here, and new calls go to a new connection. */
    override def onGoAwayRead(ctx: ChannelHandlerContext, lastStreamId: Int, errorCode: Long,
        debugData: ByteBuf): Unit = { retired = true; startWaiting() }
  }
}

object MultiplexedHttp2Dispatcher {
  /** Per-connection in-flight stream cap — the reference's channel pool
    * runs 250 concurrent streams per channel
    * (uforwarder/src/main/java/com/uber/data/kafka/consumerproxy/config/GrpcDispatcherConfiguration.java:10).
    * A peer that advertises a lower SETTINGS_MAX_CONCURRENT_STREAMS gets
    * its own limit. */
  val MaxConcurrentStreams = 250

  /** This executor's HTTP/2 client threads, shared by every dispatcher:
    * daemons, created on first use and kept for the JVM's life, as
    * `ForwardingEngine.dispatchPool` is. */
  private lazy val loops: EventLoopGroup = Http2.loops("graft-h2-client")

  /** Marks a call that met a connection with no stream ids left; the
    * caller submits it again, on a fresh connection. */
  private val Redial = DispatchResult(GrpcStatus.UNAVAILABLE, None, overdue = false)

  private final class Call(val req: DispatchRequest, val deadlineNs: Long) {
    private val result = new CompletableFuture[DispatchResult]()
    var sid = 0
    var timer: java.util.concurrent.Future[_] = _

    def unavailable: DispatchResult =
      DispatchResult(GrpcStatus.UNAVAILABLE, None, overdue = System.nanoTime() >= deadlineNs)

    def complete(r: DispatchResult): Unit = { result.complete(r); () }

    /** The verdict; the backstop covers an event loop that never answers. */
    def await(backstopMs: Long): DispatchResult = {
      val r =
        try result.get(backstopMs, TimeUnit.MILLISECONDS)
        catch {
          case _: TimeoutException => DispatchResult(GrpcStatus.DEADLINE_EXCEEDED, None, overdue = true)
          case _: InterruptedException => Thread.currentThread().interrupt(); unavailable
        }
      complete(r)
      r
    }
  }
}

/** Serializable factory for the multiplexed HTTP/2 dispatcher. The
  * executor holds one dispatcher per factory value, so `connections` is
  * the connection count per executor per job, as in the reference's
  * channel pool. */
final case class MultiplexedHttp2DispatcherFactory(
    host: String, port: Int, rpcTimeoutMs: Long, connections: Int = 4)
    extends DispatcherFactory {
  def create(): Dispatcher =
    new MultiplexedHttp2Dispatcher(host, port, rpcTimeoutMs, connections)
}

/**
 * The consumer side: answers each request stream with response HEADERS,
 * an empty gRPC message and TRAILERS carrying grpc-status (+ kafka-action
 * when the handler sets one), the reply shape GrpcDispatcher's
 * onClose(status, trailers) consumes in the reference. The handler sees
 * the request's headers without the pseudo-headers, `content-type` and
 * `te`. It runs on the connection's event loop, so one connection's
 * requests are handled one at a time, in arrival order; a handler that
 * throws answers UNKNOWN. The server has its own event-loop group, shut
 * down by `close()`.
 */
final class Http2ConsumerServer(handler: DispatchRequest => DispatchResult) {
  private val loops = Http2.loops("graft-h2-server")
  val acceptedConnections = new AtomicInteger(0)

  private val listening: Channel = new ServerBootstrap().group(loops)
    .channel(classOf[NioServerSocketChannel])
    .option[Integer](ChannelOption.SO_BACKLOG, 4096)
    .childOption[java.lang.Boolean](ChannelOption.TCP_NODELAY, true)
    .childHandler(new ChannelInitializer[Channel] {
      def initChannel(ch: Channel): Unit = {
        acceptedConnections.incrementAndGet()
        ch.pipeline().addLast(new Streams().codec)
      }
    })
    .bind(0).syncUninterruptibly().channel()

  def port: Int = listening.localAddress().asInstanceOf[InetSocketAddress].getPort

  def close(): Unit = {
    listening.close()
    loops.shutdownGracefully(0, 1, TimeUnit.SECONDS).awaitUninterruptibly()
    ()
  }

  private final class Request(val headers: Http2Headers) {
    val body = new ByteArrayOutputStream()
  }

  /** One connection's request streams. The codec flushes the replies
    * when the read that completed them is done. */
  private final class Streams extends Http2FrameAdapter {
    val codec: Http2ConnectionHandler =
      new Http2ConnectionHandlerBuilder().server(true).frameListener(this).build()
    private val requests = new java.util.HashMap[Integer, Request]()

    override def onHeadersRead(ctx: ChannelHandlerContext, sid: Int, headers: Http2Headers,
        dependency: Int, weight: Short, exclusive: Boolean, padding: Int, endOfStream: Boolean): Unit = {
      val r = requests.get(sid)
      if (r == null) requests.put(sid, new Request(headers)) else r.headers.add(headers)
      if (endOfStream) respond(ctx, sid)
    }

    override def onDataRead(ctx: ChannelHandlerContext, sid: Int, data: ByteBuf, padding: Int,
        endOfStream: Boolean): Int = {
      val n = data.readableBytes()
      val r = requests.get(sid)
      if (r != null) data.getBytes(data.readerIndex(), r.body, n)
      if (endOfStream) respond(ctx, sid)
      n + padding
    }

    override def onRstStreamRead(ctx: ChannelHandlerContext, sid: Int, errorCode: Long): Unit = {
      requests.remove(sid); ()
    }

    private def respond(ctx: ChannelHandlerContext, sid: Int): Unit = {
      val r = requests.remove(sid)
      if (r != null) {
        val headers = r.headers.asScala.map(e => e.getKey.toString -> e.getValue.toString)
          .filterNot { case (k, _) => k.startsWith(":") || k == "content-type" || k == "te" }.toMap
        val body = r.body.toByteArray
        val payload = if (body.length <= 5) Array.emptyByteArray else java.util.Arrays.copyOfRange(body, 5, body.length)
        val res =
          try handler(DispatchRequest(payload, headers))
          catch { case NonFatal(_) => DispatchResult(GrpcStatus.UNKNOWN, None, overdue = false) }
        val enc = codec.encoder()
        enc.writeHeaders(ctx, sid, new DefaultHttp2Headers().status("200")
          .set("content-type", "application/grpc"), 0, false, ctx.newPromise())
        enc.writeData(ctx, sid, Http2.message(ctx.alloc(), Array.emptyByteArray), 0, false, ctx.newPromise())
        val trailers = new DefaultHttp2Headers()
          .set("grpc-status", GrpcStatus.code(res.statusCode).toString)
          .set("grpc-message", res.statusCode)
        res.action.foreach(a => trailers.set("kafka-action", a))
        enc.writeHeaders(ctx, sid, trailers, 0, true, ctx.newPromise())
      }
    }
  }
}
