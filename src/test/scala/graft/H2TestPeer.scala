package graft

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.{ByteBuf, Unpooled}
import io.netty.channel.{Channel, ChannelFuture, ChannelHandlerContext, ChannelInitializer, MultiThreadIoEventLoopGroup}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2Headers, Http2ConnectionHandler, Http2ConnectionHandlerBuilder, Http2Error, Http2FrameAdapter, Http2Headers, Http2Settings}
import io.netty.util.concurrent.EventExecutor

/** A bare HTTP/2 peer on Netty's codec, independent of graft's server:
  * each complete request stream, with its gRPC message, goes to
  * `onRequest` on the peer's one event-loop thread, which answers through
  * [[H2TestPeer.Stream.reply]] now, later or never. Replies are written
  * by Netty's stock encoder: Huffman strings, dynamic-table indexing, and
  * DATA held to the client's flow-control windows. `maxStreams`, when
  * set, is advertised as SETTINGS_MAX_CONCURRENT_STREAMS, and the codec
  * refuses streams past it with REFUSED_STREAM. */
final class H2TestPeer(onRequest: (H2TestPeer.Stream, Array[Byte]) => Unit, maxStreams: Option[Long] = None) {
  /** Connections accepted, and of those the ones since closed. */
  val connections = new AtomicInteger(0)
  val closedConnections = new AtomicInteger(0)

  private val loop = new MultiThreadIoEventLoopGroup(1, NioIoHandler.newFactory())
  private val listening = new ServerBootstrap().group(loop).channel(classOf[NioServerSocketChannel])
    .childHandler(new ChannelInitializer[Channel] {
      def initChannel(ch: Channel): Unit = {
        val n = connections.incrementAndGet()
        ch.closeFuture().addListener((_: ChannelFuture) => closedConnections.incrementAndGet())
        ch.pipeline().addLast(new Listener(n).codec)
        ()
      }
    })
    .bind("127.0.0.1", 0).syncUninterruptibly().channel()

  def port: Int = listening.localAddress().asInstanceOf[InetSocketAddress].getPort

  def close(): Unit = { loop.shutdownGracefully(0, 1, TimeUnit.SECONDS).awaitUninterruptibly(); () }

  private final class Listener(conn: Int) extends Http2FrameAdapter {
    val codec: Http2ConnectionHandler = {
      val settings = Http2Settings.defaultSettings()
      maxStreams.foreach(n => settings.maxConcurrentStreams(n))
      new Http2ConnectionHandlerBuilder().server(true).initialSettings(settings).frameListener(this).build()
    }
    private val bodies = scala.collection.mutable.Map.empty[Int, ByteArrayOutputStream]

    /** Netty's decoder hands every HEADERS frame to this overload. */
    override def onHeadersRead(ctx: ChannelHandlerContext, sid: Int, headers: Http2Headers,
        dependency: Int, weight: Short, exclusive: Boolean, padding: Int, endOfStream: Boolean): Unit = {
      bodies.getOrElseUpdate(sid, new ByteArrayOutputStream())
      if (endOfStream) complete(ctx, sid)
    }

    override def onDataRead(ctx: ChannelHandlerContext, sid: Int, data: ByteBuf, padding: Int,
        endOfStream: Boolean): Int = {
      val n = data.readableBytes()
      data.getBytes(data.readerIndex(), bodies.getOrElseUpdate(sid, new ByteArrayOutputStream()), n)
      if (endOfStream) complete(ctx, sid)
      n + padding
    }

    private def complete(ctx: ChannelHandlerContext, sid: Int): Unit = {
      val body = bodies.remove(sid).map(_.toByteArray).getOrElse(Array.emptyByteArray)
      onRequest(new H2TestPeer.Stream(ctx, codec, sid, conn), body.drop(5)) // the gRPC message prefix
    }
  }
}

object H2TestPeer {
  /** Request stream `id` on the peer's `conn`-th accepted connection. */
  final class Stream(ctx: ChannelHandlerContext, codec: Http2ConnectionHandler, val id: Int, val conn: Int) {
    /** The peer's event loop: every callback runs on it. */
    def loop: EventExecutor = ctx.executor()

    /** Answers as a gRPC server does: HEADERS, one message carrying
      * `body`, then TRAILERS with `grpc-status` and the optional
      * `kafka-action`. */
    def reply(grpcStatus: Int, action: Option[String] = None,
        body: Array[Byte] = Array.emptyByteArray): Unit = loop.execute { () =>
      val enc = codec.encoder()
      enc.writeHeaders(ctx, id, new DefaultHttp2Headers().status("200")
        .set("content-type", "application/grpc"), 0, false, ctx.newPromise())
      val msg = ctx.alloc().buffer(5 + body.length).writeByte(0).writeInt(body.length).writeBytes(body)
      enc.writeData(ctx, id, msg, 0, false, ctx.newPromise())
      val trailers = new DefaultHttp2Headers().set("grpc-status", grpcStatus.toString)
      action.foreach(a => trailers.set("kafka-action", a))
      enc.writeHeaders(ctx, id, trailers, 0, true, ctx.newPromise())
      codec.flush(ctx)
    }

    /** Resets the stream with REFUSED_STREAM: the request was not run. */
    def refuse(): Unit = loop.execute { () =>
      codec.resetStream(ctx, id, Http2Error.REFUSED_STREAM.code(), ctx.newPromise())
      codec.flush(ctx)
    }

    /** Sends GOAWAY(NO_ERROR) naming this stream as the last the peer
      * will process; the connection stays open for the client to close. */
    def goAway(): Unit = loop.execute { () =>
      codec.goAway(ctx, id, Http2Error.NO_ERROR.code(), Unpooled.EMPTY_BUFFER, ctx.newPromise())
      codec.flush(ctx)
    }
  }
}
