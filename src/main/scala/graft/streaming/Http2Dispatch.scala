package graft.streaming

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, IOException}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

/**
 * HTTP/2 binary framing for the dispatch path — the wire format the
 * reference's gRPC dispatcher actually speaks, reproduced from the RFC 9113
 * frame layer up (no gRPC jars exist in this sandbox): 9-byte frame
 * headers, connection preface + SETTINGS exchange, HPACK-encoded header
 * blocks, gRPC's 5-byte message framing inside DATA, and — the part the
 * reference's protocol contract hangs on — `grpc-status` and the
 * `kafka-action` override arriving as HTTP/2 TRAILERS
 * (GrpcDispatcher.java:362-404 reads the action from response trailers).
 *
 * HPACK subset: header blocks use ONLY the "literal field without
 * indexing — new name" representation with raw (non-Huffman) strings
 * (RFC 7541 §6.2.2) — a legal encoding any conformant peer can decode;
 * the decoder here rejects representations this encoder never emits.
 * Flow control: the server replenishes both windows with WINDOW_UPDATE
 * after every DATA frame, and DATA larger than the 16384-byte default
 * max frame size is split.
 *
 * Client subset limits (by design, alongside the HPACK subset above): the
 * client never SENDS WINDOW_UPDATE — a Dispatch response carries an empty
 * gRPC body, and the bundled server does not budget its DATA against the
 * client's windows — and neither side emits or reassembles CONTINUATION
 * frames (header blocks here are far below the max frame size). A
 * conformant third-party peer that streams >64 KiB of response DATA or
 * splits header blocks would stall against this client; the dispatcher
 * interoperates fully only with [[Http2ConsumerServer]].
 */
object Http2 {

  val Preface: Array[Byte] = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(UTF_8)
  val MaxFrame = 16384

  // frame types (RFC 9113 §6)
  val DATA = 0x0
  val HEADERS = 0x1
  val SETTINGS = 0x4
  val PING = 0x6
  val GOAWAY = 0x7
  val WINDOW_UPDATE = 0x8

  // flags
  val END_STREAM = 0x1
  val ACK = 0x1
  val END_HEADERS = 0x4

  final case class Frame(tpe: Int, flags: Int, streamId: Int, payload: Array[Byte])

  def writeFrame(out: DataOutputStream, tpe: Int, flags: Int, streamId: Int,
      payload: Array[Byte]): Unit = {
    out.writeByte((payload.length >>> 16) & 0xFF)
    out.writeByte((payload.length >>> 8) & 0xFF)
    out.writeByte(payload.length & 0xFF)
    out.writeByte(tpe)
    out.writeByte(flags)
    out.writeInt(streamId & 0x7FFFFFFF)
    out.write(payload)
  }

  def readFrame(in: DataInputStream): Frame = {
    val len = (in.readUnsignedByte() << 16) | (in.readUnsignedByte() << 8) |
      in.readUnsignedByte()
    val tpe = in.readUnsignedByte()
    val flags = in.readUnsignedByte()
    val sid = in.readInt() & 0x7FFFFFFF
    val p = new Array[Byte](len)
    in.readFully(p)
    Frame(tpe, flags, sid, p)
  }

  /** HPACK prefixed integer (RFC 7541 §5.1). */
  private def writeHpackInt(buf: ByteArrayOutputStream, prefixBits: Int,
      firstByteFlags: Int, value: Int): Unit = {
    val max = (1 << prefixBits) - 1
    if (value < max) buf.write(firstByteFlags | value)
    else {
      buf.write(firstByteFlags | max)
      var v = value - max
      while (v >= 128) { buf.write((v % 128) + 128); v /= 128 }
      buf.write(v)
    }
  }

  private def readHpackInt(p: Array[Byte], pos: Int, prefixBits: Int): (Int, Int) = {
    val max = (1 << prefixBits) - 1
    var v = p(pos) & max
    var i = pos + 1
    if (v == max) {
      var shift = 0
      var cont = true
      while (cont) {
        val b = p(i) & 0xFF; i += 1
        v += (b & 0x7F) << shift
        shift += 7
        cont = (b & 0x80) != 0
      }
    }
    (v, i)
  }

  /** Encode headers as literal-without-indexing/new-name fields. Order is
    * preserved (pseudo-headers must precede regular fields, RFC 9113 §8.3). */
  def encodeHeaders(headers: Seq[(String, String)]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    headers.foreach { case (k, v) =>
      buf.write(0x00) // literal without indexing, new name
      val kb = k.getBytes(UTF_8)
      writeHpackInt(buf, 7, 0x00, kb.length) // huffman bit 0
      buf.write(kb)
      val vb = v.getBytes(UTF_8)
      writeHpackInt(buf, 7, 0x00, vb.length)
      buf.write(vb)
    }
    buf.toByteArray
  }

  def decodeHeaders(p: Array[Byte]): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < p.length) {
      val first = p(i) & 0xFF
      // subset guard: this peer only ever emits 0x00-prefixed literals; an
      // indexed or incremental-indexing field means a foreign encoder
      if ((first & 0xF0) != 0x00)
        throw new IOException(f"unsupported HPACK representation 0x$first%02x")
      i += 1
      val (klen, i1) = readHpackInt(p, i - 1, 4) // 4-bit prefix of the 0x00 byte is 0
      if (klen != 0) throw new IOException("literal new-name index must be 0")
      val (nlen, i2) = readHpackInt(p, i1, 7)
      if ((p(i1) & 0x80) != 0) throw new IOException("huffman strings not in subset")
      val name = new String(p, i2, nlen, UTF_8)
      var j = i2 + nlen
      val (vlen, j1) = readHpackInt(p, j, 7)
      if ((p(j) & 0x80) != 0) throw new IOException("huffman strings not in subset")
      val value = new String(p, j1, vlen, UTF_8)
      j = j1 + vlen
      out += name -> value
      i = j
    }
    out.result()
  }

  /** gRPC length-prefixed message (gRPC-over-HTTP2 spec): flag + len + body. */
  def grpcFrame(msg: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(5 + msg.length)
    b.put(0.toByte).putInt(msg.length).put(msg)
    b.array()
  }

  def grpcUnframe(p: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.wrap(p)
    b.get() // compression flag
    val len = b.getInt()
    val msg = new Array[Byte](len)
    b.get(msg)
    msg
  }

  /** DATA split at the default SETTINGS_MAX_FRAME_SIZE; the last chunk
    * carries the END_STREAM flag when requested. */
  def writeData(out: DataOutputStream, streamId: Int, payload: Array[Byte],
      endStream: Boolean): Unit = {
    var off = 0
    do {
      val n = math.min(MaxFrame, payload.length - off)
      val last = off + n >= payload.length
      writeFrame(out, DATA, if (last && endStream) END_STREAM else 0,
        streamId, java.util.Arrays.copyOfRange(payload, off, off + n))
      off += n
    } while (off < payload.length)
  }

  /** canonical gRPC status code numbering (OK=0 … UNAUTHENTICATED=16);
    * GrpcStatus.all is declared in that order */
  def statusToCode(name: String): Int = {
    val i = graft.model.GrpcStatus.all.indexOf(name)
    if (i >= 0) i else 2 // UNKNOWN
  }

  def codeToStatus(code: Int): String =
    if (code >= 0 && code < graft.model.GrpcStatus.all.size)
      graft.model.GrpcStatus.all(code)
    else graft.model.GrpcStatus.UNKNOWN
}

/**
 * The HTTP/2 [[Dispatcher]]: the framing above with many concurrent
 * streams per connection — RFC 9113's concurrency model and the
 * reference's production shape (250 streams per channel,
 * GrpcDispatcherConfiguration.java:10; up to 2,000 concurrent streams per
 * pipeline). A dispatch writes its HEADERS + DATA(+END_STREAM) on a fresh
 * odd stream id and releases the connection immediately, and a reader
 * thread per connection demultiplexes interleaved response frames BY
 * STREAM ID — correlation is carried by the protocol itself, not by
 * response order. The kafka-* metadata headers ride in the request HEADERS
 * (the reference attaches them as gRPC metadata, GrpcDispatcher.java:126-199);
 * the response's kafka-action arrives as a TRAILER and feeds
 * `Codes.codeFor`'s action-override path.
 *
 * That stream-id correlation buys a failure-isolation property that
 * response-order (FIFO) correlation cannot have: a stream whose deadline
 * expires is simply ABANDONED (removed from the pending map; its late
 * response frames are discarded on arrival by the id lookup) — no
 * connection poison, no collateral UNAVAILABLE for in-flight siblings. Only a transport error
 * (socket death, framing desync) fails the whole connection.
 *
 * Reader liveness vs framing integrity: the reader blocks on the FIRST
 * byte of a frame with a short (50 ms) timeout — a timeout there has
 * consumed nothing, so it is a safe point to sweep expired streams —
 * and switches to the full per-message budget for the frame's remainder
 * (the server writes each frame contiguously). A timeout mid-frame means
 * the peer stalled mid-write: framing state is unrecoverable and the
 * connection dies.
 */
final class MultiplexedHttp2Dispatcher(
    host: String, port: Int, rpcTimeoutMs: Long, connections: Int = 4,
    firstStreamId: Int = 1) // test seam: start near Int.MaxValue to reach the retirement boundary
    extends Dispatcher {
  import Http2._
  import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, TimeUnit, TimeoutException}

  private val closed = new AtomicBoolean(false)

  private final class Conn {
    val sock = new Socket()
    sock.connect(new InetSocketAddress(host, port),
      math.max(1L, rpcTimeoutMs).min(Int.MaxValue).toInt)
    sock.setTcpNoDelay(true)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16))
    val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream, 1 << 16))
    var nextStream = firstStreamId // writer-lock-guarded; client streams are odd
    // in-flight stream cap, matching the reference's 250-streams/channel
    // pool shape (GrpcDispatcherConfiguration.maxConcurrentStreams). NOTE
    // on flow control: this dispatcher tracks stream COUNT, not the peer's
    // connection/stream send windows (WINDOW_UPDATE frames are read and
    // discarded) — a deliberate subset valid against the bundled
    // Http2ConsumerServer, whose receive windows never shrink; a
    // general-purpose client would also have to budget DATA bytes against
    // SETTINGS_INITIAL_WINDOW_SIZE.
    val inFlight = new java.util.concurrent.Semaphore(MultiplexedHttp2Dispatcher.MaxConcurrentStreams)
    val pending = new ConcurrentHashMap[Integer, (CompletableFuture[DispatchResult], Long)]()
    @volatile var dead = false
    /** Set when the 31-bit stream space runs out: the slot dials a
      * REPLACEMENT for new dispatches while this connection keeps
      * serving its in-flight streams — graceful retirement, never a
      * poison. The reader closes the connection once retiring and
      * idle. */
    @volatile var retiring = false

    out.write(Preface)
    writeFrame(out, SETTINGS, 0, 0, Array.emptyByteArray)
    out.flush()

    def poison(): Unit = {
      dead = true
      val it = pending.keySet().iterator()
      while (it.hasNext) {
        val sid = it.next()
        val p = pending.remove(sid)
        if (p != null) p._1.complete(DispatchResult(graft.model.GrpcStatus.UNAVAILABLE,
          None, overdue = System.nanoTime() >= p._2))
      }
      try sock.close() catch { case _: IOException => () }
    }

    /** Abandon one stream: forget it in BOTH maps so late frames are
      * dropped and nothing accumulates. Used by the deadline sweep and
      * by dispatch's wedged-reader backstop. */
    def abandon(sid: Int): Unit = {
      pending.remove(sid: Integer)
      trailerAcc.remove(sid: Integer)
      ()
    }

    /** Expired streams are abandoned, not poisoned: complete the caller
      * with DEADLINE_EXCEEDED and forget the stream — its late frames
      * will miss the pending lookup and be dropped. Throttled to one
      * pass per 10 ms: it runs from BOTH the idle branch and the
      * after-frame path, so a continuously busy connection still
      * enforces deadlines at rpcTimeoutMs (+10 ms), not only at the
      * caller's 2× backstop. */
    private var lastSweepNs = 0L
    private def sweepExpired(): Unit = {
      val now = System.nanoTime()
      if (now - lastSweepNs < 10L * 1000 * 1000) return
      lastSweepNs = now
      val it = pending.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (now >= e.getValue._2 && pending.remove(e.getKey, e.getValue)) {
          trailerAcc.remove(e.getKey)
          e.getValue._1.complete(DispatchResult(
            graft.model.GrpcStatus.DEADLINE_EXCEEDED, None, overdue = true))
          ()
        }
      }
    }

    // per-stream trailer accumulation (response HEADERS before END_STREAM)
    private val trailerAcc = new ConcurrentHashMap[Integer, Map[String, String]]()

    /** Read one frame with the two-phase timeout discipline; null on a
      * safe first-byte timeout (sweep point). */
    private def readFrameOrNull(): Frame = {
      sock.setSoTimeout(50)
      val b0 =
        try in.read()
        catch { case _: SocketTimeoutException => sweepExpired(); return null }
      if (b0 < 0) throw new IOException("peer closed")
      // the rest of the frame follows contiguously — full budget applies
      sock.setSoTimeout(math.max(1L, rpcTimeoutMs).min(Int.MaxValue).toInt)
      val b1 = in.readUnsignedByte(); val b2 = in.readUnsignedByte()
      val len = (b0 << 16) | (b1 << 8) | b2
      val tpe = in.readUnsignedByte()
      val flags = in.readUnsignedByte()
      val sid = in.readInt() & 0x7FFFFFFF
      val p = new Array[Byte](len)
      in.readFully(p)
      Frame(tpe, flags, sid, p)
    }

    val reader = new Thread(() => {
      try {
        while (!dead && !closed.get() &&
            !(retiring && pending.isEmpty)) { // retired + drained → close
          val f = readFrameOrNull()
          // deadline enforcement must not depend on the connection going
          // idle: sweep (throttled) on the busy path too
          if (f != null) sweepExpired()
          if (f != null) f.tpe match {
            case SETTINGS =>
              if ((f.flags & ACK) == 0) synchronized {
                writeFrame(out, SETTINGS, ACK, 0, Array.emptyByteArray); out.flush()
              }
            case PING => synchronized {
              writeFrame(out, PING, ACK, 0, f.payload); out.flush()
            }
            case HEADERS =>
              val sid: Integer = f.streamId
              if (pending.containsKey(sid)) {
                val acc = Option(trailerAcc.get(sid)).getOrElse(Map.empty) ++
                  decodeHeaders(f.payload)
                if ((f.flags & END_STREAM) != 0) {
                  trailerAcc.remove(sid)
                  val p = pending.remove(sid)
                  if (p != null) {
                    val status = codeToStatus(
                      acc.get("grpc-status").flatMap(_.toIntOption).getOrElse(2))
                    p._1.complete(DispatchResult(status,
                      acc.get("kafka-action").filter(_.nonEmpty),
                      System.nanoTime() >= p._2))
                    ()
                  }
                } else trailerAcc.put(sid, acc)
              } // else: frames of an abandoned (expired) stream — drop
            case DATA | WINDOW_UPDATE | GOAWAY => ()
            case _ => ()
          }
        }
      } catch { case _: IOException | _: InterruptedException => () }
      finally poison()
    }, s"graft-h2mux-read-$port")
    reader.setDaemon(true)
    reader.start()
  }

  private val slots = new Array[Conn](math.max(1, connections))
  private val slotLocks = Array.fill(slots.length)(new Object)
  private val rr = new java.util.concurrent.atomic.AtomicInteger(0)

  def dispatch(req: DispatchRequest): DispatchResult = {
    val deadlineNs = System.nanoTime() + rpcTimeoutMs * 1000000L
    def overdueNow = System.nanoTime() >= deadlineNs
    val i = (rr.getAndIncrement() & Int.MaxValue) % slots.length
    val cf = new CompletableFuture[DispatchResult]()
    val conn =
      try slotLocks(i).synchronized {
        if (slots(i) == null || slots(i).dead || slots(i).retiring) slots(i) = new Conn
        slots(i)
      } catch {
        case _: IOException =>
          return DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
      }
    // per-connection concurrency cap (the reference pools channels at 250
    // concurrent streams each — GrpcDispatcherConfiguration.java:10): a
    // compliant server advertises SETTINGS_MAX_CONCURRENT_STREAMS and gRPC
    // respects it; without a cap this client could exceed the peer's limit
    // under a wide engine stage. Acquire BEFORE taking a stream id; the
    // permit releases when the stream completes (any path — response,
    // deadline sweep, poison — completes the future). The wait is bounded
    // by the REMAINING request deadline (not a fresh rpcTimeoutMs — that
    // pushed worst-case dispatch latency toward 3× the timeout), and a
    // task interrupt while blocked maps to UNAVAILABLE with the interrupt
    // flag restored, the same contract as every other abnormal exit here
    // (r15 advisory).
    val permitWaitMs = math.max(0L, (deadlineNs - System.nanoTime()) / 1000000L)
    val acquired =
      try conn.inFlight.tryAcquire(permitWaitMs, TimeUnit.MILLISECONDS)
      catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt()
          return DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
      }
    if (!acquired)
      return DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
    cf.whenComplete((_, _) => conn.inFlight.release())
    var sid = -1
    try conn.synchronized {
      if (conn.dead) throw new IOException("connection retired")
      sid = conn.nextStream
      conn.nextStream += 2
      conn.pending.put(sid, (cf, deadlineNs))
      // stream space exhausted: RETIRE gracefully — the slot dials a
      // replacement for the next dispatch; this connection (and this very
      // request) keep serving until the in-flight streams drain, at which
      // point the reader closes it. Setting `dead` here instead would
      // spuriously fail this request and poison every in-flight sibling.
      // ORDER MATTERS: the pending.put above must precede this flag — the
      // reader exits on (retiring && pending.isEmpty), so flag-first would
      // let it observe the boundary request's empty window and poison the
      // socket before the frames below are even written.
      if (conn.nextStream > Int.MaxValue - 2) conn.retiring = true
      val reqHeaders =
        Seq(":method" -> "POST", ":scheme" -> "http",
          ":path" -> "/kafka.consumerproxy.Consumer/Dispatch",
          ":authority" -> s"$host:$port",
          "content-type" -> "application/grpc", "te" -> "trailers") ++
          req.headers.toSeq.sortBy(_._1)
      writeFrame(conn.out, HEADERS, END_HEADERS, sid, encodeHeaders(reqHeaders))
      writeData(conn.out, sid, grpcFrame(req.payload), endStream = true)
      conn.out.flush()
    } catch {
      case _: IOException =>
        if (sid >= 0) conn.pending.remove(Integer.valueOf(sid))
        conn.poison()
        if (!cf.isDone)
          cf.complete(DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow))
    }
    // close the enqueue-vs-poison race: poison sets dead before draining,
    // so dead==false here means our put is covered by any later drain;
    // dead==true means nobody may drain it
    if (conn.dead && !cf.isDone) {
      if (sid >= 0) conn.abandon(sid)
      cf.complete(DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow))
      ()
    }
    // every abnormal exit COMPLETES cf (a no-op if the reader won the
    // race): the in-flight permit releases via whenComplete, so a wedged
    // reader or an interrupt can't leak stream-cap permits
    try cf.get(rpcTimeoutMs * 2 + 1000, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException => // reader wedged — abandon the stream
        // both maps: leaving the accumulated response headers behind
        // would grow trailerAcc forever on a long-lived flaky connection
        if (sid >= 0) conn.abandon(sid)
        val r = DispatchResult(graft.model.GrpcStatus.DEADLINE_EXCEEDED, None, overdue = true)
        cf.complete(r); r
      case _: InterruptedException =>
        Thread.currentThread().interrupt()
        val r = DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
        cf.complete(r); r
      case _: Exception =>
        val r = DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
        cf.complete(r); r
    }
  }

  override def close(): Unit = {
    closed.set(true)
    slots.indices.foreach { i =>
      slotLocks(i).synchronized {
        if (slots(i) != null) { slots(i).poison(); slots(i) = null }
      }
    }
  }
}

object MultiplexedHttp2Dispatcher {
  /** Per-connection in-flight stream cap — the reference's channel pool
    * runs 250 concurrent streams per channel
    * (uforwarder/src/main/java/com/uber/data/kafka/consumerproxy/config/GrpcDispatcherConfiguration.java:10). */
  val MaxConcurrentStreams = 250
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
 * The consumer side of the HTTP/2 framing: accepts connections, performs
 * the preface/SETTINGS exchange, reassembles each stream's HEADERS + DATA
 * into a [[DispatchRequest]], and answers with response HEADERS, an empty
 * gRPC body, and TRAILERS carrying grpc-status (+ kafka-action when the
 * handler sets one) — the exact reply shape GrpcDispatcher's
 * onClose(status, trailers) consumes in the reference.
 */
final class Http2ConsumerServer(handler: DispatchRequest => DispatchResult) {
  import Http2._

  private val server = new ServerSocket(0, 4096)
  def port: Int = server.getLocalPort
  private val running = new AtomicBoolean(true)
  val acceptedConnections = new java.util.concurrent.atomic.AtomicInteger(0)
  // pooled-idle client connections sit blocked in readFrame with no read
  // timeout; close() must be able to unblock those serve threads, so every
  // accepted socket is tracked until its serve loop exits
  private val liveSockets =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  private def serve(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      // buffered both ways: a response is three frames (HEADERS, DATA,
      // trailers) — unbuffered that is ~8 small write syscalls serialized
      // per connection, which caps a multiplexed client whose streams all
      // share a few connections
      val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream, 1 << 16))
      val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16))
      val preface = new Array[Byte](Preface.length)
      in.readFully(preface)
      if (!java.util.Arrays.equals(preface, Preface))
        throw new IOException("bad connection preface")
      writeFrame(out, SETTINGS, 0, 0, Array.emptyByteArray)
      out.flush()
      // per-stream reassembly: header fields + body bytes
      val hdrs = scala.collection.mutable.Map.empty[Int, Seq[(String, String)]]
      val bodies = scala.collection.mutable.Map.empty[Int, ByteArrayOutputStream]
      while (running.get()) {
        val f = readFrame(in)
        f.tpe match {
          case SETTINGS =>
            if ((f.flags & ACK) == 0) {
              writeFrame(out, SETTINGS, ACK, 0, Array.emptyByteArray)
              out.flush()
            }
          case PING =>
            writeFrame(out, PING, ACK, 0, f.payload); out.flush()
          case HEADERS =>
            hdrs(f.streamId) = hdrs.getOrElse(f.streamId, Seq.empty) ++
              decodeHeaders(f.payload)
            if ((f.flags & END_STREAM) != 0) respond(out, f.streamId, hdrs, bodies)
          case DATA =>
            bodies.getOrElseUpdate(f.streamId, new ByteArrayOutputStream())
              .write(f.payload)
            // replenish both flow-control windows so a long-lived
            // connection never exhausts the 65535-byte defaults (a
            // zero-length DATA frame consumes no window and a 0-increment
            // WINDOW_UPDATE would itself be a PROTOCOL_ERROR)
            if (f.payload.length > 0) {
              val wu = java.nio.ByteBuffer.allocate(4).putInt(f.payload.length).array()
              writeFrame(out, WINDOW_UPDATE, 0, 0, wu)
              writeFrame(out, WINDOW_UPDATE, 0, f.streamId, wu)
            }
            if ((f.flags & END_STREAM) != 0) respond(out, f.streamId, hdrs, bodies)
          case _ => ()
        }
      }
    } catch { case _: IOException => () } // client hung up / timed out
    finally {
      liveSockets.remove(sock)
      try sock.close() catch { case _: IOException => () }
    }
  }

  private def respond(
      out: DataOutputStream, sid: Int,
      hdrs: scala.collection.mutable.Map[Int, Seq[(String, String)]],
      bodies: scala.collection.mutable.Map[Int, ByteArrayOutputStream]): Unit = {
    val headers = hdrs.remove(sid).getOrElse(Seq.empty)
      .filterNot(_._1.startsWith(":"))
      .filterNot(h => h._1 == "content-type" || h._1 == "te").toMap
    val payload = bodies.remove(sid).map(b => grpcUnframe(b.toByteArray))
      .getOrElse(Array.emptyByteArray)
    val res = handler(DispatchRequest(payload, headers))
    writeFrame(out, HEADERS, END_HEADERS, sid, encodeHeaders(
      Seq(":status" -> "200", "content-type" -> "application/grpc")))
    writeData(out, sid, grpcFrame(Array.emptyByteArray), endStream = false)
    val trailers = Seq(
      "grpc-status" -> statusToCode(res.statusCode).toString,
      "grpc-message" -> res.statusCode) ++
      res.action.map("kafka-action" -> _).toSeq
    writeFrame(out, HEADERS, END_HEADERS | END_STREAM, sid, encodeHeaders(trailers))
    out.flush()
  }

  private val acceptor = new Thread(() => {
    try while (running.get()) {
      val sock = server.accept()
      acceptedConnections.incrementAndGet()
      liveSockets.add(sock)
      val t = new Thread(() => serve(sock), s"graft-h2-serve-${sock.getPort}")
      t.setDaemon(true)
      t.start()
    } catch { case _: IOException => () } // closed
  }, "graft-h2-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running.set(false)
    try server.close() catch { case _: IOException => () }
    // unblock serve threads parked in readFrame on pooled-idle connections
    liveSockets.forEach(s => try s.close() catch { case _: IOException => () })
    liveSockets.clear()
  }
}
