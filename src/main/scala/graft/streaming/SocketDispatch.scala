package graft.streaming

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketTimeoutException}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

/**
 * A [[Dispatcher]] that performs every dispatch over a REAL TCP connection
 * with per-message deadline semantics — the wire-facing counterpart of the
 * in-process test dispatchers, so `rpc_timeout_ms`, the overdue→BACKOFF
 * mapping, and connection failure→UNAVAILABLE are exercised against actual
 * socket I/O rather than modeled.
 *
 * Mirrors the reference's gRPC dispatcher behavior
 * (uforwarder/.../dispatcher/grpc/GrpcDispatcher.java:126-199): each message
 * gets a deadline of `rpcTimeoutMs` from dispatch start; a response that
 * does not arrive inside it maps to DEADLINE_EXCEEDED with `overdue=true`
 * (→ BACKOFF in Codes.codeFor), and a connect/write failure maps to
 * UNAVAILABLE with overdue reflecting whether the deadline had passed
 * (→ BACKOFF iff overdue, else INVALID's in-memory retry).
 *
 * Connections are pooled and reused across dispatches
 * (GrpcManagedChannelPool.java:57's role): the engine's dispatch pool calls
 * `dispatch` from many threads concurrently, so idle sockets sit in a
 * concurrent queue — borrow or connect, return on success, discard on any
 * error (a timed-out connection has an unread response in flight and can
 * never be reused).
 *
 * Wire protocol (length-prefixed frames over a persistent connection — a
 * stand-in for HTTP/2 framing; the sandbox has no gRPC jars):
 *   request:  seq:long (per-connection, strictly increasing),
 *             headerCount:int, then per header UTF key + UTF value,
 *             payloadLen:int, payload bytes
 *   response: seq:long (echo of the request's), UTF status (gRPC status
 *             name), UTF action ("" = none)
 * The echoed sequence id makes request/response correlation EXPLICIT: a
 * response whose seq does not match the expected request is a protocol
 * violation (a concurrent or out-of-order server) and poisons the
 * connection instead of silently delivering a response to the wrong
 * caller.
 */
final class SocketDispatcher(host: String, port: Int, rpcTimeoutMs: Long)
    extends Dispatcher {

  /** A pooled connection with its buffered streams: buffering turns a
    * frame's ~16 tiny writes (two per header + two length prefixes +
    * payload) into one syscall per flush. The streams must live WITH the
    * socket across borrows — wrapping fresh buffers per dispatch could
    * strand buffered bytes. One request is in flight per connection, so
    * the read buffer only ever holds that request's own response. */
  private final class PooledConn(val sock: Socket) {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16))
    val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream, 1 << 16))
    /** Next request sequence id on this connection (one in flight at a
      * time here, so no locking: the borrower owns the connection). */
    var seq: Long = 0L
  }

  private val idle = new ConcurrentLinkedQueue[PooledConn]()
  private val closed = new AtomicBoolean(false)

  private def connect(deadlineNs: Long): PooledConn = {
    val s = new Socket()
    val remainMs = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L)
    s.connect(new InetSocketAddress(host, port), remainMs.toInt)
    s.setTcpNoDelay(true)
    new PooledConn(s)
  }

  def dispatch(req: DispatchRequest): DispatchResult = {
    val deadlineNs = System.nanoTime() + rpcTimeoutMs * 1000000L
    def overdueNow = System.nanoTime() >= deadlineNs
    var conn: PooledConn = null
    try {
      conn = Option(idle.poll()).getOrElse(connect(deadlineNs))
      val out = conn.out
      val mySeq = conn.seq
      conn.seq += 1
      out.writeLong(mySeq)
      out.writeInt(req.headers.size)
      req.headers.foreach { case (k, v) => out.writeUTF(k); out.writeUTF(v) }
      out.writeInt(req.payload.length)
      out.write(req.payload)
      out.flush()
      // the read deadline is the REMAINING per-message budget, not a fixed
      // socket default — time spent connecting/writing counts against it
      val remainMs = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L)
      conn.sock.setSoTimeout(remainMs.toInt)
      val echoed = conn.in.readLong()
      if (echoed != mySeq)
        // correlation violation: the server is answering out of order —
        // this response (and the connection) can never be trusted
        throw new IOException(s"seq mismatch: sent $mySeq, got $echoed")
      val status = conn.in.readUTF()
      val action = conn.in.readUTF()
      if (closed.get() || !idle.offer(conn)) conn.sock.close() else conn = null
      DispatchResult(status, Option(action).filter(_.nonEmpty), overdueNow)
    } catch {
      case _: SocketTimeoutException =>
        // response still in flight on this connection — never reuse it
        DispatchResult(graft.model.GrpcStatus.DEADLINE_EXCEEDED, None, overdue = true)
      case _: IOException =>
        DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
    } finally {
      // non-null here ⇔ not returned to the pool (error path, or pool
      // refused): discard — a connection with an in-flight response must
      // never serve another request
      if (conn != null)
        try conn.sock.close() catch { case _: IOException => () }
    }
  }

  override def close(): Unit = {
    closed.set(true)
    var c = idle.poll()
    while (c != null) {
      try c.sock.close() catch { case _: IOException => () }
      c = idle.poll()
    }
  }
}

/** Serializable factory: each executor holds one dispatcher, and so one
  * connection pool, per factory value, which every slice of the job shares
  * across triggers (like the per-pipeline channel pool in the reference). */
final case class SocketDispatcherFactory(host: String, port: Int, rpcTimeoutMs: Long)
    extends DispatcherFactory {
  def create(): Dispatcher = new SocketDispatcher(host, port, rpcTimeoutMs)
}

/**
 * A PIPELINED [[Dispatcher]]: many in-flight requests per connection, the
 * wire shape the reference gets from HTTP/2 stream multiplexing (it runs up
 * to 2,000 concurrent streams per pipeline over a handful of channels —
 * `application-uforwarder-worker.yaml:77`, GrpcManagedChannelPool.java:57 —
 * precisely so per-RPC round-trip latency never gates throughput). The
 * sync [[SocketDispatcher]] above holds one request per connection and
 * waits out a full round trip each time; at KB-scale payloads that makes
 * the byte legs latency-bound (docs/BENCH_NOTES_r12.md). Here a caller
 * writes its frame and releases the connection immediately, so frames
 * stream back-to-back and the round trip is paid once per WINDOW of
 * in-flight requests, not once per request.
 *
 * Correlation is FIFO-per-connection AND VERIFIED: every request frame
 * carries a per-connection sequence id the server echoes in its response.
 * TCP preserves order and [[SocketConsumerServer]] answers each
 * connection's requests sequentially, so response k on a connection
 * belongs to the k-th unanswered request written to it — and the reader
 * CHECKS that by comparing the echoed seq against the head pending
 * request's. A server that handles a connection's requests concurrently
 * or replies out of order trips the check and POISONS the connection
 * (head + siblings resolve UNAVAILABLE) instead of silently delivering
 * response k to caller j — wrong ack/DLQ verdicts can't slip through.
 * The sync [[SocketDispatcher]] performs the same echo check with one
 * request in flight.
 *
 * Deadline semantics match the sync dispatcher: each request carries a
 * deadline of `rpcTimeoutMs` from dispatch start; the reader enforces the
 * HEAD request's remaining budget as its read timeout, and a timeout or
 * read error poisons the whole connection — the head future gets
 * DEADLINE_EXCEEDED/overdue (or UNAVAILABLE), every other pending future
 * gets UNAVAILABLE (their responses can no longer be matched), and the
 * next dispatch dials a replacement. A per-caller backstop of 2x the
 * timeout guards against a wedged reader thread.
 */
final class PipelinedSocketDispatcher(
    host: String, port: Int, rpcTimeoutMs: Long, connections: Int = 4)
    extends Dispatcher {
  import java.util.concurrent.{CompletableFuture, LinkedBlockingQueue, TimeUnit, TimeoutException}
  import java.io.{BufferedInputStream, BufferedOutputStream}

  private val closed = new AtomicBoolean(false)

  private final class Conn {
    val sock = new Socket()
    sock.connect(new InetSocketAddress(host, port),
      math.max(1L, rpcTimeoutMs).min(Int.MaxValue).toInt)
    sock.setTcpNoDelay(true)
    // buffered streams: a frame is ONE write syscall instead of ~16 (two
    // per header + the length-prefixed payload), and responses batch reads
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    val pending = new LinkedBlockingQueue[(CompletableFuture[DispatchResult], Long, Long)]()
    /** Next request seq on this connection; assigned under the writer
      * lock, so the pending queue's seq order matches the frame order. */
    var nextSeq: Long = 0L
    @volatile var dead = false

    /** Fail everything in flight and retire the connection. `headResult`
      * resolves the response the reader was blocked on (if any). */
    def poison(head: (CompletableFuture[DispatchResult], Long, Long),
               headResult: DispatchResult): Unit = {
      dead = true
      if (head != null) head._1.complete(headResult)
      var p = pending.poll()
      while (p != null) {
        // their frames were written but the responses are unmatchable now
        p._1.complete(DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None,
          overdue = System.nanoTime() >= p._2))
        p = pending.poll()
      }
      try sock.close() catch { case _: IOException => () }
    }

    val reader = new Thread(() => {
      try {
        while (!dead && !closed.get()) {
          val head = pending.poll(50, TimeUnit.MILLISECONDS)
          if (head != null) {
            val (cf, deadlineNs, seq) = head
            try {
              val remainMs = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L)
              sock.setSoTimeout(remainMs.toInt)
              val echoed = in.readLong()
              if (echoed != seq)
                // the server broke FIFO: this (and every queued) response
                // can no longer be matched to its caller — fail loudly
                throw new IOException(s"seq mismatch: expected $seq, got $echoed")
              val status = in.readUTF()
              val action = in.readUTF()
              cf.complete(DispatchResult(status, Option(action).filter(_.nonEmpty),
                System.nanoTime() >= deadlineNs))
              ()
            } catch {
              case _: SocketTimeoutException =>
                poison(head, DispatchResult(
                  graft.model.GrpcStatus.DEADLINE_EXCEEDED, None, overdue = true))
              case _: IOException =>
                poison(head, DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None,
                  overdue = System.nanoTime() >= deadlineNs))
            }
          }
        }
      } catch { case _: InterruptedException => () }
      finally poison(null, null)
    }, s"graft-pipe-read-$port")
    reader.setDaemon(true)
    reader.start()
  }

  private val slots = new Array[Conn](math.max(1, connections))
  // one lock PER SLOT: a blocking dial (up to rpcTimeoutMs in connect) on
  // a dead slot must only stall callers routed to that slot, never the
  // dispatchers whose own slots hold healthy connections
  private val slotLocks = Array.fill(slots.length)(new Object)
  private val rr = new java.util.concurrent.atomic.AtomicInteger(0)

  def dispatch(req: DispatchRequest): DispatchResult = {
    val deadlineNs = System.nanoTime() + rpcTimeoutMs * 1000000L
    def overdueNow = System.nanoTime() >= deadlineNs
    val i = (rr.getAndIncrement() & Int.MaxValue) % slots.length
    val cf = new CompletableFuture[DispatchResult]()
    val conn =
      try slotLocks(i).synchronized {
        if (slots(i) == null || slots(i).dead) slots(i) = new Conn
        slots(i)
      } catch {
        case _: IOException =>
          return DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
      }
    try conn.synchronized {
      if (conn.dead) throw new IOException("connection retired")
      // enqueue-then-write under the same lock: the pending queue's order
      // IS the frame order the FIFO correlation depends on — and the seq
      // assigned here is what the reader verifies against the echo
      val mySeq = conn.nextSeq
      conn.nextSeq += 1
      conn.pending.put((cf, deadlineNs, mySeq))
      conn.out.writeLong(mySeq)
      conn.out.writeInt(req.headers.size)
      req.headers.foreach { case (k, v) => conn.out.writeUTF(k); conn.out.writeUTF(v) }
      conn.out.writeInt(req.payload.length)
      conn.out.write(req.payload)
      conn.out.flush()
    } catch {
      case _: IOException =>
        conn.poison(null, null) // resolves cf (it is in pending) + siblings
        if (!cf.isDone)
          cf.complete(DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow))
    }
    // close the enqueue-vs-poison race: poison sets the volatile `dead`
    // BEFORE draining pending, so if we read false here our put happened
    // before the drain (and poison completed cf); if we read true, cf may
    // have been enqueued after the drain and nobody else will resolve it
    if (conn.dead && !cf.isDone)
      cf.complete(DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow))
    try cf.get(rpcTimeoutMs * 2 + 1000, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException => // reader wedged — fail safe like a deadline
        conn.poison(null, null)
        DispatchResult(graft.model.GrpcStatus.DEADLINE_EXCEEDED, None, overdue = true)
      case _: InterruptedException =>
        // a task-kill interrupt on an executor thread must stay VISIBLE to
        // the caller's cancellation machinery — restore the flag before
        // reporting the dispatch itself as failed
        Thread.currentThread().interrupt()
        DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
      case _: Exception =>
        DispatchResult(graft.model.GrpcStatus.UNAVAILABLE, None, overdue = overdueNow)
    }
  }

  override def close(): Unit = {
    closed.set(true)
    slots.indices.foreach { i =>
      slotLocks(i).synchronized {
        if (slots(i) != null) { slots(i).poison(null, null); slots(i) = null }
      }
    }
  }
}

/** Serializable factory for the pipelined dispatcher: one per executor,
  * like [[SocketDispatcherFactory]], but each dispatcher multiplexes every
  * slice's dispatches over `connections` sockets. */
final case class PipelinedSocketDispatcherFactory(
    host: String, port: Int, rpcTimeoutMs: Long, connections: Int = 4)
    extends DispatcherFactory {
  def create(): Dispatcher = new PipelinedSocketDispatcher(host, port, rpcTimeoutMs, connections)
}

/**
 * Minimal framed-protocol consumer service for tests/benches: the remote
 * end of [[SocketDispatcher]]. One daemon accept thread, one daemon thread
 * per connection; `handler` decides the verdict per request and may sleep
 * to simulate a stalled consumer (the client's deadline — not this server —
 * then decides the outcome, exactly the property under test).
 */
final class SocketConsumerServer(handler: DispatchRequest => DispatchResult) {
  // ephemeral port; deep accept backlog — a 32-task × 32-thread dispatch
  // burst dials ~1k connections at once and the default backlog of 50
  // would refuse the overflow
  private val server = new ServerSocket(0, 4096)
  def port: Int = server.getLocalPort
  private val running = new AtomicBoolean(true)
  /** Total connections ever accepted — lets tests prove the client pool
    * REUSES connections (accepted ≪ dispatches) instead of dialing per RPC. */
  val acceptedConnections = new java.util.concurrent.atomic.AtomicInteger(0)

  private def serve(sock: Socket): Unit = {
    try {
      // without NODELAY on the server side too, Nagle + delayed-ACK turns
      // every small response frame into a ~40 ms stall and the whole leg
      // serializes to ~25 RPC/s per connection
      sock.setTcpNoDelay(true)
      // buffered streams: one read syscall per buffered window instead of
      // ~16 per request (two per header + two length prefixes + payload) —
      // unbuffered, a single flooded connection topped out at ~18 MB/s of
      // 1 KiB frames on loopback with the server fully syscall-bound
      val in = new DataInputStream(new java.io.BufferedInputStream(sock.getInputStream, 1 << 16))
      val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16))
      while (running.get()) {
        val seq = in.readLong()
        val nHeaders = in.readInt()
        val headers = (1 to nHeaders).map(_ => in.readUTF() -> in.readUTF()).toMap
        val payload = new Array[Byte](in.readInt())
        in.readFully(payload)
        val res = handler(DispatchRequest(payload, headers))
        // echo the request's seq: the client verifies it to detect any
        // out-of-order or concurrent-handling server
        out.writeLong(seq)
        out.writeUTF(res.statusCode)
        out.writeUTF(res.action.getOrElse(""))
        out.flush()
      }
    } catch { case _: IOException => () } // client hung up / timed out
    finally { try sock.close() catch { case _: IOException => () } }
  }

  private val acceptor = new Thread(() => {
    try while (running.get()) {
      val sock = server.accept()
      acceptedConnections.incrementAndGet()
      val t = new Thread(() => serve(sock), s"graft-sock-serve-${sock.getPort}")
      t.setDaemon(true)
      t.start()
    } catch { case _: IOException => () } // closed
  }, "graft-sock-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = {
    running.set(false)
    try server.close() catch { case _: IOException => () }
  }
}
