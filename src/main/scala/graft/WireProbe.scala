package graft


/** Diagnostic main for the wire-dispatch byte legs (BENCH_NOTES_r12's
  * 1 KiB finding): decomposes the leg's throughput into
  *
  *  1. the raw loopback ceiling — one connection, length-prefixed 1 KiB
  *     frames streamed with no per-frame round-trip wait (writer floods,
  *     reader drains): what the transport itself can carry;
  *  2. a concurrency sweep of the sync [[graft.streaming.SocketDispatcher]]
  *     (one blocking round-trip per dispatch, T caller threads) and of the
  *     pipelined [[graft.streaming.PipelinedSocketDispatcher]] (many
  *     in-flight frames per connection, the reference's
  *     concurrent-streams-per-pipeline model) — isolating protocol shape
  *     from engine cost;
  *  3. the full engine byte-leg path (processSlice over the executor's
  *     resident dispatcher and shared dispatch pool) at 1 KiB, the exact
  *     BENCH shape, for both dispatcher forms.
  *
  * Prints one JSON line; run with SPARK_GRAFT_SF_DIR set. Findings are
  * recorded in docs/BENCH_NOTES_r13.md.
  */
object WireProbe {
  import graft.streaming._

  private def okServer(): SocketConsumerServer =
    new SocketConsumerServer(_ =>
      DispatchResult(graft.model.GrpcStatus.OK, None, overdue = false))

  /** Raw pipelined frames over ONE connection: writer floods `n` frames of
    * `sz` payload bytes (the dispatcher's exact frame layout), reader
    * drains responses concurrently. No dispatch bookkeeping at all. */
  private def rawCeiling(port: Int, n: Int, sz: Int): Double = {
    import java.io._
    import java.net.{InetSocketAddress, Socket}
    val payload = new Array[Byte](sz)
    val headers = Map("kafka-topic" -> "probe", "kafka-consumergroup" -> "grp",
      "kafka-partition" -> "0", "kafka-offset" -> "1", "kafka-retrycount" -> "0",
      "kafka-attemptcount" -> "0")
    val s = new Socket()
    s.connect(new InetSocketAddress("127.0.0.1", port), 5000)
    s.setTcpNoDelay(true)
    val out = new DataOutputStream(new BufferedOutputStream(s.getOutputStream, 1 << 16))
    val in = new DataInputStream(new BufferedInputStream(s.getInputStream, 1 << 16))
    val t0 = System.nanoTime()
    val reader = new Thread(() =>
      (1 to n).foreach { _ => in.readLong(); in.readUTF(); in.readUTF() })
    reader.setDaemon(true); reader.start()
    (1 to n).foreach { i =>
      out.writeLong(i.toLong - 1) // the protocol's per-connection seq
      out.writeInt(headers.size)
      headers.foreach { case (k, v) => out.writeUTF(k); out.writeUTF(v) }
      out.writeInt(payload.length)
      out.write(payload)
    }
    out.flush()
    reader.join(120000)
    val sec = (System.nanoTime() - t0) / 1e9
    s.close()
    n.toDouble * sz / sec
  }

  /** T caller threads each issuing n/T blocking dispatches through a shared
    * dispatcher — the engine pool's shape without the engine. */
  private def sweep(mk: () => Dispatcher, threads: Int, n: Int, sz: Int): Double = {
    val d = mk()
    val payload = new Array[Byte](sz)
    val req = DispatchRequest(payload, Map("kafka-topic" -> "probe",
      "kafka-consumergroup" -> "grp", "kafka-partition" -> "0",
      "kafka-offset" -> "1", "kafka-retrycount" -> "0", "kafka-attemptcount" -> "0"))
    val per = n / threads
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => (1 to per).foreach { _ =>
        if (d.dispatch(req).statusCode != graft.model.GrpcStatus.OK) errs.incrementAndGet()
      })
      t.start(); t
    }
    ts.foreach(_.join(300000))
    val sec = (System.nanoTime() - t0) / 1e9
    d.close()
    require(errs.get() == 0, s"$errs non-OK dispatches in sweep")
    (per.toLong * threads) * sz / sec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.control.GraftConf.local(32)
    spark.sparkContext.setLogLevel("WARN")

    val srv = okServer()
    val n = sys.env.get("SPARK_GRAFT_PROBE_N").flatMap(_.toIntOption).getOrElse(40000)
    val sz = 1024
    val mb = (d: Double) => math.rint(d / 1e5) / 10 // MB/s, 1 decimal

    // 1) transport ceiling (warm once, then best of 3)
    rawCeiling(srv.port, 4000, sz)
    val ceiling = (1 to 3).map(_ => rawCeiling(srv.port, n, sz)).max

    // 2) dispatcher sweeps, sync vs pipelined
    def syncD() = new SocketDispatcher("127.0.0.1", srv.port, 30000)
    def pipeD() = new PipelinedSocketDispatcher("127.0.0.1", srv.port, 30000, 4)
    val threadCounts = Seq(1, 8, 32, 128)
    sweep(() => syncD(), 8, 8000, sz) // warm JIT paths
    val syncSweep = threadCounts.map(t => t -> mb(sweep(() => syncD(), t, n, sz)))
    sweep(() => pipeD(), 8, 8000, sz)
    val pipeSweep = threadCounts.map(t => t -> mb(sweep(() => pipeD(), t, n, sz)))

    // 3) full engine byte-leg shape (the bench's ByteLeg), both factories
    import spark.implicits._
    val spec = graft.operators.PipelineOps.pipelineSpec("events")
    val cached = graft.operators.PipelineOps.eventRecords(spark, sfDir)
      .limit(n)
      .map(r => r.copy(value = java.util.Arrays.copyOf(r.value, sz)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    def engineLeg(factory: DispatcherFactory): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        val m = ForwardingEngine.processBatch(spec, factory, "local", cached).count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (m > 0) m.toDouble * sz / sec else 0.0
      }
      once() // warm
      (1 to 3).map(_ => once()).max
    }
    val engSync = mb(engineLeg(SocketDispatcherFactory("127.0.0.1", srv.port, 30000)))
    val engPipe = mb(engineLeg(PipelinedSocketDispatcherFactory("127.0.0.1", srv.port, 30000, 4)))
    cached.unpersist()
    srv.close()

    def sweepJson(s: Seq[(Int, Double)]) =
      s.map { case (t, v) => s""""$t":$v""" }.mkString("{", ",", "}")
    println(
      s"""{"payload_bytes":$sz,"records":$n,"raw_ceiling_mb_per_sec":${mb(ceiling)},""" +
        s""""sync_sweep_mb_per_sec":${sweepJson(syncSweep)},""" +
        s""""pipelined_sweep_mb_per_sec":${sweepJson(pipeSweep)},""" +
        s""""engine_sync_mb_per_sec":$engSync,"engine_pipelined_mb_per_sec":$engPipe,""" +
        s""""accepted_connections":${srv.acceptedConnections.get()}}""")
    spark.stop()
  }
}
