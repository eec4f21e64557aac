package graft

import graft.streaming.{AckStateTws, DelayGateTws, PackStream}
import graft.streaming.AckStateTws.AckEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Long-run state soak for the transformWithState operators: the claimed
  * state bounds — AckStateTws O(in-flight), DelayGateTws O(outstanding
  * buckets), PackStream O(sources) — are asserted NUMERICALLY from
  * `StreamingQueryProgress.stateOperators` over ~10^5 events and dozens
  * of triggers, not just structurally. A state leak (purge that stops
  * purging, buckets that never release) grows with event count and
  * crosses these bounds within a few triggers. */
class StateSoakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** total state rows across operators at each sampled progress */
  private def soak[A](
      input: MemoryStream[A],
      q: StreamingQuery,
      batches: Iterator[Seq[A]]): Seq[Long] = {
    val samples = Seq.newBuilder[Long]
    batches.foreach { b =>
      input.addData(b)
      q.processAllAvailable()
      val p = q.lastProgress
      if (p != null) samples += p.stateOperators.map(_.numRowsTotal).sum
    }
    samples.result()
  }

  test("AckStateTws state tracks in-flight depth, not event count (100k events)") {
    val keys = 2
    val perTrigger = 1000
    val triggers = 50 // 2 x 50 x 1000 = 100k events
    val input = MemoryStream[AckEvent](
      implicitly[org.apache.spark.sql.Encoder[AckEvent]], spark.sqlContext)
    val q = AckStateTws.updates(input.toDS(), capacity = 100000)
      .writeStream.outputMode("append").format("memory").queryName("soak_ack").start()
    try {
      // trigger i: receive batch i, ack batch i-1 → steady-state in-flight
      // is ONE batch per key while total delivered events grow 100x past it
      val batches = (0 until triggers).iterator.map { i =>
        (0 until keys).flatMap { p =>
          val recv = (0 until perTrigger)
            .map(j => AckEvent("t", p, i.toLong * perTrigger + j, "receive"))
          val acks = if (i == 0) Seq.empty else (0 until perTrigger)
            .map(j => AckEvent("t", p, (i - 1).toLong * perTrigger + j + 1, "ack"))
          recv ++ acks
        }
      }
      val samples = soak(input, q, batches)
      assert(samples.size >= triggers - 2)
      // bound: per key, one scalars row + <= 2 batches of nodes (current +
      // the one acked this trigger before its purge completes) + slack.
      // 100k delivered events must NOT show up here.
      val bound = keys.toLong * (2L * perTrigger + 16L)
      assert(samples.max <= bound,
        s"state grew past in-flight bound: max=${samples.max} bound=$bound samples=${samples.take(20)}")
      // drain: ack the final outstanding batch → state collapses to the
      // scalar rows (purge really deletes nodes, not just marks them)
      input.addData((0 until keys).flatMap(p => (0 until perTrigger)
        .map(j => AckEvent("t", p, (triggers - 1).toLong * perTrigger + j + 1, "ack"))))
      q.processAllAvailable()
      val drained = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(drained <= keys * 4L,
        s"acked-out queue still holds $drained state rows (purge leak)")
    } finally q.stop()
  }

  test("DelayGateTws state tracks outstanding due-buckets, not arrivals (50k records)") {
    val perTrigger = 500
    val triggers = 100 // 50k records
    val delayMs = 5000L
    val input = MemoryStream[DelayGateTws.DelayedRecord](
      implicitly[org.apache.spark.sql.Encoder[DelayGateTws.DelayedRecord]], spark.sqlContext)
    val q = DelayGateTws.gate(input.toDS(), delayMs)
      .writeStream.outputMode("append").format("memory").queryName("soak_gate").start()
    try {
      // trigger i sits at "now" = i seconds; its records quantize to 10
      // distinct due instants. The watermark trails one trigger, so ~6-7
      // seconds x 10 buckets are outstanding at any time — while 50k
      // records flow through.
      var off = 0L
      val batches = (0 until triggers).iterator.map { i =>
        (0 until perTrigger).map { j =>
          off += 1
          // event times start ONE second above zero: the engine's late
          // filter drops rows at/below the watermark, and the initial
          // watermark is 0 — eventTime = 0 in the first trigger would be
          // discarded at the boundary before reaching the gate
          DelayGateTws.DelayedRecord("t", 0, off, (i + 1).toLong * 1000L + (j % 10))
        }
      }
      val samples = soak(input, q, batches)
      // bound: (delay/1000 + watermark lag + 2) seconds x 10 buckets, plus
      // one timer row per bucket; arrivals (50k) must not appear
      val bound = 10L * (delayMs / 1000L + 4L) * 2L
      assert(samples.max <= bound,
        s"gate state grew past bucket bound: max=${samples.max} bound=$bound samples=${samples.take(20)}")
      // release check: push the watermark far past every due instant → all
      // buffered records release; only the flush record's own bucket stays
      input.addData(Seq(DelayGateTws.DelayedRecord("t", 0, off + 1, 10000000L)))
      q.processAllAvailable()
      input.addData(Seq(DelayGateTws.DelayedRecord("t", 0, off + 2, 10001000L)))
      q.processAllAvailable()
      val released = spark.sql("SELECT COUNT(*) FROM soak_gate").head().getLong(0)
      assert(released >= perTrigger.toLong * triggers - 1,
        s"records lost in the gate: released=$released of ${perTrigger * triggers}")
      val drained = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(drained <= 8L, s"released buckets not deleted: $drained rows remain")
    } finally q.stop()
  }

  test("PackStream state stays O(sources) across 100k documents") {
    val sources = 4
    val perTrigger = 500
    val triggers = 50 // 4 x 500 x 50 = 100k docs
    val input = MemoryStream[PackStream.Doc](
      implicitly[org.apache.spark.sql.Encoder[PackStream.Doc]], spark.sqlContext)
    val q = PackStream.pack(input.toDS(), budget = 4096)
      .writeStream.outputMode("append").format("memory").queryName("soak_pack").start()
    try {
      val batches = (0 until triggers).iterator.map { i =>
        (0 until sources).flatMap { s =>
          (0 until perTrigger).map(j =>
            PackStream.Doc(s"src$s", i.toLong * perTrigger + j, 100L + j % 50))
        }
      }
      val samples = soak(input, q, batches)
      assert(samples.max <= sources.toLong * 2L,
        s"packer state exceeds O(sources): max=${samples.max} samples=${samples.take(20)}")
      val n = spark.sql("SELECT COUNT(*) FROM soak_pack").head().getLong(0)
      assert(n == sources.toLong * perTrigger * triggers)
    } finally q.stop()
  }
}
