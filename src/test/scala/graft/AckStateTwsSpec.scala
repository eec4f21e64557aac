package graft

import graft.streaming.{AckStateTws, AckTrackingQueue, HeadBlockingDetector}
import graft.streaming.AckStateTws.{AckEvent, AckSignal}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** AckStateTws must be event-for-event equivalent to the pure
  * AckTrackingQueue + HeadBlockingDetector model: same watermark updates and
  * divert signals on the same stream, trigger by trigger, under capacity
  * backpressure. transformWithState requires the RocksDB state store. */
class AckStateTwsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  type Row = (String, String, Int, Long, Int, Long, Long)

  /** Runs `batches` through `op`, one trigger per batch, and returns each
    * trigger's output rows, sorted. */
  private def runThrough[T: Encoder](
      op: Dataset[AckEvent] => Dataset[T],
      batches: Seq[Seq[AckEvent]],
      name: String)(row: T => Row): Seq[Seq[Row]] = {
    val input = MemoryStream[AckEvent](implicitly[Encoder[AckEvent]], spark.sqlContext)
    val q = op(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      var seen = Seq.empty[Row]
      batches.map { b =>
        input.addData(b)
        q.processAllAvailable()
        val all = spark.table(name).as[T].collect().map(row).toSeq
        val fresh = all.diff(seen)
        seen = all
        fresh.sorted
      }
    } finally q.stop()
  }

  private def runUpdates(batches: Seq[Seq[AckEvent]], capacity: Int, name: String): Seq[Seq[Row]] =
    runThrough[AckStateTws.WatermarkUpdate](AckStateTws.updates(_, capacity), batches, name)(
      w => ("watermark", w.topic, w.partition, w.commitOffset, w.inflight, w.highestReceived,
        AckTrackingQueue.InitialOffset))

  private def runSignals(batches: Seq[Seq[AckEvent]], capacity: Int, name: String): Seq[Seq[Row]] =
    runThrough[AckSignal](AckStateTws.signals(_, capacity), batches, name)(
      s => (s.kind, s.topic, s.partition, s.commitOffset, s.inflight, s.highestReceived,
        s.divertOffset))

  /** The reference model: one AckTrackingQueue per key, folded with the
    * operator's replay rules — deferred events go first, receives go in
    * offset order, events that follow a deferred receive are deferred with
    * it — and, with a detector, `detect` + `cancel` after each fold. Only
    * keys with events in a trigger are folded. */
  private def model(
      batches: Seq[Seq[AckEvent]],
      capacity: Int,
      detector: Option[HeadBlockingDetector]): Seq[Seq[Row]] = {
    val queues = mutable.Map.empty[(String, Int), AckTrackingQueue]
    val pending = mutable.Map.empty[(String, Int), Seq[AckEvent]]
    batches.map { batch =>
      batch.groupBy(e => (e.topic, e.partition)).toSeq.flatMap { case (key, events) =>
        val q = queues.getOrElseUpdate(key, new AckTrackingQueue(capacity))
        val out = mutable.ArrayBuffer.empty[Row]
        val deferred = mutable.ArrayBuffer.empty[AckEvent]
        val deferredMsgs = mutable.Set.empty[Long]
        val (receives, others) =
          (pending.getOrElse(key, Seq.empty) ++ events).partition(_.kind == "receive")
        receives.sortBy(_.offset).foreach { e =>
          if (deferredMsgs.nonEmpty) { deferred += e; deferredMsgs += e.offset }
          else if (!q.receive(e.offset) && q.isFull) { deferred += e; deferredMsgs += e.offset }
        }
        var lastCommitted = q.highestCommittedOffset
        others.sortBy(_.offset).foreach { e =>
          if (deferredMsgs.contains(e.offset - 1)) deferred += e
          else e.kind match {
            case "ack" =>
              val wm = q.ack(e.offset)
              if (wm >= 0 && wm != lastCommitted) {
                lastCommitted = wm
                out += (("watermark", key._1, key._2, wm, q.size, q.highestReceivedOffset,
                  AckTrackingQueue.InitialOffset))
              }
            case "nack" => q.nack(e.offset)
            case "cancel" => q.cancel(e.offset)
            case _ =>
          }
        }
        pending(key) = deferred.toSeq
        detector.flatMap(_.detect(q)).foreach { off =>
          if (q.cancel(off + 1))
            out += (("divert", key._1, key._2, AckTrackingQueue.InitialOffset, q.size,
              q.highestReceivedOffset, off))
        }
        out
      }.sorted
    }
  }

  test("watermark advances across micro-batches (basic protocol)") {
    val batches = Seq(
      (0L until 5L).map(o => AckEvent("t", 0, o, "receive")) ++
        Seq(AckEvent("t", 0, 4L, "ack"), AckEvent("t", 0, 3L, "ack")),
      Seq(AckEvent("t", 0, 1L, "ack"), AckEvent("t", 0, 2L, "ack")),
      Seq(AckEvent("t", 0, 5L, "ack"),
        AckEvent("t", 1, 10L, "receive"), AckEvent("t", 1, 11L, "ack")))
    val rows = runUpdates(batches, 100, "tws_basic").flatten
    val byPart = rows.groupBy(_._3).view.mapValues(_.map(_._4).max).toMap
    assert(byPart == Map(0 -> 5L, 1 -> 11L))
  }

  test("capacity overflow defers receives and their follow-up events") {
    val batches = Seq(
      (0L to 3L).map(o => AckEvent("t", 0, o, "receive")) ++
        (1L to 4L).map(o => AckEvent("t", 0, o, "ack")),
      Seq(AckEvent("t", 0, 4L, "receive"), AckEvent("t", 0, 5L, "ack")))
    val commits = runUpdates(batches, 3, "tws_cap").flatten.map(_._4)
    assert(commits.contains(4L), s"deferred ack was lost: $commits")
    assert(commits.max == 5L)
  }

  test("equivalent to the AckTrackingQueue model on randomized multi-trigger streams") {
    val rnd = new scala.util.Random(42)
    val holRnd = new scala.util.Random(42)
    var diverts = 0
    for (round <- 1 to 3) {
      // random interleaving of receives/acks/nacks/cancels over 2 partitions
      // with gaps in the offset sequence and a small capacity to force
      // deferral; acks may arrive before, with, or after their receive
      val events = (0 until 2).flatMap { p =>
        val offsets = (0 until 60).scanLeft(0L)((o, _) => o + 1 + rnd.nextInt(3)).tail
        offsets.flatMap { o =>
          val kinds = Seq("receive") ++
            (if (rnd.nextInt(10) == 0) Seq("nack") else Nil) ++
            (if (rnd.nextInt(15) == 0) Seq("cancel") else Nil) ++
            Seq("ack")
          kinds.map(k => AckEvent("t", p, if (k == "receive") o else o + 1, k))
        }
      }
      val shuffled = rnd.shuffle(events)
      // split into 4 triggers at random boundaries
      val n = shuffled.size
      val cuts = (Seq(0) ++ Seq.fill(3)(rnd.nextInt(n)).sorted ++ Seq(n)).distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => shuffled.slice(a, b) }

      val updates = runUpdates(batches, 16, s"eq_updates_$round")
      assert(updates == model(batches, 16, None), s"round $round: updates diverged")
      assert(updates.flatten.nonEmpty)

      // the shuffled stream never trips the detector (about half of what is
      // in flight is acked at any time), so signals run on a delivery-ordered
      // stream: an ack trails its receive by 0-3 slots, but one message in 8
      // acks 30-39 slots late and blocks the head of a 20-slot queue
      val timed = (0 until 2).flatMap { p =>
        val offsets = (0 until 60).scanLeft(0L)((o, _) => o + 1 + holRnd.nextInt(3)).tail
        offsets.zipWithIndex.flatMap { case (o, i) =>
          val ackAt = i + (if (holRnd.nextInt(8) == 0) 30 + holRnd.nextInt(10) else holRnd.nextInt(4))
          Seq((i.toDouble, AckEvent("t", p, o, "receive")), (ackAt + 0.5, AckEvent("t", p, o + 1, "ack"))) ++
            (if (holRnd.nextInt(10) == 0) Seq((i + 0.25, AckEvent("t", p, o + 1, "nack"))) else Nil)
        }
      }
      val holBatches = timed.sortBy(_._1).map(_._2).grouped(32).map(holRnd.shuffle(_)).toSeq
      val signals = runSignals(holBatches, 20, s"eq_signals_$round")
      assert(signals == model(holBatches, 20, Some(HeadBlockingDetector())),
        s"round $round: signals diverged")
      diverts += signals.flatten.count(_._1 == "divert")
    }
    assert(diverts > 0, "the detector never fired, so divert rows were not compared")
  }

  test("a full, mostly-acked queue with a canceled head diverts the next cancelable offset") {
    // 20 in flight, 0 already canceled, 2..19 acked: load 1.0, 90% acked;
    // the canceled head left the cancelable set, so offset 1 is diverted
    val batch = (0L until 20L).map(o => AckEvent("t", 0, o, "receive")) ++
      Seq(AckEvent("t", 0, 1L, "cancel")) ++
      (3L to 20L).map(o => AckEvent("t", 0, o, "ack"))
    val rows = runSignals(Seq(batch), 20, "tws_hol_canceled_head")
    assert(rows == Seq(Seq(("divert", "t", 0, AckTrackingQueue.InitialOffset, 20, 19L, 1L))))
    assert(rows == model(Seq(batch), 20, Some(HeadBlockingDetector())))
  }

  test("engine outcomes bridged through the state op reproduce the engine's watermark") {
    import graft.streaming.ForwardingEngine
    import graft.streaming.ForwardingEngine.KafkaRecord
    // 40 messages across 2 partitions through the real engine
    val recs = (0 until 40).map { i =>
      KafkaRecord(s"k$i".getBytes, s"m$i".getBytes, "events", i % 2, (i / 2).toLong, 0L, Map.empty)
    }
    val outcomes = ForwardingEngine.processBatch(
      graft.operators.PipelineOps.pipelineSpec("events"),
      graft.operators.PipelineOps.DeterministicDispatcherFactory,
      "local", spark.createDataset(recs))
    val engineWm = outcomes.collect()
      .groupBy(_.physicalPartition).view.mapValues(_.map(_.commitWatermark).max).toMap

    // replay the same outcomes through the cross-batch path
    val opWm = runUpdates(Seq(AckStateTws.fromOutcomes(outcomes).collect().toSeq), 100,
      "wm_bridge").flatten.groupBy(_._3).view.mapValues(_.map(_._4).max).toMap
    // the deterministic dispatcher resolves every message (terminal or
    // routed), so both paths must commit the full range on both partitions
    assert(opWm == engineWm)
    assert(opWm.values.toSet == Set(20L))
  }
}
