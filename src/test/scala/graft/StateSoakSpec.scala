package graft

import graft.streaming.AuditStream
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Long-run state soak for the one stateful operator a job runs: the AUDIT
  * job's `AuditStream.windowedAudit`, configured as `JobLauncher` starts it
  * (1-minute windows, 1-minute watermark, append sink) on the RocksDB state
  * store `GraftConf` sets. Its claimed bound — state O(topics × windows
  * inside the watermark horizon) — is asserted NUMERICALLY from
  * `StreamingQueryProgress.stateOperators` over 10^5 events and dozens of
  * triggers while event time advances. A state leak (windows the watermark
  * never drops) grows with every event-time minute and crosses the bound
  * within a few triggers. */
class StateSoakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("AuditStream window state stays O(topics x horizon windows) across 100k events") {
    val topics = 4
    val perTrigger = 2000
    val triggers = 50 // 50 x 2,000 = 100k events
    val stepMs = 20000L // each trigger advances event time by 20 s: ~17 minutes in all
    val t0 = 1700000000000L - 1700000000000L % 60000L // minute-aligned
    val input = MemoryStream[AuditRec](implicitly[Encoder[AuditRec]], spark.sqlContext)
    // JobLauncher's AUDIT case: window "1 minute", watermark "1 minute", and
    // writeStream's default (append) output mode, which drops a window's
    // state once the watermark passes its end; complete mode never does
    val q = AuditStream.windowedAudit(input.toDF(), "ts", "1 minute", "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("soak_audit").start()
    val rnd = new scala.util.Random(20261020L)
    try {
      // trigger i covers event time [t0 + i*step, t0 + (i+1)*step), in
      // order, so no event is late and every window closes complete
      var offset = 0L
      val batches = (0 until triggers).map { i =>
        (0 until perTrigger).map { _ =>
          offset += 1
          AuditRec(s"topic${rnd.nextInt(topics)}", offset,
            new Timestamp(t0 + i * stepMs + rnd.nextInt(stepMs.toInt)))
        }
      }
      val samples = batches.map { b =>
        input.addData(b)
        q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      // a window [s, s + 1 min) is kept while its end is past the watermark
      // (max event time - 1 min): two window starts fit in that 2-minute
      // span, plus one for the trigger that opens a window before the
      // watermark from the previous trigger evicts the oldest
      val bound = topics.toLong * 3
      val minutes = (triggers * stepMs + 59999L) / 60000L
      val unevicted = topics.toLong * minutes
      assert(bound * 2 <= unevicted, "the soak is too short to tell the bounds apart")
      assert(samples.max <= bound,
        s"audit window state grew past the watermark horizon: max=${samples.max} bound=$bound " +
          s"samples=$samples")
      assert(samples.drop(3).forall(_ >= topics),
        s"state never held a full window of topics: $samples")

      // drain: a far-future record pushes the watermark past every soak
      // window, so each (window, topic) is emitted once and its state dropped
      input.addData(Seq(AuditRec("filler", offset + 1, new Timestamp(t0 + 100L * 60000L))))
      q.processAllAvailable()
      input.addData(Seq(AuditRec("filler", offset + 2, new Timestamp(t0 + 102L * 60000L))))
      q.processAllAvailable()
      val drained = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(drained <= 2, s"closed windows kept their state: $drained rows remain")
      // append emits each closed window exactly once, equal to the batch run
      val streamed = spark.sql(
        "SELECT window_start, topic, n, approx_uniq FROM soak_audit WHERE topic != 'filler' " +
          "ORDER BY window_start, topic").collect().map(_.toSeq).toSeq
      val batch = AuditStream.windowedAudit(batches.flatten.toDF(), "ts", "1 minute", "1 minute")
        .orderBy("window_start", "topic").collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.map(_(2).asInstanceOf[Long]).sum == perTrigger.toLong * triggers)
    } finally q.stop()
  }
}
