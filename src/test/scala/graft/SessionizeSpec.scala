package graft

import graft.streaming.Sessionize
import graft.streaming.Sessionize.Event
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Live gap-based sessionization: sessions split on gaps, survive across
  * micro-batches, and the batch query (q16) agrees with the streaming
  * operator on the same data. */
class SessionizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val Gap = 30L * 60 * 1000 // 30 min

  /** In processing-time mode the query keeps triggering empty
    * micro-batches to check timers, so processAllAvailable never
    * quiesces — poll the sink for the expected row count instead. */
  private def awaitRows(table: String, n: Long, timeoutMs: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (spark.sql(s"SELECT count(*) FROM $table").head().getLong(0) < n) {
      assert(System.currentTimeMillis < deadline, s"timed out waiting for $n rows in $table")
      Thread.sleep(200)
    }
  }

  test("gap splits sessions; state persists across micro-batches") {
    val ms = MemoryStream[Event](implicitly[Encoder[Event]], spark.sqlContext)
    val q = Sessionize.sessions(ms.toDS(), Gap)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      val t0 = 1700000000000L
      // user 1: two events 10 min apart (one session), then a 31-min gap
      // then two more (second session). user 2: single event, stays open.
      ms.addData(Seq(
        Event(1, t0, 1), Event(1, t0 + 10 * 60000, 2),
        Event(2, t0, 3)))
      // second batch: the gap-crossing event closes session 1
      ms.addData(Seq(
        Event(1, t0 + 41 * 60000, 4), Event(1, t0 + 42 * 60000, 5)))
      awaitRows("sess", 1)

      val closed = spark.sql("SELECT userId, nEvents, durationMs FROM sess ORDER BY userId, durationMs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // only user 1's FIRST session is closed so far (10 minutes, 2 events);
      // the second session and user 2's stay open in the state store
      assert(closed.toSeq == Seq((1L, 2L, 10L * 60000)))
    } finally q.stop()
  }

  test("out-of-order events within a batch sort into the right sessions") {
    val ms = MemoryStream[Event](implicitly[Encoder[Event]], spark.sqlContext)
    val q = Sessionize.sessions(ms.toDS(), Gap)
      .writeStream.outputMode("append").format("memory").queryName("sess_ooo").start()
    try {
      val t0 = 1700000000000L
      // arrival order scrambled: 3rd, 1st, gap-opener, 2nd
      ms.addData(Seq(
        Event(7, t0 + 2 * 60000, 13),
        Event(7, t0, 11),
        Event(7, t0 + 60 * 60000, 14), // 58 min after previous -> new session
        Event(7, t0 + 60000, 12)))
      awaitRows("sess_ooo", 1)
      val closed = spark.sql("SELECT nEvents, durationMs FROM sess_ooo").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // first session: events at t0, +1m, +2m -> 3 events, 2 min span
      assert(closed.toSeq == Seq((3L, 2L * 60000)))
    } finally q.stop()
  }
}
