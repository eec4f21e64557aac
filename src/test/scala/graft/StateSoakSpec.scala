package graft

import graft.streaming.{NearDupStream, PackStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** Long-run state soak for the transformWithState operators: the claimed
  * state bounds — NearDupStream O(buckets inside the eviction horizon),
  * PackStream O(sources) — are asserted NUMERICALLY from
  * `StreamingQueryProgress.stateOperators` over thousands to 10^5 events
  * and dozens of triggers, not just structurally. A state leak (purge that stops
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

  test("NearDupStream bucket state tracks the eviction horizon, not arrivals (1k docs)") {
    val perTrigger = 100
    val triggers = 10 // 1,000 docs x 4 bands = 4,000 bucket entries
    val delayMs = 1000L // watermark delay = eviction horizon
    val bands = graft.operators.SimilarityOps.NumHashes / graft.operators.SimilarityOps.BandSize
    val table = Map.empty[(Int, String), Seq[Long]]
    val input = MemoryStream[ArrivalDoc](
      implicitly[org.apache.spark.sql.Encoder[ArrivalDoc]], spark.sqlContext)
    val q = NearDupStream.bandVerdicts(input.toDF(), NearDupStream.BroadcastProbe(table), "ts", delayMs)
      .writeStream.outputMode("append").format("memory").queryName("soak_neardup").start()
    // every doc is its own text, so each of its bands opens a fresh bucket
    val rnd = new scala.util.Random(20261019L)
    def text(): String = Seq.fill(12)(rnd.alphanumeric.take(6).mkString).mkString(" ")
    val t0 = 1700000000000L
    try {
      // trigger i sits at event time t0 + i s: a bucket lives for the 1 s
      // horizon plus the 1 s watermark lag, so about 3 triggers of buckets
      // are open at any time while 10 triggers of arrivals flow through
      var id = 0L
      val batches = (0 until triggers).iterator.map { i =>
        (0 until perTrigger).map { _ =>
          id += 1
          ArrivalDoc(id, text(), new java.sql.Timestamp(t0 + i * 1000L))
        }
      }
      val samples = soak(input, q, batches)
      // bound: (horizon + watermark lag + 2) seconds of buckets, one value
      // row each (timers are not counted); the 4,000 entries must not appear
      val bound = bands.toLong * perTrigger * (2L * delayMs / 1000L + 2L)
      val unevicted = bands.toLong * perTrigger * triggers
      assert(bound * 2 <= unevicted, "the soak is too short to tell the bounds apart")
      assert(samples.max <= bound,
        s"bucket state grew past the horizon bound: max=${samples.max} bound=$bound samples=${samples.take(20)}")
      // drain: a far-future filler pushes the watermark past every horizon
      // → every earlier bucket is evicted; only the fillers' own remain
      Seq(10000000L, 10001000L).foreach { dt =>
        id += 1
        input.addData(Seq(ArrivalDoc(id, text(), new java.sql.Timestamp(t0 + dt))))
        q.processAllAvailable()
      }
      val drained = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(drained <= 2L * bands, s"expired buckets not evicted: $drained rows remain")
      val n = spark.sql("SELECT COUNT(*) FROM soak_neardup").head().getLong(0)
      assert(n == bands.toLong * (perTrigger * triggers + 2))
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
