package graft

import graft.model.DispatchTarget
import graft.sources.GraftBroker
import graft.streaming.{ForwardingEngine, QueueJobs}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** REPLICATION / LOAD_GEN / AVAILABILITY job types (job.proto:339-356) over
  * the DSv2 queue connector — including the cross-cluster replication loop
  * guard and the streaming-write path. */
class QueueJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def await(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(cond, s"timed out after ${timeoutMs}ms waiting for: $what")
  }

  private def ckpt(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-jobs-$tag").toString

  private def sourceStream(topics: String) =
    ForwardingEngine.fromSourceFrame(
      spark.readStream.format("graft-queue")
        .option("topics", topics).option("startingoffsets", "earliest").load())

  test("replication copies records with headers and stamps original_cluster") {
    GraftBroker.reset()
    GraftBroker.createTopic("rep-src", 2)
    (1 to 5).foreach(i => GraftBroker.produce("rep-src", Some((i - 1) % 2),
      s"k$i".getBytes, s"v$i".getBytes, headers = Seq("h1" -> "x".getBytes)))
    val q = QueueJobs.runReplication(sourceStream("rep-src"), "cluster-a",
      DispatchTarget("cluster-b", "rep-dst"), ckpt("rep"), "rep-job")
    try {
      await("5 records replicated")(GraftBroker.endOffsets("rep-dst").values.sum == 5L)
      val recs = (0 until GraftBroker.partitionsOf("rep-dst"))
        .flatMap(p => GraftBroker.fetch("rep-dst", p, 0L,
          GraftBroker.endOffsets("rep-dst")(p)))
      assert(recs.map(r => new String(r.value)).sorted == (1 to 5).map(i => s"v$i"))
      // user headers survive; original_cluster is stamped with the SOURCE
      // cluster of this replication hop
      assert(recs.forall(r => r.headers.exists(_._1 == "h1")))
      assert(recs.forall(r => r.headers.collectFirst {
        case ("original_cluster", v) => new String(v) }.contains("cluster-a")))
    } finally q.stop()
  }

  test("replication loop guard: foreign-cluster records are not re-replicated") {
    GraftBroker.reset()
    GraftBroker.createTopic("loop-src", 1)
    // a record that already crossed from cluster-a ...
    GraftBroker.produce("loop-src", Some(0), "k".getBytes, "crossed".getBytes,
      headers = Seq("original_cluster" -> "cluster-a".getBytes))
    // ... and a native record of THIS cluster
    GraftBroker.produce("loop-src", Some(0), "k2".getBytes, "native".getBytes)
    val q = QueueJobs.runReplication(sourceStream("loop-src"), "cluster-b",
      DispatchTarget("cluster-a", "loop-dst"), ckpt("loop"), "loop-job")
    try {
      await("native record replicated")(GraftBroker.endOffsets("loop-dst").values.sum == 1L)
      Thread.sleep(300) // would-be window for the crossed record to leak
      val recs = GraftBroker.fetch("loop-dst", 0, 0L,
        GraftBroker.endOffsets("loop-dst").values.sum)
      assert(recs.map(r => new String(r.value)) == Seq("native"),
        "the cluster-a record must not bounce back through cluster-b")
    } finally q.stop()
  }

  test("load-gen produces keyed records at the configured rate") {
    GraftBroker.reset()
    GraftBroker.createTopic("lg-topic", 2)
    val q = QueueJobs.runLoadGen(spark, ratePerSec = 200L, payloadBytes = 64,
      DispatchTarget("local", "lg-topic"), ckpt("lg"), "lg-job")
    try {
      await("at least 100 generated records")(
        GraftBroker.endOffsets("lg-topic").values.sum >= 100L)
    } finally q.stop()
    val total = GraftBroker.endOffsets("lg-topic").values.sum
    val recs = (0 until 2).flatMap(p => GraftBroker.fetch("lg-topic", p, 0L,
      GraftBroker.endOffsets("lg-topic")(p)))
    assert(recs.forall(_.value.length == 64))
    // keys carry the rate-source sequence — all distinct
    assert(recs.map(r => new String(r.key)).distinct.size.toLong == total)
  }

  test("availability probe stats: per-minute delivery counts and latency percentiles") {
    import spark.implicits._
    val base = 28333340L * 60000000000L // ns, minute-aligned
    val now = base / 1000000L + 59000L + 5000L // 5s after the LAST probe
    val probes = (0 until 60).map { i =>
      ForwardingEngine.KafkaRecord(
        s"p$i".getBytes, "probe".getBytes, "avail-topic", 0, i.toLong,
        base + i * 1000000000L, Map.empty) // 1 probe per second
    }
    val stats = QueueJobs.probeStats(spark.createDataset(probes), now).collect()
    assert(stats.length == 1, "60 one-per-second probes span one minute bucket")
    val r = stats.head
    assert(r.getAs[Long]("n_probes") == 60L)
    // youngest probe is 5000-59000ms old; p50 over 5000..64000
    val p50 = r.getAs[Long]("p50_ms")
    val p99 = r.getAs[Long]("p99_ms")
    assert(p50 > 30000L && p50 < 40000L, s"p50=$p50")
    assert(p99 > p50 && r.getAs[Long]("max_ms") == 64000L)
  }

  test("a job's bytesPerSec caps every trigger's bytes on the live stream") {
    GraftBroker.reset()
    GraftBroker.createTopic("big-rec", 2)
    // 24 records of 1,500 bytes (1,496-byte value + 4-byte key) over two partitions
    (0 until 24).foreach(i => GraftBroker.produce("big-rec", Some(i % 2),
      f"k$i%03d".getBytes, Array.fill[Byte](1496)(i.toByte)))
    val spec = graft.model.JobSpec(
      jobGroupId = "big-rec__g", cluster = "local", topic = "big-rec", consumerGroup = "g",
      rpc = graft.model.RpcSpec("grpc://svc", "kafka.consumerproxy.g/big-rec"),
      flowControl = graft.model.FlowControl(Double.MaxValue, 6000.0, Double.MaxValue))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = QueueJobs.liveStream(spark, spec, triggerSec = 1.0).writeStream
      .option("checkpointLocation", ckpt("bytes"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[ForwardingEngine.KafkaRecord], _: Long) =>
        val rows = b.collect()
        if (rows.nonEmpty) batches.add((rows.length.toLong, rows.map(r => r.key.length + r.value.length.toLong).sum))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val seen = batches.asScala.toSeq
      assert(seen.map(_._1).sum == 24L, s"every record read once: $seen")
      // 6,000 bytes/s x the 1 s trigger window = 6,000 bytes per trigger
      assert(seen.forall(_._2 <= 6000L), s"a trigger overshot the byte cap: $seen")
      assert(seen.size >= 6, s"24 x 1,500 bytes needs at least 6 capped triggers: $seen")
    } finally q.stop()
  }
}
