package graft

import java.io.OutputStream
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.control.GraftConf
import graft.model._
import graft.sources.GraftBroker
import graft.streaming._
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[LocalCheckpointFiles]], the checkpoint file manager `GraftConf` names:
 * forwarding triggers on a local checkpoint start no process, and what the
 * manager writes keeps the inherited manager's contract — restart,
 * no-clobber against a second writer, Hadoop-verified checksums, overwrite
 * and cancel — while a path on another file system takes the inherited code.
 */
class LocalCheckpointFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  // the suite JVM shares one session: build it the way the other suites do,
  // lay the production settings over it, and put every runtime setting
  // this suite changes (GraftConf's and GraftConf.local's) back afterwards
  private lazy val shared: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private lazy val before: Map[String, String] = shared.conf.getAll
  lazy val spark: SparkSession = {
    before
    GraftConf(SparkSession.builder())
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.streaming.metricsEnabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    val after = spark.conf.getAll
    (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k) && spark.conf.isModifiable(k))
      .foreach(k => before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
    made.foreach(TestFs.deleteRecursively)
    super.afterAll()
  }

  private def hadoopConf(s: SparkSession): Configuration =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private val made = scala.collection.mutable.ArrayBuffer.empty[JPath]
  private def tempDir(tag: String): JPath = { val d = Files.createTempDirectory(s"graft-lcf-$tag"); made += d; d }

  private def manager(dir: JPath, conf: Configuration = new Configuration()): CheckpointFileManager =
    new LocalCheckpointFiles(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, p: JPath, bytes: Array[Byte], overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(new Path(p.toUri), overwrite)
    out.write(bytes); out.close()
  }

  /** Read back through Hadoop's checksummed FileContext, verifying every
    * chunk against the `.crc` sidecar. The buffer-size overload matters:
    * `open(path)` alone reaches the raw file system and checks nothing. */
  private def readVerified(p: JPath): Array[Byte] = {
    val in = FileContext.getFileContext(new Configuration()).open(new Path(p.toUri), 4096)
    try in.readAllBytes() finally in.close()
  }

  private def bytes(n: Int, seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt().toByte)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private object BrokerQueueStore extends QueueStore {
    def produce(outcomes: Dataset[ForwardingEngine.Outcome]): Unit = {
      outcomes.filter(col("destination") =!= "")
        .select(col("destination").as("topic"),
          col("outKey").as("key"), col("outValue").as("value"))
        .write.format("graft-queue").mode("append").save()
      ()
    }
  }

  private def jobSpec(topic: String, group: String, msgsPerSec: Double = Double.MaxValue): JobSpec =
    JobSpec(
      jobGroupId = s"${topic}__$group", cluster = "local-cluster",
      topic = topic, consumerGroup = group,
      rpc = RpcSpec("grpc://consumer", s"kafka.consumerproxy.$group/$topic"),
      flowControl = FlowControl(msgsPerSec, Double.MaxValue, Double.MaxValue))

  private def forward(spec: JobSpec, behavior: String, ckpt: JPath, name: String): StreamingQuery =
    ForwardingEngine.run(spec, MockDispatcherFactory(behavior), "local-cluster",
      QueueJobs.liveStream(spark, spec), BrokerQueueStore, ckpt.toString, name)

  private def produce(topic: String, range: Range, tag: String): Unit =
    range.foreach(i => GraftBroker.produce(topic, Some(0), s"k$i".getBytes, s"$tag$i".getBytes))

  /** A metadata log whose writer skips the exists check, as a writer that
    * lost the race between check and publish does. */
  private final class RacingLog(path: String) extends HDFSMetadataLog[String](spark, path) {
    def writeOver(batchId: Long, s: String): Unit =
      write(batchIdToPath(batchId), (o: OutputStream) => o.write(s.getBytes))
  }

  private def lastBatch(q: StreamingQuery): Long = Option(q.lastProgress).fold(-1L)(_.batchId)

  test("GraftConf(builder) and GraftConf.local sessions resolve file: checkpoints to the graft manager") {
    val key = LocalCheckpointFiles.ClassKey
    val probe = new Path(tempDir("probe").toUri)
    spark.conf.unset(key)
    val local = GraftConf.local(4)
    assert(CheckpointFileManager.create(probe, hadoopConf(local)).isInstanceOf[LocalCheckpointFiles],
      "GraftConf.local must register the checkpoint file manager")
    local.conf.unset(key)
    val built = GraftConf(SparkSession.builder()).master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false").getOrCreate()
    assert(CheckpointFileManager.create(probe, hadoopConf(built)).isInstanceOf[LocalCheckpointFiles],
      "GraftConf(builder) must register the checkpoint file manager")
  }

  test("no process is started over 20+ forwarding triggers on a local checkpoint") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "lcf-jfr" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "lcf-jfr-topic"
    GraftBroker.createTopic(topic, 1)
    produce(topic, 0 until 5, "w")
    // 5 msgs/s x the 1 s trigger window = 5 records per trigger
    val q = forward(jobSpec(topic, "lcf-jfr-group", msgsPerSec = 5.0), "lcf-jfr", tempDir("jfr"), "lcf-jfr")
    val commands = new LinkedBlockingQueue[String]()
    val rs = new RecordingStream()
    try {
      q.processAllAvailable() // query start (directories, metadata) stays outside the window
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e =>
        commands.add(s"${e.getString("command")} [${Option(e.getThread).map(_.getJavaName).orNull}]"))
      rs.startAsync()
      // a marker process brackets the window: once its event arrives, every
      // event before it has been delivered (the stream is time-ordered)
      def marker(tag: String): Vector[String] = {
        new ProcessBuilder("true", tag).start().waitFor()
        val before = Vector.newBuilder[String]
        var c = commands.poll(30, TimeUnit.SECONDS)
        while (c != null && !c.contains(tag)) { before += c; c = commands.poll(30, TimeUnit.SECONDS) }
        assert(c != null, s"marker $tag never recorded")
        before.result()
      }
      marker("lcf-window-open")
      val first = lastBatch(q)
      produce(topic, 5 until 125, "v")
      q.processAllAvailable()
      val triggers = lastBatch(q) - first
      // only the query's threads count: elsewhere in the shared suite JVM,
      // Spark's Cleaner deletes a collected session's artifacts with `rm -rf`
      val started = marker("lcf-window-close")
        .filter(c => c.contains("stream execution thread for lcf-jfr") || c.contains("Executor task launch worker"))
      assert(triggers >= 20, s"only $triggers triggers ran in the window")
      assert(started.size == 0,
        s"${started.size} process start(s) over $triggers triggers: ${started.distinct.take(5).mkString("; ")}")
      assert((5 until 125).forall(i => TestConsumer.count("lcf-jfr", s"v$i") == 1))
    } finally { rs.close(); q.stop() }
  }

  test("restart resumes at the next batch id and re-dispatches nothing committed") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "lcf-restart" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "lcf-restart-topic"
    GraftBroker.createTopic(topic, 1)
    val spec = jobSpec(topic, "lcf-restart-group")
    val ckpt = tempDir("restart")
    produce(topic, 0 until 10, "r")
    val q1 = forward(spec, "lcf-restart", ckpt, "lcf-restart-1")
    q1.processAllAvailable(); val last = lastBatch(q1); q1.stop()
    produce(topic, 10 until 20, "r")
    val q2 = forward(spec, "lcf-restart", ckpt, "lcf-restart-2")
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.filter(_.numInputRows > 0).map(_.batchId).min == last + 1)
      assert((0 until 20).forall(i => TestConsumer.count("lcf-restart", s"r$i") == 1),
        "every record dispatched exactly once across the restart")
    } finally q2.stop()
    assert(TestFs.listDir(ckpt.resolve("offsets")).forall(!_.getFileName.toString.endsWith(".tmp")))
  }

  test("the offset log a query writes carries Hadoop-valid checksums: a flipped byte fails a verifying read") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "lcf-crc" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "lcf-crc-topic"
    GraftBroker.createTopic(topic, 1)
    val ckpt = tempDir("crc")
    produce(topic, 0 until 10, "c")
    val q = forward(jobSpec(topic, "lcf-crc-group"), "lcf-crc", ckpt, "lcf-crc")
    q.processAllAvailable(); val last = lastBatch(q); q.stop()
    val offsets = ckpt.resolve("offsets").resolve(last.toString)
    assert(Files.exists(offsets.resolveSibling(s".$last.crc")))
    assert(readVerified(offsets).sameElements(Files.readAllBytes(offsets)))
    assert(readVerified(ckpt.resolve("commits").resolve(last.toString)).nonEmpty)
    val b = Files.readAllBytes(offsets)
    b(b.length / 2) = (b(b.length / 2) ^ 0x01).toByte
    Files.write(offsets, b)
    intercept[ChecksumException](readVerified(offsets))
  }

  test("a flipped byte in a stopped query's offset log fails the manager's read with ChecksumException") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "lcf-flip" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "lcf-flip-topic"
    GraftBroker.createTopic(topic, 1)
    val ckpt = tempDir("flip")
    produce(topic, 0 until 10, "f")
    val q = forward(jobSpec(topic, "lcf-flip-group"), "lcf-flip", ckpt, "lcf-flip")
    q.processAllAvailable(); val last = lastBatch(q); q.stop()
    val offsets = ckpt.resolve("offsets").resolve(last.toString)
    val fm = CheckpointFileManager.create(new Path(ckpt.resolve("offsets").toUri), hadoopConf(spark))
    assert(fm.isInstanceOf[LocalCheckpointFiles])
    def readBack(): Array[Byte] = {
      val in = fm.open(new Path(offsets.toUri))
      try in.readAllBytes() finally in.close()
    }
    assert(readBack().sameElements(Files.readAllBytes(offsets)))
    val b = Files.readAllBytes(offsets)
    b(b.length / 2) = (b(b.length / 2) ^ 0x01).toByte
    Files.write(offsets, b)
    intercept[ChecksumException](readBack())
    assert(Files.exists(offsets), "the corrupt file must stay where it is")
  }

  test("RocksDB state checkpoints through the manager and is restored on restart") {
    val sess = spark
    import sess.implicits._
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass").endsWith("RocksDBStateStoreProvider"))
    val ckpt = tempDir("rocks")
    val input = MemoryStream[String](implicitly[org.apache.spark.sql.Encoder[String]], spark.sqlContext)
    def counts(): StreamingQuery = input.toDF().groupBy("value").count()
      .writeStream.outputMode("complete").format("memory").queryName("lcf_rocks")
      .option("checkpointLocation", ckpt.toString).start()
    input.addData(Seq("a", "b", "a"))
    val q1 = counts(); q1.processAllAvailable(); q1.stop()
    input.addData(Seq("a", "c"))
    val q2 = counts()
    try {
      q2.processAllAvailable()
      assert(spark.table("lcf_rocks").as[(String, Long)].collect().toMap == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally q2.stop()
    val files = Files.walk(ckpt.resolve("state")).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.getFileName.toString).toSeq
    assert(files.exists(_.endsWith(".zip")), files.toString)
    assert(files.filter(_.endsWith(".zip")).forall(z => files.contains(s".$z.crc")), files.toString)
    assert(!files.exists(_.endsWith(".tmp")), files.toString)
  }

  test("a second writer on a live checkpoint gets Spark's concurrent-update error") {
    GraftBroker.reset(); TestConsumer.reset()
    TestConsumer.behaviors += "lcf-conc" -> (_ => DispatchResult("OK", None, overdue = false))
    val topic = "lcf-conc-topic"
    GraftBroker.createTopic(topic, 1)
    val ckpt = tempDir("conc")
    produce(topic, 0 until 5, "a")
    val q = forward(jobSpec(topic, "lcf-conc-group"), "lcf-conc", ckpt, "lcf-conc")
    try {
      q.processAllAvailable()
      // another writer takes the next batch id in the live query's offset log
      val other = new HDFSMetadataLog[String](spark, ckpt.resolve("offsets").toString)
      assert(other.add(lastBatch(q) + 1, "another writer"))
      produce(topic, 5 until 10, "a")
      val e = intercept[Exception](q.processAllAvailable())
      assert(causes(e).exists(_.getMessage.contains("CONCURRENT_STREAM_LOG_UPDATE")), s"$e")
    } finally q.stop()
  }

  test("publish is no-clobber: the losing writer gets the metadata log's concurrent-writer error") {
    def race(fm: String => CheckpointFileManager, leavesTemps: Boolean): Unit = {
      val dir = tempDir("race")
      val a = fm(dir.toString).createAtomic(new Path(dir.resolve("7").toUri), false)
      val b = fm(dir.toString).createAtomic(new Path(dir.resolve("7").toUri), false)
      a.write("first".getBytes); b.write("second".getBytes)
      a.close()
      intercept[FileAlreadyExistsException](b.close())
      assert(new String(readVerified(dir.resolve("7"))) == "first")
      // the inherited manager leaves the loser's temp file and its .crc behind
      assert(TestFs.listDir(dir).map(_.getFileName.toString)
        .filterNot(n => leavesTemps && n.contains(".tmp")).sorted == Seq(".7.crc", "7"))
      // through the metadata log: the second writer of batch 3 loses
      val first = new HDFSMetadataLog[String](spark, dir.resolve("log").toString)
      val second = new RacingLog(dir.resolve("log").toString)
      assert(first.add(3L, "first"))
      val e = intercept[Exception](second.writeOver(3L, "second"))
      assert(causes(e).exists(_.isInstanceOf[FileAlreadyExistsException]), s"$e")
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], s"$e")
      assert(first.get(3L).contains("first"))
    }
    race(d => new FileContextBasedCheckpointFileManager(new Path(d), new Configuration()), leavesTemps = true)
    race(d => new LocalCheckpointFiles(new Path(d), new Configuration()), leavesTemps = false)
  }

  test("checksums: Hadoop verifies what the manager writes, and the .crc matches Hadoop's byte for byte") {
    val ours = tempDir("sum-ours"); val theirs = tempDir("sum-theirs")
    val spark4 = new FileContextBasedCheckpointFileManager(new Path(theirs.toUri), new Configuration())
    // empty, one partial chunk, an exact chunk, and the > 1 MiB RocksDB snapshot case
    Seq(0, 100, 512, 1536, (1 << 20) + 777).zipWithIndex.foreach { case (n, i) =>
      val data = bytes(n, i)
      write(manager(ours), ours.resolve(s"f$i"), data)
      write(spark4, theirs.resolve(s"f$i"), data)
      assert(readVerified(ours.resolve(s"f$i")).sameElements(data), s"size $n")
      assert(Files.readAllBytes(ours.resolve(s".f$i.crc")).sameElements(
        Files.readAllBytes(theirs.resolve(s".f$i.crc"))), s".crc for size $n")
    }
    val b = Files.readAllBytes(ours.resolve("f4"))
    b(600000) = (b(600000) ^ 0x40).toByte
    Files.write(ours.resolve("f4"), b)
    intercept[ChecksumException](readVerified(ours.resolve("f4")))
  }

  test("overwrite replaces the data and its .crc; cancel leaves no temp file") {
    val dir = tempDir("overwrite")
    val fm = manager(dir)
    val f = dir.resolve("snapshot")
    write(fm, f, bytes(3000, 1))
    write(fm, f, bytes(700, 2), overwrite = true)
    assert(readVerified(f).sameElements(bytes(700, 2)))
    intercept[FileAlreadyExistsException](write(fm, f, bytes(10, 3)))
    assert(readVerified(f).sameElements(bytes(700, 2)))

    val out = fm.createAtomic(new Path(dir.resolve("cancelled").toUri), false)
    out.write(bytes(5000, 4))
    out.cancel()
    out.close() // after cancel: a no-op
    assert(TestFs.listDir(dir).map(_.getFileName.toString).sorted == Seq(".snapshot.crc", "snapshot"))
  }

  test("a path whose file system is not LocalFileSystem takes the inherited code") {
    val dir = tempDir("raw")
    val raw = new Configuration()
    raw.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    raw.setBoolean("fs.file.impl.disable.cache", true)
    val out = manager(dir, raw).createAtomic(new Path(dir.resolve("x").toUri), false)
    assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream],
      s"expected Spark's rename-based stream, got ${out.getClass.getName}")
    out.write("inherited".getBytes); out.close()
    assert(readVerified(dir.resolve("x")).sameElements("inherited".getBytes))
    assert(manager(dir).createAtomic(new Path(dir.resolve("y").toUri), false)
      .getClass.getName.startsWith(classOf[LocalCheckpointFiles].getName))
  }
}
