package graft

import graft.control.{AutoScaler, JobManager, ParquetJobStore, StatusServer, TtlRegistry}
import graft.model._
import graft.streaming.ForwardingEngine.KafkaRecord
import graft.streaming.{DispatchRequest, DispatchResult, Dispatcher, DispatcherFactory}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object AlwaysOkDispatcherFactory extends DispatcherFactory {
  def create(): Dispatcher = new Dispatcher {
    def dispatch(req: DispatchRequest): DispatchResult =
      DispatchResult("OK", None, overdue = false)
  }
}

class JobManagerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def spec(id: String) = JobSpec(
    jobGroupId = id, cluster = "local", topic = "t", consumerGroup = "g",
    rpc = RpcSpec("grpc://svc", "kafka.consumerproxy.g/t"))

  test("job manager runs, reports status, cancels and GCs") {
    val jm = new JobManager(spark)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaRecord](
      implicitly[org.apache.spark.sql.Encoder[KafkaRecord]], spark.sqlContext)
    input.addData((0 until 5).map(i =>
      KafkaRecord(Array[Byte](1), s"m$i".getBytes, "t", 0, i.toLong, 0L, Map.empty)))
    val ckpt = java.nio.file.Files.createTempDirectory("jm-ckpt").toString

    val q = jm.run(spec("t__g"), AlwaysOkDispatcherFactory, "local",
      input.toDS(), InMemoryQueueStore, ckpt)
    assert(jm.running == Seq("t__g"))
    // idempotent run returns the live query
    assert(jm.run(spec("t__g"), AlwaysOkDispatcherFactory, "local",
      input.toDS(), InMemoryQueueStore, ckpt) eq q)
    q.processAllAvailable()
    val st = jm.status("t__g").get
    // an AvailableNow query self-terminates once it drains the source
    assert(st.state == "RUNNING" || st.state == "CANCELED")
    assert(st.numInputRows == 5)
    assert(jm.cancel("t__g"))
    assert(!jm.cancel("t__g"))
    assert(jm.running.isEmpty)
    jm.stopAll()
  }

  test("rebalance loop: placement + expected-vs-running command list") {
    val jm = new JobManager(spark)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaRecord](
      implicitly[org.apache.spark.sql.Encoder[KafkaRecord]], spark.sqlContext)
    val ckpt = java.nio.file.Files.createTempDirectory("jm-reb-ckpt").toString
    jm.run(spec("stale__g"), AlwaysOkDispatcherFactory, "local",
      input.toDS(), InMemoryQueueStore, ckpt)

    val expected = Seq((spec("a__g"), 4), (spec("b__g"), 2), (spec("sleepy__g"), 3))
    val scales = Map("a__g" -> 1.5, "b__g" -> 0.5, "sleepy__g" -> 0.0)
    val workers = Seq("w1", "w2")
    val (placement, cmds) = jm.rebalance(expected, scales, workers)

    // hibernated group gets no placement at all
    assert(!placement.assignments.keySet.exists(_.jobGroupId == "sleepy__g"))
    // all active partition-jobs are placed on known workers
    assert(placement.assignments.keySet.map(_.jobGroupId) == Set("a__g", "b__g"))
    assert(placement.assignments.values.toSet.subsetOf(workers.toSet))
    // expected-but-not-running -> RUN; running-but-not-expected -> CANCEL
    val runs = cmds.collect { case jm.RunGroup(g, w) => g -> w }.toMap
    assert(runs.keySet == Set("a__g", "b__g"))
    assert(runs.values.toSet.subsetOf(workers.toSet))
    assert(cmds.collect { case jm.CancelGroup(g) => g } == Seq("stale__g"))
    // deterministic: same inputs, same placement (the stability property)
    assert(jm.rebalance(expected, scales, workers)._1 == placement)
    jm.stopAll()
  }

  test("scaling loop turns query progress into scale decisions and quota updates") {
    val jm = new JobManager(spark)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaRecord](
      implicitly[org.apache.spark.sql.Encoder[KafkaRecord]], spark.sqlContext)
    input.addData((0 until 50).map(i =>
      KafkaRecord(Array[Byte](1), s"m$i".getBytes, "t", 0, i.toLong, 0L, Map.empty)))
    val ckpt = java.nio.file.Files.createTempDirectory("sl-ckpt").toString
    val q = jm.run(spec("scale__g"), AlwaysOkDispatcherFactory, "local",
      input.toDS(), InMemoryQueueStore, ckpt)
    q.processAllAvailable()
    val loop = new graft.control.ScalingLoop(jm,
      new graft.control.AutoScaler(graft.control.AutoScaler.Config(calibrateMs = 0L)))
    val decisions = loop.tick(1000L)
    assert(decisions.map(_.jobGroupId) == Seq("scale__g"))
    assert(decisions.head.desiredWorkers >= 1)
    val updated = loop.updatedSpec(spec("scale__g"), decisions.head)
    assert(updated.flowControl.messagesPerSec >= 4000.0)
    // management endpoint reflects the same group
    assert(jm.statusJson.contains("\"jobGroupId\":\"scale__g\""))
    jm.stopAll()
  }

  test("expired worker's jobs get rescheduled on the next rebalance") {
    val jm = new JobManager(spark)
    var now = 0L
    // worker TTL 10s (reference: application-uforwarder-controller.yaml:101)
    val workers = new TtlRegistry[String, Long](10000L, () => now)
    workers.put("w1", now); workers.put("w2", now)
    val expected = Seq((spec("a__g"), 2), (spec("b__g"), 2))
    val scale = Map("a__g" -> 1.0, "b__g" -> 1.0)
    val (p1, _) = jm.rebalance(expected, scale, workers)
    assert(p1.assignments.values.toSet == Set("w1", "w2"),
      "both live workers should host jobs")
    // w1 stops heartbeating; w2 keeps going
    now = 11000L
    workers.put("w2", now)
    assert(workers.live.keySet == Set("w2"))
    val (p2, cmds) = jm.rebalance(expected, scale, workers)
    assert(p2.assignments.values.toSet == Set("w2"),
      "expired worker must not receive placements")
    // every group is still placed — nothing got dropped with the worker
    assert(p2.assignments.keySet.map(_.jobGroupId) == Set("a__g", "b__g"))
    assert(cmds.collect { case jm.RunGroup(g, w) => (g, w) }
      .forall(_._2 == "w2"))
  }

  test("total worker outage holds placements instead of cancelling the fleet") {
    val jm = new JobManager(spark)
    var now = 0L
    val workers = new TtlRegistry[String, Long](10000L, () => now)
    workers.put("w1", now)
    now = 20000L // every heartbeat expired
    assert(workers.live.isEmpty)
    // a group IS running: a transient registry blip (all heartbeats
    // momentarily past TTL) must hold it steady, not stop/restart the fleet
    val (placement, cmds) = jm.rebalance(
      Seq((spec("a__g"), 1)), Map("a__g" -> 1.0),
      workers.live.keys.toSeq.sorted, runningNow = Set("a__g"))
    assert(placement.assignments.isEmpty)
    assert(cmds.isEmpty, "no cancels during a zero-worker blip")
    // once a live worker reappears, the normal diff applies: the running
    // group stays (placed on the live worker), an orphan gets cancelled
    now = 21000L
    workers.put("w2", now)
    val (p2, cmds2) = jm.rebalance(
      Seq((spec("a__g"), 1)), Map("a__g" -> 1.0),
      workers.live.keys.toSeq.sorted, runningNow = Set("a__g", "orphan__g"))
    assert(p2.assignments.keySet.map(_.jobGroupId) == Set("a__g"))
    assert(cmds2.collect { case jm.CancelGroup(g) => g } == Seq("orphan__g"))
  }

  test("timestamp-ranged group materializes bounded jobs; merged read matches the range") {
    import graft.control.BatchJobCreator
    import graft.sources.{GraftBroker, GraftQueue}
    GraftBroker.reset()
    val topic = "ranged-topic"
    GraftBroker.createTopic(topic, 2)
    val base = 1700000000000L
    // 10 records, timestamps base+0s..base+9s, alternating partitions
    (0 until 10).foreach(i => GraftBroker.produce(topic, Some(i % 2),
      s"k$i".getBytes, s"v$i".getBytes, timestampMs = base + i * 1000L))
    val jm = new JobManager(spark)
    val s = spec("ranged__g").copy(topic = topic)
    // [base+3s, base+8s): end follows zero-offset semantics — v8 excluded
    val jobs = jm.createBoundedJobs(s,
      GroupRange(startTimestampMs = base + 3000L, endTimestampMs = base + 8000L))
    assert(jobs.size == 2, "one bounded job per partition")
    assert(jobs.forall(_.spec == s))
    // the merged bounded read is EXACTLY the records in the time range —
    // the q13-style check, against the broker instead of an oracle table
    val (starts, ends) = BatchJobCreator.toBounds(jobs)
    val vals = spark.read.format("graft-queue")
      .option("topics", topic)
      .option("startingoffsets", GraftQueue.offsetsToJson(Map(topic -> starts)))
      .option("endingoffsets", GraftQueue.offsetsToJson(Map(topic -> ends)))
      .load().select("value").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).toSet
    assert(vals == (3 to 7).map(i => s"v$i").toSet)
    // explicit offset ranges override timestamps AND restrict partitions
    val explicit = jm.createBoundedJobs(s,
      GroupRange(startTimestampMs = base, endTimestampMs = base + 9000L,
        partitionOffsetRanges = Seq(PartitionOffsetRange(1, 1L, 3L))))
    assert(explicit == Seq(BatchJobCreator.BoundedJob(s, 1, 1L, 3L)))
    // start timestamp past the tail -> empty ranges (nothing consumed),
    // never an earliest reset (BatchJobCreator.java:218-260 fallbacks)
    val past = jm.createBoundedJobs(s,
      GroupRange(startTimestampMs = base + 99000L, endTimestampMs = base + 100000L))
    assert(past.nonEmpty && past.forall(j => j.startOffset == j.endOffset))
    // an unbounded group is a loud error, not a silent full read
    intercept[IllegalArgumentException](jm.createBoundedJobs(s, GroupRange()))
    // a typo'd topic fails loudly instead of auto-creating a phantom topic
    val typo = intercept[IllegalArgumentException](jm.createBoundedJobs(
      s.copy(topic = "no-such-topic"),
      GroupRange(startTimestampMs = base, endTimestampMs = base + 1000L)))
    assert(typo.getMessage.contains("no-such-topic"))
    // duplicate partitions in explicit ranges fail loudly (createJobs and
    // toBounds would otherwise silently diverge)
    val dup = intercept[IllegalArgumentException](jm.createBoundedJobs(s,
      GroupRange(partitionOffsetRanges = Seq(
        PartitionOffsetRange(0, 0L, 5L), PartitionOffsetRange(0, 10L, 20L)))))
    assert(dup.getMessage.contains("duplicate partition"))
  }

  test("expired worker lease stops dispatching; a live tick keeps work running") {
    import graft.control.LeaseGuard
    val jm = new JobManager(spark)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[KafkaRecord](
      implicitly[org.apache.spark.sql.Encoder[KafkaRecord]], spark.sqlContext)
    input.addData((0 until 5).map(i =>
      KafkaRecord(Array[Byte](1), s"m$i".getBytes, "t", 0, i.toLong, 0L, Map.empty)))
    val ckpt = java.nio.file.Files.createTempDirectory("lease-ckpt").toString
    var now = 0L
    val guard = new LeaseGuard(jm, leaseMs = 21000L, clock = () => now)
    val q = jm.run(spec("lease__g"), AlwaysOkDispatcherFactory, "local",
      input.toDS(), InMemoryQueueStore, ckpt)
    q.processAllAvailable()
    // master keeps ticking within the lease: work stays up
    now = 15000L; guard.tick()
    now = 30000L
    assert(guard.enforce().isEmpty, "a refreshed lease must not cancel work")
    assert(jm.running == Seq("lease__g"))
    // master goes silent past the 21 s lease: ALL work cancels — the
    // worker-side double-consumption guard (StateWorking.java:37-140)
    now = 15000L + 21001L
    assert(guard.expired)
    assert(guard.enforce() == Seq("lease__g"))
    assert(jm.running.isEmpty, "an expired lease stops dispatching")
    assert(!q.isActive)
    // idempotent once enforced; a revived master tick re-arms the lease
    assert(guard.enforce().isEmpty)
    guard.tick()
    assert(!guard.expired)
    // a late out-of-order tick can only EXTEND, never retract
    val now0 = now
    now = 1000L; guard.tick() // stale tick from before the partition
    now = now0
    assert(!guard.expired, "stale tick must not retract the lease")
  }

  test("unknown job type name fails loudly") {
    val e = intercept[IllegalArgumentException](JobType.of("REPLICATON"))
    assert(e.getMessage.contains("REPLICATON"))
    assert(JobType.of("REPLICATION") == JobType.Replication)
  }

  test("ttl registry expires by wall clock and purges") {
    var now = 0L
    val reg = new TtlRegistry[String, Long](1000L, () => now)
    reg.put("a", 1L); reg.put("b", 2L)
    assert(reg.get("a").contains(1L))
    now = 500L
    reg.put("b", 3L) // refresh
    now = 1200L
    assert(reg.get("a").isEmpty, "past TTL")
    assert(reg.get("b").contains(3L), "refreshed entry still live")
    assert(reg.live.keySet == Set("b"))
    assert(reg.size == 1, "live() purges expired entries")
  }

  test("status server serves jobs, workers, scaler JSON over HTTP") {
    val jm = new JobManager(spark)
    var now = 1000L
    val workers = new TtlRegistry[String, Long](10000L, () => now)
    workers.put("w1", 999L)
    workers.put("""w"2\evil""", 998L) // free-form id must not break the JSON
    val scaler = new AutoScaler()
    scaler.onSample("t__g", 8000.0, 1024.0, 0L)
    val srv = new StatusServer(jm, Some(scaler), Some(workers))
    val port = srv.start()
    def getJson(path: String): String = {
      val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
      val in = url.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    try {
      assert(getJson("/health") == """{"status":"ok"}""")
      assert(getJson("/status/jobs") == "[]") // no queries running
      val w = org.json4s.jackson.JsonMethods.parse(getJson("/status/workers"))
      val ids = w.children.map(c => (c \ "workerId").values.toString)
      // parses as valid JSON despite the hostile id, and round-trips it
      assert(ids == List("""w"2\evil""", "w1"))
      val sc = org.json4s.jackson.JsonMethods.parse(getJson("/status/scaler"))
      val entry = sc.children.head
      assert((entry \ "jobGroupId").values == "t__g")
      assert((entry \ "phase").values == "Calibrating")
      assert((entry \ "desiredWorkers").values.asInstanceOf[BigInt] >= 1)
    } finally srv.stop()
  }

  test("store prune keeps only the newest versions") {
    val dir = java.nio.file.Files.createTempDirectory("job-store-prune").toString
    val store = new ParquetJobStore(spark, dir)
    (1 to 4).foreach(i => store.save(Seq(spec(s"g$i"))))
    assert(store.latestVersion.contains(4L))
    assert(store.prune(keepLast = 2) == 2)
    assert(store.latestVersion.contains(4L))
    assert(store.load().map(_.jobGroupId) == Seq("g4"))
    assert(store.load(3L).map(_.jobGroupId) == Seq("g3"))
    intercept[Exception](store.load(1L)) // pruned away
  }

  test("parquet job store versions specs") {
    val dir = java.nio.file.Files.createTempDirectory("job-store").toString
    val store = new ParquetJobStore(spark, dir)
    assert(store.load().isEmpty)
    val s1 = spec("a__g").copy(retryEnabled = true,
      retryTiers = Seq(RetryTier("a__g__retry", 1000L, 3)))
    store.save(Seq(s1))
    assert(store.latestVersion == Some(1L))
    assert(store.load() == Seq(s1))
    val s2 = s1.copy(flowControl = FlowControl(100.0, 1000.0, 10.0))
    store.save(Seq(s1, s2.copy(jobGroupId = "b__g")))
    assert(store.latestVersion == Some(2L))
    assert(store.load().map(_.jobGroupId).sorted == Seq("a__g", "b__g"))
    // old version still readable
    assert(store.load(1L) == Seq(s1))
  }

  test("the autoscaler's quota push rewrites both the message and the byte rate") {
    val loop = new graft.control.ScalingLoop(new JobManager(spark),
      new AutoScaler(AutoScaler.Config(calibrateMs = 0L)))
    val capped = spec("quota__g").copy(flowControl = FlowControl(5.0, 100.0, 7.0))
    val up = loop.updatedSpec(capped, loop.Decision("quota__g", 2.5, 3, 2.5 * AutoScaler.MessagesPerWorker))
    assert(up.flowControl == FlowControl(2.5 * AutoScaler.MessagesPerWorker,
      2.5 * AutoScaler.BytesPerWorker, 7.0))
    // never below one worker's budget, for either rate
    val low = loop.updatedSpec(capped, loop.Decision("quota__g", 0.1, 1, 0.1 * AutoScaler.MessagesPerWorker))
    assert(low.flowControl == FlowControl(AutoScaler.MessagesPerWorker, AutoScaler.BytesPerWorker, 7.0))
  }
}
