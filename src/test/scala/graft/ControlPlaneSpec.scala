package graft

import graft.control._
import graft.control.AutoScaler.Phase
import graft.control.Rebalancer.JobKey
import graft.model._
import org.scalatest.funsuite.AnyFunSuite

class ControlPlaneSpec extends AnyFunSuite {

  private val spec = JobSpec(
    jobGroupId = "t__g", cluster = "c", topic = "t", consumerGroup = "g",
    rpc = RpcSpec("grpc://svc", "kafka.consumerproxy.g/t", dlqTopic = "t__g__dlq"),
    flowControl = FlowControl(4000.0, 16 * 1024 * 1024.0, 400.0))

  // ---- Kafka option builders ----

  test("source options: committed offsets + flow control") {
    val opts = KafkaSourceConfig.sourceOptions(spec, "broker:9092",
      KafkaSourceConfig.StartOffsets.Committed, triggerSec = 2.0)
    assert(opts("subscribe") == "t")
    assert(opts("kafka.group.id") == "g")
    assert(opts("includeHeaders") == "true")
    assert(opts("maxOffsetsPerTrigger") == "8000")
  }

  test("source options: specified offsets produce assign + JSON") {
    val opts = KafkaSourceConfig.sourceOptions(spec, "b:9092",
      KafkaSourceConfig.StartOffsets.Specified(Map(0 -> 100L, 2 -> 50L)))
    assert(opts("startingOffsets") == """{"t": {"0": 100, "2": 50}}""")
    assert(opts("assign") == """{"t": [0,2]}""")
  }

  test("source options: timestamp start resolves per partition") {
    val opts = KafkaSourceConfig.sourceOptions(spec, "b:9092",
      KafkaSourceConfig.StartOffsets.ByTimestamp(1700000000000L), partitions = Seq(1, 0))
    assert(opts("startingOffsetsByTimestamp") == """{"t": {"0": 1700000000000, "1": 1700000000000}}""")
  }

  test("bounded read options for DLQ merge") {
    val opts = KafkaSourceConfig.boundedReadOptions(spec, "b:9092", "t__g__dlq",
      Map(0 -> 10L), Map(0 -> 20L))
    assert(opts("startingOffsets") == """{"t__g__dlq": {"0": 10}}""")
    assert(opts("endingOffsets") == """{"t__g__dlq": {"0": 20}}""")
  }

  test("security config threads into source, bounded-read, and sink options") {
    val sec = SecuritySpec(
      serviceIdentities = Seq("spiffe://svc/consumer"),
      isSecure = true,
      clientOptions = Map(
        "ssl.truststore.location" -> "/etc/tls/trust.jks",
        "kafka.ssl.keystore.location" -> "/etc/tls/key.jks"))
    val s = spec.copy(security = sec)
    val src = KafkaSourceConfig.sourceOptions(s, "b:9092",
      KafkaSourceConfig.StartOffsets.Earliest)
    assert(src("kafka.security.protocol") == "SSL")
    assert(src("kafka.ssl.truststore.location") == "/etc/tls/trust.jks")
    assert(src("kafka.ssl.keystore.location") == "/etc/tls/key.jks") // prefix not doubled
    val bounded = KafkaSourceConfig.boundedReadOptions(s, "b:9092", "t__g__dlq",
      Map(0 -> 0L), Map(0 -> 10L))
    assert(bounded("kafka.security.protocol") == "SSL")
    val sink = KafkaSourceConfig.sinkOptions("b:9092", security = sec)
    assert(sink("kafka.security.protocol") == "SSL")
    assert(sink("kafka.ssl.truststore.location") == "/etc/tls/trust.jks")
  }

  test("insecure jobs contribute no security options even with identities") {
    // the reference rule: identity provided but is_secure=false runs unsecured
    val s = spec.copy(security = SecuritySpec(
      serviceIdentities = Seq("spiffe://svc/consumer"), isSecure = false,
      clientOptions = Map("ssl.truststore.location" -> "/x")))
    val src = KafkaSourceConfig.sourceOptions(s, "b:9092",
      KafkaSourceConfig.StartOffsets.Earliest)
    assert(!src.keys.exists(_.contains("ssl")))
    assert(!src.contains("kafka.security.protocol"))
  }

  test("dispatcher factory receives the job's security spec") {
    var seen: Option[SecuritySpec] = None
    val f = new graft.streaming.DispatcherFactory {
      override def create(): graft.streaming.Dispatcher =
        (_: graft.streaming.DispatchRequest) =>
          graft.streaming.DispatchResult("OK", None, overdue = false)
      override def create(sec: SecuritySpec): graft.streaming.Dispatcher = {
        seen = Some(sec); create()
      }
    }
    val sec = SecuritySpec(isSecure = true)
    f.create(sec)
    assert(seen.contains(sec))
  }

  test("unlimited flow control means no trigger cap") {
    assert(KafkaSourceConfig.maxOffsetsPerTrigger(FlowControl.unlimited, 1.0).isEmpty)
  }

  // ---- AutoScaler state machine ----

  test("scale unit is max of msgs and bytes demand") {
    assert(AutoScaler.scaleOf(8000.0, 0.0) == 2.0)
    assert(AutoScaler.scaleOf(0.0, 32.0 * 1024 * 1024) == 2.0)
    assert(AutoScaler.scaleOf(4000.0, 32.0 * 1024 * 1024) == 2.0)
  }

  test("calibrating tracks max then transitions to running") {
    val as = new AutoScaler(AutoScaler.Config(calibrateMs = 60000L))
    var t = 0L
    as.onSample("g", 8000.0, 0.0, t) // scale 2
    assert(as.state("g").get.phase == Phase.Calibrating)
    t += 30000
    as.onSample("g", 16000.0, 0.0, t) // scale 4
    assert(as.state("g").get.scale == 4.0)
    t += 31000
    as.onSample("g", 4000.0, 0.0, t)
    assert(as.state("g").get.phase == Phase.Running)
  }

  test("up-scale is percentile-gated and bounded") {
    val cfg = AutoScaler.Config(calibrateMs = 0L, upWindowMs = 10000L)
    val as = new AutoScaler(cfg)
    var t = 0L
    as.onSample("g", 4000.0, 0.0, t) // scale 1, Running next sample
    // sustained 4x load: p50 over window gates the jump to <= 2x per step
    (1 to 5).foreach { i =>
      t += 1000
      as.onSample("g", 16000.0, 0.0, t)
    }
    val s = as.state("g").get
    assert(s.phase == Phase.Running)
    assert(s.scale > 1.0 && s.scale <= 4.0)
  }

  test("hibernates after sustained zero and wakes on traffic") {
    val cfg = AutoScaler.Config(calibrateMs = 0L, hibernateMs = 10000L)
    val as = new AutoScaler(cfg)
    var t = 0L
    as.onSample("g", 4000.0, 0.0, t)
    t += 5000
    as.onSample("g", 0.0, 0.0, t)
    t += 6000
    as.onSample("g", 0.0, 0.0, t)
    assert(as.state("g").get.phase == Phase.Hibernating)
    assert(as.desiredWorkers("g") == 0)
    t += 1000
    as.onSample("g", 4000.0, 0.0, t)
    assert(as.state("g").get.phase == Phase.Calibrating)
    assert(as.desiredWorkers("g") >= 1)
  }

  // ---- AutoScaler driver loop over a sample sequence ----

  private case class Sample(group: String, tsMs: Long,
                            msgsPerSec: Double, bytesPerSec: Double)

  // compressed clock: calibrate 10 s, up-window 10 s, down-window 60 s,
  // hibernate 120 s — the full lifecycle fits in a few hundred samples
  private val cfg = AutoScaler.Config(
    calibrateMs = 10000L, upWindowMs = 10000L,
    downWindowMs = 60000L, hibernateMs = 120000L)

  private val t0 = 1700000000000L

  /** Two groups: "hot" ramps 2→16 workers then idles into hibernation and
    * wakes; "steady" holds 1 worker throughout. */
  private def samples: Seq[Sample] = {
    val hot = (0 until 90).map { i =>
      val msgs =
        if (i < 20) 8000.0 // calibration plateau
        else if (i < 40) 8000.0 * (1 << ((i - 20) / 10)) // ramp
        else if (i < 50) 64000.0
        else 0.0 // idle → hibernate at t0+50s+120s... (past horizon)
      Sample("hot", t0 + i * 5000L, msgs, 0.0)
    }
    val steady = (0 until 90).map(i => Sample("steady", t0 + i * 5000L, 3000.0, 0.0))
    // a wake-up burst long after hibernation begins
    val wake = Seq(Sample("hot", t0 + 250 * 5000L, 12000.0, 0.0))
    hot ++ steady ++ wake
  }

  test("lifecycle: calibrate -> running -> up-scale -> hibernate -> wake") {
    val driver = new AutoScaler(cfg)
    samples.sortBy(_.tsMs).filter(_.group == "hot")
      .foreach(s => driver.onSample("hot", s.msgsPerSec, s.bytesPerSec, s.tsMs))
    // final sample was the wake burst
    assert(driver.state("hot").get.phase == AutoScaler.Phase.Calibrating)
    assert(driver.desiredWorkers("hot") == 3) // 12000/4000

    // replay without the wake: must be hibernating at zero workers
    val d2 = new AutoScaler(cfg)
    samples.sortBy(_.tsMs).filter(s => s.group == "hot" && s.tsMs < t0 + 200 * 5000L)
      .foreach(s => d2.onSample("hot", s.msgsPerSec, s.bytesPerSec, s.tsMs))
    assert(d2.state("hot").get.phase == AutoScaler.Phase.Hibernating)
    assert(d2.state("hot").get.scale == 0.0)
  }

  test("up-scale is percentile-gated and factor-bounded") {
    val driver = new AutoScaler(cfg)
    // calibrate at scale 2 (8000 msgs/s)
    (0 to 3).foreach(i => driver.onSample("g", 8000.0, 0.0, t0 + i * 5000L))
    assert(driver.state("g").get.phase == AutoScaler.Phase.Running)
    assert(driver.state("g").get.scale == 2.0)
    // a single 10x spike cannot exceed maxUpFactor x current
    driver.onSample("g", 80000.0, 0.0, t0 + 20000L)
    assert(driver.state("g").get.scale <= 2.0 * cfg.maxUpFactor)
    // sustained demand keeps climbing, each move bounded
    var prev = driver.state("g").get.scale
    (5 to 10).foreach { i =>
      driver.onSample("g", 80000.0, 0.0, t0 + i * 5000L)
      val cur = driver.state("g").get.scale
      assert(cur <= prev * cfg.maxUpFactor + 1e-9)
      prev = cur
    }
    assert(prev == 20.0) // converged to true demand
  }

  test("state window is bounded by the retention horizon") {
    var st: Option[AutoScaler.StepState] = None
    (0 until 10000).foreach { i =>
      st = Some(AutoScaler.step(st, 4000.0, 0.0, t0 + i * 5000L, cfg))
    }
    // horizon = max(downWindow, hibernate) = 120 s at 5 s cadence -> <= 25
    assert(st.get.window.size <= (cfg.hibernateMs / 5000L).toInt + 1)
  }

  // ---- Rebalancer ----

  test("placement is deterministic and covers all jobs") {
    val jobs = (0 until 64).map(p => JobKey("g1", p)) ++ (0 until 32).map(p => JobKey("g2", p))
    val workers = Seq("w1", "w2", "w3", "w4")
    val p1 = Rebalancer.place(jobs, workers)
    val p2 = Rebalancer.place(jobs, workers)
    assert(p1 == p2)
    assert(p1.assignments.size == 96)
    assert(p1.assignments.values.toSet.subsetOf(workers.toSet))
  }

  test("load cap bounds the worst worker") {
    val jobs = (0 until 100).map(p => JobKey("g", p))
    val workers = (1 to 5).map(i => s"w$i")
    val placement = Rebalancer.place(jobs, workers, tolerance = 0.25)
    val loads = workers.map(w => placement.jobsOf(w).size)
    assert(loads.sum == 100)
    assert(loads.max <= math.ceil(100.0 / 5 * 1.25).toInt)
  }

  test("consistent hashing keeps most placements stable under worker churn") {
    val jobs = (0 until 200).map(p => JobKey(s"g${p % 10}", p))
    val before = Rebalancer.place(jobs, Seq("w1", "w2", "w3", "w4"))
    val after = Rebalancer.place(jobs, Seq("w1", "w2", "w3", "w4", "w5"))
    val movedJobs = Rebalancer.moved(before, after)
    // adding one of five workers should move well under half the jobs
    assert(movedJobs.size < jobs.size / 2, s"moved ${movedJobs.size}")
  }

  test("hibernated groups receive no placement") {
    val jobs = Seq(JobKey("live", 0), JobKey("hib", 0))
    val p = Rebalancer.placeWithScale(jobs, Map("live" -> 1.0, "hib" -> 0.0), Seq("w1"))
    assert(p.assignments.keySet == Set(JobKey("live", 0)))
  }

  test("load-aware move phase bounds max/mean load after moves") {
    // ring placement balances JOB COUNTS; the observed load signal is
    // per-group skewed (one hot group), so counts alone leave one worker
    // far over the mean — the move phase must fix it
    val jobs = (0 until 8).map(p => JobKey("hot", p)) ++
      (0 until 8).map(p => JobKey("cold", p))
    val workers = Seq("w1", "w2", "w3", "w4")
    // hot jobs carry 10x the load of cold ones
    val scale = Map("hot" -> 80.0, "cold" -> 8.0)
    val (balanced, moves) = Rebalancer.placeBalanced(jobs, scale, workers, tolerance = 0.25)
    assert(balanced.assignments.size == 16, "every job still placed")
    val loadOf = (j: JobKey) => if (j.jobGroupId == "hot") 10.0 else 1.0
    val loads = workers.map(w => balanced.jobsOf(w).map(loadOf).sum)
    val mean = loads.sum / workers.size
    assert(loads.max <= mean * 1.25 + 1e-9,
      s"worst worker ${loads.max} exceeds mean*1.25 = ${mean * 1.25} (moves=$moves)")
    // the phase is deterministic (same inputs, same moves)
    assert(Rebalancer.placeBalanced(jobs, scale, workers, tolerance = 0.25)._2 == moves)
  }

  test("move phase is minimal: only overloaded workers donate, others keep ring placement") {
    val jobs = (0 until 8).map(p => JobKey("hot", p)) ++
      (0 until 8).map(p => JobKey("cold", p))
    val workers = Seq("w1", "w2", "w3", "w4")
    val scale = Map("hot" -> 80.0, "cold" -> 8.0)
    val base = Rebalancer.placeWithScale(jobs, scale, workers)
    val (balanced, moves) = Rebalancer.placeBalanced(jobs, scale, workers, tolerance = 0.25)
    // every non-moved job keeps its ring placement (stability)
    val movedSet = moves.map(_.job).toSet
    base.assignments.foreach { case (j, w) =>
      if (!movedSet.contains(j)) assert(balanced.workerOf(j).contains(w))
    }
    // minimality vs plain re-hash: the balance diff is strictly smaller than
    // what a fresh placement over a permuted worker list moves (the re-hash
    // alternative to targeted moves)
    val rehash = Rebalancer.placeWithScale(jobs, scale, workers.reverse)
    val rehashMoved = Rebalancer.moved(base, rehash)
    assert(moves.size < math.max(rehashMoved.size, jobs.size / 2),
      s"${moves.size} targeted moves vs ${rehashMoved.size} from a re-hash")
    // moves are exactly the diff between the two placements
    assert(Rebalancer.moved(base, balanced).toSet == movedSet)
  }

  test("move phase never strands a job and respects atomicity") {
    // one worker, one giant job: nothing to move (single-job workers are
    // never adjusted; a job is atomic)
    val one = Rebalancer.Placement(Map(JobKey("g", 0) -> "w1"))
    val (p1, m1) = Rebalancer.balanceLoad(one, _ => 100.0, Seq("w1", "w2"))
    assert(m1.isEmpty && p1 == one)
    // zero total load: no-op
    val (p2, m2) = Rebalancer.balanceLoad(one, _ => 0.0, Seq("w1", "w2"))
    assert(m2.isEmpty && p2 == one)
    // an empty worker may absorb a heavy job even past the limit
    val two = Rebalancer.Placement(Map(
      JobKey("g", 0) -> "w1", JobKey("g", 1) -> "w1"))
    val (p3, m3) = Rebalancer.balanceLoad(two, _ => 100.0, Seq("w1", "w2"))
    assert(m3.size == 1 && p3.jobsOf("w2").size == 1,
      s"empty worker should take one job: $m3")
  }

  // ---- production session conf ----

  test("GraftConf applies the production settings; caller overrides win") {
    val b = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").appName("graftconf-test")
    val probe = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
    val prevShuffle = probe.map(_.conf.get("spark.sql.shuffle.partitions"))
    val spark = GraftConf(b)
      .config("spark.sql.shuffle.partitions", "2") // local override AFTER
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // getOrCreate may return a pre-existing session in the suite JVM; the
      // assertions below then still hold because conf application mutates
      // the shared session's options
      assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(GraftConf.Settings.contains("spark.sql.streaming.stateStore.providerClass"))
    } finally {
      // restore the suite session's parallelism for later specs
      prevShuffle.foreach(v => spark.conf.set("spark.sql.shuffle.partitions", v))
    }
  }
}
