package graft.control

import graft.streaming.LocalCheckpointFiles
import org.apache.spark.sql.SparkSession

/**
 * The session configuration a production graft deployment sets — every
 * value chosen for the 100 TB / 1000-executor shape this library targets,
 * with the reasoning attached. `GraftConf(builder)` applies them;
 * `GraftConf.local(cpus)` is the one session the local-mode tools
 * (Bench, Verify, Explain, RunOne, Demo) run in, with test-sized values.
 *
 * Why these and not others:
 *  - AQE + skew-join + coalesce: runtime re-planning is the only defense
 *    against the stats being wrong at petabyte scale — converts sort-merge
 *    to broadcast when a side turns out small, splits skewed partitions
 *    (the salting move, automated), and merges tiny post-shuffle
 *    partitions so reducer count tracks DATA, not a static conf.
 *  - shuffle.partitions as a FLOOR, not a tuning knob: with AQE coalescing
 *    enabled the initial number only caps parallelism; size it at
 *    ~2-3× total executor cores.
 *  - files.maxPartitionBytes 128 MiB: scan tasks sized so a row-group +
 *    decode buffers fit executor memory alongside shuffle state.
 *  - autoBroadcastJoinThreshold stays DEFAULT (10 MiB): every deliberate
 *    broadcast in this library is an explicit broadcast() hint — implicit
 *    giant broadcasts are how drivers die.
 *  - codegen.cache.maxEntries: a workload with ~100 distinct query shapes
 *    generates far more than the default 100 cached classes; an LRU that
 *    small recompiles (and re-JITs) in steady state.
 *  - RocksDB state store: streaming state lives off-heap, so heap stays
 *    bounded whatever the state size. Its one stateful user is
 *    AuditStream's windowed aggregation (the AUDIT job): one KMV sketch
 *    per (window, topic), dropped as the watermark passes the window.
 *  - checkpointFileManagerClass = LocalCheckpointFiles: on a local
 *    checkpoint, the offset- and commit-log writes every trigger makes fork
 *    no `chmod`/`readlink` (Hadoop without libhadoop); other file systems
 *    keep Spark's own manager.
 *  - status-store retention of 20 jobs, stages and SQL executions
 *    (`spark.ui.retainedJobs`, `spark.ui.retainedStages`,
 *    `spark.sql.ui.retainedExecutions`; Spark keeps 1,000 of each): the
 *    driver's status store lives even with the UI off, and a forwarding
 *    query adds one job, stage and SQL execution every trigger, so the
 *    default holds ~20 MB of live heap that nothing reads (`fwd_retry`:
 *    ~195 MB live at 1,000, 175 MB at 20). 20 still shows the last few
 *    triggers when the UI is on. Read when the SparkContext starts.
 */
object GraftConf {
  private val StatusRetention: Map[String, String] = Seq("spark.ui.retainedJobs",
    "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions").map(_ -> "20").toMap

  val Settings: Map[String, String] = StatusRetention ++ Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    LocalCheckpointFiles.ClassKey -> classOf[LocalCheckpointFiles].getName,
    "spark.sql.shuffle.partitions" -> "2000") // floor for ~1000 executors x 2-3 cores each; AQE coalesces down

  /** Apply the production settings to a session builder. Callers override
    * AFTER applying (e.g. shuffle.partitions for local runs). */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    Settings.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The local-mode session: `local[cpus]` with the graft planner
    * extensions, one shuffle partition per core, the production
    * checkpoint file manager and status-store retention. Callers set their
    * own log level. */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // the query suite generates far more than the default 100 cached
    // codegen classes; with an LRU that small, the warmup pass's compiled
    // classes (and their JIT state) are evicted before the measured pass
    // reuses them — sequential scan over an LRU is the pathological case
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts is TIMESTAMP(NANOS)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(LocalCheckpointFiles.ClassKey, Settings(LocalCheckpointFiles.ClassKey))
    .config(StatusRetention)
    .getOrCreate()
}
