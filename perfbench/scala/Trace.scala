package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.SecuritySpec
import graft.streaming.{CommitTarget, Dispatcher, DispatcherFactory, DispatchRequest, DispatchResult, ForwardingEngine, QueueStore}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * In-memory spans, recorded by the benchmark around its calls into each
 * module and from Spark's own listeners, written once when the run ends.
 *
 * A span is (key, parent key, trace id, name, module, start, end) in epoch
 * microseconds. Parents are resolved by key at write time, because Spark
 * reports a job before the trigger that caused it ends.
 */
object Trace {
  @volatile var on = false

  final case class Span(key: String, parent: String, trace: String, name: String,
      module: String, startUs: Long, endUs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong(0)
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()

  def usOf(nanos: Long): Long = epochBaseUs + (nanos - nanoBase) / 1000L
  def nowUs: Long = usOf(System.nanoTime())
  def nextKey(prefix: String): String = s"$prefix:${seq.incrementAndGet()}"

  def add(key: String, parent: String, trace: String, name: String, module: String,
      startUs: Long, endUs: Long): Unit =
    if (on) { spans.add(Span(key, parent, trace, name, module, startUs, endUs)); () }

  /** Time `f` as a span when tracing is on. */
  def span[T](name: String, module: String, parent: String, trace: String = "")(f: String => T): T = {
    if (!on) return f("")
    val key = nextKey(name)
    val t0 = nowUs
    try f(key) finally add(key, parent, trace, name, module, t0, nowUs)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per module: a span's duration minus the part of it covered
    * by its children. Returns module -> (spans, total us, self us). */
  def selfTime(ss: Seq[Span]): Seq[(String, Long, Long, Long)] = {
    val keys = ss.map(_.key).toSet
    val children = ss.filter(s => s.parent.nonEmpty && keys(s.parent)).groupBy(_.parent)
    val per = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    ss.foreach { s =>
      val dur = math.max(0L, s.endUs - s.startUs)
      val covered = Stats.unionLength(children.getOrElse(s.key, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))).filter(i => i._2 > i._1))
      val (n, t, self) = per.getOrElse(s.module, (0L, 0L, 0L))
      per(s.module) = (n + 1, t + dur, self + math.max(0L, dur - covered))
    }
    per.toSeq.map { case (m, (n, t, s)) => (m, n, t, s) }.sortBy(-_._4)
  }

  def spanJson(s: Span): String = Json.obj(Seq(
    "key" -> Json.str(s.key), "parent" -> Json.str(s.parent), "trace" -> Json.str(s.trace),
    "name" -> Json.str(s.name), "module" -> Json.str(s.module),
    "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString))
}

/** Spark substrate counters and job/stage spans, read through a
  * SparkListener. Counters only accumulate while `measuring` is set. */
final class SparkRows(cores: Int) extends SparkListener {
  @volatile var measuring = false
  private var windowStartNs = 0L
  private var windowNs = 0L
  val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
  val taskRunMs = new LongAdder; val taskCpuNs = new LongAdder; val taskGcMs = new LongAdder
  val shuffleWrite = new LongAdder; val shuffleRead = new LongAdder
  val input = new LongAdder; val spill = new LongAdder
  /** Jobs scheduled while a batch query is being built: its eager steps. */
  val buildJobs = new LongAdder
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  def start(): Unit = { windowStartNs = System.nanoTime(); measuring = true }
  def stop(): Unit = { measuring = false; windowNs = System.nanoTime() - windowStartNs }

  def jobOfStage(stage: Int): Option[Int] = Option(stageJob.get(stage)).map(_.intValue)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // a job belongs to the benchmark span open on the thread that started
    // it (a thread-local property), else to its trigger's addBatch
    val batch = prop("streaming.sql.batchId")
    val parent = prop("perfbench.span")
      .map(sp => (sp, prop("perfbench.trace").orElse(batch).getOrElse("")))
      .orElse(batch.map(b => (s"addbatch:$b", b)))
      .getOrElse(("", ""))
    jobParent.put(e.jobId, parent)
    if (measuring) {
      jobs.increment()
      if (prop("perfbench.phase").contains("build")) buildJobs.increment()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = Option(jobStartMs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    if (measuring) jobIntervals.add((st, e.time))
    val (parent, trace) = Option(jobParent.remove(e.jobId)).getOrElse(("", ""))
    Trace.add(s"job:${e.jobId}", parent, trace, "spark.job", "spark", st * 1000L, e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = jobOfStage(i.stageId).map(j => s"job:$j").getOrElse("")
    for (s <- i.submissionTime; c <- i.completionTime)
      Trace.add(s"stage:${i.stageId}", job, "", "spark.stage", "spark", s * 1000L, c * 1000L)
    if (measuring) stages.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (measuring) {
    tasks.increment()
    val info = e.taskInfo
    stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(info.finishTime - info.launchTime)
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      taskGcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      input.add(m.inputMetrics.bytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def report(out: Metrics): Unit = {
    val mb = 1048576.0
    val wallMs = windowNs / 1e6
    out.put("spark.jobs", jobs.sum.toDouble, "count")
    out.put("spark.stages", stages.sum.toDouble, "count")
    out.put("spark.tasks", tasks.sum.toDouble, "count")
    out.put("spark.task_run_s", taskRunMs.sum / 1e3, "s")
    out.put("spark.task_cpu_s", taskCpuNs.sum / 1e9, "s")
    out.put("spark.task_gc_s", taskGcMs.sum / 1e3, "s")
    out.put("spark.shuffle_write_mb", shuffleWrite.sum / mb, "MB")
    out.put("spark.shuffle_read_mb", shuffleRead.sum / mb, "MB")
    out.put("spark.input_mb", input.sum / mb, "MB")
    out.put("spark.spill_mb", spill.sum / mb, "MB")
    out.put("spark.slot_util", if (wallMs > 0) taskRunMs.sum / (wallMs * cores) else 0.0, "ratio")
    val covered = Stats.unionLength(jobIntervals.asScala.toSeq)
    out.put("spark.driver_gap_s", math.max(0.0, wallMs - covered) / 1e3, "s")
    val skews = stageTaskMs.asScala.values.map(_.asScala.map(_.toDouble).toArray)
      .filter(_.length >= 2).map { ts =>
        val med = Stats.pct(ts, 0.5)
        ts.max / math.max(1.0, med)
      }
    out.put("spark.task_skew_max", if (skews.isEmpty) 1.0 else skews.max, "ratio")
  }
}

/** Per-trigger progress of the forwarding query: phase durations, and the
  * trigger spans (trace id = batch id) whose children are the phases. */
final class TriggerRows extends StreamingQueryListener {
  import TriggerRows.Row
  val rows = new ConcurrentLinkedQueue[Row]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    rows.add(Row(System.nanoTime(), p.numInputRows, d))
    if (Trace.on) {
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val b = p.batchId.toString
      val trig = s"trigger:$b"
      val endUs = startUs + d.getOrElse("triggerExecution", 0L) * 1000L
      Trace.add(trig, "", b, "streaming.trigger", "streaming", startUs, endUs)
      // MicroBatchExecution order: latestOffset, walCommit, getBatch,
      // queryPlanning, addBatch, commitOffsets
      var t = startUs
      Seq("latestOffset" -> ("sources.latest_offset", "sources", "latest"),
        "walCommit" -> ("sources.wal_commit", "sources", "wal"),
        "getBatch" -> ("sources.get_batch", "sources", "getbatch"),
        "queryPlanning" -> ("streaming.query_planning", "streaming", "planning"))
        .foreach { case (k, (name, module, tag)) =>
          val ms = d.getOrElse(k, 0L)
          Trace.add(s"$tag:$b", trig, b, name, module, t, t + ms * 1000L)
          t += ms * 1000L
        }
      val commitMs = d.getOrElse("commitOffsets", 0L)
      val addEnd = math.max(t, endUs - commitMs * 1000L)
      val addStart = math.max(t, addEnd - d.getOrElse("addBatch", 0L) * 1000L)
      Trace.add(s"addbatch:$b", trig, b, "streaming.add_batch", "streaming", addStart, addEnd)
      Trace.add(s"commitoffsets:$b", trig, b, "sources.commit_offsets", "sources",
        addEnd, addEnd + commitMs * 1000L)
    }
  }
}

object TriggerRows {
  final case class Row(endNs: Long, rows: Long, d: Map[String, Long])
}

/** Query-planning time of every query execution, from Catalyst's
  * planning tracker (analysis + optimization + planning phases). */
final class PlanningRows extends QueryExecutionListener {
  @volatile var measuring = false
  val planningMs = new LongAdder
  private def record(qe: QueryExecution): Unit = if (measuring) {
    val phases = qe.tracker.phases
    planningMs.add(phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    // the listener runs on Spark's listener thread: the parent is found
    // later, as the benchmark span that contains the phase
    if (Trace.on) phases.foreach { case (name, p) =>
      Trace.add(Trace.nextKey("plans"), "", "", s"plans.$name", "plans",
        p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Every dispatch call is timed; spans are sampled 1 in 16. */
object DispatchRows {
  private val lock = new Object
  private var starts = new Array[Long](1 << 16)
  private var ends = new Array[Long](1 << 16)
  private var n = 0

  def record(stage: Int, t0: Long, t1: Long): Unit = {
    val i = lock.synchronized {
      if (n == starts.length) {
        starts = java.util.Arrays.copyOf(starts, n * 2); ends = java.util.Arrays.copyOf(ends, n * 2)
      }
      starts(n) = t0; ends(n) = t1; n += 1; n
    }
    if (Trace.on && (i & 15) == 0)
      Trace.add(Trace.nextKey("dispatch"), s"stage:$stage", "", "streaming.dispatch", "streaming",
        Trace.usOf(t0), Trace.usOf(t1))
  }

  /** (rtt samples in us, busy ns) for calls starting in [fromNs, toNs). */
  def window(fromNs: Long, toNs: Long): (Array[Double], Long) = lock.synchronized {
    val idx = (0 until n).filter(i => starts(i) >= fromNs && starts(i) < toNs)
    (idx.map(i => (ends(i) - starts(i)) / 1e3).toArray,
      Stats.unionLength(idx.map(i => (starts(i), ends(i)))))
  }
}

/** Wraps the program's dispatcher factory; each dispatch is timed and
  * linked to its stage through the task context. */
final case class TimedDispatcherFactory(inner: DispatcherFactory) extends DispatcherFactory {
  def create(): Dispatcher = wrap(inner.create())
  override def create(security: SecuritySpec): Dispatcher = wrap(inner.create(security))
  private def wrap(d: Dispatcher): Dispatcher = new Dispatcher {
    private val stage = Option(TaskContext.get()).map(_.stageId()).getOrElse(-1)
    def dispatch(req: DispatchRequest): DispatchResult = {
      val t0 = System.nanoTime()
      try d.dispatch(req) finally DispatchRows.record(stage, t0, System.nanoTime())
    }
    override def close(): Unit = d.close()
  }
}

/** Routed rows go back through `format("graft-queue")` — the shape
  * QueueSourceE2ESpec uses — timed as the sink layer. */
object BrokerQueueStore extends QueueStore {
  val ns = new LongAdder
  def produce(outcomes: Dataset[ForwardingEngine.Outcome]): Unit = {
    import org.apache.spark.sql.functions.col
    val sc = outcomes.sparkSession.sparkContext
    val b = Option(sc.getLocalProperty("streaming.sql.batchId")).getOrElse("")
    val t0 = System.nanoTime()
    Trace.span("sources.sink_write", "sources", s"addbatch:$b", b) { key =>
      sc.setLocalProperty("perfbench.span", if (key.isEmpty) null else key)
      try outcomes.filter(col("destination") =!= "")
        .select(col("destination").as("topic"), col("outKey").as("key"), col("outValue").as("value"))
        .write.format("graft-queue").mode("append").save()
      finally sc.setLocalProperty("perfbench.span", null)
    }
    ns.add(System.nanoTime() - t0)
  }
}

/** Wraps the broker commit target: records when each offset became
  * group-committed (commit latency) and times the call. */
final class RecordingCommitTarget(inner: CommitTarget, spark: SparkSession) extends CommitTarget {
  import RecordingCommitTarget.Commit
  val commits = new ConcurrentLinkedQueue[Commit]()
  val ns = new LongAdder
  def commit(group: String, offsets: Map[(String, Int), Long]): Unit = {
    val b = Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId")).getOrElse("")
    val t0 = System.nanoTime()
    Trace.span("streaming.commit", "streaming", s"addbatch:$b", b) { _ => inner.commit(group, offsets) }
    val t1 = System.nanoTime()
    ns.add(t1 - t0)
    commits.add(Commit(t1, offsets))
    ()
  }
}

object RecordingCommitTarget {
  final case class Commit(atNs: Long, offsets: Map[(String, Int), Long])
}
