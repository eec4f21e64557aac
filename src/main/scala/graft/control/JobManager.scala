package graft.control

import graft.model.JobSpec
import graft.streaming.{DispatcherFactory, ForwardingEngine, QueueStore}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.concurrent.TrieMap

/**
 * Driver-side pipeline registry: one StreamingQuery per job group,
 * start/stop/update lifecycle and status reporting.
 *
 * Replaces the reference's master/worker protocol wholesale
 * (reference: PipelineManager.java:35,299-302, JobManager.java:39-59,
 *  StateWorking.java:37-140): Spark's scheduler owns task placement and
 * executor liveness, so "commands" reduce to starting/stopping queries on
 * the driver; worker heartbeats reduce to StreamingQuery.lastProgress.
 */
final class JobManager(spark: SparkSession) {

  /** Worker-reported actuals — the JobStatus analog
    * (reference: idl/.../job_status.proto:16-52). */
  final case class JobStatus(
      jobGroupId: String,
      state: String, // RUNNING | CANCELED | FAILED
      inputRowsPerSec: Double,
      processedRowsPerSec: Double,
      numInputRows: Long,
      batchId: Long)

  private val queries = TrieMap.empty[String, (JobSpec, StreamingQuery)]

  def running: Seq[String] = queries.keys.toSeq.sorted

  /** A stop() that lands while batch 0's offset log is being written
    * atomically leaves an orphan `.N.<uuid>.tmp` beside ZERO valid batch
    * files; Spark then refuses to start any query at batch 0 against that
    * checkpoint (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY). With no valid
    * batch recorded the checkpoint holds no progress, so dropping the
    * orphans is a safe reset; once one numeric batch file exists the
    * resume path ignores orphans and nothing is touched. */
  private def cleanAbortedCheckpoint(groupCheckpoint: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(groupCheckpoint)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("offsets", "commits").foreach { sub =>
      val dir = new org.apache.hadoop.fs.Path(root, sub)
      if (fs.exists(dir)) {
        val entries = fs.listStatus(dir).toSeq
        val hasValidBatch = entries.exists(e => e.getPath.getName.forall(_.isDigit))
        if (!hasValidBatch) entries.foreach(e => fs.delete(e.getPath, false))
      }
    }
  }

  /** RUN_JOB: start a pipeline for a job group (idempotent). */
  def run(
      spec: JobSpec,
      dispatcherFactory: DispatcherFactory,
      localCluster: String,
      stream: Dataset[ForwardingEngine.KafkaRecord],
      store: QueueStore,
      checkpointDir: String): StreamingQuery = synchronized {
    queries.get(spec.jobGroupId) match {
      case Some((_, q)) if q.isActive => q
      case _ =>
        cleanAbortedCheckpoint(s"$checkpointDir/${spec.jobGroupId}")
        val q = ForwardingEngine.run(spec, dispatcherFactory, localCluster,
          stream, store, s"$checkpointDir/${spec.jobGroupId}", spec.jobGroupId)
        queries.put(spec.jobGroupId, (spec, q))
        q
    }
  }

  /** CANCEL_JOB: stop the group's query. */
  def cancel(jobGroupId: String): Boolean = synchronized {
    queries.remove(jobGroupId) match {
      case Some((_, q)) => if (q.isActive) q.stop(); true
      case None => false
    }
  }

  /** UPDATE_JOB: flow-control/config change = restart with the new spec
    * (maxOffsetsPerTrigger is fixed at query start). The caller re-runs with
    * the updated spec; offsets resume from the checkpoint. */
  def update(
      spec: JobSpec,
      dispatcherFactory: DispatcherFactory,
      localCluster: String,
      stream: Dataset[ForwardingEngine.KafkaRecord],
      store: QueueStore,
      checkpointDir: String): StreamingQuery = synchronized {
    cancel(spec.jobGroupId)
    run(spec, dispatcherFactory, localCluster, stream, store, checkpointDir)
  }

  /** Status snapshot from streaming progress (the heartbeat payload). */
  def status(jobGroupId: String): Option[JobStatus] =
    queries.get(jobGroupId).map { case (_, q) =>
      val p = Option(q.lastProgress)
      JobStatus(
        jobGroupId,
        state = if (q.isActive) "RUNNING" else "CANCELED",
        inputRowsPerSec = p.map(_.inputRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
        processedRowsPerSec = p.map(_.processedRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
        numInputRows = p.map(_.numInputRows).getOrElse(0L),
        batchId = p.map(_.batchId).getOrElse(-1L))
    }

  /** GC stopped queries (reference: PipelineManager gc, 1-min cadence). */
  def gc(): Int = synchronized {
    val dead = queries.collect { case (id, (_, q)) if !q.isActive => id }.toSeq
    dead.foreach(queries.remove)
    dead.size
  }

  def stopAll(): Unit = synchronized {
    queries.values.foreach { case (_, q) => if (q.isActive) q.stop() }
    queries.clear()
  }

  /** One reconciliation command (reference: master_worker_service.proto
    * Command{RUN,CANCEL}; CommandListBuilder.add). */
  sealed trait Command
  final case class RunGroup(jobGroupId: String, worker: String) extends Command
  final case class CancelGroup(jobGroupId: String) extends Command

  /** The reference's rebalance loop body (JobManager.rebalanceJobGroups,
    * 10s cadence): place every expected group's partition-jobs on the worker
    * pool with the consistent-hash rebalancer (zero-scale groups hibernate —
    * no workers), then diff the expected placement against this manager's
    * currently-running set into a command list. Pure — the caller executes
    * RunGroup via run() with the group's stream/sink wiring and CancelGroup
    * via cancel().
    */
  def rebalance(
      expected: Seq[(JobSpec, Int)], // spec + live partition count
      scaleByGroup: Map[String, Double],
      workers: Seq[String]): (Rebalancer.Placement, Seq[Command]) =
    rebalance(expected, scaleByGroup, workers, running.toSet)

  /** Pure core of the loop body: `runningNow` made explicit (the 3-arg
    * overloads pass this manager's live query set). */
  def rebalance(
      expected: Seq[(JobSpec, Int)],
      scaleByGroup: Map[String, Double],
      workers: Seq[String],
      runningNow: Set[String]): (Rebalancer.Placement, Seq[Command]) = {
    val jobs = for {
      (spec, partitions) <- expected
      p <- 0 until math.max(partitions, 1)
    } yield Rebalancer.JobKey(spec.jobGroupId, p)
    // total worker "outage" (every heartbeat past TTL) is more often a
    // registry blip — a paused controller thread, a GC pause stamping all
    // heartbeats stale — than a real fleet death. Hold steady: issue no
    // commands, keep current placements, and let the next loop with live
    // workers produce a real placement. Groups on genuinely dead workers
    // are cancelled then, when a placement that excludes those workers
    // exists — never as a panic stop of the whole fleet.
    if (workers.isEmpty) {
      return (Rebalancer.Placement(Map.empty), Seq.empty)
    }
    val placement = Rebalancer.placeWithScale(jobs, scaleByGroup, workers)
    val placedGroups = placement.assignments.keySet.map(_.jobGroupId)
    val cmds =
      placedGroups.diff(runningNow).toSeq.sorted.map { g =>
        // a group's query runs where its partition-0 job landed (the other
        // partitions are Spark tasks of the same query)
        RunGroup(g, placement.workerOf(Rebalancer.JobKey(g, 0)).getOrElse(workers.head))
      } ++
        runningNow.diff(placedGroups).toSeq.sorted.map(CancelGroup.apply)
    (placement, cmds)
  }

  /** Rebalance against a TTL'd worker registry: only workers whose
    * heartbeat is within the TTL participate, so an expired worker's jobs
    * land elsewhere on the next loop — the reference's worker-TTL failover
    * (ZKStore TTLDecorator, worker TTL 10 s,
    * application-uforwarder-controller.yaml:101) without a lease protocol. */
  def rebalance(
      expected: Seq[(JobSpec, Int)],
      scaleByGroup: Map[String, Double],
      registry: TtlRegistry[String, Long]): (Rebalancer.Placement, Seq[Command]) =
    rebalance(expected, scaleByGroup, registry.live.keys.toSeq.sorted)

  /** Materialize a timestamp/offset-ranged job GROUP into its per-partition
    * bounded jobs (the reference's batch-job path — a ranged group stored in
    * the job store becomes N bounded Jobs at creation time,
    * BatchJobCreator.java:117-260). The caller runs each through the bounded
    * batch read (QueueJobs.runDlqBounded / boundedReadOptions). */
  def createBoundedJobs(
      spec: JobSpec,
      range: graft.model.GroupRange,
      resolver: BatchJobCreator.OffsetResolver = BatchJobCreator.BrokerResolver)
      : Seq[BatchJobCreator.BoundedJob] =
    BatchJobCreator.createJobs(spec, range, resolver)

  /** Management endpoint payload: all groups' status as one JSON document
    * (reference: the management HTML/JSON debug pages). */
  def statusJson: String =
    running.flatMap(status).map { s =>
      s"""{"jobGroupId":"${s.jobGroupId}","state":"${s.state}",""" +
        s""""inputRowsPerSec":${s.inputRowsPerSec},""" +
        s""""processedRowsPerSec":${s.processedRowsPerSec},""" +
        s""""numInputRows":${s.numInputRows},"batchId":${s.batchId}}"""
    }.mkString("[", ",", "]")
}

/**
 * The autoscaling feedback loop (SURVEY.md §3.3): streaming-progress
 * throughput is ingested as JobStatus heartbeats into a TTL'd history
 * store ([[JobStatusStore]], the reference master's StoredJobStatus store,
 * ControllerWorkerService.java:46-260), and the AutoScaler state machine
 * is driven FROM the store — every retained sample reaches it exactly
 * once, in order, regardless of the loop's own cadence. Scale decisions
 * become updated FlowControl quotas (maxOffsetsPerTrigger on restart) and
 * desired worker counts (executor demand).
 *
 * Driver-side, called on a cadence (the reference ingests every 1 s).
 */
final class ScalingLoop(
    jm: JobManager,
    scaler: AutoScaler,
    bytesPerMsgEstimate: Double = 1024.0,
    val statusStore: JobStatusStore = new JobStatusStore()) {

  final case class Decision(
      jobGroupId: String,
      scale: Double,
      desiredWorkers: Int,
      messagesPerSec: Double)

  /** Heartbeat every running group into the status store, then drive the
    * scaler from retained history. A group with no NEW samples since the
    * last tick (cadence-coalesced) yields no fresh decision. */
  def tick(nowMs: Long): Seq[Decision] =
    jm.running.flatMap { id =>
      jm.status(id).foreach { st =>
        val msgsPerSec = math.max(st.processedRowsPerSec, st.inputRowsPerSec)
        statusStore.ingest(JobStatusRecord(
          jobGroupId = id, state = st.state,
          readOffset = -1L, commitOffset = -1L, // filled by connector-aware callers
          messagesPerSec = msgsPerSec,
          bytesPerSec = msgsPerSec * bytesPerMsgEstimate,
          totalMessagesInflight = st.numInputRows, totalBytesInflight = 0L,
          cpuUsage = 0.0, recordsProduced = 0L, tsMs = nowMs))
      }
      statusStore.driveScaler(scaler, id).map { scale =>
        Decision(id, scale, scaler.desiredWorkers(id),
          scale * AutoScaler.MessagesPerWorker)
      }
    }

  /** Apply a decision to a spec: the new FlowControl quota the group should
    * run with (the reference's UPDATE_JOB quota push —
    * ProcessorImpl.updateQuota), both rates at the decided scale of one
    * worker's budget, never below one worker's. */
  def updatedSpec(spec: graft.model.JobSpec, d: Decision): graft.model.JobSpec =
    spec.copy(flowControl = spec.flowControl.copy(
      messagesPerSec = math.max(d.messagesPerSec, AutoScaler.MessagesPerWorker),
      bytesPerSec = math.max(d.scale, 1.0) * AutoScaler.BytesPerWorker))
}

/**
 * Worker-side lease-loss semantics — the other half of the failover story
 * (reference: worker/controller/StateWorking.java:37-140 + Lease.java: the
 * worker extends its master lease on every successful heartbeat; when the
 * 21 s lease expires it CANCELS ALL WORK and drops back to registering,
 * so a partitioned worker can't keep consuming a topic the master has
 * already reassigned — the double-consumption guard).
 *
 * Spark analog under the single-driver stance: the "worker" is the set of
 * StreamingQueries this driver runs, the "master tick" is whatever control
 * loop heartbeats this guard (the rebalance tick, the registry refresher).
 * When the tick goes silent past the lease, [[enforce]] stops every
 * pipeline — dispatching ceases — and reports what it cancelled; the next
 * live master loop reschedules from checkpoints, exactly once preserved.
 */
final class LeaseGuard(
    jm: JobManager,
    leaseMs: Long = 21000L, // the reference's worker lease (yaml master.ttl)
    clock: () => Long = () => System.currentTimeMillis()) {

  // Long.max accumulation like the reference's LongAccumulator: a late
  // out-of-order tick can only extend the lease, never retract it
  private val lastTickMs = new java.util.concurrent.atomic.AtomicLong(clock())

  /** Master touched this worker (heartbeat succeeded / command received). */
  def tick(): Unit = { lastTickMs.accumulateAndGet(clock(), math.max(_, _)); () }

  def expired: Boolean = clock() - lastTickMs.get() > leaseMs

  /** Check once (call on the worker's own cadence): on an expired lease,
    * stop all pipelines and return the cancelled group ids; a live lease
    * is a no-op. Idempotent — after the first enforcement nothing runs. */
  def enforce(): Seq[String] =
    if (!expired) Seq.empty
    else {
      val cancelled = jm.running
      jm.stopAll()
      cancelled
    }
}

/**
 * Versioned job-spec store on parquet — the ZK store analog
 * (reference: ZKStore.java:44,194-302, VersionedProto.java). Each save
 * writes a new version directory; load reads the latest.
 */
final class ParquetJobStore(spark: SparkSession, path: String) {
  import spark.implicits._

  private def versionsUnder(root: String): Seq[Long] = {
    // list through the Hadoop filesystem of the path, not java.io.File —
    // save/load go through Spark, so an hdfs:// or s3a:// store would
    // otherwise always list empty and every save would overwrite v1
    val hPath = new org.apache.hadoop.fs.Path(root)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) Nil
    else fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => scala.util.Try(s.getPath.getName.drop(1).toLong).toOption)
      .sorted
  }

  private def versions: Seq[Long] = versionsUnder(path)

  def latestVersion: Option[Long] = versions.lastOption

  def save(specs: Seq[JobSpec]): Long = {
    val v = latestVersion.getOrElse(0L) + 1
    specs.toDS().coalesce(1).write.mode("overwrite").parquet(s"$path/v$v")
    v
  }

  /** Versioned persistence of full admin documents (spec + desired state +
    * optional bounded range) — the StoredJobGroup analog (reference:
    * idl/.../job_group.proto StoredJobGroup = JobGroup + JobState). Kept
    * under `$path/groups/` so spec-only versions and admin-doc versions
    * evolve independently. */
  def saveGroups(groups: Seq[AdminService.StoredGroup]): Long = {
    val v = versionsUnder(s"$path/groups").lastOption.getOrElse(0L) + 1
    groups.toDS().coalesce(1).write.mode("overwrite").parquet(s"$path/groups/v$v")
    v
  }

  def loadGroups(): Seq[AdminService.StoredGroup] =
    versionsUnder(s"$path/groups").lastOption match {
      case None => Nil
      case Some(v) =>
        spark.read.parquet(s"$path/groups/v$v").as[AdminService.StoredGroup].collect().toSeq
    }

  def load(): Seq[JobSpec] = latestVersion match {
    case None => Nil
    case Some(v) => spark.read.parquet(s"$path/v$v").as[JobSpec].collect().toSeq
  }

  def load(version: Long): Seq[JobSpec] =
    spark.read.parquet(s"$path/v$version").as[JobSpec].collect().toSeq

  /** Expire old versions, keeping the newest `keepLast` — the store's
    * retention duty (reference: ZKStore TTLDecorator + BufferedWriteDecorator
    * keep ZK from accumulating stale state; yaml :94-109). Returns how many
    * versions were deleted. */
  def prune(keepLast: Int): Int = {
    require(keepLast >= 1, "must keep at least the latest version")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val drop = versions.dropRight(keepLast)
    drop.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$path/v$v"), true))
    drop.size
  }
}
