package graft.control

import graft.model.JobSpec
import graft.streaming.ForwardingEngine.KafkaRecord
import graft.streaming.{DispatcherFactory, QueueJobs, QueueStore}
import org.apache.spark.sql.{Dataset, SparkSession}

/**
 * One-call control-plane boot — what "start the controller + the worker"
 * gives a reference operator (reference: UForwarderControllerApp +
 * UForwarderWorkerApp wiring in uforwarder/.../ControllerAutoConfiguration
 * .java / WorkerAutoConfiguration.java), composed from this repo's parts:
 *
 *  - [[AdminService]] + [[StatusServer]]: the mutation + management HTTP
 *    surface (add a job group over the wire, watch it run);
 *  - [[JobStatusStore]] + [[StatusListener]]: every streaming progress
 *    event lands as a heartbeat;
 *  - [[AutoScaler]] + [[ScalingLoop]]: heartbeats → scale decisions →
 *    FlowControl quota updates, actuated through [[JobManager.update]];
 *  - [[JobManager]] + [[Rebalancer]]: the 10 s rebalance tick — expected
 *    groups (admin store) diffed against running queries into RUN/CANCEL
 *    commands, executed against the connector stream built per spec
 *    ([[QueueJobs.liveStream]]);
 *  - [[LeaseGuard]]: if the tick loop itself dies, a watchdog stops all
 *    dispatch after the 21 s lease (the worker-side half).
 *
 * Single-driver stance: master and worker collapse into this process;
 * placement across a real executor fleet is Spark's scheduler's job. The
 * `workers` registry still exists (heartbeated with this driver each tick)
 * so the placement/diff machinery runs the same code a multi-driver
 * deployment would.
 */
final class ControlPlane(
    spark: SparkSession,
    storePath: String,
    checkpointRoot: String,
    wiring: ControlPlane.Wiring,
    tickMs: Long = 10000L, // reference rebalance cadence (JobManager 10 s)
    leaseMs: Long = 21000L,
    port: Int = 0,
    clock: () => Long = () => System.currentTimeMillis()) {

  val store = new ParquetJobStore(spark, storePath)
  val admin = new AdminService(store)
  val jobManager = new JobManager(spark)
  val scaler = new AutoScaler(wiring.scalerConfig)
  val statusStore = new JobStatusStore(clock = clock)
  val scalingLoop = new ScalingLoop(jobManager, scaler, statusStore = statusStore)
  val workers = new TtlRegistry[String, Long](ttlMs = tickMs * 3, clock = clock)
  val lease = new LeaseGuard(jobManager, leaseMs, clock)
  private val listener = new StatusListener(statusStore, clock = clock)
  private val server =
    new StatusServer(jobManager, Some(scaler), Some(workers), Some(statusStore),
      port = port, admin = Some(admin))

  /** What one tick did — returned so callers (and tests) observe the loop
    * instead of polling for its side effects. */
  final case class TickReport(
      started: Seq[String],
      cancelled: Seq[String],
      quotaUpdated: Seq[String],
      decisions: Seq[ScalingLoop#Decision],
      retained: Seq[String] = Seq.empty)

  // group -> the FlowControl quota its RUNNING query was started with, so a
  // scale decision only restarts the query when the quota materially moved
  private val appliedQuota = scala.collection.concurrent.TrieMap.empty[String, Double]

  @volatile private var tickThread: Option[Thread] = None
  @volatile private var watchThread: Option[Thread] = None
  private var tickCount = 0L

  /** One rebalance-loop body (reference: JobManager.rebalanceJobGroups):
    * heartbeat this driver, read the admin store, place + diff, execute
    * commands, then apply any scale decisions as quota updates. */
  def tick(): TickReport = synchronized {
    val now = clock()
    lease.tick()
    workers.put(ControlPlane.DriverWorkerId, now)

    val expected = admin.expected(wiring.partitionsOf)
    val specOf = expected.map { case (s, _) => s.jobGroupId -> s }.toMap
    val scales = admin.scaleOverrides(g =>
      scaler.state(g).map(_.scale).filter(_ > 0.0).getOrElse(1.0))
    val (_, cmds) = jobManager.rebalance(expected, scales, workers)
    val started = scala.collection.mutable.ArrayBuffer.empty[String]
    val cancelled = scala.collection.mutable.ArrayBuffer.empty[String]
    cmds.foreach {
      case jobManager.RunGroup(g, _) =>
        specOf.get(g).foreach { spec =>
          jobManager.run(spec, wiring.dispatcherFactory, wiring.localCluster,
            wiring.streamOf(spark, spec), wiring.queueStore, checkpointRoot)
          appliedQuota.put(g, spec.flowControl.messagesPerSec)
          started += g
        }
      case jobManager.CancelGroup(g) =>
        jobManager.cancel(g); appliedQuota.remove(g); cancelled += g
    }

    // scaling: decisions from retained heartbeat history; a quota that
    // moved >= 10% from what the query was started with actuates via
    // UPDATE_JOB (checkpoint-resumed re-run under the new admission cap)
    val decisions = scalingLoop.tick(now)
    val quotaUpdated = scala.collection.mutable.ArrayBuffer.empty[String]
    decisions.foreach { d =>
      specOf.get(d.jobGroupId).foreach { spec =>
        val updated = scalingLoop.updatedSpec(spec, d)
        val newQuota = updated.flowControl.messagesPerSec
        val old = appliedQuota.getOrElse(d.jobGroupId, Double.NaN)
        val moved = old.isNaN || old <= 0 || math.abs(newQuota - old) / old >= 0.1
        // never bounce a query started THIS tick: its only "history" is the
        // empty heartbeat ingested above, and the restart races batch 0's
        // offset write (the reference likewise assigns the initial quota at
        // job creation, not via an immediate UPDATE_JOB)
        if (moved && !started.contains(d.jobGroupId) &&
          jobManager.running.contains(d.jobGroupId)) {
          jobManager.update(updated, wiring.dispatcherFactory, wiring.localCluster,
            wiring.streamOf(spark, updated), wiring.queueStore, checkpointRoot)
          appliedQuota.put(d.jobGroupId, newQuota)
          quotaUpdated += d.jobGroupId
        }
      }
    }
    jobManager.gc()

    // RETENTION duty cycle (reference: ParquetJobStore.prune is ticked on
    // a cadence; the controller yaml's store TTLs): every
    // `retentionEveryTicks`-th tick — including the boot tick, so a
    // restarted controller reclaims immediately — run the wired duties:
    // job-store prune, model-artifact prune (SimilarityOps
    // .pruneModelArtifacts), band-state compaction, … . Each duty is
    // isolated: one failing duty logs and never breaks the rebalance
    // loop, and never blocks the others.
    tickCount += 1
    val retained =
      if ((tickCount - 1) % wiring.retentionEveryTicks != 0) Seq.empty[String]
      else wiring.retentionDuties.flatMap { case (name, duty) =>
        try { duty(); Some(name) }
        catch {
          case e: Exception =>
            System.err.println(s"[control-plane] retention duty $name failed: ${e.getMessage}")
            None
        }
      }
    TickReport(started.toSeq, cancelled.toSeq, quotaUpdated.toSeq, decisions, retained)
  }

  /** Start the HTTP surface, the progress listener, the tick loop, and the
    * lease watchdog. Returns the bound HTTP port. `autoTick = false` mounts
    * everything but leaves the loop to the caller (tests, external
    * schedulers). */
  def start(autoTick: Boolean = true): Int = {
    spark.streams.addListener(listener)
    val boundPort = server.start()
    if (autoTick) {
      val t = new Thread(() => {
        var live = true
        while (live && !Thread.currentThread().isInterrupted) {
          try tick() catch { case _: InterruptedException => live = false; case _: Exception => () }
          if (live) try Thread.sleep(tickMs) catch { case _: InterruptedException => live = false }
        }
      }, "graft-control-tick")
      t.setDaemon(true); t.start()
      tickThread = Some(t)
      // the watchdog runs on its OWN thread: if the tick loop wedges (a
      // stuck blocking call inside a command), the lease still expires and
      // dispatch still stops — the double-consumption guard stays armed
      val w = new Thread(() => {
        var live = true
        while (live && !Thread.currentThread().isInterrupted) {
          try { lease.enforce(); Thread.sleep(math.max(leaseMs / 4, 250L)) }
          catch { case _: InterruptedException => live = false; case _: Exception => () }
        }
      }, "graft-lease-watchdog")
      w.setDaemon(true); w.start()
      watchThread = Some(w)
    }
    boundPort
  }

  def httpPort: Int = server.boundPort

  def stop(): Unit = {
    tickThread.foreach(_.interrupt()); tickThread = None
    watchThread.foreach(_.interrupt()); watchThread = None
    spark.streams.removeListener(listener)
    server.stop()
    jobManager.stopAll()
  }
}

object ControlPlane {
  val DriverWorkerId = "driver"

  /** Deployment-specific edges of the loop: how to dispatch, where produced
    * records go, how many partitions a group's topic has, and how a spec
    * becomes a source stream (defaults to the graft-queue connector). */
  final case class Wiring(
      dispatcherFactory: DispatcherFactory,
      localCluster: String,
      queueStore: QueueStore,
      partitionsOf: JobSpec => Int,
      streamOf: (SparkSession, JobSpec) => Dataset[KafkaRecord] =
        (s: SparkSession, spec: JobSpec) => QueueJobs.liveStream(s, spec),
      scalerConfig: AutoScaler.Config = AutoScaler.Config(),
      // named retention duties run on the duty cycle (reference pattern:
      // retention is TICKED, not manual — ParquetJobStore.prune cadence,
      // controller-yaml TTLs). Deployments add the warehouse-side duties
      // here, e.g. `"model-artifacts" -> (() => SimilarityOps
      // .pruneModelArtifacts(spark, keepLast = 4))` and a band-state
      // compaction closure; they run inside tick() with per-duty fault
      // isolation.
      retentionDuties: Seq[(String, () => Unit)] = Seq.empty,
      retentionEveryTicks: Int = 360) // 1 h at the 10 s reference cadence
}
