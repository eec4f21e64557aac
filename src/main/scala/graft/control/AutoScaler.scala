package graft.control

import scala.collection.mutable

/**
 * Job-group autoscaler: samples throughput, converts to a scale (worker
 * demand), and walks the Calibrating → Running → Hibernating state machine
 * with asymmetric windows — fast percentile-gated up-scale, slow down-scale,
 * hibernate after sustained zero traffic.
 *
 * Behavioral envelope mirrored from the reference autoscaler
 * (reference: uforwarder-core/.../controller/autoscalar/AutoScalar.java:30-120,
 *  ScaleState.java:14-31,132,210,314,353-440, AutoScalarConfiguration.java:11-27):
 *  - scale unit: max(msgsPerSec / 4000, bytesPerSec / 16MiB)
 *  - up-scale: p50 over the up window, bounded ×[1.2, 2.0]
 *  - down-scale: p99 over the down window, bounded ×[0.5, 0.8]
 *  - hibernate: sustained zero for the hibernate window; wake on traffic
 *
 * Pure Scala with an injectable clock — runs on the driver off
 * StreamingQueryListener throughput, feeding maxOffsetsPerTrigger /
 * executor-count decisions.
 */
object AutoScaler {
  val MessagesPerWorker: Double = 4000.0
  val BytesPerWorker: Double = 16.0 * 1024 * 1024

  def scaleOf(msgsPerSec: Double, bytesPerSec: Double): Double =
    math.max(msgsPerSec / MessagesPerWorker, bytesPerSec / BytesPerWorker)

  sealed trait Phase
  object Phase {
    case object Calibrating extends Phase
    case object Running extends Phase
    case object Hibernating extends Phase
  }

  final case class Config(
      calibrateMs: Long = 5 * 60 * 1000L,      // reach Running after this
      upWindowMs: Long = 5 * 60 * 1000L,       // p50 window
      downWindowMs: Long = 24 * 3600 * 1000L,  // p99 window
      hibernateMs: Long = 72 * 3600 * 1000L,   // zero-traffic window
      upPercentile: Double = 0.50,
      downPercentile: Double = 0.99,
      maxUpFactor: Double = 2.0,
      minUpFactor: Double = 1.2,
      maxDownFactor: Double = 0.8,
      minDownFactor: Double = 0.5)

  final case class WinSample(tsMs: Long, scale: Double)

  /** Complete per-group autoscaler state; `phase` is the string form of
    * [[Phase]] (see `phaseOf`). The window is bounded: samples older than
    * max(downWindowMs, hibernateMs) are evicted on every step, so state
    * size is horizon/cadence regardless of stream length. */
  final case class StepState(
      phase: String,
      scale: Double,
      lastNonZeroTsMs: Long,
      firstSampleTsMs: Long,
      window: Vector[WinSample])

  private def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val rank = p * (s.size - 1)
    val lo = rank.toInt
    val hi = math.min(lo + 1, s.size - 1)
    val d = rank - lo
    s(lo) * (1 - d) + s(hi) * d
  }

  /** The pure state transition: one throughput sample in, next state out.
    * The driver-loop AutoScaler below folds each group's samples through
    * it; ControlPlaneSpec drives it directly to check the window bound. */
  def step(prevOpt: Option[StepState], msgsPerSec: Double, bytesPerSec: Double,
           nowMs: Long, config: Config): StepState = {
    val sc = scaleOf(msgsPerSec, bytesPerSec)
    val horizon = nowMs - math.max(config.downWindowMs, config.hibernateMs)
    val prev = prevOpt.getOrElse(
      StepState("calibrating", math.max(sc, 1.0), nowMs, nowMs, Vector.empty))
    val window = (prev.window :+ WinSample(nowMs, sc)).dropWhile(_.tsMs < horizon)
    val lastNonZero = if (sc > 0) nowMs else prev.lastNonZeroTsMs

    prev.phase match {
      case "calibrating" =>
        // during calibration track the observed max so under-provisioning
        // never throttles a new group
        val calibrated = math.max(prev.scale, sc)
        val phase =
          if (nowMs - prev.firstSampleTsMs >= config.calibrateMs) "running" else "calibrating"
        prev.copy(phase = phase, scale = calibrated,
          lastNonZeroTsMs = lastNonZero, window = window)

      case "running" =>
        if (nowMs - lastNonZero >= config.hibernateMs)
          prev.copy(phase = "hibernating", scale = 0.0,
            lastNonZeroTsMs = lastNonZero, window = window)
        else {
          val upWin = window.view.filter(_.tsMs >= nowMs - config.upWindowMs).map(_.scale).toSeq
          // bounded to downWindowMs — the window itself is retained for the
          // longer hibernate horizon, and an unfiltered p99 would keep a
          // 48h-old spike holding the scale up for 72h
          val downWin = window.view.filter(_.tsMs >= nowMs - config.downWindowMs).map(_.scale).toSeq
          val p50 = percentile(upWin, config.upPercentile)
          val p99 = percentile(downWin, config.downPercentile)
          var scale = prev.scale
          if (p50 > scale) // up-scale, bounded x[1.2, 2.0]
            scale = math.min(math.max(p50, scale * config.minUpFactor), scale * config.maxUpFactor)
          else if (p99 < scale) // down-scale, bounded x[0.5, 0.8]
            scale = math.max(math.min(p99, scale * config.maxDownFactor), scale * config.minDownFactor)
          prev.copy(scale = scale, lastNonZeroTsMs = lastNonZero, window = window)
        }

      case _ => // hibernating
        if (sc > 0) // wake: back to calibration with at least one worker
          StepState("calibrating", math.max(sc, 1.0), nowMs, nowMs, window)
        else prev.copy(window = window)
    }
  }

  private[control] def phaseOf(s: String): Phase = s match {
    case "calibrating" => Phase.Calibrating
    case "running" => Phase.Running
    case _ => Phase.Hibernating
  }
}

final class AutoScaler(config: AutoScaler.Config = AutoScaler.Config()) {
  import AutoScaler._

  final case class GroupState(
      phase: Phase,
      scale: Double,
      lastNonZeroTsMs: Long,
      firstSampleTsMs: Long)

  private val states = mutable.Map.empty[String, StepState]

  def state(group: String): Option[GroupState] = states.get(group)
    .map(s => GroupState(phaseOf(s.phase), s.scale, s.lastNonZeroTsMs, s.firstSampleTsMs))

  /** Feed one throughput sample for a job group; returns the current scale
    * decision. Delegates to the pure [[AutoScaler.step]]. */
  def onSample(group: String, msgsPerSec: Double, bytesPerSec: Double, nowMs: Long): Double = {
    val next = step(states.get(group), msgsPerSec, bytesPerSec, nowMs, config)
    states(group) = next
    next.scale
  }

  /** Desired worker count = ceil(scale). */
  def desiredWorkers(group: String): Int =
    states.get(group).map(s => math.ceil(s.scale).toInt).getOrElse(1)

  /** Groups with a scale state (for the management snapshot endpoint). */
  def groups: Seq[String] = states.keys.toSeq.sorted
}
