package graft.model

/**
 * Control-plane model: the unit-of-work specification for a forwarding job
 * group (one Kafka topic consumed on behalf of one consumer group, dispatched
 * to one RPC endpoint, with tiered retry / DLQ / resilience queues and flow
 * control).
 *
 * Shape mirrors the reference protos `Job`/`JobGroup`
 * (reference: idl/src/main/proto/data/data-transfer/job.proto:16-199,
 * idl/.../job_group.proto:86-121) re-expressed as plain Scala case classes;
 * these are small driver-side values broadcast to executors, or loaded as a
 * tiny dimension Dataset for control-plane joins.
 */
final case class RetryTier(
    topic: String,
    processingDelayMs: Long,
    maxRetryCount: Int)

/** A job's quotas. `messagesPerSec` becomes the source's
  * `maxOffsetsPerTrigger`, `bytesPerSec` graft-queue's `maxbytespertrigger`
  * (Spark's Kafka source has no byte cap, so a `format("kafka")` job does
  * not enforce it), and `maxInflightMessages` caps a slice's concurrent
  * dispatches. */
final case class FlowControl(
    messagesPerSec: Double,
    bytesPerSec: Double,
    maxInflightMessages: Double)

object FlowControl {
  val unlimited: FlowControl =
    FlowControl(Double.MaxValue, Double.MaxValue, Double.MaxValue)
}

final case class RpcSpec(
    uri: String,
    procedure: String,
    rpcTimeoutMs: Long = 1000L,
    maxRpcTimeouts: Int = 0,
    dlqTopic: String = "")

/**
 * Security posture of a job (reference: job.proto:370-379 SecurityConfig).
 * `serviceIdentities` are the principal names allowed to consume the topic
 * (SPIFFE-style); `isSecure` turns TLS on for the Kafka client only
 * (KafkaSourceConfig.securityOptions). Dispatcher TLS is not implemented:
 * no DispatcherFactory overrides `create(security)`, so the HTTP/2
 * dispatcher dials plaintext whatever `isSecure` says. Identities are
 * advisory until enforced at the dispatcher boundary. `clientOptions`
 * carries deployment-specific TLS material (e.g.
 * `ssl.truststore.location`) merged verbatim into the Kafka client config
 * — the engine stays agnostic of any site's provider classes.
 */
final case class SecuritySpec(
    serviceIdentities: Seq[String] = Nil,
    isSecure: Boolean = false,
    multiTenancyEnabled: Boolean = false,
    clientOptions: Map[String, String] = Map.empty)

/** The kind of work a job performs (reference: job.proto:339-356 JobType).
  * ConsumerToRpcDispatcher is the consumer-proxy hot path; Audit counts/
  * latency-monitors a topic; Replication copies one queue into another;
  * LoadGen produces synthetic records; Availability probes produce/consume
  * health.
  *
  * JobSpec stores the NAME (a string) so the whole spec stays
  * Spark-encodable for the parquet job store — the same stored-as-string
  * move AutoScaler.StepState uses for its phase. */
sealed abstract class JobType(val name: String)
object JobType {
  case object ConsumerToRpcDispatcher extends JobType("CONSUMER_TO_RPC_DISPATCHER")
  case object Audit extends JobType("AUDIT")
  case object Replication extends JobType("REPLICATION")
  case object LoadGen extends JobType("LOAD_GEN")
  case object Availability extends JobType("AVAILABILITY")

  val all: Seq[JobType] =
    Seq(ConsumerToRpcDispatcher, Audit, Replication, LoadGen, Availability)
  /** Strict: an unknown name (typo, future proto value) must fail loudly —
    * silently treating it as the RPC hot path would dispatch traffic for a
    * job that was meant to be something else. */
  def of(name: String): JobType =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown job type '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Produce-side target for replication/load-gen jobs
  * (reference: job.proto:142-152 KafkaDispatcherTask — cluster, topic,
  * optional fixed partition, dedup + security flags). */
final case class DispatchTarget(
    cluster: String,
    topic: String,
    partition: Option[Int] = None,
    dedupEnabled: Boolean = false,
    isSecure: Boolean = false)

/** Explicit per-partition consumption bounds
  * (reference: job_group.proto:224-244 PartitionOffsetRange[s]). */
final case class PartitionOffsetRange(
    partition: Int,
    startOffset: Long,
    endOffset: Long)

/**
 * Job-group-level bounded-consumption range
 * (reference: job_group.proto:93-116 KafkaConsumerTaskGroup):
 *
 *  - `startTimestampMs >= 0`: consume from the earliest offset whose record
 *    timestamp >= start; `endTimestampMs` follows zero-offset semantics —
 *    the first timestamp NOT to consume.
 *  - `partitionOffsetRanges`, when non-empty, make the creator IGNORE the
 *    timestamps: only the listed partitions are consumed, at exactly the
 *    listed offsets (new partitions after expansion are not picked up).
 *
 * Timestamps unset (< 0) with no ranges = not a bounded group.
 */
final case class GroupRange(
    startTimestampMs: Long = -1L,
    endTimestampMs: Long = -1L,
    partitionOffsetRanges: Seq[PartitionOffsetRange] = Nil) {
  def isBounded: Boolean =
    partitionOffsetRanges.nonEmpty || (startTimestampMs >= 0 && endTimestampMs >= 0)
}

final case class JobSpec(
    jobGroupId: String,
    cluster: String,
    topic: String,
    consumerGroup: String,
    rpc: RpcSpec,
    retryEnabled: Boolean = false,
    retryTiers: Seq[RetryTier] = Nil,
    resqTopic: String = "",
    flowControl: FlowControl = FlowControl.unlimited,
    processingDelayMs: Long = 0L,
    security: SecuritySpec = SecuritySpec(),
    jobTypeName: String = JobType.ConsumerToRpcDispatcher.name,
    kafkaDispatch: Option[DispatchTarget] = None) {

  def jobType: JobType = JobType.of(jobTypeName)

  /** Retry tiers sorted by visibility delay — the tier escalation order
    * (reference: uforwarder/.../utils/RetryUtils.java:50-58). */
  def sortedTiers: Seq[RetryTier] = retryTiers.sortBy(_.processingDelayMs)

  def hasTieredRetry: Boolean = retryEnabled && retryTiers.nonEmpty

  def isRetryTopic(t: String): Boolean = retryTiers.exists(_.topic == t)
  def isDlqTopic(t: String): Boolean = rpc.dlqTopic.nonEmpty && rpc.dlqTopic == t
  def isResqTopic(t: String): Boolean = resqTopic.nonEmpty && resqTopic == t

  /** Any topic whose records carry a DLQMetadata-wrapped key. */
  def isWrappedTopic(t: String): Boolean =
    isRetryTopic(t) || isDlqTopic(t) || isResqTopic(t)
}

/**
 * Topic-naming convention for derived queue topics
 * (reference: uforwarder/src/integrationTest/.../UforwarderIntegrationTests.java:76-86):
 *   single retry: `<topic>__<group>__retry`
 *   tiered retry: `<topic>__<group>__<tier>__retry`
 *   DLQ:          `<topic>__<group>__dlq`
 */
object TopicNames {
  def retry(topic: String, group: String): String = s"${topic}__${group}__retry"
  def retry(topic: String, group: String, tier: Int): String =
    s"${topic}__${group}__${tier}__retry"
  def dlq(topic: String, group: String): String = s"${topic}__${group}__dlq"
  def resq(topic: String, group: String): String = s"${topic}__${group}__resq"
}

object Routing {

  /**
   * Tiered retry-topic selection: walk tiers in delay order accumulating
   * `maxRetryCount` ceilings; the first tier whose cumulative ceiling covers
   * the message's retry count wins; overflow → DLQ; empty DLQ → last tier.
   *
   * Behavioral contract mirrored from
   * `RetryUtils.getKafkaDestinationRetryTopic`
   * (reference: uforwarder/.../utils/RetryUtils.java:23-43).
   */
  def destinationRetryTopic(spec: JobSpec, retryCount: Long): String = {
    if (!spec.hasTieredRetry) return spec.rpc.dlqTopic
    val tiers = spec.sortedTiers
    var ceiling = 0L
    tiers.foreach { t =>
      ceiling += t.maxRetryCount
      if (retryCount <= ceiling) return t.topic
    }
    if (spec.rpc.dlqTopic.isEmpty) tiers.last.topic else spec.rpc.dlqTopic
  }

  /**
   * Timeout (BACKOFF) escalation: DLQ-origin stays in DLQ; resq-origin does
   * in-memory retry (INVALID); otherwise, once `timeoutCount` reaches
   * `maxRpcTimeouts` and a DLQ token is available → DLQ, else RETRY.
   *
   * Behavioral contract mirrored from `ProcessorImpl.handleTimeout`
   * (reference: uforwarder/.../worker/processor/ProcessorImpl.java:417-465).
   */
  def escalateBackoff(
      spec: JobSpec,
      sourceTopic: String,
      timeoutCount: Long,
      // by-name: drawing a DLQ token is a side effect (the bucket is
      // credited only by successes), so it must happen ONLY when the
      // timeout ceiling is actually reached — an eager argument would
      // drain the bucket on every pre-ceiling timeout and starve
      // legitimate poison-message quarantine
      // (reference: DlqDispatchManager.java:14-60 acquires at the
      // escalation decision point)
      dlqTokenAvailable: => Boolean): DispatchCode = {
    if (spec.isDlqTopic(sourceTopic)) DispatchCode.Dlq
    else if (spec.isResqTopic(sourceTopic)) DispatchCode.Invalid
    else {
      val max = spec.rpc.maxRpcTimeouts
      if (max > 0 && timeoutCount >= max && dlqTokenAvailable) DispatchCode.Dlq
      else DispatchCode.Retry
    }
  }

  /**
   * Full routing decision: where does a message with dispatch outcome `code`
   * go? COMMIT/SKIP/DROPPED → ack (None); RETRY → tier topic; DLQ → dlq
   * topic (or tier fallback); RESQ → resq topic; BACKOFF must be escalated
   * first via [[escalateBackoff]]; INVALID → in-memory retry (None here).
   *
   * (reference: uforwarder/.../worker/processor/ProcessorImpl.java:367-394,736-888)
   */
  def destinationTopic(spec: JobSpec, code: DispatchCode, retryCount: Long): Option[String] =
    code match {
      case DispatchCode.Retry =>
        Some(destinationRetryTopic(spec, retryCount)).filter(_.nonEmpty)
      case DispatchCode.Dlq =>
        val t = if (spec.rpc.dlqTopic.nonEmpty) spec.rpc.dlqTopic
                else if (spec.hasTieredRetry) spec.sortedTiers.last.topic
                else ""
        Some(t).filter(_.nonEmpty)
      case DispatchCode.Resq => Some(spec.resqTopic).filter(_.nonEmpty)
      case _ => None
    }
}
