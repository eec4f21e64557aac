package graft.control

import graft.model.{FlowControl, JobSpec, SecuritySpec}

/**
 * Pure builders translating control-plane specs into Spark Kafka
 * source/sink options. The reference's hand-rolled fetcher machinery
 * (assignment, seeking, offset resolution, partition discovery —
 * AbstractKafkaFetcherThread.java:231-362) collapses into these options:
 * the Kafka source owns polling/seeking/discovery.
 */
object KafkaSourceConfig {

  /** Seek policy — mirrors SeekStartOffsetOption
    * (reference: uforwarder-core/.../fetchers/kafka/SeekStartOffsetOption.java:1-13). */
  sealed trait StartOffsets
  object StartOffsets {
    case object Earliest extends StartOffsets
    case object Latest extends StartOffsets
    /** resume semantics of the reference's committed-offset seek. Spark
      * ignores broker-committed group offsets entirely — resume comes from
      * the query's CHECKPOINT; this option only controls the FIRST run
      * (no checkpoint yet), where it falls back to earliest, and sets
      * kafka.group.id so external lag tooling sees the group. */
    case object Committed extends StartOffsets
    final case class Specified(offsets: Map[Int, Long]) extends StartOffsets
    /** timestamp->offset resolution, done natively by the source
      * (reference: BatchJobCreator.java:117-260 resolves via offsetsForTimes) */
    final case class ByTimestamp(tsMs: Long) extends StartOffsets
  }

  sealed trait EndOffsets
  object EndOffsets {
    case object Unbounded extends EndOffsets
    final case class Specified(offsets: Map[Int, Long]) extends EndOffsets
    final case class ByTimestamp(tsMs: Long) extends EndOffsets
  }

  private def offsetsJson(topic: String, offsets: Map[Int, Long]): String =
    offsets.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p": $o""" }
      .mkString(s"""{"$topic": {""", ", ", "}}")

  private def tsJson(topic: String, partitions: Seq[Int], tsMs: Long): String =
    partitions.sorted.map(p => s""""$p": $tsMs""")
      .mkString(s"""{"$topic": {""", ", ", "}}")

  /**
   * Streaming-source options for one consumption job.
   * Flow control maps to maxOffsetsPerTrigger
   * (messages_per_sec × trigger seconds), the Spark-native equivalent of the
   * reference's rate limiters (FlowControl, job.proto:359-366).
   *
   * No retry-tier delay: these options hold no young tier record back, so
   * a job on them fetches a retry-tier record as soon as it is written.
   * The one tier-delay gate is graft-queue's `visibilitydelays` end-offset
   * cap (`GraftBroker.visibleEndOffsets`); the Kafka form needs its own
   * source-side gate before it honours `RetryTier.processingDelayMs`.
   */
  def sourceOptions(
      spec: JobSpec,
      bootstrapServers: String,
      start: StartOffsets,
      partitions: Seq[Int] = Nil,
      triggerSec: Double = 1.0): Map[String, String] = {
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "includeHeaders" -> "true",
      "kafka.isolation.level" -> "read_committed",
      "failOnDataLoss" -> "false")
    // subscription mode and start offsets resolve TOGETHER: Spark rejects
    // subscribe+assign as mutually exclusive, and Specified offsets only
    // make sense with an explicit partition assignment
    val startOpt = start match {
      case StartOffsets.Earliest => Map(
        "subscribe" -> spec.topic, // partition discovery is free in subscribe mode
        "startingOffsets" -> "earliest")
      case StartOffsets.Latest => Map(
        "subscribe" -> spec.topic,
        "startingOffsets" -> "latest")
      case StartOffsets.Committed => Map(
        "subscribe" -> spec.topic,
        "kafka.group.id" -> spec.consumerGroup,
        "startingOffsets" -> "earliest")
      case StartOffsets.Specified(offs) =>
        Map("startingOffsets" -> offsetsJson(spec.topic, offs),
          "assign" -> s"""{"${spec.topic}": [${offs.keys.toSeq.sorted.mkString(",")}]}""")
      case StartOffsets.ByTimestamp(ts) if partitions.nonEmpty =>
        Map("subscribe" -> spec.topic,
          "startingOffsetsByTimestamp" -> tsJson(spec.topic, partitions, ts))
      case StartOffsets.ByTimestamp(ts) =>
        // no partition list: use the global-timestamp option rather than an
        // empty per-partition map, which the source rejects at start
        Map("subscribe" -> spec.topic, "startingTimestamp" -> ts.toString)
    }
    val flow = maxOffsetsPerTrigger(spec.flowControl, triggerSec)
      .map(n => Map("maxOffsetsPerTrigger" -> n.toString)).getOrElse(Map.empty)
    base ++ startOpt ++ flow ++ securityOptions(spec.security)
  }

  /**
   * Kafka-client security options from the job's SecurityConfig
   * (reference: KafkaUtils.getSecurityConfigs — security.protocol=SSL plus
   * key/trust manager config; job gating via SecurityConfig.is_secure,
   * job.proto:370-379). Site-specific TLS material (stores, algorithms,
   * providers) comes from `SecuritySpec.clientOptions` so no deployment's
   * provider classes are hardcoded here. Insecure jobs contribute nothing —
   * the "identity provided but is_secure false runs unsecured" rule.
   */
  def securityOptions(sec: SecuritySpec): Map[String, String] =
    if (!sec.isSecure) Map.empty
    else Map("kafka.security.protocol" -> "SSL") ++
      sec.clientOptions.map { case (k, v) =>
        (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v
      }

  /** Bounded (batch) read options for DLQ merge/purge jobs
    * (reference: DlqTopicKafkaFetcher.java:66-79 bounded consumption). */
  def boundedReadOptions(
      spec: JobSpec,
      bootstrapServers: String,
      topic: String,
      start: Map[Int, Long],
      end: Map[Int, Long]): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "assign" -> s"""{"$topic": [${start.keys.toSeq.sorted.mkString(",")}]}""",
    "startingOffsets" -> offsetsJson(topic, start),
    "endingOffsets" -> offsetsJson(topic, end),
    "includeHeaders" -> "true") ++ securityOptions(spec.security)

  /** Producer options for the retry/DLQ/resq sink: lossless acks, snappy
    * compression (reference: application-uforwarder-worker.yaml:85-100).
    * The DataFrame's per-row `topic` column routes each record natively. */
  def sinkOptions(
      bootstrapServers: String,
      lossless: Boolean = true,
      security: SecuritySpec = SecuritySpec()): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrapServers,
    "kafka.acks" -> (if (lossless) "all" else "1"),
    "kafka.compression.type" -> "snappy",
    "kafka.max.request.size" -> (30 * 1024 * 1024).toString) ++
    securityOptions(security)

  /** messages_per_sec × trigger window, the micro-batch admission quota
    * both sources enforce. */
  def maxOffsetsPerTrigger(fc: FlowControl, triggerSec: Double): Option[Long] =
    if (fc.messagesPerSec >= Double.MaxValue) None
    else Some(math.max(1L, (fc.messagesPerSec * triggerSec).toLong))

  /** bytes_per_sec × trigger window, graft-queue's `maxbytespertrigger`.
    * Only that source enforces it: Spark's Kafka source caps offsets, not
    * bytes, so [[sourceOptions]] carries no byte cap. */
  def maxBytesPerTrigger(fc: FlowControl, triggerSec: Double): Option[Long] =
    if (fc.bytesPerSec >= Double.MaxValue) None
    else Some(math.max(1L, (fc.bytesPerSec * triggerSec).toLong))
}
