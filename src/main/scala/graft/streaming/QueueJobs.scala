package graft.streaming

import graft.model.DispatchTarget
import graft.streaming.ForwardingEngine.KafkaRecord
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * The non-RPC job types (reference: job.proto:339-356 — KAFKA_REPLICATION,
 * LOAD_GEN_PRODUCE, AVAILABILITY), each expressed as a thin composition of
 * the engine's source adapter and the per-row-routed queue sink. These are
 * the "other" workloads the reference controller schedules next to the
 * consumer-proxy hot path; their Spark forms are one declarative stream
 * each — no new machinery.
 */
object QueueJobs {

  /**
   * Live consumption stream for a job spec over the graft-queue connector —
   * the spec→source wiring the rebalance/actuation loops use: topics = main
   * + retry tiers, the consumer group, per-tier visibility delays, and the
   * flow-control quota (messages and bytes per second) as the per-trigger
   * admission caps. This is how an
   * UPDATE_JOB quota lands (reference: ProcessorImpl.updateQuota:1316-1365
   * applies FlowControl to the live limiter): Spark fixes source options at
   * query start, so [[graft.control.JobManager.update]] re-runs the query
   * from its checkpoint with the stream built from the NEW spec — the next
   * micro-batch runs under the new cap.
   */
  def liveStream(
      spark: SparkSession,
      spec: graft.model.JobSpec,
      triggerSec: Double = 1.0,
      startingOffsets: String = "earliest"): Dataset[KafkaRecord] = {
    val topics = spec.topic +: spec.sortedTiers.map(_.topic)
    var reader = spark.readStream.format("graft-queue")
      .option("topics", topics.mkString(","))
      .option("groupid", spec.consumerGroup)
      .option("startingoffsets", startingOffsets)
    val delays = spec.sortedTiers.filter(_.processingDelayMs > 0)
    if (delays.nonEmpty)
      reader = reader.option("visibilitydelays",
        delays.map(t => s"${t.topic}:${t.processingDelayMs}").mkString(","))
    graft.control.KafkaSourceConfig.maxOffsetsPerTrigger(spec.flowControl, triggerSec)
      .foreach(n => reader = reader.option("maxoffsetspertrigger", n.toString))
    graft.control.KafkaSourceConfig.maxBytesPerTrigger(spec.flowControl, triggerSec)
      .foreach(n => reader = reader.option("maxbytespertrigger", n.toString))
    ForwardingEngine.fromSourceFrame(reader.load())
  }

  /**
   * KAFKA_REPLICATION (job.proto:347-349, ReplicationTask): consume one
   * queue, produce to another — with the cross-cluster loop guard.
   *
   * Loop guard semantics (reference: ProcessorMessage's `original_cluster`
   * header + OriginalClusterFilter): a record's FIRST replication stamps the
   * header with the cluster it was read from; a replicator only forwards
   * records whose header is absent or equal to its own local cluster, so a
   * record that already crossed clusters is never replicated back
   * (A→B→A cannot cycle). The transform is pure column algebra — stays in
   * whole-stage codegen; the write is the per-row-routed queue sink.
   */
  def replicateFrame(
      records: Dataset[KafkaRecord],
      localCluster: String,
      target: DispatchTarget): DataFrame = {
    val hdr = col("headers")
    records
      .filter(
        not(map_contains_key(hdr, "original_cluster")) ||
          lower(expr("CAST(headers['original_cluster'] AS STRING)")) === localCluster.toLowerCase)
      .select(
        lit(target.topic).as("topic"),
        col("key"),
        col("value"),
        target.partition.map(p => lit(p)).getOrElse(lit(null).cast("int")).as("partition"),
        map_entries(map_concat(
          map_filter(hdr, (k, _) => k =!= "original_cluster"),
          map(lit("original_cluster"), lit(localCluster.getBytes("UTF-8")))))
          .as("headers"))
  }

  /** Run the replication stream through the DSv2 streaming writer. */
  def runReplication(
      records: Dataset[KafkaRecord],
      localCluster: String,
      target: DispatchTarget,
      checkpointDir: String,
      queryName: String,
      format: String = "graft-queue",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    replicateFrame(records, localCluster, target)
      .writeStream
      .queryName(queryName)
      .format(format)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /**
   * LOAD_GEN_PRODUCE (job.proto:350-352): synthesize records at a target
   * rate into a topic — Spark's `rate` source IS the load generator
   * (per-second row budget, backfill on lag), mapped to deterministic
   * payloads. Used to exercise a pipeline end-to-end at a known msgs/sec.
   */
  def loadGenFrame(spark: SparkSession, ratePerSec: Long, payloadBytes: Int,
      target: DispatchTarget): DataFrame = {
    val payload = "x" * math.max(1, payloadBytes)
    spark.readStream.format("rate")
      .option("rowsPerSecond", ratePerSec.toString)
      .load()
      .select(
        lit(target.topic).as("topic"),
        encode(concat(lit("lg-"), col("value")), "UTF-8").as("key"),
        encode(lit(payload), "UTF-8").as("value"))
  }

  def runLoadGen(
      spark: SparkSession,
      ratePerSec: Long,
      payloadBytes: Int,
      target: DispatchTarget,
      checkpointDir: String,
      queryName: String,
      format: String = "graft-queue"): StreamingQuery =
    loadGenFrame(spark, ratePerSec, payloadBytes, target)
      .writeStream
      .queryName(queryName)
      .format(format)
      .option("checkpointLocation", checkpointDir)
      .start()

  /**
   * Bounded DLQ merge/purge job (reference: DlqTopicKafkaFetcher.java:66-79
   * bounded consumption, :103-115 purge semantics). One batch read of
   * exactly [start, end) per partition, the merge dispatch through the full
   * engine, and the job-completion consumer-group commit of the end
   * offsets. The purge degenerate case falls out of the bounds: start ==
   * end plans zero input slices, so NOTHING is dispatched — yet the commit
   * still advances the group to `end`, which is what "purge" means
   * broker-side (the range is skipped, never redelivered).
   */
  def runDlqBounded(
      spark: SparkSession,
      spec: graft.model.JobSpec,
      dispatcherFactory: DispatcherFactory,
      localCluster: String,
      topic: String,
      start: Map[Int, Long],
      end: Map[Int, Long],
      store: QueueStore,
      commitTarget: CommitTarget,
      format: String = "graft-queue"): Unit = {
    import graft.sources.GraftQueue
    val frame = spark.read.format(format)
      .option("topics", topic)
      .option("startingoffsets", GraftQueue.offsetsToJson(Map(topic -> start)))
      .option("endingoffsets", GraftQueue.offsetsToJson(Map(topic -> end)))
      .load()
    val records = ForwardingEngine.fromSourceFrame(frame)
    store.produce(ForwardingEngine.processBatch(
      spec, dispatcherFactory, localCluster, records))
    commitTarget.commit(spec.consumerGroup,
      end.map { case (p, o) => (topic, p) -> o })
  }

  /**
   * AVAILABILITY (job.proto:353-356, AvailabilityJobType NATIVE_CONSUMER):
   * evaluate probe records from an availability topic — per-minute delivery
   * count and produce→observe latency percentiles. Consuming the topic a
   * NATIVE_PRODUCER/LOAD_GEN probe writes closes the loop: a healthy
   * pipeline shows the probe rate and single-digit-seconds p99.
   */
  def probeStats(records: Dataset[KafkaRecord], nowMs: Long): DataFrame =
    records
      .withColumn("minute_ts", expr("timestampNs DIV 60000000000"))
      .withColumn("latency_ms", lit(nowMs) - expr("timestampNs DIV 1000000"))
      .groupBy(col("topic"), col("minute_ts"))
      .agg(
        count(lit(1)).as("n_probes"),
        expr("CAST(percentile(latency_ms, 0.5) AS BIGINT)").as("p50_ms"),
        expr("CAST(percentile(latency_ms, 0.99) AS BIGINT)").as("p99_ms"),
        max("latency_ms").as("max_ms"))
      .orderBy("topic", "minute_ts")
}
