package graft.sources

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * `graft-queue`: a complete DataSource V2 streaming source + sink over an
 * in-process, Kafka-semantics message broker.
 *
 * Why this exists: the forwarding engine's production source/sink is
 * `format("kafka")`, but every durable behavior the engine relies on —
 * offset-ranged micro-batches, the checkpointed offset log, admission
 * control (maxOffsetsPerTrigger), per-row topic routing in the sink,
 * consumer-group commit visibility, retry-tier delayed visibility at the
 * FETCHER (not in processing) — lives in the connector contract, not in the
 * broker. This provider implements that full contract against
 * [[GraftBroker]], so the engine's end-to-end path (readStream → unwrap →
 * dispatch → route → per-row-topic write → group commit) runs through
 * Spark's real MicroBatchExecution machinery and is testable without a
 * broker process. The semantics mirrored from the reference fetcher:
 *
 *  - append-only partitioned topic logs, dense offsets, earliest/latest
 *    seek (AbstractKafkaFetcherThread.java:364-403 seek policies);
 *  - per-record visibility delay gating AT THE SOURCE: a retry-tier record
 *    younger than its tier delay caps the partition's end offset for the
 *    trigger — the offset-cap analog of pause/resume
 *    (KafkaDelayProcessManager.java:27-192, shouldDelayProcess:53-61);
 *  - consumer-group committed offsets advanced on batch commit, so
 *    group lag is observable broker-side
 *    (AbstractKafkaFetcherThread.java:407-446 commit cadence);
 *  - producer side: hash-by-key partitioning, per-record topic routing,
 *    headers (KafkaDispatcher.java:76-110).
 *
 * Scale note: the BROKER is single-JVM by design (tests/dev harness — the
 * production path swaps `format("graft-queue")` for `format("kafka")` with
 * identical engine code, except that the Kafka form applies NO retry-tier
 * delay: the one tier-delay gate is this source's `visibilitydelays`
 * end-offset cap, Spark's Kafka source has no such gate yet, and so a
 * retry-tier record is fetched as soon as it is written); the CONNECTOR
 * code paths are the same planner/executor splits a distributed source
 * uses — offsets planned on the driver, partition readers on executors,
 * one InputPartition per topic-partition.
 */
object GraftBroker {
  final case class Rec(
      key: Array[Byte],
      value: Array[Byte],
      headers: Seq[(String, Array[Byte])],
      timestampMs: Long)

  // topic -> per-partition append-only logs
  private val topics = TrieMap.empty[String, Array[ArrayBuffer[Rec]]]
  // (group, topic, partition) -> committed offset (exclusive, Kafka-style)
  private val groupOffsets = TrieMap.empty[(String, String, Int), Long]
  private val roundRobin = new AtomicLong(0L)

  def createTopic(name: String, partitions: Int): Unit =
    topics.putIfAbsent(name, Array.fill(partitions)(ArrayBuffer.empty[Rec]))

  private def log(topic: String): Array[ArrayBuffer[Rec]] =
    topics.getOrElseUpdate(topic, Array.fill(1)(ArrayBuffer.empty[Rec])) // auto-create, 1 partition

  /** Append one record; partition = explicit | hash(key) | round-robin. */
  def produce(
      topic: String,
      partition: Option[Int],
      key: Array[Byte],
      value: Array[Byte],
      headers: Seq[(String, Array[Byte])] = Nil,
      timestampMs: Long = System.currentTimeMillis()): (Int, Long) = {
    val parts = log(topic)
    val p = partition.getOrElse {
      if (key != null && key.nonEmpty)
        math.floorMod(java.util.Arrays.hashCode(key), parts.length)
      else math.floorMod(roundRobin.getAndIncrement(), parts.length.toLong).toInt
    }
    require(p >= 0 && p < parts.length,
      s"produce to $topic partition $p, but topic has ${parts.length} partition(s) " +
        "(auto-created topics have 1 — createTopic first for more)")
    val buf = parts(p)
    buf.synchronized {
      buf += Rec(key, value, headers, timestampMs)
      (p, (buf.size - 1).toLong)
    }
  }

  /** Bulk append to one partition under a single lock acquisition — the
    * batching producers actually use (and what keeps a driver-side feed
    * from smearing across many tiny micro-batches in tests/benches). */
  def produceAll(
      topic: String,
      partition: Int,
      records: Iterable[(Array[Byte], Array[Byte])],
      timestampMs: Long = System.currentTimeMillis()): Unit = {
    val parts = log(topic)
    require(partition >= 0 && partition < parts.length,
      s"produceAll to $topic partition $partition, but topic has ${parts.length} partition(s)")
    val buf = parts(partition)
    buf.synchronized {
      records.foreach { case (k, v) => buf += Rec(k, v, Nil, timestampMs) }
    }
  }

  def partitionsOf(topic: String): Int = log(topic).length

  /** Does the topic exist, WITHOUT auto-creating it (the metadata probe a
    * job creator runs before trusting a spec's topic name). */
  def topicExists(topic: String): Boolean = topics.contains(topic)

  /** End offsets (exclusive) per partition. */
  def endOffsets(topic: String): Map[Int, Long] = {
    val parts = log(topic)
    parts.indices.map(p => p -> parts(p).synchronized(parts(p).size.toLong)).toMap
  }

  // last gate position per (topic, partition, delay): the gate is monotone
  // in `now` over an append-only log, so each planning call resumes the
  // scan where the previous one stopped — amortized O(new records) per
  // trigger instead of O(partition) (the source calls this at least twice
  // per micro-batch)
  private val gatePos = TrieMap.empty[(String, Int, Long), Int]

  /** End offsets capped by visibility delay: the end stops at the first
    * record with `timestampMs + delayMs > nowMs` (head-gating, like the
    * reference's shouldDelayProcess partition pause). */
  def visibleEndOffsets(topic: String, delayMs: Long, nowMs: Long): Map[Int, Long] = {
    if (delayMs <= 0) return endOffsets(topic)
    val parts = log(topic)
    parts.indices.map { p =>
      val buf = parts(p)
      buf.synchronized {
        var i = gatePos.getOrElse((topic, p, delayMs), 0)
        while (i < buf.size && buf(i).timestampMs + delayMs <= nowMs) i += 1
        gatePos.put((topic, p, delayMs), i)
        p -> i.toLong
      }
    }.toMap
  }

  /** First offset whose record timestamp >= tsMs — Kafka's offsetsForTimes
    * contract ("first message with timestamp >= queried timestamp",
    * BatchJobCreator.java:163-171). None when the timestamp is past every
    * record (or the partition is empty) — the caller falls back to the high
    * watermark, mirroring BatchJobCreator.java:218-231's fallback. Linear
    * scan: the in-process log has no time index; a real broker serves this
    * from its index. */
  def offsetForTime(topic: String, partition: Int, tsMs: Long): Option[Long] = {
    val buf = log(topic)(partition)
    buf.synchronized {
      val i = buf.indexWhere(_.timestampMs >= tsMs)
      if (i < 0) None else Some(i.toLong)
    }
  }

  def fetch(topic: String, partition: Int, from: Long, until: Long): IndexedSeq[Rec] = {
    // the in-process log is array-indexed: make the single-JVM capacity
    // limit loud rather than silently truncating offsets past 2^31 (which
    // would re-read from 0 under fabricated offsets)
    require(from >= 0 && until <= Int.MaxValue,
      s"offset range [$from, $until) exceeds the in-process broker's Int-indexed log")
    val buf = log(topic)(partition)
    buf.synchronized(buf.slice(from.toInt, until.toInt).toIndexedSeq)
  }

  /** Running key + value byte sums of the records at [from, until), the
    * measure a byte cap admits by; the scan stops at the first sum past
    * `limit`, so a deep backlog costs no more than the budget. */
  def byteSums(topic: String, partition: Int, from: Long, until: Long, limit: Long): Array[Long] = {
    val buf = log(topic)(partition)
    buf.synchronized {
      val sums = ArrayBuffer.empty[Long]
      var sum = 0L
      var i = from.toInt
      while (i < until && sum <= limit) {
        val r = buf(i)
        sum += Option(r.key).fold(0)(_.length) + Option(r.value).fold(0)(_.length)
        sums += sum
        i += 1
      }
      sums.toArray
    }
  }

  def commitGroup(group: String, offsets: Map[(String, Int), Long]): Unit =
    offsets.foreach { case ((t, p), o) => groupOffsets.put((group, t, p), o) }

  def committed(group: String, topic: String, partition: Int): Option[Long] =
    groupOffsets.get((group, topic, partition))

  /** Consumer-group lag per partition — what kafka-consumer-groups.sh shows. */
  def lag(group: String, topic: String): Map[Int, Long] =
    endOffsets(topic).map { case (p, end) =>
      p -> (end - committed(group, topic, p).getOrElse(0L))
    }

  def reset(): Unit = {
    topics.clear(); groupOffsets.clear(); gatePos.clear(); roundRobin.set(0L)
  }
}

/** Provider for `spark.read[Stream].format("graft-queue")` /
  * `df.write[Stream].format("graft-queue")`. */
class GraftQueueProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-queue"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftQueue.SourceSchema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftQueueTable(new CaseInsensitiveStringMap(properties))
}

object GraftQueue {
  /** Exactly the Kafka source's includeHeaders=true schema, so engine code
    * adapts both sources with one function. */
  val SourceSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  def topicsOf(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("topics")).getOrElse(
      sys.error("graft-queue source requires option 'topics'"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** "topicA:300,topicB:600" -> per-topic visibility delay ms. */
  def delaysOf(options: CaseInsensitiveStringMap): Map[String, Long] =
    Option(options.get("visibilitydelays")).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).map { kv =>
        val Array(t, d) = kv.split(":"); t -> d.toLong
      }.toMap).getOrElse(Map.empty)

  def offsetsToJson(m: Map[String, Map[Int, Long]]): String =
    m.toSeq.sortBy(_._1).map { case (t, pm) =>
      "\"" + t + "\":{" +
        pm.toSeq.sortBy(_._1).map { case (p, o) => "\"" + p + "\":" + o }.mkString(",") + "}"
    }.mkString("{", ",", "}")

  def offsetsFromJson(s: String): Map[String, Map[Int, Long]] =
    org.json4s.jackson.JsonMethods.parse(s).values
      .asInstanceOf[Map[String, Map[String, Any]]]
      .map { case (t, pm) =>
        t -> pm.map { case (p, o) => p.toInt -> o.asInstanceOf[Number].longValue() }
      }
}

final case class GraftQueueOffset(offsets: Map[String, Map[Int, Long]]) extends Offset {
  override def json(): String = GraftQueue.offsetsToJson(offsets)
}

class GraftQueueTable(options: CaseInsensitiveStringMap) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = "graft-queue"
  override def schema(): StructType = GraftQueue.SourceSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    merged.putAll(scanOptions)
    new GraftQueueScanBuilder(new CaseInsensitiveStringMap(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftQueueWriteBuilder(info)
}

class GraftQueueScanBuilder(options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan = new GraftQueueScan(options)
}

class GraftQueueScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = GraftQueue.SourceSchema
  override def description(): String = "graft-queue"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftQueueMicroBatchStream(options)

  /** Bounded read: a [start, end) snapshot taken at planning — the DLQ
    * merge/purge job shape (bounded DLQ fetcher, SURVEY §2.1). Optional
    * `startingoffsets`/`endingoffsets` JSON bounds (the Kafka batch-read
    * options, KafkaSourceConfig.boundedReadOptions) narrow the range per
    * partition; a partition whose start == end contributes NOTHING — the
    * reference's purge-job degenerate case
    * (DlqTopicKafkaFetcher.java:103-115). */
  override def toBatch(): Batch = new Batch {
    private val topics = GraftQueue.topicsOf(options)
    private def bounds(key: String): Map[String, Map[Int, Long]] =
      Option(options.get(key)).filter(_.trim.startsWith("{"))
        .map(GraftQueue.offsetsFromJson).getOrElse(Map.empty)
    private val startBounds = bounds("startingoffsets")
    private val endBounds = bounds("endingoffsets")
    private val snapshot: Map[String, Map[Int, Long]] =
      topics.map(t => t -> GraftBroker.endOffsets(t)).toMap
    override def planInputPartitions(): Array[InputPartition] =
      snapshot.toSeq.flatMap { case (t, pm) =>
        // When bounds name this topic, ONLY the listed partitions are
        // consumed — the PartitionOffsetRanges restriction ("new partitions
        // after expansion will not be consumed either",
        // job_group.proto:111-115) and the graft-queue analog of the Kafka
        // path's explicit `assign`. Unbounded topics read everything.
        val listed: Option[Set[Int]] =
          (startBounds.get(t), endBounds.get(t)) match {
            case (None, None) => None
            case (s, e) => Some(s.getOrElse(Map.empty).keySet ++ e.getOrElse(Map.empty).keySet)
          }
        pm.toSeq.flatMap { case (p, logEnd) =>
          if (listed.exists(!_.contains(p))) None
          else {
            val from = startBounds.getOrElse(t, Map.empty).getOrElse(p, 0L)
            val until = math.min(logEnd,
              endBounds.getOrElse(t, Map.empty).getOrElse(p, logEnd))
            if (until > from) Some(QueueSlice(t, p, from, until)) else None
          }
        }
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory = QueueReaderFactory
  }
}

/** One topic-partition offset range, planned on the driver, read in a task. */
final case class QueueSlice(topic: String, partition: Int, from: Long, until: Long)
  extends InputPartition

object QueueReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val s = partition.asInstanceOf[QueueSlice]
    new PartitionReader[InternalRow] {
      private val recs = GraftBroker.fetch(s.topic, s.partition, s.from, s.until)
      private var i = -1
      override def next(): Boolean = { i += 1; i < recs.size }
      override def get(): InternalRow = {
        val r = recs(i)
        val headers: ArrayData =
          if (r.headers.isEmpty) new GenericArrayData(Array.empty[Any])
          else new GenericArrayData(r.headers.map { case (k, v) =>
            new GenericInternalRow(Array[Any](UTF8String.fromString(k), v))
          }.toArray[Any])
        new GenericInternalRow(Array[Any](
          r.key, r.value, UTF8String.fromString(s.topic), s.partition,
          s.from + i, r.timestampMs * 1000L /* micros */, 0, headers))
      }
      override def close(): Unit = ()
    }
  }
}

class GraftQueueMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val topics = GraftQueue.topicsOf(options)
  private val delays = GraftQueue.delaysOf(options)
  private val groupId = Option(options.get("groupid"))
  private val startingOffsets = Option(options.get("startingoffsets")).getOrElse("earliest")
  private val maxOffsetsPerTrigger = Option(options.get("maxoffsetspertrigger")).map(_.toLong)
  private val maxBytesPerTrigger = Option(options.get("maxbytespertrigger")).map(_.toLong)
  // timestamp->offset seek, the Kafka source's option names and precedence:
  // startingOffsetsByTimestamp (per-partition) > startingTimestamp (global)
  // > startingOffsets (KafkaSourceConfig.StartOffsets.ByTimestamp emits the
  // same pair for format("kafka"))
  private val startingTimestamp = Option(options.get("startingtimestamp")).map(_.toLong)
  private val startingTsByPartition: Map[String, Map[Int, Long]] =
    Option(options.get("startingoffsetsbytimestamp"))
      .map(GraftQueue.offsetsFromJson).getOrElse(Map.empty)

  private def availableEnd(): Map[String, Map[Int, Long]] = {
    val now = System.currentTimeMillis()
    topics.map(t => t -> GraftBroker.visibleEndOffsets(t, delays.getOrElse(t, 0L), now)).toMap
  }

  override def initialOffset(): Offset = {
    // timestamp seek resolved via the broker's offsetsForTimes analog, with
    // the reference's watermark fallback: a timestamp past the log tail
    // resolves to the high watermark (start there = consume only what
    // arrives later), BatchJobCreator.java:218-231
    def resolveTs(t: String, p: Int, end: Long, ts: Long): Long =
      GraftBroker.offsetForTime(t, p, ts).getOrElse(end)
    if (startingTsByPartition.nonEmpty) {
      val m = topics.map { t =>
        val perPart = startingTsByPartition.getOrElse(t, Map.empty[Int, Long])
        t -> GraftBroker.endOffsets(t).map { case (p, end) =>
          // Kafka's default startingOffsetsByTimestampStrategy=error: a
          // subscribed partition missing from the map is a config bug
          val ts = perPart.getOrElse(p, sys.error(
            s"startingoffsetsbytimestamp has no entry for $t-$p " +
              s"(got partitions ${perPart.keys.toSeq.sorted.mkString(",")})"))
          p -> resolveTs(t, p, end, ts)
        }
      }.toMap
      return GraftQueueOffset(m)
    }
    startingTimestamp.foreach { ts =>
      return GraftQueueOffset(topics.map { t =>
        t -> GraftBroker.endOffsets(t).map { case (p, end) =>
          p -> resolveTs(t, p, end, ts)
        }
      }.toMap)
    }
    val m = startingOffsets match {
      case "latest" => topics.map(t => t -> GraftBroker.endOffsets(t)).toMap
      case "group" => // resume from the consumer group's committed offsets
        val g = groupId.getOrElse(sys.error("startingoffsets=group requires groupid"))
        topics.map { t =>
          t -> GraftBroker.endOffsets(t).map { case (p, _) =>
            p -> GraftBroker.committed(g, t, p).getOrElse(0L)
          }
        }.toMap
      case _ => topics.map(t => t -> GraftBroker.endOffsets(t).map { case (p, _) => p -> 0L }).toMap
    }
    GraftQueueOffset(m)
  }

  override def getDefaultReadLimit: ReadLimit =
    (maxOffsetsPerTrigger.map(ReadLimit.maxRows) ++ maxBytesPerTrigger.map(ReadLimit.maxBytes)).toSeq match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case both => ReadLimit.compositeLimit(both.toArray)
    }

  override def latestOffset(): Offset =
    sys.error("latestOffset(start, limit) should be called (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startMap = start.asInstanceOf[GraftQueueOffset].offsets
    def from(t: String, p: Int): Long = startMap.getOrElse(t, Map.empty).getOrElse(p, 0L)
    // Clamp the visibility-gated end to the checkpointed start: with
    // startingoffsets=latest the initial offset is the UNGATED log end, so a
    // visibility gate still behind it would otherwise return an end < start,
    // regressing the offset log (and, via commit(), the broker group) and
    // later re-delivering pre-start records once the gate opens.
    val end = availableEnd().map { case (t, pm) =>
      t -> pm.map { case (p, e) => p -> math.max(e, from(t, p)) }
    }
    // each cap splits its budget across partitions in proportion to what
    // they hold (the Kafka source's rate-limit policy) and grants every
    // non-empty partition at least one record; a composite limit applies
    // its caps in turn, so the end meets all of them
    def cap(end: Map[String, Map[Int, Long]], limit: ReadLimit): Map[String, Map[Int, Long]] =
      limit match {
        case mr: ReadMaxRows =>
          val avail = for {
            (t, pm) <- end.toSeq; (p, e) <- pm.toSeq if e > from(t, p)
          } yield ((t, p), e - from(t, p))
          val total = avail.map(_._2).sum
          if (total <= mr.maxRows) end
          else {
            val budget = mr.maxRows.toDouble / total
            val grants = avail.map { case (tp, n) =>
              tp -> math.max(1L, math.floor(n * budget).toLong)
            }.toMap
            end.map { case (t, pm) => t -> pm.map { case (p, e) =>
              p -> math.min(e, from(t, p) + grants.getOrElse((t, p), 0L))
            } }
          }
        case mb: ReadMaxBytes =>
          val sums = (for {
            (t, pm) <- end.toSeq; (p, e) <- pm.toSeq if e > from(t, p)
          } yield (t, p) -> GraftBroker.byteSums(t, p, from(t, p), e, mb.maxBytes)).toMap
          val total = sums.values.map(_.last).sum
          if (total <= mb.maxBytes) end
          else {
            val budget = mb.maxBytes.toDouble / total
            end.map { case (t, pm) => t -> pm.map { case (p, e) =>
              p -> sums.get((t, p)).fold(e) { s =>
                from(t, p) + math.max(1, s.count(_ <= s.last * budget))
              }
            } }
          }
        case c: CompositeReadLimit => c.getReadLimits.foldLeft(end)(cap)
        case _ => end // ReadAllAvailable
      }
    GraftQueueOffset(cap(end, limit))
  }

  override def reportLatestOffset(): Offset = GraftQueueOffset(availableEnd())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftQueueOffset].offsets
    val e = end.asInstanceOf[GraftQueueOffset].offsets
    (for {
      (t, pm) <- e.toSeq
      (p, until) <- pm.toSeq
      from = s.getOrElse(t, Map.empty).getOrElse(p, 0L)
      if until > from
    } yield QueueSlice(t, p, from, until)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = QueueReaderFactory

  override def deserializeOffset(json: String): Offset =
    GraftQueueOffset(GraftQueue.offsetsFromJson(json))

  /** Batch completed: expose progress as consumer-group committed offsets
    * (the broker-visible commit of AbstractKafkaFetcherThread.java:407-446;
    * cadence/keepalive policy lives in [[graft.streaming.OffsetCommitter]]
    * when wired via the engine — here the commit is per-batch, Spark's
    * natural cadence). */
  override def commit(end: Offset): Unit = groupId.foreach { g =>
    val m = end.asInstanceOf[GraftQueueOffset].offsets
    GraftBroker.commitGroup(g,
      m.flatMap { case (t, pm) => pm.map { case (p, o) => (t, p) -> o } })
  }

  override def stop(): Unit = ()
}

// ======================== write path ========================

class GraftQueueWriteBuilder(info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
        QueueWriterFactory(info.schema())
      // at-least-once like the Kafka sink: rows are produced as written;
      // commit is a no-op, task retries may duplicate
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
    override def toStreaming: StreamingWrite = new StreamingWrite {
      override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory =
        QueueWriterFactory(info.schema())
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

final case class QueueWriterFactory(schema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new QueueDataWriter(schema)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new QueueDataWriter(schema)
}

/** Per-row topic routing: each row names its destination topic — the
  * property the engine's single queue write relies on (retry tier vs DLQ vs
  * resq decided per record; KafkaDispatcher.java:76-110). */
class QueueDataWriter(schema: StructType) extends DataWriter[InternalRow] {
  private def idx(name: String): Int = schema.fieldNames.indexOf(name)
  private val topicI = idx("topic")
  private val keyI = idx("key")
  private val valueI = idx("value")
  private val partI = idx("partition")
  private val headersI = idx("headers")
  require(topicI >= 0 && valueI >= 0,
    s"graft-queue sink requires 'topic' and 'value' columns, got ${schema.fieldNames.mkString(",")}")

  override def write(row: InternalRow): Unit = {
    // mirror the Kafka sink's null-topic error rather than an opaque NPE:
    // a routing bug upstream should name itself
    if (row.isNullAt(topicI)) {
      val off = if (schema.fieldNames.contains("offset")) {
        val i = idx("offset"); if (!row.isNullAt(i)) s" (source offset ${row.getLong(i)})" else ""
      } else ""
      throw new IllegalStateException(
        s"graft-queue sink: null topic in row$off — topic column must be set for every record")
    }
    val topic = row.getUTF8String(topicI).toString
    val key = if (keyI >= 0 && !row.isNullAt(keyI)) row.getBinary(keyI) else null
    val value = if (row.isNullAt(valueI)) null else row.getBinary(valueI)
    val part =
      if (partI >= 0 && !row.isNullAt(partI)) Some(row.getInt(partI)) else None
    val headers: Seq[(String, Array[Byte])] =
      if (headersI >= 0 && !row.isNullAt(headersI)) {
        val arr = row.getArray(headersI)
        (0 until arr.numElements()).map { i =>
          val h = arr.getStruct(i, 2)
          (h.getUTF8String(0).toString, h.getBinary(1))
        }
      } else Nil
    GraftBroker.produce(topic, part, key, value, headers)
    ()
  }
  override def commit(): WriterCommitMessage = QueueCommitMessage
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

case object QueueCommitMessage extends WriterCommitMessage
