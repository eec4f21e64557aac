package graft

import graft.sources.{GraftBroker, GraftQueue, GraftQueueMicroBatchStream, GraftQueueOffset}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Connector-level units for the graft-queue DSv2 source: offset codec,
  * fetcher-level visibility gating, admission-control budgeting, and seek
  * policies — the pieces the E2E spec exercises only indirectly. */
class GraftQueueSpec extends AnyFunSuite {

  private def stream(opts: Map[String, String]) =
    new GraftQueueMicroBatchStream(new CaseInsensitiveStringMap(opts.asJava))

  test("offset JSON round-trips, multi-topic, deterministic key order") {
    val offs = Map(
      "b-topic" -> Map(1 -> 7L, 0 -> 3L),
      "a-topic" -> Map(0 -> 0L, 2 -> 123456789012L))
    val json = GraftQueue.offsetsToJson(offs)
    // topics and partitions serialize sorted -> stable checkpoint contents
    assert(json ==
      """{"a-topic":{"0":0,"2":123456789012},"b-topic":{"0":3,"1":7}}""")
    assert(GraftQueue.offsetsFromJson(json) == offs)
  }

  test("visibility delay caps end offsets at the first too-young record") {
    GraftBroker.reset()
    GraftBroker.createTopic("vis", 1)
    val now = 100000L
    GraftBroker.produce("vis", Some(0), null, "old1".getBytes, timestampMs = now - 5000)
    GraftBroker.produce("vis", Some(0), null, "old2".getBytes, timestampMs = now - 4000)
    GraftBroker.produce("vis", Some(0), null, "young".getBytes, timestampMs = now - 100)
    // head-gating: the too-young record BLOCKS everything after it, even
    // records that would themselves be old enough (offset order is the
    // delivery contract, like the reference's paused partition)
    GraftBroker.produce("vis", Some(0), null, "old3".getBytes, timestampMs = now - 9000)
    assert(GraftBroker.visibleEndOffsets("vis", 1000L, now) == Map(0 -> 2L))
    assert(GraftBroker.visibleEndOffsets("vis", 0L, now) == Map(0 -> 4L))
    // delay passes -> the gate opens for the whole tail
    assert(GraftBroker.visibleEndOffsets("vis", 1000L, now + 1000) == Map(0 -> 4L))
  }

  test("maxRows budget distributes proportionally and never exceeds available") {
    GraftBroker.reset()
    GraftBroker.createTopic("adm", 2)
    (0 until 30).foreach(i => GraftBroker.produce("adm", Some(0), null, s"a$i".getBytes))
    (0 until 10).foreach(i => GraftBroker.produce("adm", Some(1), null, s"b$i".getBytes))
    val s = stream(Map("topics" -> "adm"))
    val start = GraftQueueOffset(Map("adm" -> Map(0 -> 0L, 1 -> 0L)))
    val end = s.latestOffset(start, ReadLimit.maxRows(8L))
      .asInstanceOf[GraftQueueOffset].offsets("adm")
    val granted = end(0) + end(1)
    assert(granted <= 10L, s"grants $end overshot the 8-row budget beyond rounding")
    assert(end(0) > end(1), "larger backlog gets the larger share")
    assert(end(0) <= 30L && end(1) <= 10L)
    // no budget -> everything
    val all = s.latestOffset(start, ReadLimit.allAvailable())
      .asInstanceOf[GraftQueueOffset].offsets("adm")
    assert(all == Map(0 -> 30L, 1 -> 10L))
  }

  test("maxBytes caps each partition by summed key+value sizes, one record at least") {
    GraftBroker.reset()
    GraftBroker.createTopic("byt", 2)
    // partition 0: ten 102-byte records (2-byte key + 100-byte value);
    // partition 1: five 1,000-byte values with no key
    (0 until 10).foreach(i => GraftBroker.produce("byt", Some(0), s"k$i".getBytes, Array.fill[Byte](100)(1)))
    (0 until 5).foreach(_ => GraftBroker.produce("byt", Some(1), null, Array.fill[Byte](1000)(2)))
    val s = stream(Map("topics" -> "byt"))
    val start = GraftQueueOffset(Map("byt" -> Map(0 -> 0L, 1 -> 0L)))
    def ends(limit: ReadLimit): Map[Int, Long] =
      s.latestOffset(start, limit).asInstanceOf[GraftQueueOffset].offsets("byt")
    // each partition's scan stops at its first sum past the budget (1,020
    // and 2,000 bytes); the 1,000-byte budget splits in that proportion:
    // ~338 bytes -> three 102-byte records, ~662 bytes -> less than one
    // 1,000-byte record, which is still granted so the partition moves
    assert(ends(ReadLimit.maxBytes(1000L)) == Map(0 -> 3L, 1 -> 1L))
    // a budget that covers everything admits everything
    assert(ends(ReadLimit.maxBytes(6020L)) == Map(0 -> 10L, 1 -> 5L))
    // a budget below every record still moves each partition by one
    assert(ends(ReadLimit.maxBytes(1L)) == Map(0 -> 1L, 1 -> 1L))
    // from a later start only the records past it count
    val later = GraftQueueOffset(Map("byt" -> Map(0 -> 8L, 1 -> 5L)))
    assert(s.latestOffset(later, ReadLimit.maxBytes(150L)).asInstanceOf[GraftQueueOffset]
      .offsets("byt") == Map(0 -> 9L, 1 -> 5L))
  }

  test("read limit: rows alone stay a row limit; a byte cap joins as a composite that meets both") {
    GraftBroker.reset()
    GraftBroker.createTopic("cmp", 1)
    (0 until 40).foreach(i => GraftBroker.produce("cmp", Some(0), null, Array.fill[Byte](250)(i.toByte)))
    // no byte cap: the limit, and so the planning path, is the row cap alone
    assert(stream(Map("topics" -> "cmp", "maxoffsetspertrigger" -> "8")).getDefaultReadLimit ==
      ReadLimit.maxRows(8L))
    assert(stream(Map("topics" -> "cmp")).getDefaultReadLimit == ReadLimit.allAvailable())
    assert(stream(Map("topics" -> "cmp", "maxbytespertrigger" -> "1000")).getDefaultReadLimit ==
      ReadLimit.maxBytes(1000L))
    val both = stream(Map("topics" -> "cmp", "maxoffsetspertrigger" -> "8", "maxbytespertrigger" -> "1000"))
    assert(both.getDefaultReadLimit ==
      ReadLimit.compositeLimit(Array(ReadLimit.maxRows(8L), ReadLimit.maxBytes(1000L))))
    val start = GraftQueueOffset(Map("cmp" -> Map(0 -> 0L)))
    def end(s: GraftQueueMicroBatchStream): Long =
      s.latestOffset(start, s.getDefaultReadLimit).asInstanceOf[GraftQueueOffset].offsets("cmp")(0)
    assert(end(both) == 4L, "four 250-byte records fill the byte cap before the row cap")
    assert(end(stream(Map("topics" -> "cmp", "maxoffsetspertrigger" -> "3", "maxbytespertrigger" -> "1000"))) == 3L,
      "the row cap binds when it is the tighter one")
  }

  test("seek policies: earliest, latest, and committed-group resume") {
    GraftBroker.reset()
    GraftBroker.createTopic("seek", 1)
    (0 until 5).foreach(i => GraftBroker.produce("seek", Some(0), null, s"m$i".getBytes))
    GraftBroker.commitGroup("g1", Map(("seek", 0) -> 3L))
    def initial(start: String, group: String = "g1") =
      stream(Map("topics" -> "seek", "groupid" -> group, "startingoffsets" -> start))
        .initialOffset().asInstanceOf[GraftQueueOffset].offsets("seek")
    assert(initial("earliest") == Map(0 -> 0L))
    assert(initial("latest") == Map(0 -> 5L))
    assert(initial("group") == Map(0 -> 3L), "resume from the group's committed offset")
    // unknown group: no committed offsets -> earliest semantics
    assert(initial("group", "nobody") == Map(0 -> 0L))
  }

  test("timestamp seek: first-offset>=ts, high-watermark fallback, per-partition map") {
    GraftBroker.reset()
    GraftBroker.createTopic("tseek", 2)
    val base = 1000000L
    (0 until 3).foreach(i =>
      GraftBroker.produce("tseek", Some(0), null, s"a$i".getBytes, timestampMs = base + i * 100))
    (0 until 2).foreach(i =>
      GraftBroker.produce("tseek", Some(1), null, s"b$i".getBytes, timestampMs = base + i * 100))
    // offsetsForTimes contract: first offset with record ts >= query ts;
    // None when the timestamp is past every record
    assert(GraftBroker.offsetForTime("tseek", 0, base + 100).contains(1L))
    assert(GraftBroker.offsetForTime("tseek", 0, base + 101).contains(2L))
    assert(GraftBroker.offsetForTime("tseek", 0, base + 999).isEmpty)
    // global startingtimestamp resolves every partition
    val g = stream(Map("topics" -> "tseek", "startingtimestamp" -> (base + 100).toString))
    assert(g.initialOffset().asInstanceOf[GraftQueueOffset].offsets("tseek") ==
      Map(0 -> 1L, 1 -> 1L))
    // past-tail timestamp -> high watermark (BatchJobCreator.java:218-231
    // fallback: start at the log end, consume only future records)
    val hw = stream(Map("topics" -> "tseek", "startingtimestamp" -> (base + 999).toString))
    assert(hw.initialOffset().asInstanceOf[GraftQueueOffset].offsets("tseek") ==
      Map(0 -> 3L, 1 -> 2L))
    // per-partition timestamps; a subscribed partition missing from the map
    // fails loudly (Kafka's startingOffsetsByTimestampStrategy=error default)
    val pp = stream(Map("topics" -> "tseek",
      "startingoffsetsbytimestamp" -> s"""{"tseek":{"0":${base + 200},"1":$base}}"""))
    assert(pp.initialOffset().asInstanceOf[GraftQueueOffset].offsets("tseek") ==
      Map(0 -> 2L, 1 -> 0L))
    val bad = stream(Map("topics" -> "tseek",
      "startingoffsetsbytimestamp" -> s"""{"tseek":{"0":$base}}"""))
    val e = intercept[RuntimeException](bad.initialOffset())
    assert(e.getMessage.contains("tseek-1"))
  }

  test("batch read honors [start,end) bounds; start==end plans nothing") {
    GraftBroker.reset()
    GraftBroker.createTopic("bnd", 1)
    (0 until 4).foreach(i => GraftBroker.produce("bnd", Some(0), null, s"m$i".getBytes))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").getOrCreate()
    def read(start: Long, end: Long) = spark.read.format("graft-queue")
      .option("topics", "bnd")
      .option("startingoffsets", s"""{"bnd":{"0":$start}}""")
      .option("endingoffsets", s"""{"bnd":{"0":$end}}""")
      .load().select("value").collect().map(r => new String(r.getAs[Array[Byte]](0)))
    assert(read(1, 3).toSeq == Seq("m1", "m2"))
    assert(read(2, 2).isEmpty, "start==end is the purge degenerate case")
    // end clamps to the log's high watermark
    assert(read(3, 99).toSeq == Seq("m3"))
    // bounds RESTRICT partitions: an unlisted partition is not consumed
    // (the PartitionOffsetRanges contract, job_group.proto:111-115)
    GraftBroker.createTopic("bnd2", 2)
    (0 until 2).foreach(p => (0 until 3).foreach(i =>
      GraftBroker.produce("bnd2", Some(p), null, s"p$p-m$i".getBytes)))
    val restricted = spark.read.format("graft-queue")
      .option("topics", "bnd2")
      .option("startingoffsets", """{"bnd2":{"1":1}}""")
      .option("endingoffsets", """{"bnd2":{"1":3}}""")
      .load().select("value").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).toSet
    assert(restricted == Set("p1-m1", "p1-m2"),
      s"unlisted partition 0 must not be read, got $restricted")
  }

  test("latest start + visibility delay never regresses below the start offset") {
    GraftBroker.reset()
    GraftBroker.createTopic("clamp", 1)
    // three records, all younger than the 1h visibility delay
    (0 until 3).foreach(i => GraftBroker.produce("clamp", Some(0), null, s"m$i".getBytes))
    val s = stream(Map(
      "topics" -> "clamp", "startingoffsets" -> "latest",
      "visibilitydelays" -> "clamp:3600000"))
    // startingoffsets=latest seeks to the UNGATED log end (3); the gated
    // available end is 0 — the planned end must clamp to the start, not
    // regress the offset log below it
    val start = s.initialOffset().asInstanceOf[GraftQueueOffset]
    assert(start.offsets("clamp") == Map(0 -> 3L))
    val endAll = s.latestOffset(start, ReadLimit.allAvailable())
      .asInstanceOf[GraftQueueOffset].offsets("clamp")
    assert(endAll == Map(0 -> 3L), s"gated end must clamp to start, got $endAll")
    val endMax = s.latestOffset(start, ReadLimit.maxRows(5L))
      .asInstanceOf[GraftQueueOffset].offsets("clamp")
    assert(endMax == Map(0 -> 3L))
  }

  test("sink rejects a null topic value with a descriptive error") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("topic", StringType), StructField("value", BinaryType)))
    val w = new graft.sources.QueueDataWriter(schema)
    val e = intercept[IllegalStateException](
      w.write(new GenericInternalRow(Array[Any](null, "v".getBytes))))
    assert(e.getMessage.contains("null topic"))
  }

  test("stream commit advances consumer-group offsets; lag reflects them") {
    GraftBroker.reset()
    GraftBroker.createTopic("lagt", 2)
    (0 until 6).foreach(i => GraftBroker.produce("lagt", Some(i % 2), null, s"m$i".getBytes))
    val s = stream(Map("topics" -> "lagt", "groupid" -> "lg"))
    assert(GraftBroker.lag("lg", "lagt") == Map(0 -> 3L, 1 -> 3L))
    s.commit(GraftQueueOffset(Map("lagt" -> Map(0 -> 3L, 1 -> 1L))))
    assert(GraftBroker.lag("lg", "lagt") == Map(0 -> 0L, 1 -> 2L))
  }
}
