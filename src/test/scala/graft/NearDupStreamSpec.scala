package graft

import graft.streaming.NearDupStream
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

case class ArrivalDoc(doc_id: Long, text: String, ts: Timestamp)

/** The streaming LSH near-dup twin must reproduce batch q161 exactly on
  * replayed arrivals — across a checkpoint restart, under BOTH snapshot
  * probe forms (driver-map broadcast and the beyond-broadcast stream-static
  * band join) — implement first-arrival-wins under randomized arrival
  * order, hold bounded state (event-time eviction with a monotone horizon),
  * and surface bucket overflow instead of silently degrading. */
class NearDupStreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def docsDf = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"), col("source"))

  /** Replay the sf0.001 arrivals (doc_id-ordered, in thirds, with a
    * checkpoint restart after the second third) through the stream under
    * `mkProbe`'s snapshot form, and assert the per-source rollup equals
    * batch q161 exactly. */
  private def runParity(mkProbe: org.apache.spark.sql.DataFrame => NearDupStream.SnapshotProbe): Unit = {
    val ops = graft.operators.SimilarityOps

    // replay preconditions (see NearDupStream scaladoc): batch q161 drops
    // over-cap ARRIVAL buckets retroactively, a stream can only cap the
    // prefix — equal only when no arrival bucket exceeds the cap
    val arrivalSig = ops.q41Sig(spark, dir).filter(col("doc_id") % 5 === 0)
    val biggest = ops.bandedSigs(arrivalSig, ops.BandSize)
      .groupBy("band", "band_sig").agg(count(lit(1)).as("sz"))
      .agg(max("sz")).head().getLong(0)
    assert(biggest <= ops.MaxBucketSize,
      s"an arrival bucket of size $biggest exceeds the cap — stream ≡ batch " +
        "is not exact at this data scale")

    val snapshotDocs = docsDf.filter(col("doc_id") % 5 =!= 0)
    val probe = mkProbe(snapshotDocs)
    val snapSh = NearDupStream.snapshotShingles(snapshotDocs).cache()

    // arrivals replayed in doc_id order (min-id-wins ≡ first-arrival-wins)
    val arrivals = docsDf.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text", "source").collect()
      .sortBy(_.getLong(0))
    val srcOf = arrivals.map(r => r.getLong(0) -> r.getString(2)).toMap
    val t0 = 1700000000000L
    val replay = arrivals.zipWithIndex.map { case (r, i) =>
      ArrivalDoc(r.getLong(0), r.getString(1), new Timestamp(t0 + i * 1000L))
    }
    val thirds = replay.grouped(math.max(replay.length / 3 + 1, 1)).toSeq

    val ckpt = Files.createTempDirectory("neardup_ckpt_").toString
    val results = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, String, Boolean)]]
    val ms = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
    val verdicts = NearDupStream.bandVerdicts(ms.toDF(), probe, "ts", 3600000L)
    def startQuery() = verdicts.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], id: Long) =>
        results(id) = NearDupStream.resolve(ds.toDF(), snapSh).collect()
          .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
      }
      .start()

    val q1 = startQuery()
    try {
      ms.addData(thirds(0).toSeq); q1.processAllAvailable()
      if (thirds.size > 1) { ms.addData(thirds(1).toSeq); q1.processAllAvailable() }
    } finally q1.stop()
    // restart from the checkpoint: committed batches must not re-emit,
    // bucket state must resume where it left off
    val q2 = startQuery()
    try {
      if (thirds.size > 2) thirds.drop(2).foreach { b =>
        ms.addData(b.toSeq); q2.processAllAvailable()
      }
      else q2.processAllAvailable()
    } finally q2.stop()

    // batchIds are unique; a replayed batch overwrites its own slot, so
    // the union is exactly one verdict per arrival
    val flat = results.values.flatten.toSeq
    val statuses = flat.map(v => v._1 -> v._2).toMap
    assert(statuses.size == replay.length,
      s"${statuses.size} verdicts for ${replay.length} arrivals")
    // the cap precondition held, so no bucket may report overflow
    assert(!flat.exists(_._3), "bucket_overflow fired under the cap precondition")

    val streamRollup = statuses.toSeq
      .groupBy { case (id, _) => srcOf(id) }
      .map { case (src, xs) =>
        src -> (xs.size.toLong,
          xs.count(_._2 == "kept").toLong,
          xs.count(_._2 == "dup_vs_old").toLong,
          xs.count(_._2 == "dup_within").toLong)
      }
    val batch = SparkEntry.queries("q161_incremental_neardup")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(streamRollup.keySet == batch.keySet)
    streamRollup.foreach { case (src, counts) =>
      assert(counts == batch(src),
        s"$src: stream $counts != batch q161 ${batch(src)}")
    }
    // the twin must actually exercise both dup paths on this corpus
    assert(statuses.values.exists(_ == "dup_vs_old"), "no dup_vs_old fired")
    assert(statuses.values.exists(_ == "dup_within"), "no dup_within fired")
    snapSh.unpersist()
  }

  test("stream ≡ q161 batch on replayed arrivals, checkpoint restart included (broadcast probe)") {
    runParity { snap =>
      val p = NearDupStream.probeFor(snap)
      assert(p.isInstanceOf[NearDupStream.BroadcastProbe],
        "sf0.001 snapshot must gate to the driver-map fast path")
      p
    }
  }

  test("stream ≡ q161 batch under the stream-static band-join probe (beyond-broadcast form forced)") {
    runParity { snap =>
      // gate seam: 0 forces the beyond-broadcast form on a small snapshot
      val p = NearDupStream.probeFor(snap, maxBroadcastBuckets = 0L)
      assert(p.isInstanceOf[NearDupStream.JoinProbe],
        "maxBroadcastBuckets = 0 must force the stream-static join form")
      p
    }
  }

  test("day-2 stream served from the ROLLED day-1 output ≡ full-recompute probe (the daily loop)") {
    val ops = graft.operators.SimilarityOps
    // q171's day partition: base snapshot % 5 ∉ {0, 1}, day 1 = 0, day 2 = 1
    val baseDocs = docsDf.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
    // replay preconditions (stream ≡ batch) for BOTH arrival days
    Seq(0, 1).foreach { m =>
      val s = ops.q41Sig(spark, dir).filter(col("doc_id") % 5 === m)
      val biggest = ops.bandedSigs(s, ops.BandSize)
        .groupBy("band", "band_sig").agg(count(lit(1)).as("sz"))
        .agg(max("sz")).head().getLong(0)
      assert(biggest <= ops.MaxBucketSize,
        s"day-$m arrival bucket of size $biggest exceeds the cap")
    }

    def runDay(arr: Array[org.apache.spark.sql.Row], probe: NearDupStream.SnapshotProbe,
               snapSh: org.apache.spark.sql.DataFrame, tag: String): Map[Long, String] = {
      val t0 = 1700000000000L
      val replay = arr.sortBy(_.getLong(0)).zipWithIndex.map { case (r, i) =>
        ArrivalDoc(r.getLong(0), r.getString(1), new Timestamp(t0 + i * 1000L)) }
      val ckpt = Files.createTempDirectory(s"neardup_roll_$tag").toString
      val results = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, String)]]
      val ms = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
      val q = NearDupStream.bandVerdicts(ms.toDF(), probe, "ts", 3600000L).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], id: Long) =>
          results(id) = NearDupStream.resolve(ds.toDF(), snapSh).collect()
            .map(r => r.getLong(0) -> r.getString(2))
        }
        .start()
      try { ms.addData(replay.toSeq); q.processAllAvailable() } finally q.stop()
      results.values.flatten.toMap
    }

    // ---- day 1 against the base snapshot's ROLLABLE state ----
    val state0 = NearDupStream.snapshotBandState(baseDocs).localCheckpoint()
    val probe0Frame = NearDupStream.probeFrameOf(state0).persist()
    val snapSh0 = NearDupStream.snapshotShingles(baseDocs).cache()
    val day1 = docsDf.filter(col("doc_id") % 5 === 0).select("doc_id", "text").collect()
    val st1 = runDay(day1, NearDupStream.JoinProbe(probe0Frame), snapSh0, "d1")
    assert(st1.size == day1.length)
    val kept1Ids = st1.collect { case (id, "kept") => id }.toSet
    assert(kept1Ids.nonEmpty && kept1Ids.size < st1.size,
      s"degenerate day 1 (kept ${kept1Ids.size}/${st1.size}) — the roll would be untested")

    // ---- ROLL: the stream's own kept output becomes day 2's JoinProbe,
    // without rescanning the base corpus (only state rows + kept docs) ----
    val kept1Docs = docsDf.filter(col("doc_id") % 5 === 0)
      .filter(col("doc_id").isin(kept1Ids.toSeq: _*)).select("doc_id", "text")
    val state1 = NearDupStream.rollSnapshot(state0, kept1Docs).localCheckpoint()
    val probeRolledFrame = NearDupStream.probeFrameOf(state1).persist()
    val snap1Docs = baseDocs.select("doc_id", "text").unionByName(kept1Docs)
    val snapSh1 = NearDupStream.snapshotShingles(snap1Docs).cache()
    val day2 = docsDf.filter(col("doc_id") % 5 === 1).select("doc_id", "text").collect()
    val viaRoll = runDay(day2, NearDupStream.JoinProbe(probeRolledFrame), snapSh1, "d2r")

    // ---- reference: the probe RECOMPUTED from scratch over base ∪ kept1 ----
    val viaRecompute = runDay(day2, NearDupStream.probeFor(snap1Docs), snapSh1, "d2f")
    assert(viaRoll == viaRecompute,
      s"rolled-state verdicts diverged from recompute: " +
        s"${viaRoll.toSet.diff(viaRecompute.toSet).take(5)}")

    // ---- the whole two-day loop reconciles with batch q171 per source ----
    val srcOf = docsDf.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def rollup(st: Map[Long, String]) = st.toSeq
      .groupBy { case (id, _) => srcOf(id) }
      .map { case (s, xs) => s -> (xs.size.toLong,
        xs.count(_._2 == "kept").toLong,
        xs.count(_._2 == "dup_vs_old").toLong,
        xs.count(_._2 == "dup_within").toLong) }
    val batch = SparkEntry.queries("q171_snapshot_roll")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    rollup(st1).foreach { case (s, c) =>
      assert(batch((1L, s)) == c, s"day 1 $s: stream $c != q171 ${batch((1L, s))}") }
    rollup(viaRoll).foreach { case (s, c) =>
      assert(batch((2L, s)) == c, s"day 2 $s: stream $c != q171 ${batch((2L, s))}") }

    probe0Frame.unpersist(); probeRolledFrame.unpersist()
    snapSh0.unpersist(); snapSh1.unpersist()
  }

  test("randomized arrival order: first-arrival-wins ground truth; dup_vs_old is order-invariant") {
    val snapshotDocs = docsDf.filter(col("doc_id") % 5 =!= 0)
    val table = NearDupStream.snapshotBandTable(snapshotDocs)
    val snapSh = NearDupStream.snapshotShingles(snapshotDocs).cache()

    val arrivals = docsDf.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text").collect()
    val rnd = new scala.util.Random(20260815L)
    // shuffled doc ids; timestamps follow ARRIVAL order (monotone), so the
    // out-of-orderness under test is the id dimension the contract names
    val shuffled = rnd.shuffle(arrivals.toSeq)
    val t0 = 1700000000000L
    val replay = shuffled.zipWithIndex.map { case (r, i) =>
      ArrivalDoc(r.getLong(0), r.getString(1), new Timestamp(t0 + i * 1000L))
    }
    val batches = replay.grouped(math.max(replay.length / 3 + 1, 1)).toSeq

    val ckpt = Files.createTempDirectory("neardup_shuf_").toString
    val results = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, String)]]
    val ms = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
    val q = NearDupStream.bandVerdicts(
        ms.toDF(), NearDupStream.BroadcastProbe(table), "ts", 3600000L).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], id: Long) =>
        results(id) = NearDupStream.resolve(ds.toDF(), snapSh).collect()
          .map(r => r.getLong(0) -> r.getString(2))
      }
      .start()
    try batches.foreach { b => ms.addData(b.toSeq); q.processAllAvailable() }
    finally q.stop()
    val statuses = results.values.flatten.toMap
    assert(statuses.size == replay.length)

    // ---- ground truth: simulate the documented contract driver-side from
    // the stream's own enrich projection (bands + shingles) ----
    val bandRows = NearDupStream.enriched(
        docsDf.filter(col("doc_id") % 5 === 0)
          .withColumn("ts0", lit(new Timestamp(t0))), "ts0")
      .select("doc_id", "band", "band_sig", "shingles").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getString(2)),
        r.getAs[scala.collection.Seq[String]](3).toSet))
    val bandsOf = bandRows.groupBy(_._1)
      .map { case (id, xs) => id -> xs.map(x => (x._2, x._3)) }
    val oldSh = snapSh.collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[String]](1).toSet).toMap
    def similar(a: Set[String], b: Set[String]): Boolean = {
      val inter = a.count(b.contains)
      inter * 2 >= a.size + b.size - inter
    }
    // dup_vs_old is computable WITHOUT any arrival ordering — that is the
    // order-invariance claim: it depends only on the fixed snapshot
    val expectedOld = bandsOf.collect { case (id, bs)
      if bs.flatMap(x => table.getOrElse(x._1, Seq.empty)).distinct
        .exists(o => similar(bs.head._2, oldSh(o))) => id
    }.toSet
    // first-arrival-wins replay: batches in order; within a batch each
    // bucket processes its rows in doc_id order (the stream's batch-
    // internal determinism rule)
    val members = scala.collection.mutable.Map
      .empty[(Int, String), List[(Long, Set[String])]]
    val expectedPrior = scala.collection.mutable.Set.empty[Long]
    batches.foreach { b =>
      val perBucket = b.flatMap(a => bandsOf(a.doc_id).map(x => (x._1, a.doc_id, x._2)))
        .groupBy(_._1)
      perBucket.foreach { case (key, rows) =>
        var ms0 = members.getOrElse(key, Nil)
        rows.sortBy(_._2).foreach { case (_, id, sh) =>
          if (ms0.exists(m => similar(m._2, sh))) expectedPrior += id
          if (ms0.size < graft.operators.SimilarityOps.MaxBucketSize)
            ms0 = (id, sh) :: ms0
        }
        members(key) = ms0
      }
    }
    val expected = replay.map { a =>
      a.doc_id -> (if (expectedOld(a.doc_id)) "dup_vs_old"
                   else if (expectedPrior(a.doc_id)) "dup_within"
                   else "kept")
    }.toMap
    assert(statuses == expected,
      s"stream diverged from first-arrival-wins ground truth: " +
        s"${statuses.toSet.diff(expected.toSet).take(5)}")
    // both order-invariant sets hold pointwise
    assert(statuses.filter(_._2 == "dup_vs_old").keySet == expectedOld)
    assert(statuses.filter(_._2 != "dup_vs_old").keySet ==
      replay.map(_.doc_id).toSet -- expectedOld)
    snapSh.unpersist()
  }

  test("bucket state is evicted by event-time timeout (bounded state)") {
    val emptySnapshot = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val table = NearDupStream.snapshotBandTable(emptySnapshot)
    val snapSh = NearDupStream.snapshotShingles(emptySnapshot)
    assert(table.isEmpty)

    val dup = "the same near duplicate text body, long enough to shingle meaningfully"
    val other = "a completely different filler document advancing the watermark only"
    val d = 60000L // watermark = eviction horizon
    val t0 = 1700000000000L

    val ckpt = Files.createTempDirectory("neardup_evict_").toString
    val results = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, String)]]
    val ms = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
    val q = NearDupStream.bandVerdicts(
        ms.toDF(), NearDupStream.BroadcastProbe(table), "ts", d).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], id: Long) =>
        results(id) = NearDupStream.resolve(ds.toDF(), snapSh).collect()
          .map(r => r.getLong(0) -> r.getString(2))
      }
      .start()
    try {
      // same text within the horizon → dup_within (state alive)
      ms.addData(Seq(ArrivalDoc(1L, dup, new Timestamp(t0)))); q.processAllAvailable()
      ms.addData(Seq(ArrivalDoc(2L, dup, new Timestamp(t0 + 1000)))); q.processAllAvailable()
      // fillers push the watermark past the buckets' timeout; the second
      // filler's batch runs with that watermark and evicts the state
      ms.addData(Seq(ArrivalDoc(3L, other, new Timestamp(t0 + 3 * d)))); q.processAllAvailable()
      ms.addData(Seq(ArrivalDoc(4L,
        "unrelated second filler: entirely disjoint vocabulary keeps jaccard at zero",
        new Timestamp(t0 + 3 * d + 100))))
      q.processAllAvailable()
      // same text again, AFTER eviction → kept: the bucket forgot doc 1/2,
      // which is exactly the bounded-state contract
      ms.addData(Seq(ArrivalDoc(5L, dup, new Timestamp(t0 + 3 * d + 2000))))
      q.processAllAvailable()
    } finally q.stop()

    val statuses = results.values.flatten.toMap
    assert(statuses == Map(
      1L -> "kept", 2L -> "dup_within", 3L -> "kept", 4L -> "kept", 5L -> "kept"),
      s"got $statuses")
  }

  test("eviction horizon is monotone: a late within-watermark arrival cannot shorten it") {
    val emptySnapshot = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val table = NearDupStream.snapshotBandTable(emptySnapshot)
    val snapSh = NearDupStream.snapshotShingles(emptySnapshot)

    val dup = "the same near duplicate text body, long enough to shingle meaningfully"
    val d = 60000L
    val t0 = 1700000000000L

    val ckpt = Files.createTempDirectory("neardup_mono_").toString
    val results = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, String)]]
    val ms = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
    val q = NearDupStream.bandVerdicts(
        ms.toDF(), NearDupStream.BroadcastProbe(table), "ts", d).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], id: Long) =>
        results(id) = NearDupStream.resolve(ds.toDF(), snapSh).collect()
          .map(r => r.getLong(0) -> r.getString(2))
      }
      .start()
    try {
      // doc1 at t+100s establishes horizon t+160s (watermark → t+40s)
      ms.addData(Seq(ArrivalDoc(1L, dup, new Timestamp(t0 + 100000)))); q.processAllAvailable()
      // doc2 arrives LATE (event time t+50s, within watermark): it must
      // flag dup_within AND must not pull the horizon back to t+110s
      ms.addData(Seq(ArrivalDoc(2L, dup, new Timestamp(t0 + 50000)))); q.processAllAvailable()
      // fillers advance the watermark to t+120s — past the 110s horizon a
      // non-monotone implementation would have set, short of the real 160s
      ms.addData(Seq(ArrivalDoc(3L,
        "a completely different filler document advancing the watermark only",
        new Timestamp(t0 + 180000))))
      q.processAllAvailable()
      ms.addData(Seq(ArrivalDoc(4L,
        "unrelated second filler: entirely disjoint vocabulary keeps jaccard at zero",
        new Timestamp(t0 + 181000))))
      q.processAllAvailable()
      // the bucket must still remember docs 1/2 → dup_within
      ms.addData(Seq(ArrivalDoc(5L, dup, new Timestamp(t0 + 130000)))); q.processAllAvailable()
    } finally q.stop()

    val statuses = results.values.flatten.toMap
    assert(statuses == Map(
      1L -> "kept", 2L -> "dup_within", 3L -> "kept", 4L -> "kept", 5L -> "dup_within"),
      s"got $statuses — a 'kept' doc 5 means the late doc 2 shortened the horizon")
  }

  test("a horizon passing in the batch that extends the bucket keeps its new member") {
    val emptySnapshot = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val table = NearDupStream.snapshotBandTable(emptySnapshot)
    val snapSh = NearDupStream.snapshotShingles(emptySnapshot)

    val dup = "the same near duplicate text body, long enough to shingle meaningfully"
    val d = 60000L
    val t0 = 1700000000000L

    val ckpt = Files.createTempDirectory("neardup_sameb_").toString
    val results = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, String)]]
    val ms = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
    // without no-data batches the watermark a batch advances is first used
    // by the NEXT data batch, so one batch both expires the bucket's old
    // horizon and brings it a member — what a busy source does every
    // trigger, since data keeps the no-data batch from running
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val q = try NearDupStream.bandVerdicts(
        ms.toDF(), NearDupStream.BroadcastProbe(table), "ts", d).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], id: Long) =>
        results(id) = NearDupStream.resolve(ds.toDF(), snapSh).collect()
          .map(r => r.getLong(0) -> r.getString(2))
      }
      .start()
    finally spark.conf.unset(noData)
    try {
      // doc1 sets the bucket's horizon to t+60s
      ms.addData(Seq(ArrivalDoc(1L, dup, new Timestamp(t0)))); q.processAllAvailable()
      // a filler moves the watermark to t+120s, past that horizon
      ms.addData(Seq(ArrivalDoc(2L,
        "a completely different filler document advancing the watermark only",
        new Timestamp(t0 + 3 * d))))
      q.processAllAvailable()
      // doc3's batch runs at watermark t+120s: the old horizon expires in
      // the same batch that adds doc3 and moves the horizon to t+182s
      ms.addData(Seq(ArrivalDoc(3L, dup, new Timestamp(t0 + 2 * d + 2000))))
      q.processAllAvailable()
      // the bucket must still hold doc3 → dup_within
      ms.addData(Seq(ArrivalDoc(4L, dup, new Timestamp(t0 + 2 * d + 3000))))
      q.processAllAvailable()
    } finally q.stop()

    val statuses = results.values.flatten.toMap
    assert(statuses == Map(
      1L -> "kept", 2L -> "kept", 3L -> "dup_within", 4L -> "dup_within"),
      s"got $statuses — a 'kept' doc 4 means the expired timer wiped the bucket doc 3 extended")
  }

  test("an over-cap bucket surfaces bucket_overflow on every verdict past the cap") {
    val cap = graft.operators.SimilarityOps.MaxBucketSize
    val emptySnapshot = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val table = NearDupStream.snapshotBandTable(emptySnapshot)
    val snapSh = NearDupStream.snapshotShingles(emptySnapshot)

    val dup = "the same near duplicate text body, long enough to shingle meaningfully"
    val t0 = 1700000000000L
    val docs = (1 to cap + 2).map(i => ArrivalDoc(i.toLong, dup, new Timestamp(t0 + i * 1000L)))

    val ckpt = Files.createTempDirectory("neardup_ovfl_").toString
    val results = scala.collection.concurrent.TrieMap.empty[Long, Array[(Long, String, Boolean)]]
    val ms = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
    val q = NearDupStream.bandVerdicts(
        ms.toDF(), NearDupStream.BroadcastProbe(table), "ts", 3600000L).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], id: Long) =>
        results(id) = NearDupStream.resolve(ds.toDF(), snapSh).collect()
          .map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
      }
      .start()
    try { ms.addData(docs); q.processAllAvailable() } finally q.stop()

    val flat = results.values.flatten.toSeq
    assert(flat.size == docs.size)
    val overflowed = flat.filter(_._3).map(_._1).toSet
    // docs cap+1 and cap+2 arrive after the bucket filled: their verdicts
    // are best-effort and MUST say so; everything up to the cap is clean
    assert(overflowed == Set((cap + 1).toLong, (cap + 2).toLong),
      s"overflow flagged on $overflowed, expected docs ${cap + 1}/${cap + 2}")
    val statuses = flat.map(v => v._1 -> v._2).toMap
    assert(statuses(1L) == "kept")
    assert((2 to cap + 2).forall(i => statuses(i.toLong) == "dup_within"))
  }
}
