package graft

import graft.streaming.{IngestFunnel, NearDupStream}
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

case class FunnelArrival(doc_id: Long, source: String, text: String, ts: Timestamp)
case class FunnelVec(doc_id: Long, source: String, embedding: Seq[Double], ts: Timestamp)

/** The composed streaming daily-ingest funnel must reproduce batch q172
  * row for row on the same arrival batch: exact dedup → near-dup →
  * frozen-model IVF load → gram novelty, each stage a live StreamingQuery,
  * stage C served from the persisted model artifact, and stage A surviving
  * a checkpoint restart mid-replay. */
class IngestFunnelSpec extends AnyFunSuite {

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
  private val t0 = 1700000000000L

  private def docsDf = spark.read.parquet(s"$dir/documents.parquet")
    .select(col("doc_id"), col("text"), col("source"))

  test("streaming funnel ≡ batch q172 per source, stage by stage (restart included)") {
    val ops = graft.operators.SimilarityOps
    val snapshotDocs = docsDf.filter(col("doc_id") % 5 =!= 0)
    // batch reference: q172's per-source funnel row
    // (source, n_new, exact_dup_old, exact_dup_within, near_dup_old,
    //  near_dup_within, ingested, vecs_ingested, cells_touched,
    //  split_cells_hit, types_present, types_novel, novelty_permille)
    val q172 = SparkEntry.queries("q172_daily_increment")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap

    // ---------- stage A: exact dedup vs the snapshot digest bits ----------
    val bits = IngestFunnel.snapshotDigestBits(snapshotDocs, 1 << 16, 5)
    val arrivals = docsDf.filter(col("doc_id") % 5 === 0)
      .collect().sortBy(_.getLong(0)).zipWithIndex.map { case (r, i) =>
        FunnelArrival(r.getLong(0), r.getString(2), r.getString(1),
          new Timestamp(t0 + i * 100L))
      }
    val msA = MemoryStream[FunnelArrival](implicitly[Encoder[FunnelArrival]], spark.sqlContext)
    val (dupsLeg, survLeg) = IngestFunnel.exactStage(msA.toDF(), "ts", "1 hour", bits, 5)
    val dupRows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val survRows = scala.collection.mutable.ArrayBuffer.empty[FunnelArrival]
    val ckptDup = Files.createTempDirectory("funnel_a_dup").toString
    val ckptSurv = Files.createTempDirectory("funnel_a_surv").toString
    def startDup() = dupsLeg.writeStream.option("checkpointLocation", ckptDup)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        dupRows.synchronized {
          dupRows ++= b.select("doc_id", "source").collect()
            .map(r => (r.getLong(0), r.getString(1)))
        }; ()
      }.start()
    def startSurv() = survLeg.writeStream.option("checkpointLocation", ckptSurv)
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        survRows.synchronized {
          survRows ++= b.select("doc_id", "source", "text", "ts").collect()
            .map(r => FunnelArrival(r.getLong(0), r.getString(1), r.getString(2),
              r.getTimestamp(3)))
        }; ()
      }.start()
    val (chunk1, chunk2) = arrivals.splitAt(arrivals.length / 2)
    // chunk 1, then a "crash": the survivor leg restarts from its
    // checkpoint and must not re-emit or drop anything
    val qd1 = startDup(); val qs1 = startSurv()
    msA.addData(chunk1.toSeq); qd1.processAllAvailable(); qs1.processAllAvailable()
    qs1.stop()
    val qs2 = startSurv()
    msA.addData(chunk2.toSeq); qd1.processAllAvailable(); qs2.processAllAvailable()
    qd1.stop(); qs2.stop()

    val fedBySrc = arrivals.groupBy(_.source).view.mapValues(_.length.toLong).toMap
    val dupBySrc = dupRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val survBySrc = survRows.groupBy(_.source).view.mapValues(_.size.toLong).toMap
    q172.foreach { case (src, r) =>
      assert(fedBySrc(src) == r.getLong(1), s"$src n_new")
      assert(dupBySrc.getOrElse(src, 0L) == r.getLong(2), s"$src exact_dup_old")
      assert(fedBySrc(src) - dupBySrc.getOrElse(src, 0L) - survBySrc(src) ==
        r.getLong(3), s"$src exact_dup_within")
    }
    assert(survRows.map(_.doc_id).distinct.size == survRows.size,
      "the restart re-emitted survivors — checkpoint recovery is broken")

    // ---------- stage B: near-dup of the survivors (rolled-state probe form) ----------
    val probeFrame = NearDupStream.probeFrameOf(
      NearDupStream.snapshotBandState(snapshotDocs)).persist()
    val snapSh = NearDupStream.snapshotShingles(snapshotDocs).cache()
    val msB = MemoryStream[ArrivalDoc](implicitly[Encoder[ArrivalDoc]], spark.sqlContext)
    val statuses = scala.collection.concurrent.TrieMap.empty[Long, String]
    val qB = NearDupStream.bandVerdicts(msB.toDF(),
        NearDupStream.JoinProbe(probeFrame), "ts", 3600000L).writeStream
      .option("checkpointLocation", Files.createTempDirectory("funnel_b").toString)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], _: Long) =>
        NearDupStream.resolve(ds.toDF(), snapSh).collect()
          .foreach(r => statuses.put(r.getLong(0), r.getString(2))); ()
      }.start()
    val replayB = survRows.sortBy(_.doc_id).zipWithIndex
      .map { case (a, i) => ArrivalDoc(a.doc_id, a.text, new Timestamp(t0 + i * 100L)) }
    try { msB.addData(replayB.toSeq); qB.processAllAvailable() } finally qB.stop()

    val srcOf = docsDf.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bBySrc = statuses.toSeq.groupBy { case (id, _) => srcOf(id) }
    q172.foreach { case (src, r) =>
      val xs = bBySrc.getOrElse(src, Seq.empty)
      assert(xs.count(_._2 == "dup_vs_old").toLong == r.getLong(4), s"$src near_dup_old")
      assert(xs.count(_._2 == "dup_within").toLong == r.getLong(5), s"$src near_dup_within")
      assert(xs.count(_._2 == "kept").toLong == r.getLong(6), s"$src ingested")
    }
    val keptIds = statuses.collect { case (id, "kept") => id }.toSet

    // ---------- stage C: IVF load on the FROZEN artifact model ----------
    val (centDf, assignDf) =
      ops.storedIvfModel(spark, dir, "mod5ne0", _.filter(col("vec_id") % 5 =!= 0))
    val centroids = centDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
    val baseCounts = assignDf.groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().filter(r => keptIds.contains(r.getLong(0)))
      .sortBy(_.getLong(0)).zipWithIndex.map { case (r, i) =>
        FunnelVec(r.getLong(0), srcOf(r.getLong(0)), r.getSeq[Double](1).toSeq,
          new Timestamp(t0 + i * 100L))
      }
    assert(vecs.length == keptIds.size, "doc↔vector ids must be 1:1 on this testdata")
    val msC = MemoryStream[FunnelVec](implicitly[Encoder[FunnelVec]], spark.sqlContext)
    val outC = graft.streaming.IndexStream.windowedCellLoad(
      msC.toDF(), "ts", "1 hour", "1 minute", centroids, baseCounts,
      splitFactor = 2L, extraKeys = Seq("source"))
    val qC = outC.writeStream.format("memory").queryName("funnel_ivf")
      .outputMode("complete").start()
    val cRows =
      try {
        msC.addData(vecs.toSeq); qC.processAllAvailable()
        spark.sql("SELECT source, cell, n_new FROM funnel_ivf").collect()
          .map(r => (r.getString(0), r.getString(1).toInt, r.getLong(2)))
      } finally qC.stop()
    // q172's split rule on the stream's numbers: cells over 2x the
    // (base + new) mean, n_cells = cells present on either side
    val newByCell = cRows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val allCells = baseCounts.keySet ++ newByCell.keySet
    val totAll = baseCounts.values.sum + newByCell.values.sum
    val splitSet = allCells.filter(c =>
      (baseCounts.getOrElse(c, 0L) + newByCell.getOrElse(c, 0L)) * allCells.size > totAll * 2)
    q172.foreach { case (src, r) =>
      val mine = cRows.filter(_._1 == src)
      assert(mine.map(_._3).sum == r.getLong(7), s"$src vecs_ingested")
      assert(mine.map(_._2).distinct.length.toLong == r.getLong(8), s"$src cells_touched")
      assert(mine.map(_._2).distinct.count(splitSet).toLong == r.getLong(9),
        s"$src split_cells_hit")
    }

    // ---------- stage D: gram novelty vs the snapshot type set ----------
    val gramBits = IngestFunnel.snapshotGramBits(snapshotDocs, 1 << 21, 5)
    val keptArrivals = survRows.filter(a => keptIds.contains(a.doc_id))
      .sortBy(_.doc_id).zipWithIndex
      .map { case (a, i) => a.copy(ts = new Timestamp(t0 + i * 100L)) }
    val msD = MemoryStream[FunnelArrival](implicitly[Encoder[FunnelArrival]], spark.sqlContext)
    val outD = IngestFunnel.noveltyStage(msD.toDF(), "ts", "1 hour", gramBits, 5)
    val qD = outD.writeStream.format("memory").queryName("funnel_novelty")
      .outputMode("append").start()
    val dRows =
      try {
        msD.addData(keptArrivals.toSeq); qD.processAllAvailable()
        spark.sql("SELECT source, h, novel FROM funnel_novelty").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      } finally qD.stop()
    q172.foreach { case (src, r) =>
      val mine = dRows.filter(_._1 == src)
      assert(mine.length.toLong == r.getLong(10), s"$src types_present")
      assert(mine.count(_._3).toLong == r.getLong(11), s"$src types_novel")
    }

    probeFrame.unpersist(); snapSh.unpersist()
  }

  test("funnel handoffs ride graft-queue TOPICS: arrivals → A → survivors topic → B → kept topic → C/D, restart mid-funnel") {
    // the production wiring IngestFunnel's Scaladoc promises (stage
    // handoffs as topics through the graft-queue sink — the reference's
    // chained-consumer-jobs shape), exercised E2E: arrivals enter on a
    // topic, stage A's survivor leg WRITES a topic the DSv2 sink routes,
    // stage B consumes that topic and emits the kept docs to a third
    // topic, stages C and D consume THAT. Stage B is stopped and
    // restarted from its checkpoint mid-replay (after the first arrival
    // chunk) — offsets resume, nothing re-emits, and the q172
    // reconciliation must still hold per source at every stage.
    import graft.sources.GraftBroker
    val ops = graft.operators.SimilarityOps
    val snapshotDocs = docsDf.filter(col("doc_id") % 5 =!= 0)
    val q172 = SparkEntry.queries("q172_daily_increment")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val srcOf = docsDf.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    val run = java.util.UUID.randomUUID().toString.take(8)
    val tArr = s"funnel16-arrivals-$run"
    val tSurv = s"funnel16-survivors-$run"
    val tKept = s"funnel16-kept-$run"
    Seq(tArr, tSurv, tKept).foreach(GraftBroker.createTopic(_, 1))

    // the wire codec: one JSON document per record value (to_json handles
    // text escaping), event time carried as epoch millis
    val wireSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("source", "string")
      .add("text", "string").add("tsms", "long")
    def encode(df: org.apache.spark.sql.DataFrame, topic: String) =
      df.select(lit(topic).as("topic"),
        col("doc_id").cast("string").cast("binary").as("key"),
        to_json(struct(col("doc_id"), col("source"), col("text"),
          expr("unix_millis(ts)").as("tsms"))).cast("binary").as("value"))
    def decode(df: org.apache.spark.sql.DataFrame) =
      df.select(from_json(col("value").cast("string"), wireSchema).as("a"))
        .select(col("a.doc_id").as("doc_id"), col("a.source").as("source"),
          col("a.text").as("text"), expr("timestamp_millis(a.tsms)").as("ts"))

    // ---------- stage A: topic in, topics out ----------
    val bits = IngestFunnel.snapshotDigestBits(snapshotDocs, 1 << 16, 5)
    val srcA = decode(spark.readStream.format("graft-queue")
      .option("topics", tArr).option("startingoffsets", "earliest").load())
    val (dupsLeg, survLeg) = IngestFunnel.exactStage(srcA, "ts", "1 hour", bits, 5)
    val dupRows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val qDup = dupsLeg.writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("f16_dup").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        dupRows.synchronized {
          dupRows ++= b.select("doc_id", "source").collect()
            .map(r => (r.getLong(0), r.getString(1)))
        }; ()
      }.start()
    val qSurv = encode(survLeg, tSurv).writeStream.outputMode("append")
      .format("graft-queue")
      .option("checkpointLocation", Files.createTempDirectory("f16_surv").toString)
      .start()

    // ---------- stage B: consumes A's survivor topic, emits the kept topic ----------
    val probeFrame = NearDupStream.probeFrameOf(
      NearDupStream.snapshotBandState(snapshotDocs)).persist()
    val snapSh = NearDupStream.snapshotShingles(snapshotDocs).cache()
    val statuses = scala.collection.concurrent.TrieMap.empty[Long, String]
    val ckptB = Files.createTempDirectory("f16_b").toString
    val docsByIdDf = docsDf.select("doc_id", "source", "text") // kept-topic payload lookup
    // the standard idempotent-foreachBatch guard: a restarted query may
    // replay its last uncommitted epoch, and the kept-topic write must
    // not double-produce (the statuses map is naturally idempotent)
    val doneEpochs = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
    def startB() = NearDupStream.bandVerdicts(
        decode(spark.readStream.format("graft-queue")
          .option("topics", tSurv).option("startingoffsets", "earliest").load())
          .select("doc_id", "text", "ts"),
        NearDupStream.JoinProbe(probeFrame), "ts", 3600000L).writeStream
      .option("checkpointLocation", ckptB)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[NearDupStream.BandVerdict], epochId: Long) =>
        if (doneEpochs.putIfAbsent(epochId, true).isEmpty) {
          val resolved = NearDupStream.resolve(ds.toDF(), snapSh).collect()
          resolved.foreach(r => statuses.put(r.getLong(0), r.getString(2)))
          // the kept handoff: payloads re-attached (production would carry
          // them on the verdict topic), routed per-row by the DSv2 sink
          val keptIds = resolved.collect { case r if r.getString(2) == "kept" => r.getLong(0) }
          if (keptIds.nonEmpty) {
            encode(docsByIdDf
                .filter(col("doc_id").isin(keptIds: _*))
                .withColumn("ts", expr("timestamp_millis(1700000000000 + doc_id)")), tKept)
              .write.format("graft-queue").mode("append").save()
          }
        }
        ()
      }.start()

    // feed chunk 1 → process → STOP stage B (the mid-funnel crash) →
    // feed chunk 2 → restart B from its checkpoint → process the rest
    val arrivals = docsDf.filter(col("doc_id") % 5 === 0)
      .collect().sortBy(_.getLong(0)).zipWithIndex.map { case (r, i) =>
        FunnelArrival(r.getLong(0), r.getString(2), r.getString(1),
          new Timestamp(t0 + i * 100L))
      }
    val (chunk1, chunk2) = arrivals.splitAt(arrivals.length / 2)
    def produce(chunk: Array[FunnelArrival]): Unit =
      encode(chunk.toSeq.toDF(), tArr)
        .write.format("graft-queue").mode("append").save()
    val qB1 = startB()
    produce(chunk1)
    qDup.processAllAvailable(); qSurv.processAllAvailable(); qB1.processAllAvailable()
    qB1.stop() // crash between chunks: B's offsets live in its checkpoint
    val statusesAfterChunk1 = statuses.size
    produce(chunk2)
    qDup.processAllAvailable(); qSurv.processAllAvailable()
    val qB2 = startB()
    qB2.processAllAvailable()
    qDup.stop(); qSurv.stop(); qB2.stop()
    assert(statuses.size > statusesAfterChunk1,
      "the restarted stage B processed nothing after resuming its offsets")

    // ---------- reconcile stages A and B against batch q172 ----------
    val fedBySrc = arrivals.groupBy(_.source).view.mapValues(_.length.toLong).toMap
    val dupBySrc = dupRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val bBySrc = statuses.toSeq.groupBy { case (id, _) => srcOf(id) }
    q172.foreach { case (src, r) =>
      assert(fedBySrc(src) == r.getLong(1), s"$src n_new")
      assert(dupBySrc.getOrElse(src, 0L) == r.getLong(2), s"$src exact_dup_old")
      val xs = bBySrc.getOrElse(src, Seq.empty)
      assert(fedBySrc(src) - dupBySrc.getOrElse(src, 0L) - xs.size ==
        r.getLong(3), s"$src exact_dup_within")
      assert(xs.count(_._2 == "dup_vs_old").toLong == r.getLong(4), s"$src near_dup_old")
      assert(xs.count(_._2 == "dup_within").toLong == r.getLong(5), s"$src near_dup_within")
      assert(xs.count(_._2 == "kept").toLong == r.getLong(6), s"$src ingested")
    }

    // ---------- stages C and D consume the kept topic ----------
    val keptWire = decode(spark.read.format("graft-queue").option("topics", tKept).load())
      .localCheckpoint()
    val keptIds = keptWire.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == statuses.collect { case (id, "kept") => id }.toSet,
      "the kept topic's membership diverged from stage B's verdicts")

    // stage C: stream from the kept topic, vectors attached by a
    // stream-static equi-join against the embeddings table
    val (centDf, assignDf) =
      ops.storedIvfModel(spark, dir, "mod5ne0", _.filter(col("vec_id") % 5 =!= 0))
    val centroids = centDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
    val baseCounts = assignDf.groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val embStatic = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
    val srcC = decode(spark.readStream.format("graft-queue")
        .option("topics", tKept).option("startingoffsets", "earliest").load())
      .join(embStatic, Seq("doc_id")) // stream-static join, vectors never ride the topic
      .select("doc_id", "source", "embedding", "ts")
    val outC = graft.streaming.IndexStream.windowedCellLoad(
      srcC, "ts", "1 hour", "1 minute", centroids, baseCounts,
      splitFactor = 2L, extraKeys = Seq("source"))
    val qC = outC.writeStream.format("memory").queryName("funnel16_ivf")
      .option("checkpointLocation", Files.createTempDirectory("f16_c").toString)
      .outputMode("complete").start()
    val cRows =
      try {
        qC.processAllAvailable()
        spark.sql("SELECT source, cell, n_new FROM funnel16_ivf").collect()
          .map(r => (r.getString(0), r.getString(1).toInt, r.getLong(2)))
      } finally qC.stop()
    val newByCell = cRows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val allCells = baseCounts.keySet ++ newByCell.keySet
    val totAll = baseCounts.values.sum + newByCell.values.sum
    val splitSet = allCells.filter(c =>
      (baseCounts.getOrElse(c, 0L) + newByCell.getOrElse(c, 0L)) * allCells.size > totAll * 2)
    q172.foreach { case (src, r) =>
      val mine = cRows.filter(_._1 == src)
      assert(mine.map(_._3).sum == r.getLong(7), s"$src vecs_ingested")
      assert(mine.map(_._2).distinct.length.toLong == r.getLong(8), s"$src cells_touched")
      assert(mine.map(_._2).distinct.count(splitSet).toLong == r.getLong(9),
        s"$src split_cells_hit")
    }

    // stage D: novelty from the same kept topic
    val gramBits = IngestFunnel.snapshotGramBits(snapshotDocs, 1 << 21, 5)
    val srcD = decode(spark.readStream.format("graft-queue")
      .option("topics", tKept).option("startingoffsets", "earliest").load())
    val outD = IngestFunnel.noveltyStage(srcD, "ts", "1 hour", gramBits, 5)
    val qD = outD.writeStream.format("memory").queryName("funnel16_novelty")
      .option("checkpointLocation", Files.createTempDirectory("f16_d").toString)
      .outputMode("append").start()
    val dRows =
      try {
        qD.processAllAvailable()
        spark.sql("SELECT source, h, novel FROM funnel16_novelty").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      } finally qD.stop()
    q172.foreach { case (src, r) =>
      val mine = dRows.filter(_._1 == src)
      assert(mine.length.toLong == r.getLong(10), s"$src types_present")
      assert(mine.count(_._3).toLong == r.getLong(11), s"$src types_novel")
    }

    probeFrame.unpersist(); snapSh.unpersist()
  }

  test("stage A accounts for its drops: bloom hits labeled, repeats deduped") {
    // the natural sf0.001 arrival batch has no exact dups (q110 reports
    // zero), so the drop legs are pinned on an AUGMENTED replay: two
    // snapshot texts re-sent under fresh ids (bloom-dropped → the dup
    // leg) and one arrival re-sent (watermark-deduped → in neither leg)
    val snapshotDocs = docsDf.filter(col("doc_id") % 5 =!= 0)
    val bits = IngestFunnel.snapshotDigestBits(snapshotDocs, 1 << 16, 5)
    val snapTexts = snapshotDocs.orderBy("doc_id").limit(2)
      .collect().map(_.getString(1))
    val fresh = docsDf.filter(col("doc_id") % 5 === 0).orderBy("doc_id").limit(3)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(1)))
    val feed = Seq(
      FunnelArrival(900001L, "srcX", snapTexts(0), new Timestamp(t0)),
      FunnelArrival(900002L, "srcX", snapTexts(1), new Timestamp(t0 + 100))) ++
      fresh.zipWithIndex.map { case ((id, src, tx), i) =>
        FunnelArrival(id, src, tx, new Timestamp(t0 + 200 + i * 100L)) } :+
      FunnelArrival(900003L, fresh(0)._2, fresh(0)._3, new Timestamp(t0 + 900)) // repeat
    val ms = MemoryStream[FunnelArrival](implicitly[Encoder[FunnelArrival]], spark.sqlContext)
    val (dups, surv) = IngestFunnel.exactStage(ms.toDF(), "ts", "1 hour", bits, 5)
    val dupIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val survIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q1 = dups.writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("funnel_aug_d").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        dupIds.synchronized { dupIds ++= b.select("doc_id").collect().map(_.getLong(0)) }; ()
      }.start()
    val q2 = surv.writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("funnel_aug_s").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        survIds.synchronized { survIds ++= b.select("doc_id").collect().map(_.getLong(0)) }; ()
      }.start()
    try {
      ms.addData(feed); q1.processAllAvailable(); q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }
    assert(dupIds.sorted.toSeq == Seq(900001L, 900002L),
      s"bloom leg should hold exactly the re-sent snapshot texts, got $dupIds")
    assert(survIds.sorted.toSeq == fresh.map(_._1).sorted.toSeq,
      s"survivors should be the fresh arrivals once each, got $survIds")
  }
}
