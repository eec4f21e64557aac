package graft.streaming

import graft.operators.SimilarityOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/**
 * Streaming incremental NEAR-dup dedup — the live twin of the q161 batch
 * operator (operators/SimilarityOps.scala), completing the twin set next to
 * StreamDedup (which covers q110's exact digests): arriving documents are
 * checked against yesterday's near-deduped SNAPSHOT and against each other,
 * never all-pairs against the corpus.
 *
 * Dataflow, stage by stage (q161's shape re-cut for micro-batches):
 *  1. STATELESS enrich: per arrival one native MinHash signature
 *     (plans/MinHashSig — the same one-pass expression the snapshot used),
 *     the q41 shingle set, and the banding projection — all codegen'd
 *     column work before any state.
 *  2. Snapshot probe, in one of TWO size-gated forms ([[probeFor]]):
 *      - [[BroadcastProbe]] (small snapshots): the capped band table as a
 *        driver map, embedded as a literal map lookup — zero per-batch
 *        planning, the fast path;
 *      - [[JoinProbe]] (beyond broadcast): the capped band table as a
 *        FRAME, and each micro-batch's arrival bands probe it by a
 *        stream-static (band, band_sig) LEFT equi-join — exactly the q161
 *        batch probe shape (SimilarityOps.scala oldBuckets join), so a
 *        TB-scale snapshot shuffles on the band key instead of ever
 *        visiting the driver. Both forms attach the same `old_cands`
 *        column; NearDupStreamSpec proves stream ≡ batch on BOTH.
 *  3. ONE stateful op, keyed by (band, band_sig):
 *      - within-stream: group state holds the bucket's prior arrivals
 *        (id + shingle set), capped at MaxBucketSize (q41's no-signal
 *        rule), verified against the new arrival with TRUE Jaccard right
 *        in the operator — both shingle sets are already in hand. Once a
 *        bucket hits the cap the state (and every later verdict from the
 *        bucket) carries `overflow = true`: an over-cap bucket can no
 *        longer flag dups against its unretained members, so the contract
 *        break is SURFACED at runtime instead of silently degrading;
 *      - state is evicted by an EVENT-TIME TIMER once the watermark
 *        passes a bucket's horizon. The horizon is MONOTONE — max(previous
 *        horizon, batch max ts + delayMs) — so an out-of-order (but
 *        within-watermark) arrival can extend a bucket's retention but
 *        never shorten a horizon an earlier batch established. State is
 *        bounded by (bucket arrival rate × watermark horizon) ×
 *        MaxBucketSize, regardless of stream length (StateSoakSpec).
 *      The op is a `transformWithState` processor: one ValueState and ONE
 *      timer per bucket, at its horizon. When the horizon moves the old
 *      timer is deleted — a batch runs its input rows before its expired
 *      timers, so a stale timer would wipe the state that the same batch
 *      just extended. Requires the RocksDB state store provider.
 *  4. Jaccard verify of the snapshot candidates IN THE MICRO-BATCH
 *     ([[resolve]], called from foreachBatch): the arrival's shingles ride
 *     the operator output; the old side equi-joins the snapshot shingle
 *     frame on the candidate-id sliver (broadcast of the sliver, never the
 *     snapshot), then per-doc flags fold with q161's precedence —
 *     dup_vs_old beats dup_within beats kept.
 *
 * ORDERING CONTRACT. The stream's native semantics is FIRST-ARRIVAL-WINS:
 * an arrival is `dup_within` iff some band bucket already held a verified-
 * similar arrival when it was processed (batches in arrival order; within
 * one micro-batch, per bucket, rows process in doc_id order, so a single
 * batch is internally deterministic regardless of shuffle order). Two
 * flags are arrival-order-INVARIANT pointwise: `dup_vs_old` (it depends
 * only on the fixed snapshot) and therefore also the kept∪dup_within
 * complement. The kept/dup_within split among those is the greedy
 * first-arrival outcome — equal to batch q161's min-id-wins exactly when
 * arrivals replay in doc_id order (earlier = smaller), and equal for ANY
 * order when each bucket's verified-similarity components are cliques
 * whose members share `dup_vs_old` status (one kept per clique either
 * way). NearDupStreamSpec asserts stream ≡ batch on ordered replays and
 * stream ≡ the first-arrival-wins ground truth on randomized replays.
 * The second replay precondition for exact batch parity is unchanged: no
 * arrival bucket exceeds MaxBucketSize (batch drops over-cap buckets
 * retroactively; a stream can only cap the prefix — and now says so via
 * the overflow flag).
 */
object NearDupStream {

  /** How arrival bands look up the snapshot's capped band table. */
  sealed trait SnapshotProbe
  /** Small-snapshot fast path: the table as a driver map, realized per
    * micro-batch as a BROADCAST-HASH-joined local frame — executors probe
    * a hash table in O(1) per band row. (A literal-map column lookup —
    * Catalyst's GetMapValue — LINEAR-SCANS the map per row, which at the
    * size gate's limit would be ~10⁶ comparisons per band row on the hot
    * path; the broadcast join is the probe the q161 batch uses, hinted.) */
  final case class BroadcastProbe(table: Map[(Int, String), Seq[Long]])
      extends SnapshotProbe
  /** Beyond-broadcast path: the capped band FRAME (band, band_sig,
    * old_ids); arrival bands stream-static-left-join it per micro-batch —
    * the q161 probe equi-join. The frame is probed every batch: pass it
    * persisted (probeFor does), or backed by the incrementally-maintained
    * band table a production snapshot keeps. */
  final case class JoinProbe(bands: DataFrame) extends SnapshotProbe

  /** One arrival × band row after the stateless enrich + snapshot probe. */
  final case class BandRow(
      doc_id: Long, ts: java.sql.Timestamp, band: Int, band_sig: String,
      shingles: Seq[String], old_cands: Seq[Long])

  /** A prior arrival held in bucket state: id + its verified shingle set.
    * `horizonMs` is the monotone eviction horizon and the time of the
    * bucket's one event-time timer; `overflowed` latches once the bucket
    * hit MaxBucketSize (members lost ⇒ within-bucket dup flags are
    * best-effort from then on). */
  final case class BucketMember(docId: Long, shingles: Seq[String])
  final case class BucketState(
      members: List[BucketMember], horizonMs: Long, overflowed: Boolean)

  /** Per (arrival, band) verdict leaving the stateful op: the within-stream
    * flag is already VERIFIED (both shingle sets were in hand); snapshot
    * candidates leave unverified for the micro-batch join ([[resolve]]).
    * Shingles ride along for that verify (4 bands/doc; a production trim
    * emits them only when old_cands is non-empty). `overflow` reports the
    * bucket's latched over-cap state. */
  final case class BandVerdict(
      doc_id: Long, ts: java.sql.Timestamp, has_prior: Boolean,
      old_cands: Seq[Long], shingles: Seq[String], overflow: Boolean)

  private def sigOf(docs: DataFrame): DataFrame = {
    import graft.plans.MinHashSig.minhash_sig
    docs.select(col("doc_id"),
      minhash_sig(col("text"), 5, SimilarityOps.NumHashes).as("sig"))
  }

  /** The snapshot's ROLLABLE band state — (band, band_sig, ids), over-cap
    * buckets KEPT as length-(cap+1) tombstones (SimilarityOps.bandState):
    * this is the table a daily pipeline persists between days and folds
    * each day's kept output into via [[rollSnapshot]], never rescanning
    * the old corpus. Serve a stream from it via [[probeFrameOf]]. */
  def snapshotBandState(snapshotDocs: DataFrame): DataFrame =
    SimilarityOps.bandState(sigOf(snapshotDocs))

  /** Fold a day's KEPT arrivals (doc_id, text) into the band state — one
    * (band, band_sig) outer merge of the day's banded ids against the
    * state; exact because smallest-(cap+1) is mergeable (q171's roll).
    * The old corpus is never rescanned: only the state rows and the
    * day's arrivals are touched. NearDupStreamSpec proves a stream served
    * from the rolled state ≡ one served from a full recompute over
    * (old ∪ kept). */
  def rollSnapshot(state: DataFrame, keptDocs: DataFrame): DataFrame =
    SimilarityOps.rollBandState(state, sigOf(keptDocs))

  /** The probe frame (band, band_sig, old_ids) a stream serves from a band
    * STATE: tombstones dropped, size-1 buckets kept — [[JoinProbe]]'s
    * input (persist it; it is probed every micro-batch). */
  def probeFrameOf(state: DataFrame): DataFrame =
    SimilarityOps.probeBuckets(state).withColumnRenamed("ids", "old_ids")

  /** The snapshot's capped band table as a FRAME — (band, band_sig,
    * old_ids), bucket member ids ascending, size-1 buckets KEPT (they are
    * the dup targets of a new copy), over-cap buckets dropped: exactly
    * q161's oldBuckets probe table. (The probe view of
    * [[snapshotBandState]] — compute the state instead when the table
    * must also ROLL forward.) */
  def snapshotBandFrame(snapshotDocs: DataFrame): DataFrame =
    probeFrameOf(snapshotBandState(snapshotDocs))

  private def rowsToTable(
      rows: Array[org.apache.spark.sql.Row]): Map[(Int, String), Seq[Long]] =
    rows.map(r => (r.getInt(0), r.getString(1)) ->
      r.getAs[scala.collection.Seq[Long]](2).toSeq).toMap

  /** The same table collected to a driver map (the broadcast form). */
  def snapshotBandTable(snapshotDocs: DataFrame): Map[(Int, String), Seq[Long]] =
    rowsToTable(snapshotBandFrame(snapshotDocs).collect())

  /** Size-gated probe selection: the broadcast fast path only when the
    * capped band table is small by BOTH measures — ≤ `maxBroadcastBuckets`
    * buckets AND ≤ `maxBroadcastBytes` of ESTIMATED payload (band_sig
    * chars + 8 bytes per member id + per-row overhead, summed in the same
    * aggregation job that counts the rows) — else the stream-static join
    * form over the PERSISTED frame (it is probed every micro-batch; the
    * stream owns the cache for its lifetime — release with
    * `bands.unpersist()` when the stream stops).
    *
    * DRIVER-MEMORY NOTE (why the byte gate exists): the broadcast form
    * collects the whole table into a driver Map and re-materializes it as
    * a local frame every micro-batch. A bucket-COUNT gate alone admits
    * ~10⁶ buckets × (a ~40-char sig + up to MaxBucketSize longs) —
    * hundreds of MB resident on the driver, an OOM long before the count
    * trips. The default 64 MB bound keeps the driver copy strictly small;
    * anything bigger takes the join path, which never visits the driver.
    *
    * The frame persists BEFORE the gate aggregation so that job
    * materializes it and the second consumer (collect, or the first
    * micro-batch's probe) reads cached blocks instead of recomputing the
    * whole snapshot signature pass. At a 100 TB snapshot the band table is
    * maintained incrementally and its size is already known, so the gate
    * costs nothing. Tests force the join form by passing 0 (the
    * minLabelComponents gate-seam pattern). */
  def probeFor(snapshotDocs: DataFrame,
               maxBroadcastBuckets: Long = 1L << 20,
               maxBroadcastBytes: Long = 64L << 20): SnapshotProbe = {
    val frame = snapshotBandFrame(snapshotDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one job yields both gate measures: row count + estimated bytes
    // (band int + sig chars + 8 B per member id + ~32 B object overhead)
    val gate = frame.agg(
      count(lit(1)).as("n"),
      coalesce(sum(length(col("band_sig")).cast("long") +
        size(col("old_ids")).cast("long") * 8L + 32L), lit(0L)).as("bytes"))
      .head()
    if (gate.getLong(0) <= maxBroadcastBuckets && gate.getLong(1) <= maxBroadcastBytes) {
      val table = rowsToTable(frame.collect())
      frame.unpersist(blocking = false)
      BroadcastProbe(table)
    } else JoinProbe(frame)
  }

  /** The snapshot shingle frame (doc_id, sh) for the micro-batch verify —
    * the q41 shingle definition, computed once and typically cached. */
  def snapshotShingles(snapshotDocs: DataFrame): DataFrame =
    snapshotDocs.select(col("doc_id"), SimilarityOps.charShingles.as("sh"))

  /** The stateless enrich: one MinHash signature + the q41 shingle set per
    * arrival, exploded to (doc_id, ts, shingles, band, band_sig) — exposed
    * so NearDupStreamSpec derives its first-arrival-wins ground truth from
    * the EXACT projection the stream runs. */
  private[graft] def enriched(df: DataFrame, eventTimeCol: String): DataFrame =
    df
      .withColumn("sig", graft.plans.MinHashSig.minhash_sig(
        col("text"), 5, SimilarityOps.NumHashes))
      .withColumn("shingles", SimilarityOps.charShingles)
      .select(col("doc_id"), col(eventTimeCol).as("ts"), col("shingles"),
        posexplode(SimilarityOps.bandArrayExpr(SimilarityOps.BandSize)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_sig")

  private def emptyLongArray: Column = expr("CAST(array() AS ARRAY<BIGINT>)")

  /** Stages 1–3: enrich arrivals (`doc_id`, `text`, event time), band them,
    * attach snapshot candidates via `probe`, and run the keyed stateful op.
    * `delayMs` is both the watermark delay and the bucket-state eviction
    * horizon. `df` must be streaming: the event-time timers need its
    * watermark (q161 is the batch form). */
  def bandVerdicts(df: DataFrame, probe: SnapshotProbe,
                   eventTimeCol: String, delayMs: Long): Dataset[BandVerdict] = {
    require(df.isStreaming, "bandVerdicts needs a streaming DataFrame; q161 is the batch form")
    val spark = df.sparkSession
    import spark.implicits._
    val bands = enriched(df.withWatermark(eventTimeCol, s"$delayMs milliseconds"), eventTimeCol)
    // both probe forms attach the SAME old_cands column (empty when the
    // bucket is absent) via the SAME left equi-join on (band, band_sig) —
    // the q161 batch probe shape — differing only in the broadcast hint:
    // the small form hash-joins a driver-built local frame (O(1) probes
    // on executors), the large form shuffle-joins the persisted snapshot
    // frame. The watermark tag on ts survives the join, and the stateful
    // op below is probe-form-agnostic.
    def attach(frame: DataFrame, hint: DataFrame => DataFrame): DataFrame =
      bands.join(hint(frame), Seq("band", "band_sig"), "left_outer")
        .withColumn("old_cands", coalesce(col("old_ids"), emptyLongArray))
    val withCands = probe match {
      case BroadcastProbe(table) =>
        import spark.implicits._
        attach(table.toSeq.map { case ((b, s), ids) => (b, s, ids) }
          .toDF("band", "band_sig", "old_ids"), broadcast)
      case JoinProbe(frame) => attach(frame, identity)
    }
    withCands
      .select(col("doc_id"), col("ts"), col("band"), col("band_sig"),
        col("shingles"), col("old_cands"))
      .as[BandRow]
      .groupByKey(r => (r.band, r.band_sig))
      .transformWithState(new BucketProcessor(delayMs), TimeMode.EventTime(), OutputMode.Append())
  }

  final class BucketProcessor(delayMs: Long)
      extends StatefulProcessor[(Int, String), BandRow, BandVerdict] {

    @transient private var bucket: ValueState[BucketState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getValueState[BucketState](
        "bucket", Encoders.product[BucketState], TTLConfig.NONE)

    override def handleInputRows(
        key: (Int, String),
        rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[BandVerdict] = {
      // within one micro-batch the bucket processes in doc_id order (batch-
      // internal determinism regardless of shuffle order); across batches
      // the contract is first-arrival-wins (scaladoc above)
      val sorted = rows.toIndexedSeq.sortBy(_.doc_id)
      val prior = Option.when(bucket.exists())(bucket.get())
      var members = prior.fold(List.empty[BucketMember])(_.members)
      var overflowed = prior.exists(_.overflowed)
      val out = sorted.map { r =>
        val sh = r.shingles.toSet
        // TRUE Jaccard vs prior bucket mates — q161's integer gate
        val hasPrior = members.exists { m =>
          val inter = m.shingles.count(sh.contains)
          inter * 2 >= m.shingles.size + sh.size - inter
        }
        if (members.size < SimilarityOps.MaxBucketSize)
          members = BucketMember(r.doc_id, r.shingles) :: members
        else overflowed = true // member lost: within-bucket flags degrade — say so
        BandVerdict(r.doc_id, r.ts, hasPrior, r.old_cands, r.shingles, overflowed)
      }
      // MONOTONE eviction horizon: a late (within-watermark) batch may
      // extend retention but never pull an established horizon earlier
      val horizon = math.max(prior.fold(Long.MinValue)(_.horizonMs),
        sorted.map(_.ts.getTime).max + delayMs)
      if (!prior.exists(_.horizonMs == horizon)) {
        // one timer per bucket: move it to the new horizon
        prior.foreach(p => getHandle.deleteTimer(p.horizonMs))
        getHandle.registerTimer(horizon)
      }
      bucket.update(BucketState(members, horizon, overflowed))
      out.iterator
    }

    override def handleExpiredTimer(
        key: (Int, String),
        timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[BandVerdict] = {
      bucket.clear()
      Iterator.empty
    }
  }

  /** Stage 4, inside foreachBatch: verify the micro-batch's snapshot
    * candidates with true Jaccard against the snapshot shingle frame and
    * fold per-doc flags with q161's precedence. Returns one row per
    * arrival: (doc_id, ts, status ∈ kept | dup_vs_old | dup_within,
    * bucket_overflow — true iff any of the arrival's buckets had
    * overflowed, i.e. its status is best-effort). */
  def resolve(batch: DataFrame, snapshotSh: DataFrame): DataFrame = {
    val perDoc = batch.groupBy("doc_id", "ts").agg(
      (max(when(col("has_prior"), 1L).otherwise(0L)) === 1L).as("has_prior"),
      array_distinct(flatten(collect_list(col("old_cands")))).as("old_cands"),
      first(col("shingles")).as("sh"), // identical across a doc's band rows
      (max(when(col("overflow"), 1L).otherwise(0L)) === 1L).as("bucket_overflow"))
    // candidate sliver → broadcast into the snapshot shingle frame: the
    // join ships the (few) candidates to the (large) snapshot side, never
    // the reverse, and only candidate old docs get their shingles read
    val pairs = perDoc.filter(size(col("old_cands")) > 0)
      .select(col("doc_id"), col("sh"), explode(col("old_cands")).as("old_id"))
    val verified = snapshotSh
      .withColumnRenamed("doc_id", "old_id").withColumnRenamed("sh", "old_sh")
      .join(broadcast(pairs), Seq("old_id"))
      .withColumn("inter", size(array_intersect(col("sh"), col("old_sh"))).cast("long"))
      .filter(col("inter") * lit(2L) >=
        size(col("sh")).cast("long") + size(col("old_sh")).cast("long") - col("inter"))
      .select("doc_id").distinct()
      .withColumn("has_old", lit(true))
    perDoc.join(verified, Seq("doc_id"), "left_outer")
      .withColumn("status",
        when(coalesce(col("has_old"), lit(false)), lit("dup_vs_old"))
          .when(col("has_prior"), lit("dup_within"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("ts"), col("status"), col("bucket_overflow"))
  }
}
