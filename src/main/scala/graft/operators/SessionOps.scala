package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Session/sequence analytics over the events stream + additional text and
 * vector operators with exact DuckDB oracles.
 */
object SessionOps {

  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  // ===========================================================
  // q16 — gap-based sessionization: a >30-minute silence starts a new
  // session; lag + running sum.
  // ===========================================================
  private val GapNs = 30L * 60 * 1000 * 1000 * 1000

  def q16Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > GapNs, 1).otherwise(0))
      .groupBy("user_id")
      .agg(
        sum("new_session").cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .withColumn("events_per_session",
        col("n_events").cast("double") / col("n_sessions"))
      .orderBy("user_id")
  }

  val q16Sql: String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id FROM events),
       | lagd AS (SELECT user_id, ts, event_id,
       |   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM e),
       | marks AS (SELECT user_id,
       |   CASE WHEN prev_ts IS NULL OR ts - prev_ts > $GapNs THEN 1 ELSE 0 END AS new_session
       |  FROM lagd)
       |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       | COUNT(*) AS n_events,
       | CAST(COUNT(*) AS DOUBLE) / SUM(new_session) AS events_per_session
       |FROM marks GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q36 — top-5 tokens per language (explode + count + windowed top-n):
  // the vocabulary-analysis primitive for corpus curation
  // ===========================================================
  def q36TopTokens(spark: SparkSession, dir: String): DataFrame = {
    val tokens = docs(spark, dir)
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("token"))
    val counts = tokens.groupBy("lang", "token").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("token"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("lang", "rank", "token", "n")
      .orderBy("lang", "rank")
  }

  val q36Sql: String =
    """WITH t AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      |  FROM documents),
      | c AS (SELECT lang, token, COUNT(*) AS n FROM t GROUP BY lang, token),
      | r AS (SELECT lang, token, n,
      |   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
      |  FROM c)
      |SELECT lang, rank, token, n FROM r WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q46 — IVF-style bucketed ANN (the scale path): coarse quantizer =
  // sign bits of the first 8 dimensions -> 256 buckets; probe only the
  // query's bucket. At 100 TB the bucket is the partition key: candidate
  // generation becomes an equi-join instead of a cross join.
  // ===========================================================
  def q46AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val bucketExpr = (0 until 8)
      .map(j => when(element_at(col("embedding"), j + 1) > 0.0f, 1 << j).otherwise(0))
      .reduce(_ + _)
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding"), bucketExpr.as("bucket"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("bucket"), col("v").as("qv"))
    val dot = graft.plans.ArrayDot.array_dot _
    val joined = e.join(queries, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", round(
        dot(col("v"), col("qv")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("qv"), col("qv")))), 6))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("qid", "bucket", "rank", "vec_id", "cos")
      .orderBy("qid", "rank")
  }

  val q46Sql: String = {
    val bucketSql = (0 until 8)
      .map(j => s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, $bucketSql AS bucket,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | q AS (SELECT vec_id AS qid, bucket, v AS qv FROM e WHERE vec_id < 20),
       | j AS (SELECT e.vec_id, q.qid, e.bucket,
       |   round(list_dot_product(e.v, q.qv) /
       |     (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
       |  FROM e JOIN q ON e.bucket = q.bucket WHERE e.vec_id <> q.qid),
       | r AS (SELECT qid, bucket, vec_id, cos,
       |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM j)
       |SELECT qid, bucket, rank, vec_id, cos FROM r WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q17 — stream-to-dimension enrichment: events joined to the customer
  // dimension (broadcast) -> per-segment traffic stats. The control-plane
  // "enrich the message stream with a small spec table" pattern.
  // ===========================================================
  def q17UserEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    events(spark, dir)
      .withColumn("c_custkey", col("user_id") + 1)
      .join(broadcast(customer), Seq("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct("user_id").as("users"),
        // exact decimal sum (order-independent), presented as DOUBLE: the
        // driver's canonicalization floats one side, so a DECIMAL output
        // hash-mismatches whenever the value has trailing zeros
        sum(col("value").cast("decimal(18,2)")).cast("decimal(30,4)").cast("double").as("total_value"))
      .orderBy("c_mktsegment", "event_type")
  }

  val q17Sql: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n,
      | COUNT(DISTINCT user_id) AS users,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(30,4)) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON c_custkey = user_id + 1
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q38 — end-to-end corpus curation: quality gate + language agreement +
  // fingerprint dedup (keep lowest doc_id) -> kept-corpus stats per lang.
  // Composes the training-data operators into one pipeline with one oracle.
  // ===========================================================
  def q38Curation(spark: SparkSession, dir: String): DataFrame = {
    // the SAME normalization/tokenization as the operators this pipeline
    // composes (TextOps.norm / wsTokenRe) — inlined copies drifted once
    val d = docs(spark, dir)
      .withColumn("ntext", TextOps.norm)
      .withColumn("tokens",
        graft.plans.WsTokenCount.ws_token_count(col("text")))
      .withColumn("fp", md5(col("ntext").cast("binary")))
      .withColumn("padded", concat(lit(" "), col("ntext"), lit(" ")))
      .withColumn("guess",
        when(col("padded").contains(" the ") || col("padded").contains(" and "), "en")
          .when(col("padded").contains(" der ") || col("padded").contains(" und "), "de")
          .when(col("padded").contains(" le ") || col("padded").contains(" et "), "fr")
          .when(col("padded").contains(" el ") || col("padded").contains(" los "), "es")
          .otherwise("unk"))
      .filter(col("tokens") >= 20) // quality gate
    val w = Window.partitionBy("fp").orderBy("doc_id")
    val kept = d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    kept.groupBy("lang")
      .agg(
        count(lit(1)).as("kept_docs"),
        sum("tokens").as("kept_tokens"),
        sum(when(col("guess") === col("lang"), 1).otherwise(0)).cast("long").as("lang_agreed"))
      .orderBy("lang")
  }

  val q38Sql: String =
    s"""WITH d AS (SELECT doc_id, lang,
      |  ${TextOps.normSql} AS ntext,
      |  CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+')) AS BIGINT) AS tokens
      | FROM documents),
      | f AS (SELECT *, md5(ntext) AS fp, ' ' || ntext || ' ' AS padded FROM d
      |  WHERE tokens >= 20),
      | g AS (SELECT *,
      |  CASE WHEN padded LIKE '% the %' OR padded LIKE '% and %' THEN 'en'
      |   WHEN padded LIKE '% der %' OR padded LIKE '% und %' THEN 'de'
      |   WHEN padded LIKE '% le %' OR padded LIKE '% et %' THEN 'fr'
      |   WHEN padded LIKE '% el %' OR padded LIKE '% los %' THEN 'es'
      |   ELSE 'unk' END AS guess,
      |  ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      | FROM f)
      |SELECT lang, COUNT(*) AS kept_docs, CAST(SUM(tokens) AS BIGINT) AS kept_tokens,
      | CAST(SUM(CASE WHEN guess = lang THEN 1 ELSE 0 END) AS BIGINT) AS lang_agreed
      |FROM g WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q19 — as-of (temporal) join: each message picks up the most recent
  // config row at or before its timestamp. Spark lacks a native as-of join;
  // the composable formulation is union-tag + last-non-null over an ordered
  // window — a single shuffle on the join key, no range explosion, which is
  // exactly how it scales to 100 TB. Oracle: DuckDB's native ASOF JOIN.
  // Config stream := every 199th event publishes quota = value.
  // ===========================================================
  def q19AsOfConfig(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val cfg = ev.filter(pmod(col("event_id"), lit(199)) === 0)
      .groupBy(col("event_type").as("topic"), col("ts"))
      .agg(max("value").as("quota"))
      .withColumn("kind", lit(0))
      .select("topic", "ts", "quota", "kind")
    val msgs = ev
      .select(col("event_type").as("topic"), col("ts"),
        lit(null).cast("double").as("quota"), lit(1).as("kind"))
    val w = Window.partitionBy("topic").orderBy("ts", "kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cfg.unionByName(msgs)
      .withColumn("eff_quota", last("quota", ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .groupBy("topic", "eff_quota")
      .agg(count(lit(1)).as("n"))
      .withColumn("eff_quota", coalesce(col("eff_quota"), lit(-1.0)))
      .orderBy("topic", "eff_quota")
  }

  val q19Sql: String =
    """WITH cfg AS (SELECT event_type AS topic, epoch_ns(ts) AS ts, MAX(value) AS quota
      |  FROM events WHERE event_id % 199 = 0 GROUP BY 1, 2),
      | m AS (SELECT event_type AS topic, epoch_ns(ts) AS ts FROM events),
      | j AS (SELECT m.topic, COALESCE(cfg.quota, -1.0) AS eff_quota
      |  FROM m ASOF LEFT JOIN cfg ON m.topic = cfg.topic AND m.ts >= cfg.ts)
      |SELECT topic, eff_quota, COUNT(*) AS n FROM j
      |GROUP BY topic, eff_quota ORDER BY topic, eff_quota""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q52 — RANGE (interval) join: each event matched to every config whose
  // validity window [start, start+1h) contains its timestamp. Spark has no
  // native range-join optimization — the naive formulation is a
  // BroadcastNestedLoopJoin that compares every (event, config) pair.
  //
  // Scale path (the standard bucketed-range-join rewrite): quantize time
  // into 1-hour buckets, explode each config into the (≤2) buckets its
  // window overlaps, bucket each event by its timestamp, equi-join on
  // (topic, bucket) — a plain shuffle/broadcast hash join — then verify the
  // exact range predicate. Join work scales with true overlap density, not
  // |events| × |configs|. An event lives in exactly one bucket, so no
  // dedup pass is needed. All bucket arithmetic is integer `div` on the
  // nanosecond longs — double division would lose precision above 2^53.
  // ===========================================================
  private val WindowNs = 3600000000000L // 1h validity window, in ns

  def q52RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val cfg = ev.filter(pmod(col("event_id"), lit(199)) === 0)
      .select(col("event_type").as("topic"), col("ts").as("start"),
        (col("ts") + WindowNs).as("end"), col("event_id").as("cfg_id"))
      .withColumn("bucket", explode(expr(
        s"sequence(start div ${WindowNs}L, (end - 1) div ${WindowNs}L)")))
    val evB = ev.select(col("event_type").as("topic"), col("ts"), col("event_id"))
      .withColumn("bucket", expr(s"ts div ${WindowNs}L"))
    evB.join(cfg, Seq("topic", "bucket"))
      .filter(col("ts") >= col("start") && col("ts") < col("end"))
      .groupBy("topic")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("event_id").as("n_matched_events"),
        countDistinct("cfg_id").as("n_live_configs"))
      .orderBy("topic")
  }

  val q52Sql: String =
    s"""WITH cfg AS (SELECT event_type AS topic, epoch_ns(ts) AS start,
       |  epoch_ns(ts) + ${WindowNs} AS "end", event_id AS cfg_id
       | FROM events WHERE event_id % 199 = 0),
       | e AS (SELECT event_type AS topic, epoch_ns(ts) AS ts, event_id FROM events),
       | j AS (SELECT e.topic, e.event_id, cfg.cfg_id FROM e JOIN cfg
       |  ON e.topic = cfg.topic AND e.ts >= cfg.start AND e.ts < cfg."end")
       |SELECT topic, COUNT(*) AS n_pairs,
       | COUNT(DISTINCT event_id) AS n_matched_events,
       | COUNT(DISTINCT cfg_id) AS n_live_configs
       |FROM j GROUP BY topic ORDER BY topic""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q61 — event-time interval join (batch form of streaming/StreamJoin):
  // each click pairs with the SAME user's purchases landing within 5
  // minutes after it — the conversion-funnel / request-ack latency
  // pattern. Uses the exact same operator the live path uses
  // (StreamJoin.intervalJoin); on batch frames it degrades to a shuffle
  // join with the interval predicate. Timestamps go through
  // timestamp_micros (the corpus is micro-precision), so latency math is
  // integer-exact: the only double op is the final sum/count divide.
  // ===========================================================
  def q61IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("click_ts"),
        col("event_id").as("click_id"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("buy_ts"),
        col("event_id").as("buy_id"))
    graft.streaming.StreamJoin.intervalJoin(
        clicks, buys, Seq("user_id"), "click_ts", "buy_ts",
        "1 minute", "1 minute", "5 minutes")
      .withColumn("lat_us", unix_micros(col("buy_ts")) - unix_micros(col("click_ts")))
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(col("click_id")).as("n_clicks_converted"),
        max("lat_us").as("max_lat_us"),
        (sum("lat_us").cast("double") / (count(lit(1)) * 1000000L)).as("avg_lat_sec"))
      .orderBy("cohort")
  }

  val q61Sql: String =
    """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      | b AS (SELECT user_id, ts AS buy_ts, event_id AS buy_id
      |  FROM events WHERE event_type = 'purchase'),
      | j AS (SELECT c.user_id, click_id, buy_id,
      |   epoch_us(buy_ts) - epoch_us(click_ts) AS lat_us
      |  FROM c JOIN b ON c.user_id = b.user_id
      |   AND buy_ts >= click_ts AND buy_ts <= click_ts + INTERVAL 5 MINUTE)
      |SELECT user_id % 10 AS cohort, COUNT(*) AS n_pairs,
      | CAST(COUNT(DISTINCT click_id) AS BIGINT) AS n_clicks_converted,
      | CAST(MAX(lat_us) AS BIGINT) AS max_lat_us,
      | CAST(SUM(lat_us) AS DOUBLE) / (COUNT(*) * 1000000) AS avg_lat_sec
      |FROM j GROUP BY cohort ORDER BY cohort""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q84 — ordered funnel analysis (view → click → purchase): how many
  // users progress through each stage IN ORDER, and how long the full
  // funnel takes. Executed as staged conditional aggregations — stage N's
  // frame is (user, tN), and stage N+1 filters the raw events against it
  // with ts > tN before taking min(ts) — never a per-user sorted event
  // array (collect_list + sort would materialize every user's history in
  // one reducer; a power user with 10M events OOMs it). Every frame is
  // keyed by user_id, so the three joins reuse one hash partitioning; at
  // 100 TB this is three co-partitioned shuffles over shrinking frames.
  // Funnel lag is exact integer micros, summed and divided once.
  // ===========================================================
  def q84Funnel(spark: SparkSession, dir: String): DataFrame = {
    // MICROSECOND grain, explicitly: the parquet timestamps are NANOS,
    // which Spark reads in full while DuckDB truncates to its µs TIMESTAMP
    // — comparing at ns grain diverges in the sub-µs digits. Funnel
    // ordering at µs is the same contract the reference's latency
    // bookkeeping uses.
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts DIV 1000").as("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = ev.join(t1, "user_id")
      .filter(col("event_type") === "click" && col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"), first("t1").as("t1"))
    val t3 = ev.join(t2, "user_id")
      .filter(col("event_type") === "purchase" && col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"), first("t1").as("t1"))
    val n0 = ev.agg(countDistinct("user_id").as("n_users"))
    val n1 = t1.agg(count(lit(1)).as("n_view"))
    val n2 = t2.agg(count(lit(1)).as("n_view_click"))
    val n3 = t3.agg(count(lit(1)).as("n_full_funnel"),
      expr("CAST(SUM(t3 - t1) DIV COUNT(*) AS BIGINT)").as("avg_funnel_us"))
    n0.crossJoin(n1).crossJoin(n2).crossJoin(n3)
  }

  val q84Sql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
      | t1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY user_id),
      | t2 AS (SELECT ev.user_id, MIN(ev.ts) AS t2, ANY_VALUE(t1.t1) AS t1
      |  FROM ev JOIN t1 ON ev.user_id = t1.user_id
      |  WHERE ev.event_type = 'click' AND ev.ts > t1.t1 GROUP BY ev.user_id),
      | t3 AS (SELECT ev.user_id, MIN(ev.ts) AS t3, ANY_VALUE(t2.t1) AS t1
      |  FROM ev JOIN t2 ON ev.user_id = t2.user_id
      |  WHERE ev.event_type = 'purchase' AND ev.ts > t2.t2 GROUP BY ev.user_id)
      |SELECT (SELECT COUNT(DISTINCT user_id) FROM ev) AS n_users,
      | (SELECT COUNT(*) FROM t1) AS n_view,
      | (SELECT COUNT(*) FROM t2) AS n_view_click,
      | (SELECT COUNT(*) FROM t3) AS n_full_funnel,
      | (SELECT CAST(SUM(t3 - t1) // COUNT(*) AS BIGINT) FROM t3) AS avg_funnel_us""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q91 — cohort retention: users grouped by first-activity week, tracked
  // by distinct activity in each subsequent week — the standard retention
  // matrix. Week indices are integer event-time arithmetic (nanos DIV
  // nanos-per-week), the cohort frame is one min-aggregation per user, and
  // the activity frame joins it ON user_id — both frames are user-keyed,
  // so the join reuses one hash partitioning (no global calendar scaffold,
  // no per-user arrays). countDistinct collapses repeat activity AFTER
  // the (cohort, offset) shuffle — map-side partial distinct keeps it
  // linear.
  // ===========================================================
  val WeekNanos = 604800000000000L

  def q91CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan: the cohort week is a window min over the distinct
    // (user, week) frame — a separate cohort aggregation would rescan and
    // re-shuffle the events
    val act = events(spark, dir)
      .select(col("user_id"), expr(s"ts DIV $WeekNanos").as("wk"))
      .distinct()
    act
      .withColumn("cohort_wk", min("wk").over(Window.partitionBy("user_id")))
      .withColumn("offset", col("wk") - col("cohort_wk"))
      .groupBy("cohort_wk", "offset")
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort_wk", "offset")
  }

  val q91Sql: String =
    s"""WITH ev AS (SELECT user_id, epoch_ns(ts) // $WeekNanos AS wk FROM events),
       | cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
       | act AS (SELECT DISTINCT user_id, wk FROM ev)
       |SELECT cohort_wk, wk - cohort_wk AS "offset", COUNT(DISTINCT act.user_id) AS n_active
       |FROM act JOIN cohort ON act.user_id = cohort.user_id
       |GROUP BY cohort_wk, "offset" ORDER BY cohort_wk, "offset"""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q92 — behavioral transition matrix: first-order Markov counts over
  // each user's event sequence (gap-capped at 30 event-time minutes, the
  // q16 session discipline) — the "what do users do next" model behind
  // sequence featurization. One lead() window per user (partition-
  // parallel; ties broken by event_id for determinism), transition
  // probabilities in exact integer permille of each source state's mass.
  // Output is |event_type|² rows, bounded by the domain.
  // ===========================================================
  val TransGapUs = 1800000000L // 30 min in µs

  def q92TransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    // µs grain like q84: the ns-resolution parquet timestamps truncate to
    // µs in DuckDB, so ordering/gap arithmetic must use the shared grain
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts DIV 1000").as("ts"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .withColumn("next_ts", lead("ts", 1).over(w))
      .filter(col("next_type").isNotNull && col("next_ts") - col("ts") <= TransGapUs)
      .select(col("event_type").as("from_type"), col("next_type").as("to_type"))
    val fromTot = tr.groupBy("from_type").agg(count(lit(1)).as("n_from"))
    tr.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .join(fromTot, "from_type")
      .withColumn("permille", expr("n * 1000 DIV n_from"))
      .select("from_type", "to_type", "n", "permille")
      .orderBy("from_type", "to_type")
  }

  val q92Sql: String =
    s"""WITH s AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts FROM events),
       | nx AS (SELECT event_type,
       |   LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
       |   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts, ts
       |  FROM s),
       | tr AS (SELECT event_type AS from_type, next_type AS to_type FROM nx
       |  WHERE next_type IS NOT NULL AND next_ts - ts <= $TransGapUs),
       | ft AS (SELECT from_type, COUNT(*) AS n_from FROM tr GROUP BY from_type)
       |SELECT tr.from_type, to_type, COUNT(*) AS n,
       | COUNT(*) * 1000 // ANY_VALUE(n_from) AS permille
       |FROM tr JOIN ft ON tr.from_type = ft.from_type
       |GROUP BY tr.from_type, to_type ORDER BY tr.from_type, to_type""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q103 — calibration / reliability curve: treat `value` as a model score
  // and purchase as the label; per score decile, predicted mass vs
  // observed positive rate — the standard "is the model calibrated"
  // diagnostic an ML data pipeline runs on every scored corpus. One
  // map-side-combinable aggregation to 10 buckets; rates in exact integer
  // permille (observed·1000 DIV n), mean score in exact millis.
  // ===========================================================
  def q103Calibration(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        // log2 score bands (bit-length classes): value is exponential-ish
        // (mean ~50, max ~490), so linear deciles would pile into one
        // bucket — log spacing splits the mass, and stays integer-exact
        least(expr("CAST(length(bin(CAST(floor(value) AS BIGINT) + 1)) AS BIGINT)"), lit(9L))
          .as("score_band"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("score_cents"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      .groupBy("score_band")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(score_cents) DIV COUNT(*) AS BIGINT)").as("mean_score_cents"),
        sum("label").cast("long").as("positives"))
      .withColumn("observed_permille", expr("positives * 1000 DIV n"))
      .orderBy("score_band")

  val q103Sql: String =
    """WITH s AS (SELECT
      |  least(CAST(length(bin(CAST(floor(value) AS BIGINT) + 1)) AS BIGINT), 9) AS score_band,
      |  CAST(floor(value * 100) AS BIGINT) AS score_cents,
      |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label FROM events)
      |SELECT score_band, COUNT(*) AS n,
      | CAST(SUM(score_cents) // COUNT(*) AS BIGINT) AS mean_score_cents,
      | CAST(SUM(label) AS BIGINT) AS positives,
      | CAST(SUM(label) AS BIGINT) * 1000 // COUNT(*) AS observed_permille
      |FROM s GROUP BY score_band ORDER BY score_band""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q104 — A/B experiment readout with an exact integer test statistic:
  // variant = user-id parity (the deterministic assignment a real
  // experiment platform hashes), outcome = converted (any purchase).
  // The 2×2 chi-square has the closed form N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d))
  // — every factor an exact integer, one closing DIV to millis, so the
  // whole readout (rates AND significance statistic) hash-matches
  // bit-for-bit. Per-user conversion reduces events -> users first
  // (user-keyed aggregation), then the 2×2 table is four counters.
  // ===========================================================
  def q104AbTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    // conversion := the user's FIRST purchase (min event_id) had value
    // above the median-ish 50 — a per-user outcome that does NOT saturate
    // with event volume (any "ever did X" predicate converges to 1 as
    // activity grows)
    // ONE user-keyed aggregation: min() skips the nulls the conditional
    // leaves on non-purchase rows, so the first-purchase pick and the
    // "user exists" roll-up fuse into a single scan (a purchase-filtered
    // frame joined back to distinct users would scan events twice)
    val users = ev
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "purchase",
        struct(col("event_id"), col("value")))).as("fst"))
      .select(col("user_id"),
        when(col("fst").isNotNull && col("fst.value") > 50.0, 1L).otherwise(0L)
          .as("converted"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    users
      .groupBy()
      .agg(
        sum(when(col("variant") === 0 && col("converted") === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(col("variant") === 0 && col("converted") === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(col("variant") === 1 && col("converted") === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(col("variant") === 1 && col("converted") === 0L, 1L).otherwise(0L)).as("d"))
      .select(
        (col("a") + col("b")).cast("long").as("n_control"),
        col("a").cast("long").as("conv_control"),
        (col("c") + col("d")).cast("long").as("n_treat"),
        col("c").cast("long").as("conv_treat"),
        expr("a * 1000 DIV (a + b)").as("rate_control_permille"),
        expr("c * 1000 DIV (c + d)").as("rate_treat_permille"),
        // 128-bit intermediates: the numerator grows like n^5/16, past
        // int64 beyond ~2.7k users in the worst case — DECIMAL(38,0) here,
        // HUGEINT in the oracle, identical truncating division. A zero
        // margin (nobody/everybody converted) makes the statistic
        // undefined: report 0, not a crash.
        expr("""CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN 0L ELSE
               | CAST(CAST(a + b + c + d AS DECIMAL(38,0)) *
               |  CAST(a * d - b * c AS DECIMAL(38,0)) *
               |  CAST(a * d - b * c AS DECIMAL(38,0)) * 1000
               | DIV (CAST((a + b) * (c + d) AS DECIMAL(38,0)) *
               |  CAST((a + c) * (b + d) AS DECIMAL(38,0))) AS BIGINT) END""".stripMargin
          .replace("\n", " ")).as("chi2_millis"))
  }

  val q104Sql: String =
    """WITH fp AS (SELECT user_id,
      |  CASE WHEN arg_min(value, event_id) > 50.0 THEN 1 ELSE 0 END AS converted
      | FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      | u AS (SELECT du.user_id, COALESCE(fp.converted, 0) AS converted
      |  FROM (SELECT DISTINCT user_id FROM events) du
      |  LEFT JOIN fp ON du.user_id = fp.user_id),
      | t AS (SELECT
      |  CAST(SUM(CASE WHEN user_id % 2 = 0 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |  CAST(SUM(CASE WHEN user_id % 2 = 0 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |  CAST(SUM(CASE WHEN user_id % 2 = 1 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |  CAST(SUM(CASE WHEN user_id % 2 = 1 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      | FROM u)
      |SELECT a + b AS n_control, a AS conv_control, c + d AS n_treat, c AS conv_treat,
      | a * 1000 // (a + b) AS rate_control_permille,
      | c * 1000 // (c + d) AS rate_treat_permille,
      | CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN 0
      |  ELSE CAST(CAST(a + b + c + d AS HUGEINT) * CAST(a * d - b * c AS HUGEINT)
      |   * CAST(a * d - b * c AS HUGEINT) * 1000
      |   // (CAST((a + b) * (c + d) AS HUGEINT) * CAST((a + c) * (b + d) AS HUGEINT))
      |   AS BIGINT) END AS chi2_millis
      |FROM t""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q141 — session-document assembly (the "logs → LM corpus" op): turn
  // per-user event streams into ORDERED training documents. Sessions
  // split at q16's 30-minute gap; each session's text is its event_type
  // tokens joined in (ts, event_id) order; the output carries the event
  // count, char count, and content DIGEST — the dedup key downstream
  // exact dedup (q30's digest grouping) composes on directly, so
  // repeated bot sessions collapse before they reach training.
  //
  // Scale path: the session window partitions per user (bounded by a
  // user's events — the q16 contract) and assembly is one
  // (user, session) aggregation whose per-group memory is bounded by
  // session length (the sequence-packing contract); sort_array over
  // (ts, event_id, type) structs makes the concat order total and
  // engine-independent, and the md5 digest reduces every document to
  // 16 bytes before anything downstream consumes it.
  // ===========================================================
  def q141SessionDocs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sess = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > GapNs, 1L).otherwise(0L))
      .withColumn("session_idx", sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        expr("array_join(transform(array_sort(collect_list(struct(ts, event_id, event_type)))," +
          " s -> s.event_type), ' ')").as("doc"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        length(col("doc")).cast("long").as("doc_chars"),
        md5(col("doc").cast("binary")).as("doc_digest"))
      .orderBy("user_id", "session_idx")
  }

  val q141Sql: String =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type FROM events),
       | lagd AS (SELECT user_id, ts, event_id, event_type,
       |   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e),
       | marks AS (SELECT user_id, ts, event_id, event_type,
       |   SUM(CASE WHEN prev_ts IS NULL OR ts - prev_ts > $GapNs THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
       |  FROM lagd),
       | docs AS (SELECT user_id, session_idx, COUNT(*) AS n_events,
       |   string_agg(event_type, ' ' ORDER BY ts, event_id) AS doc
       |  FROM marks GROUP BY user_id, session_idx)
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, n_events,
       | CAST(length(doc) AS BIGINT) AS doc_chars, md5(doc) AS doc_digest
       |FROM docs ORDER BY user_id, session_idx""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_session_docs" -> (q141SessionDocs _),
    "q103_calibration" -> (q103Calibration _),
    "q104_ab_test" -> (q104AbTest _),
    "q91_cohort_retention" -> (q91CohortRetention _),
    "q92_transition_matrix" -> (q92TransitionMatrix _),
    "q84_funnel" -> (q84Funnel _),
    "q61_interval_join" -> (q61IntervalJoin _),
    "q52_range_join" -> (q52RangeJoin _),
    "q16_sessionize" -> (q16Sessionize _),
    "q17_user_enrichment" -> (q17UserEnrichment _),
    "q19_asof_config" -> (q19AsOfConfig _),
    "q36_top_tokens" -> (q36TopTokens _),
    "q38_curation" -> (q38Curation _),
    "q46_ann_ivf" -> (q46AnnIvf _))

  val oracles: Map[String, String] = Map(
    "q141_session_docs" -> q141Sql,
    "q103_calibration" -> q103Sql,
    "q104_ab_test" -> q104Sql,
    "q91_cohort_retention" -> q91Sql,
    "q92_transition_matrix" -> q92Sql,
    "q84_funnel" -> q84Sql,
    "q61_interval_join" -> q61Sql,
    "q52_range_join" -> q52Sql,
    "q16_sessionize" -> q16Sql,
    "q17_user_enrichment" -> q17Sql,
    "q19_asof_config" -> q19Sql,
    "q36_top_tokens" -> q36Sql,
    "q38_curation" -> q38Sql,
    "q46_ann_ivf" -> q46Sql)
}
