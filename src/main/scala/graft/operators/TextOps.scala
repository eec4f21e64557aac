package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.plans.WsTokenCount.ws_token_count
import org.apache.spark.sql.functions._

/**
 * Text-analysis and deduplication operators for large-scale training-data
 * pipelines, over the `documents` table. Everything uses codegen'd built-in
 * functions (regexp/md5/array ops) — no UDFs — so the plans whole-stage
 * compile and scale linearly; the only shuffles are the final group-bys.
 *
 * Every query here has an exact DuckDB oracle. Regexes stick to a subset
 * that behaves identically under Java regex and RE2 - explicit whitespace
 * classes [ \t\n\r\f] everywhere, never \s/\S (the engines disagree on
 * \x0B membership), no lookaround, no \d/\w shorthand.
 */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** normalized text: lowercase, whitespace squeezed, trimmed.
    * Graft-visible so composite pipelines (q38) use the SAME
    * normalization as the dedup/fingerprint operators. */
  private[graft] def norm =
    trim(regexp_replace(lower(col("text")), "[ \\t\\n\\r\\f]+", " "))
  private[operators] val normSql =
    "trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))"
  /** one whitespace-delimited token (explicit class, see header);
    * graft-visible so every operator family tokenizes identically */
  private[graft] val wsTokenRe = "[^ \\t\\n\\r\\f]+"

  /** q118's symbol representation: every character wrapped in its own
    * spaces (" a  b  c "). Built from substrings, not a regex: a
    * regex-based form drifted once (Java's '(.)' skips line-terminator
    * chars the whitespace tokenizer keeps). */
  private def wrapSymbols(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws("", transform(sequence(lit(1), length(c)),
      i => concat(lit(" "), c.substr(i, lit(1)), lit(" "))))

  // ===========================================================
  // q30 — exact dedup via content hash (hash-groupBy; scale path:
  // one shuffle on a 128-bit digest, no text comparison)
  // ===========================================================
  def q30DedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(md5(norm.cast("binary")).as("h"), col("doc_id"))
      .groupBy("h")
      .agg(count(lit(1)).as("copies"), min("doc_id").as("keeper"))
      .agg(
        count(lit(1)).as("distinct_texts"),
        sum("copies").cast("long").as("total_docs"),
        sum(when(col("copies") > 1, col("copies") - 1).otherwise(0)).cast("long").as("removable_dups"))

  val q30Sql: String =
    s"""WITH h AS (SELECT md5($normSql) AS h, doc_id FROM documents),
       | g AS (SELECT h, COUNT(*) AS copies, MIN(doc_id) AS keeper FROM h GROUP BY h)
       |SELECT COUNT(*) AS distinct_texts, CAST(SUM(copies) AS BIGINT) AS total_docs,
       | CAST(SUM(CASE WHEN copies > 1 THEN copies - 1 ELSE 0 END) AS BIGINT) AS removable_dups
       |FROM g""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q31 — token counting per (lang, source): whitespace tokens via \S+
  // ===========================================================
  def q31TokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("tokens", ws_token_count(col("text")))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("docs"),
        sum("tokens").as("total_tokens"),
        (sum("tokens").cast("double") / count(lit(1))).as("avg_tokens"))
      .orderBy("lang", "source")

  val q31Sql: String =
    """WITH t AS (SELECT lang, source,
      |  CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+')) AS BIGINT) AS tokens FROM documents)
      |SELECT lang, source, COUNT(*) AS docs,
      | CAST(SUM(tokens) AS BIGINT) AS total_tokens,
      | CAST(SUM(tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
      |FROM t GROUP BY lang, source ORDER BY lang, source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q32 — quality scoring: char/token/punct ratios -> quality label
  // (length, punctuation density, mean token length)
  // ===========================================================
  def q32QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("chars", length(col("text")).cast("long"))
      .withColumn("tokens", ws_token_count(col("text")))
      .withColumn("puncts", size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast("long"))
      .withColumn("mean_token_len",
        when(col("tokens") > 0, col("chars").cast("double") / col("tokens")).otherwise(0.0))
      .withColumn("label",
        when(col("tokens") < 20, "too_short")
          .when(col("puncts") * 10 > col("tokens"), "punct_heavy")
          .when(col("mean_token_len") > 12.0, "long_tokens")
          .otherwise("ok"))
    d.groupBy("lang", "label")
      .agg(count(lit(1)).as("docs"), sum("tokens").as("total_tokens"))
      .orderBy("lang", "label")
  }

  val q32Sql: String =
    """WITH d AS (SELECT lang,
      |  CAST(length(text) AS BIGINT) AS chars,
      |  CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+')) AS BIGINT) AS tokens,
      |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS puncts
      | FROM documents),
      | lab AS (SELECT lang, tokens,
      |  CASE WHEN tokens < 20 THEN 'too_short'
      |   WHEN puncts * 10 > tokens THEN 'punct_heavy'
      |   WHEN (CASE WHEN tokens > 0 THEN CAST(chars AS DOUBLE)/tokens ELSE 0.0 END) > 12.0 THEN 'long_tokens'
      |   ELSE 'ok' END AS label
      | FROM d)
      |SELECT lang, label, COUNT(*) AS docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens
      |FROM lab GROUP BY lang, label ORDER BY lang, label""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q33 — language-ID heuristic (stopword hits) vs labeled lang:
  // confusion matrix
  // ===========================================================
  def q33LangGuess(spark: SparkSession, dir: String): DataFrame = {
    // NO regex at all: fold every whitespace kind to ' ' with translate
    // (a char-map pass), pad with spaces, and probe each stopword with a
    // plain substring search. " the " in the padded fold ⟺ a token equal
    // to "the" delimited by [ \t\n\r\f] or a string edge — exactly the
    // token semantics of q31/q32's tokenizer, at substring-scan cost
    // instead of regex-tokenize + array-allocation cost. (The cascaded
    // rlike formulation this replaces re-scanned 'unk' docs four times.)
    def hit(words: Seq[String]) =
      words.map(w => col("padded").contains(s" $w ")).reduce(_ || _)
    val d = docs(spark, dir)
      .withColumn("padded",
        concat(lit(" "), translate(lower(col("text")), "\t\n\r\f", "    "), lit(" ")))
      .withColumn("guess",
        when(hit(Seq("the", "and")), "en")
          .when(hit(Seq("der", "und")), "de")
          .when(hit(Seq("le", "et")), "fr")
          .when(hit(Seq("el", "los")), "es")
          .otherwise("unk"))
    d.groupBy("lang", "guess").agg(count(lit(1)).as("n")).orderBy("lang", "guess")
  }

  val q33Sql: String = {
    def hit(words: Seq[String]) =
      words.map(w => s"contains(padded, ' $w ')").mkString("(", " OR ", ")")
    s"""WITH t AS (SELECT lang,
       |  ' ' || translate(lower(text), chr(9)||chr(10)||chr(13)||chr(12), '    ') || ' ' AS padded
       | FROM documents),
       | g AS (SELECT lang,
       |  CASE WHEN ${hit(Seq("the", "and"))} THEN 'en'
       |   WHEN ${hit(Seq("der", "und"))} THEN 'de'
       |   WHEN ${hit(Seq("le", "et"))} THEN 'fr'
       |   WHEN ${hit(Seq("el", "los"))} THEN 'es'
       |   ELSE 'unk' END AS guess
       | FROM t)
       |SELECT lang, guess, COUNT(*) AS n FROM g GROUP BY lang, guess
       |ORDER BY lang, guess""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q34 — document fingerprinting: md5 of normalized text (stable id for
  // dedup joins); per-doc listing bounded to doc_id < 50
  // ===========================================================
  def q34Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), md5(norm.cast("binary")).as("fingerprint"))
      .orderBy("doc_id")

  val q34Sql: String =
    s"""SELECT doc_id, md5($normSql) AS fingerprint
       |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q35 — character-3-gram Jaccard near-dup scan over adjacent doc pairs
  // (within source, ordered by doc_id): set ops on shingle arrays.
  // The LSH-bucketed variant for all-pairs at scale is SimilarityOps.
  // ===========================================================
  def q35NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // filter to full-width shingles: for texts shorter than 3 chars Spark's
    // sequence(1, 0) is DESCENDING [1, 0] (step defaults to -1) where
    // DuckDB's generate_series(1, 0) is empty — the length-3 filter makes
    // both engines yield [] for degenerate docs
    val shingles = array_distinct(expr(
      """filter(transform(sequence(1, greatest(length(ntext) - 2, 1)),
        |  i -> substring(ntext, i, 3)), x -> length(x) = 3)""".stripMargin))
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs(spark, dir)
      .withColumn("ntext", norm)
      .withColumn("sh", shingles)
      .withColumn("next_id", lead("doc_id", 1).over(w))
      .withColumn("next_sh", lead("sh", 1).over(w))
      .filter(col("next_id").isNotNull)
      .withColumn("inter", size(array_intersect(col("sh"), col("next_sh"))).cast("long"))
      .withColumn("uni", size(array_union(col("sh"), col("next_sh"))).cast("long"))
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter").cast("double") / col("uni")).otherwise(0.0))
      .withColumn("near_dup", col("jaccard") >= 0.8)
      .select("source", "doc_id", "next_id", "inter", "uni", "jaccard", "near_dup")
      .orderBy("source", "doc_id")
  }

  val q35Sql: String =
    s"""WITH d AS (SELECT source, doc_id, $normSql AS ntext FROM documents),
       | s AS (SELECT source, doc_id,
       |   list_distinct(list_filter(list_transform(generate_series(1, greatest(length(ntext) - 2, 1)),
       |     i -> substring(ntext, i, 3)), x -> length(x) = 3)) AS sh
       |  FROM d),
       | p AS (SELECT source, doc_id, sh,
       |   LEAD(doc_id) OVER w AS next_id, LEAD(sh) OVER w AS next_sh
       |  FROM s WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
       | j AS (SELECT source, doc_id, next_id,
       |   CAST(len(list_intersect(sh, next_sh)) AS BIGINT) AS inter,
       |   CAST(len(list_distinct(list_concat(sh, next_sh))) AS BIGINT) AS uni
       |  FROM p WHERE next_id IS NOT NULL)
       |SELECT source, doc_id, next_id, inter, uni,
       | CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE)/uni ELSE 0.0 END AS jaccard,
       | (CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE)/uni ELSE 0.0 END) >= 0.8 AS near_dup
       |FROM j ORDER BY source, doc_id""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q37 — TF-IDF top-3 terms per document (doc_id < 20), idf over the FULL
  // corpus: tfidf = (tc/n_toks) * (ln((N+1)/(df+1)) + 1), rounded to 6dp.
  //
  // Scale path: document frequency is one explode-distinct + groupBy(term)
  // over the corpus (the vocabulary table — inherent to TF-IDF); term
  // counts are computed only for the output docs, and the df join is
  // restricted to their vocabulary first so the big side is probed once.
  // Top-3 per doc is a window partitioned by doc_id (no global sort).
  // ===========================================================
  def q37Tfidf(spark: SparkSession, dir: String): DataFrame = {
    // deliberately NOT cached although toks feeds three subtrees: caching
    // materializes a corpus-wide array column (larger than the text itself,
    // never memory-resident at real scale), measured slower than letting
    // each consumer recompute the pipelined, column-pruned scan
    val toks = docs(spark, dir).select(col("doc_id"),
      expr("filter(regexp_extract_all(lower(text), '[a-z]+', 0), t -> length(t) >= 2)").as("toks"))
    val nDocs = toks.select(countDistinct("doc_id").as("n_docs"))
    val dfTable = toks.select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val tf = toks.filter(col("doc_id") < 20)
      .select(col("doc_id"), size(col("toks")).as("n_toks"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "n_toks", "term").agg(count(lit(1)).as("tc"))
    val scored = tf
      .join(dfTable.join(broadcast(tf.select("term").distinct()), "term"), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        (col("tc").cast("double") / col("n_toks")) *
          (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1.0), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "tfidf")
      .orderBy("doc_id", "rank")
  }

  val q37Sql: String =
    """WITH toks AS (SELECT doc_id,
      |  list_filter(regexp_extract_all(lower(text), '[a-z]+'), t -> length(t) >= 2) AS toks
      | FROM documents),
      | n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
      | dfx AS (SELECT term, COUNT(*) AS df FROM
      |  (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM toks) GROUP BY term),
      | tf AS (SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS term
      |  FROM toks WHERE doc_id < 20),
      | tc AS (SELECT doc_id, n_toks, term, COUNT(*) AS tc FROM tf GROUP BY doc_id, n_toks, term),
      | scored AS (SELECT doc_id, term,
      |  round((CAST(tc AS DOUBLE)/n_toks) * (ln(CAST(n_docs+1 AS DOUBLE)/(df+1)) + 1.0), 6) AS tfidf
      |  FROM tc JOIN dfx USING (term) CROSS JOIN n),
      | r AS (SELECT doc_id, term, tfidf,
      |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM scored)
      |SELECT doc_id, rank, term, tfidf FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q39 — BPE-style subword-ish token counting: a GPT-2-like pretokenizer
  // regex (leading-space word / number / punctuation runs — the lookahead
  // variant is avoided so Java regex and RE2 agree byte-for-byte) compared
  // against plain whitespace tokens, per (lang, source). The fertility
  // ratio (bpe/ws) is the usual sanity metric for tokenizer cost planning.
  // ===========================================================
  // explicit [ \t\n\r\f] (not \s/\S) — Java regex and RE2 disagree on \x0B
  private val bpeIshPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r\\f]+"
  private val wsTokenPattern = "[^ \\t\\n\\r\\f]+"

  def q39BpeTokens(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("ws_tokens", ws_token_count(col("text")))
      .withColumn("bpe_tokens", size(regexp_extract_all(col("text"), lit(bpeIshPattern), lit(0))).cast("long"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("docs"),
        sum("ws_tokens").as("total_ws_tokens"),
        sum("bpe_tokens").as("total_bpe_tokens"),
        round(sum("bpe_tokens").cast("double") / sum("ws_tokens"), 6).as("fertility"))
      .orderBy("lang", "source")

  val q39Sql: String =
    """WITH t AS (SELECT lang, source,
      |  CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r\f]+')) AS BIGINT) AS bpe_tokens
      | FROM documents)
      |SELECT lang, source, COUNT(*) AS docs,
      | CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
      | CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
      | round(CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens), 6) AS fertility
      |FROM t GROUP BY lang, source ORDER BY lang, source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q51 — PII scan + redaction accounting: count email / IPv4 / phone-like
  // spans per source and measure how many characters redaction would strip.
  // One pass, all codegen'd regexes (subset identical under Java and RE2 —
  // no lookaround, no \d/\w shorthand). The redacted-length delta equals
  // sum(len(match)) - n_matches * len('<PII>') applied via regexp_replace.
  // ===========================================================
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  private val ipv4Pat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  private val phonePat = "[+][0-9][0-9 -]{7,}[0-9]"

  def q51PiiScan(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("n_email", size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).cast("long"))
      .withColumn("n_ipv4", size(regexp_extract_all(col("text"), lit(ipv4Pat), lit(0))).cast("long"))
      .withColumn("n_phone", size(regexp_extract_all(col("text"), lit(phonePat), lit(0))).cast("long"))
      .withColumn("redacted_len", length(
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          emailPat, "<PII>"), ipv4Pat, "<PII>"), phonePat, "<PII>")).cast("long"))
      .withColumn("orig_len", length(col("text")).cast("long"))
    d.groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum("n_email").as("emails"),
        sum("n_ipv4").as("ipv4s"),
        sum("n_phone").as("phones"),
        sum(col("orig_len") - col("redacted_len")).as("chars_removed"))
      .orderBy("source")
  }

  val q51Sql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
    val ipv4 = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
    val phone = "[+][0-9][0-9 -]{7,}[0-9]"
    s"""WITH d AS (SELECT source,
       |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
       |  CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<PII>', 'g'), '$ipv4', '<PII>', 'g'), '$phone', '<PII>', 'g')) AS BIGINT) AS redacted_len,
       |  CAST(length(text) AS BIGINT) AS orig_len
       | FROM documents)
       |SELECT source, COUNT(*) AS docs,
       | CAST(SUM(n_email) AS BIGINT) AS emails,
       | CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
       | CAST(SUM(n_phone) AS BIGINT) AS phones,
       | CAST(SUM(orig_len - redacted_len) AS BIGINT) AS chars_removed
       |FROM d GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q53 — deterministic train/val/test split (80/10/10): the standard
  // content-stable split assignment of a training-data pipeline. Each doc
  // maps to a split purely by the 60-bit md5 hash of its stable key, so
  // membership survives re-runs, repartitioning, and corpus growth (no
  // rand(), no global sort, no state). Thresholds are exact integer
  // literals (floor of 0.8/0.9 × 2^60) so any engine agrees bit-for-bit.
  // ===========================================================
  val TrainBound = 922337203685477580L // floor(0.8 * 2^60)
  val ValBound = 1037629354146162278L // floor(0.9 * 2^60)

  def q53HashSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("h",
        graft.plans.TextKernels.md5_prefix60(col("doc_id").cast("string").cast("binary")))
      .withColumn("split",
        when(col("h") < TrainBound, "train")
          .when(col("h") < ValBound, "val")
          .otherwise("test"))
      .withColumn("tokens", ws_token_count(col("text")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("docs"), sum("tokens").as("total_tokens"))
      .orderBy("lang", "split")

  val q53Sql: String =
    s"""WITH d AS (SELECT lang,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
       |  CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens
       | FROM documents),
       | s AS (SELECT lang, tokens,
       |  CASE WHEN h < $TrainBound THEN 'train'
       |   WHEN h < $ValBound THEN 'val' ELSE 'test' END AS split
       | FROM d)
       |SELECT lang, split, COUNT(*) AS docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens
       |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q54 — benchmark decontamination: flag corpus docs sharing any word
  // 3-gram with a held-out benchmark set (doc_id % 97 == 0 stands in for
  // the eval suite). Scale path: the benchmark n-gram set is tiny relative
  // to the corpus, so it broadcasts and the corpus side streams through a
  // broadcast LEFT-SEMI join on the exploded n-grams — one distinct on
  // (doc_id) after the semi-join, no corpus×benchmark shuffle.
  // ===========================================================
  /** (doc_id, ng) — every lowercased whitespace-token word 3-gram of
    * `text`. ONE definition feeds the q54 audit and the q163 execution,
    * so the applied verdicts cannot drift from the audited ones. */
  private[operators] def wordTrigrams(df: DataFrame): DataFrame =
    df.withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .withColumn("ng", explode(graft.plans.TextKernels.ws_grams(col("toks"), 3)))
      .select(col("doc_id"), col("ng"))

  def q54Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val benchNgrams = wordTrigrams(d.filter(col("doc_id") % 97 === 0)).select("ng").distinct()
    val contaminated = wordTrigrams(d.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(benchNgrams), Seq("ng"), "left_semi")
      .select("doc_id").distinct()
    d.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated.withColumn("hit", lit(1)), Seq("doc_id"), "left_outer")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast("double") / col("n_docs"))
      .orderBy("lang")
  }

  val q54Sql: String =
    """WITH toks AS (SELECT doc_id, lang,
      |   regexp_extract_all(lower(text), '[^ \t\n\r\f]+') AS toks FROM documents),
      | ng AS (SELECT doc_id,
      |   unnest(CASE WHEN len(toks) >= 3
      |     THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      |     ELSE CAST([] AS VARCHAR[]) END) AS ng
      |  FROM toks),
      | bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0),
      | contaminated AS (SELECT DISTINCT n.doc_id FROM ng n JOIN bench b USING (ng)
      |  WHERE n.doc_id % 97 <> 0),
      | corpus AS (SELECT doc_id, lang FROM documents WHERE doc_id % 97 <> 0)
      |SELECT lang, COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      | CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS contamination_rate
      |FROM corpus LEFT JOIN contaminated c USING (doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q55 — context-window chunking: split each doc's token stream into
  // fixed-size windows (64 tokens, stride 48 ⇒ 16-token overlap), the
  // standard shaping step before a pretraining tokenizer feed. Chunks
  // explode partition-parallel off the token array (no shuffle until the
  // final stats), and chunk fingerprints feed dedup-after-chunking.
  // ===========================================================
  val ChunkTokens = 64
  val ChunkStride = 48

  def q55Chunking(spark: SparkSession, dir: String): DataFrame = {
    val chunks = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .filter(size(col("toks")) > 0)
      .withColumn("chunk", explode(expr(
        s"""transform(sequence(0, int(floor((size(toks) - 1) / $ChunkStride))),
           | s -> slice(toks, s * $ChunkStride + 1, $ChunkTokens))""".stripMargin)))
      .select(col("doc_id"), col("lang"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_fp"))
    chunks.groupBy("lang")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("chunk_tokens").as("total_chunk_tokens"),
        countDistinct("chunk_fp").as("uniq_chunks"))
      .orderBy("lang")
  }

  val q55Sql: String =
    s"""WITH t AS (SELECT doc_id, lang,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks
       |  FROM documents),
       | c AS (SELECT doc_id, lang,
       |   list_slice(toks, s.s * $ChunkStride + 1, s.s * $ChunkStride + $ChunkTokens) AS chunk
       |  FROM t, LATERAL (SELECT unnest(range(0, CAST(floor((len(toks) - 1) / $ChunkStride) AS BIGINT) + 1)) AS s) s
       |  WHERE len(toks) > 0),
       | f AS (SELECT doc_id, lang, CAST(len(chunk) AS BIGINT) AS chunk_tokens,
       |   md5(array_to_string(chunk, ' ')) AS chunk_fp FROM c)
       |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
       | CAST(SUM(chunk_tokens) AS BIGINT) AS total_chunk_tokens,
       | COUNT(DISTINCT chunk_fp) AS uniq_chunks
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q56 — repetition gate: docs whose 3-gram stream is dominated by
  // repeats (boilerplate, template spam) get flagged. Ratios aggregate as
  // exact long sums (distinct-ngrams / total-ngrams in ONE final double
  // division) — never as averaged per-doc doubles, whose summation order
  // would be partition-dependent.
  // ===========================================================
  val RepFlagPermille = 200 // flag when repeated share > 20.0%

  def q56RepetitionGate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .withColumn("total", greatest(size(col("toks")) - 2, lit(0)).cast("long"))
      .withColumn("uniq", size(array_distinct(
        graft.plans.TextKernels.ws_grams(col("toks"), 3))).cast("long"))
      // flag on integer cross-multiplication: (total-uniq)*1000 > permille*total
      .withColumn("flagged",
        (col("total") - col("uniq")) * 1000 > lit(RepFlagPermille) * col("total"))
    d.groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("flagged_docs"),
        sum("total").as("total_ngrams"),
        sum("uniq").as("uniq_ngrams"))
      .withColumn("repeat_share",
        (col("total_ngrams") - col("uniq_ngrams")).cast("double") / col("total_ngrams"))
      .orderBy("lang")
  }

  val q56Sql: String =
    s"""WITH t AS (SELECT lang,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks
       |  FROM documents),
       | g AS (SELECT lang,
       |   CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS total,
       |   CAST(len(list_distinct(CASE WHEN len(toks) >= 3
       |     THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
       |     ELSE CAST([] AS VARCHAR[]) END)) AS BIGINT) AS uniq
       |  FROM t),
       | f AS (SELECT lang, total, uniq,
       |   (total - uniq) * 1000 > $RepFlagPermille * total AS flagged FROM g)
       |SELECT lang, COUNT(*) AS docs,
       | CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
       | CAST(SUM(total) AS BIGINT) AS total_ngrams,
       | CAST(SUM(uniq) AS BIGINT) AS uniq_ngrams,
       | CAST(SUM(total) - SUM(uniq) AS DOUBLE) / SUM(total) AS repeat_share
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q60 — cross-document span dedup (the C4/MassiveText passage-level
  // move): the corpus is chunked into non-overlapping 8-token spans and
  // every span occurrence after the first — ANYWHERE in the corpus, not
  // just within a doc — is marked duplicate; "first" is the smallest
  // (doc_id, span_idx). Reports per-source duplication, the signal used
  // to set per-source sampling weights. Scale path: identity is a
  // 128-bit digest of the span, so the single shuffle ships (digest,
  // doc_id, idx, token_count) — never text — and the keep-first rule is
  // one row_number window over the digest, not a self-join.
  // ===========================================================
  val SpanW = 8

  def q60SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val blocks = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .withColumn("ntok", size(col("toks")))
      .select(col("doc_id"), col("source"), col("ntok"),
        posexplode(expr(
          s"""CASE WHEN ntok > 0 THEN transform(sequence(0, (ntok + ${SpanW - 1}) div $SpanW - 1),
             |  b -> concat_ws(' ', slice(toks, b * $SpanW + 1, $SpanW)))
             |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)))
      .withColumnRenamed("pos", "bidx").withColumnRenamed("col", "btext")
      .withColumn("btok", least(lit(SpanW), col("ntok") - col("bidx") * SpanW).cast("long"))
    val w = Window.partitionBy(md5(col("btext").cast("binary"))).orderBy("doc_id", "bidx")
    blocks
      .withColumn("dup", row_number().over(w) > 1)
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_spans"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("dup_spans"),
        sum(when(col("dup"), col("btok")).otherwise(0L)).as("dup_tokens"),
        sum("btok").as("total_tokens"))
      .withColumn("dup_share", col("dup_tokens").cast("double") / col("total_tokens"))
      .orderBy("source")
  }

  val q60Sql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks
       |  FROM documents),
       | b AS (SELECT doc_id, source, CAST(bb.b AS INTEGER) AS bidx,
       |   array_to_string(toks[CAST(bb.b * $SpanW + 1 AS INTEGER) :
       |     CAST(least((bb.b + 1) * $SpanW, len(toks)) AS INTEGER)], ' ') AS btext,
       |   CAST(least($SpanW, len(toks) - bb.b * $SpanW) AS BIGINT) AS btok
       |  FROM t, LATERAL (SELECT unnest(range(0, (len(toks) + ${SpanW - 1}) // $SpanW)) AS b) bb),
       | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(btext) ORDER BY doc_id, bidx) AS rn
       |  FROM b)
       |SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       | COUNT(*) AS n_spans,
       | CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       | CAST(SUM(CASE WHEN rn > 1 THEN btok ELSE 0 END) AS BIGINT) AS dup_tokens,
       | CAST(SUM(btok) AS BIGINT) AS total_tokens,
       | CAST(SUM(CASE WHEN rn > 1 THEN btok ELSE 0 END) AS DOUBLE) / SUM(btok) AS dup_share
       |FROM r GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q62 — stratified mixture sampling: each source gets a target sampling
  // rate (domain mixing weights for a training run) and docs are kept by
  // a DETERMINISTIC hash gate — hash60(doc_id) % 1000 < rate_permille —
  // so the sample is reproducible run-to-run, resumable, and needs no
  // coordination: every executor decides locally from the row alone
  // (contrast df.sample, whose seed is per-partition-ordering dependent).
  // The 60-bit md5 prefix is the same cross-engine hash the audit/split
  // ops use, so the oracle replays the exact sample.
  // ===========================================================
  def q62MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("tokens", ws_token_count(col("text")))
      // rate per source: 100‰ + 45‰ per source index (a stand-in for the
      // mixture config table a real run would broadcast-join)
      .withColumn("rate_permille",
        (lit(100) + lit(45) * (expr("CAST(substring(source, 4) AS INT)") % 20)).cast("long"))
      .withColumn("gate",
        graft.plans.TextKernels.md5_prefix60(col("doc_id").cast("string").cast("binary")) % 1000)
      .withColumn("kept", col("gate") < col("rate_permille"))
    d.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("tokens")).otherwise(0L)).as("kept_tokens"),
        max("rate_permille").as("rate_permille"))
      .withColumn("achieved_permille",
        col("n_kept").cast("double") * 1000 / col("n_docs"))
      .orderBy("source")
  }

  val q62Sql: String =
    """WITH d AS (SELECT source,
      |   CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+')) AS BIGINT) AS tokens,
      |   CAST(100 + 45 * (CAST(substr(source, 4) AS INT) % 20) AS BIGINT) AS rate_permille,
      |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS gate
      |  FROM documents),
      | k AS (SELECT *, gate < rate_permille AS kept FROM d)
      |SELECT source, COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | CAST(SUM(CASE WHEN kept THEN tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
      | CAST(MAX(rate_permille) AS BIGINT) AS rate_permille,
      | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) * 1000 / COUNT(*) AS achieved_permille
      |FROM k GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q63 — sequence packing: docs pack greedily (doc_id order) into
  // fixed 2048-token training sequences; a doc belongs to the sequence
  // where its running-total START falls, so sequence assignment is pure
  // window arithmetic — one running sum, no iteration. Packing runs per
  // (source, shard) with shard = doc_id div 4096: shards bound the
  // window partition (the 100 TB skew guard — a giant source never
  // serializes into one task) at the cost of at most one underfilled
  // sequence per shard boundary.
  // ===========================================================
  val PackBudget = 2048
  val PackShard = 4096

  def q63SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = docs(spark, dir)
      .withColumn("tokens", ws_token_count(col("text")))
      .withColumn("shard", expr(s"doc_id div $PackShard"))
      .withColumn("cum", sum("tokens").over(w))
      .withColumn("seq_id", expr(s"(cum - tokens) div $PackBudget"))
    d.groupBy("source", "shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("seq_tokens"))
      .groupBy("source")
      .agg(
        sum("n_docs").cast("long").as("n_docs"),
        count(lit(1)).as("n_seqs"),
        sum("seq_tokens").as("total_tokens"),
        max("seq_tokens").as("max_seq_tokens"))
      .withColumn("avg_fill",
        col("total_tokens").cast("double") / (col("n_seqs") * PackBudget))
      .orderBy("source")
  }

  val q63Sql: String =
    s"""WITH d AS (SELECT source, doc_id, doc_id // $PackShard AS shard,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens
       |  FROM documents),
       | c AS (SELECT source, shard, tokens,
       |   SUM(tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d),
       | s AS (SELECT source, shard, (cum - tokens) // $PackBudget AS seq_id,
       |   COUNT(*) AS n_docs, SUM(tokens) AS seq_tokens
       |  FROM c GROUP BY source, shard, (cum - tokens) // $PackBudget)
       |SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       | COUNT(*) AS n_seqs,
       | CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
       | CAST(MAX(seq_tokens) AS BIGINT) AS max_seq_tokens,
       | CAST(SUM(seq_tokens) AS DOUBLE) / (COUNT(*) * $PackBudget) AS avg_fill
       |FROM s GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q160 — packing-budget sweep (the q148/q154 sweep move applied to
  // q63's packing): the SAME greedy running-sum packing evaluated at
  // context length B ∈ {512, 1024, 2048, 4096, 8192} in one pass — the
  // curve a trainer reads before fixing a context length. Per budget:
  // sequences produced, fill efficiency (token mass over n_seqs·B), the
  // worst overflowing sequence, and the truncation bill (docs longer
  // than B can never fit a sequence — their excess tokens are what
  // truncation or doc-splitting must eat). q63 serves at 2048; its
  // global rollup must reconcile with this sweep's 2048 row exactly
  // (QueriesSpec asserts it).
  //
  // Scale path: ONE tokenize scan and ONE (source, shard) running-sum
  // window — the cumulative is budget-independent, so the sweep is a
  // map-side 5× explode of the windowed frame into the (budget, source,
  // shard, seq) aggregation; no join, no second window, no re-scan.
  // ===========================================================
  val PackSweepBudgets = Seq(512L, 1024L, 2048L, 4096L, 8192L)

  def q160PackSweep(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = docs(spark, dir)
      .withColumn("tokens", ws_token_count(col("text")))
      .withColumn("shard", expr(s"doc_id div $PackShard"))
      .withColumn("cum", sum("tokens").over(w))
      .select("source", "shard", "tokens", "cum")
    val per = d
      .withColumn("budget", explode(typedLit(PackSweepBudgets)))
      .withColumn("seq_id", expr("(cum - tokens) DIV budget"))
      .groupBy("budget", "source", "shard", "seq_id")
      .agg(sum("tokens").as("seq_tokens"),
        sum(when(col("tokens") > col("budget"), 1L).otherwise(0L)).as("ov_docs"),
        sum(when(col("tokens") > col("budget"), col("tokens") - col("budget"))
          .otherwise(0L)).as("ov_toks"))
    per.groupBy("budget").agg(
        count(lit(1)).as("n_seqs"),
        sum("seq_tokens").as("total_tokens"),
        max("seq_tokens").as("max_seq_tokens"),
        sum("ov_docs").as("overflow_docs"),
        sum("ov_toks").as("overflow_tokens"))
      .withColumn("fill_permille", expr("total_tokens * 1000 DIV (n_seqs * budget)"))
      .select("budget", "n_seqs", "total_tokens", "max_seq_tokens",
        "fill_permille", "overflow_docs", "overflow_tokens")
      .orderBy("budget")
  }

  val q160Sql: String =
    s"""WITH bb(budget) AS (VALUES (${PackSweepBudgets.mkString("), (")})),
       | d AS (SELECT source, doc_id, doc_id // $PackShard AS shard,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens
       |  FROM documents),
       | c AS (SELECT source, shard, tokens,
       |   SUM(tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d),
       | p AS (SELECT bb.budget, c.source, c.shard,
       |   (c.cum - c.tokens) // bb.budget AS seq_id,
       |   SUM(c.tokens) AS seq_tokens,
       |   SUM(CASE WHEN c.tokens > bb.budget THEN 1 ELSE 0 END) AS ov_docs,
       |   SUM(CASE WHEN c.tokens > bb.budget THEN c.tokens - bb.budget ELSE 0 END) AS ov_toks
       |  FROM c CROSS JOIN bb
       |  GROUP BY bb.budget, c.source, c.shard, (c.cum - c.tokens) // bb.budget)
       |SELECT CAST(budget AS BIGINT) AS budget, COUNT(*) AS n_seqs,
       | CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
       | CAST(MAX(seq_tokens) AS BIGINT) AS max_seq_tokens,
       | CAST(SUM(seq_tokens) * 1000 // (COUNT(*) * budget) AS BIGINT) AS fill_permille,
       | CAST(SUM(ov_docs) AS BIGINT) AS overflow_docs,
       | CAST(SUM(ov_toks) AS BIGINT) AS overflow_tokens
       |FROM p GROUP BY budget ORDER BY budget""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q162 — deterministic corpus shuffle + shard manifest: the
  // reproducible "global shuffle" a trainer needs before writing
  // training shards. Order key = hash60("shuffle:" || doc_id) (domain-
  // tagged, the r11 rule — independent of the q62/q151 sampling draws);
  // shard = key mod S. Every decision is per-row from the row alone:
  // coordination-free, identical on any cluster layout, resumable —
  // what df.orderBy(rand()) cannot give. Output is the MANIFEST the
  // shuffle would ship: per shard, docs, token mass, token share,
  // the first document in shard order (the reproducibility witness —
  // both engines must agree on the exact ordering, not just the
  // partition), and an order-independent membership fingerprint.
  //
  // Scale path: one tokenize scan, map-side shard assignment + partial
  // aggregation into S rows; the share computation is a window over the
  // S-row aggregate. A real shard write adds a repartition(shard) +
  // sortWithinPartitions(order_key) — the manifest costs none of it.
  // ===========================================================
  val ShuffleShards = 16L

  /** The 60-bit domain-tagged order key, as an expression over `doc_id` —
    * shared by the manifest prediction and the from-files recomputation so
    * both derive the key from the stored document, never trusting a
    * written column. */
  private def shuffleOrderKey: Column = graft.plans.TextKernels.md5_prefix60(
    concat(lit("shuffle:"), col("doc_id").cast("string")).cast("binary"))

  /** The shuffle-enriched corpus frame (docs + tokens, ok, shard) shared
    * by the manifest (q162) and the shard writer ([[q162WriteShards]]). */
  private[graft] def q162Enriched(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("tokens", ws_token_count(col("text")).cast("long"))
      .withColumn("ok", shuffleOrderKey)
      .withColumn("shard", pmod(col("ok"), lit(ShuffleShards)))

  def q162ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    q162Manifest(spark, q162Enriched(spark, dir))

  /** Manifest aggregation over any shuffle-enriched frame — one code path
    * for the PREDICTION (q162 over the corpus) and the recomputation FROM
    * the written shard files ([[q162ManifestFromFiles]]), so the
    * write→recompute→compare realization proof (ShardWriteSpec) exercises
    * identical aggregation logic on both sides and differs only in input. */
  private def q162Manifest(spark: SparkSession, d: DataFrame): DataFrame = {
    // first-doc witness as min over (ok, doc_id) PACKED into one
    // DECIMAL(38,0) = ok·2^63 + doc_id (ok < 2^60, doc_id < 2^63 ⇒ fits
    // 38 digits): a struct-min would force SortAggregate — a per-partition
    // corpus sort — where the packed scalar min hash-aggregates
    val per = d.groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum("tokens").as("shard_tokens"),
        min(expr("CAST(ok AS DECIMAL(38,0)) * 9223372036854775808 + doc_id"))
          .as("packed"),
        expr("bit_xor(ok)").as("shard_fp"))
    // the manifest contract is one row per shard 0..S-1 — a shard that
    // happens to receive zero docs must surface as an explicit zero row
    // (the q154 zero-candidate-banding rule), not silently vanish from
    // the groupBy; its witness is -1 ("no first doc")
    spark.range(ShuffleShards).select(col("id").as("shard"))
      .join(per, Seq("shard"), "left_outer")
      .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
      .withColumn("shard_tokens", coalesce(col("shard_tokens"), lit(0L)))
      .withColumn("shard_fp", coalesce(col("shard_fp"), lit(0L)))
      .withColumn("token_permille", expr(
        "shard_tokens * 1000 DIV greatest(sum(shard_tokens) OVER (), 1L)"))
      .withColumn("first_doc",
        expr("coalesce(CAST(packed % 9223372036854775808 AS BIGINT), -1L)"))
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        col("token_permille"), col("first_doc"), col("shard_fp"))
      .orderBy("shard")
  }

  val q162Sql: String =
    s"""WITH d AS (SELECT doc_id,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens,
       |   CAST(('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ok
       |  FROM documents),
       | s AS (SELECT *, ok % $ShuffleShards AS shard FROM d),
       | per AS (SELECT shard, COUNT(*) AS n_docs,
       |   CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
       |   CAST(MIN(CAST(ok AS HUGEINT) * 9223372036854775808 + doc_id)
       |     % 9223372036854775808 AS BIGINT) AS first_doc,
       |   bit_xor(ok) AS shard_fp
       |  FROM s GROUP BY shard),
       | sh AS (SELECT unnest(range(0, $ShuffleShards)) AS shard)
       |SELECT CAST(sh.shard AS BIGINT) AS shard,
       | CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
       | CAST(COALESCE(shard_tokens, 0) AS BIGINT) AS shard_tokens,
       | CAST(COALESCE(shard_tokens, 0) * 1000
       |   // GREATEST(SUM(COALESCE(shard_tokens, 0)) OVER (), 1) AS BIGINT) AS token_permille,
       | CAST(COALESCE(first_doc, -1) AS BIGINT) AS first_doc,
       | CAST(COALESCE(shard_fp, 0) AS BIGINT) AS shard_fp
       |FROM sh LEFT JOIN per USING (shard) ORDER BY shard""".stripMargin.replace("\n", " ")

  /** REALIZE the shuffle q162 predicts: write the corpus as S shard
    * directories of parquet, each shard internally sorted by the order key
    * (ok, doc_id) — the layout a trainer streams sequentially. The hash
    * repartition on `shard` puts ALL rows of a shard in one task, and
    * `partitionBy` splits a task's output by shard value, so each shard
    * directory holds exactly one file whose first row is the manifest's
    * reproducibility witness (`first_doc`). At 100 TB, raise S so a shard
    * fits a write task — the repartition+sort cost is the one the q162
    * manifest comment prices; nothing here is driver-side. */
  def q162WriteShards(spark: SparkSession, dir: String, outPath: String): Unit =
    q162Enriched(spark, dir)
      .select(col("doc_id"), col("text"), col("ok"), col("shard"))
      .repartition(ShuffleShards.toInt, col("shard"))
      .sortWithinPartitions(col("shard"), col("ok"), col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)

  /** Recompute the q162 manifest FROM written shard files: the shard comes
    * from the directory a doc actually landed in, while tokens and the
    * order key are re-derived from the stored document itself — so a doc
    * written to the wrong shard, a dropped doc, or a corrupted text all
    * surface as a manifest mismatch. ShardWriteSpec asserts this equals
    * the prediction row for row, turning the reproducibility witness into
    * proof the written artifact matches. */
  def q162ManifestFromFiles(spark: SparkSession, outPath: String): DataFrame = {
    val d = spark.read.parquet(outPath)
      .select(col("doc_id"), col("text"), col("shard").cast("long").as("shard"))
      .withColumn("tokens", ws_token_count(col("text")).cast("long"))
      .withColumn("ok", shuffleOrderKey)
    q162Manifest(spark, d)
  }

  // ===========================================================
  // q163 — decontamination EXECUTION (q54's verdicts applied): the sixth
  // and final audit→execution bridge after q151/q155/q157/q158/q159.
  // q54 flags every corpus doc sharing any word 3-gram with the held-out
  // benchmark slice (doc_id % 97 = 0); this pass actually DROPS the
  // flagged docs, rebuilds the corpus from the survivors (texts
  // unmodified), and proves it — per source: docs before/dropped, token
  // mass before/after, removal share, and the order-independent corpus
  // fingerprint (bit_xor of kept docs' original-byte 60-bit md5, the
  // q157/q158/q159 convention). Per-lang drop counts must reconcile
  // EXACTLY with q54's n_contaminated (QueriesSpec asserts the bridge
  // row by row via [[q163Flags]]).
  //
  // Scale path: the audit's dataflow end-to-end — the benchmark 3-gram
  // set is tiny relative to the corpus and BROADCASTS into a left-semi
  // probe of the corpus gram stream (at a benchmark too big to hash-
  // broadcast, q66's bloom prefilter swaps in at the same boundary); the
  // flagged-id sliver equi-joins back on doc_id; the rollup is map-side
  // combined. No corpus×benchmark shuffle, nothing corpus² anywhere.
  // ===========================================================
  /** Per-corpus-doc decon verdicts (doc_id, lang, source, tokens, h,
    * dropped) — graft-visible so QueriesSpec can reconcile the per-lang
    * drop counts against the q54 audit exactly. */
  private[graft] def q163Flags(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val benchNgrams = wordTrigrams(d.filter(col("doc_id") % 97 === 0)).select("ng").distinct()
    val corpus = d.filter(col("doc_id") % 97 =!= 0)
    val flagged = wordTrigrams(corpus)
      .join(broadcast(benchNgrams), Seq("ng"), "left_semi")
      .select("doc_id").distinct()
    corpus
      .withColumn("tokens", ws_token_count(col("text")).cast("long"))
      .join(flagged.withColumn("dropped", lit(1L)), Seq("doc_id"), "left_outer")
      .withColumn("h",
        graft.plans.TextKernels.md5_prefix60(col("text").cast("binary")))
      .select(col("doc_id"), col("lang"), col("source"), col("tokens"),
        col("h"), col("dropped"))
  }

  def q163DeconExec(spark: SparkSession, dir: String): DataFrame =
    q163Flags(spark, dir)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("dropped"), lit(0L))).as("docs_dropped"),
        sum("tokens").as("tokens_before"),
        sum(when(col("dropped").isNull, col("tokens")).otherwise(0L)).as("tokens_after"),
        coalesce(expr("bit_xor(CASE WHEN dropped IS NULL THEN h END)"), lit(0L))
          .as("corpus_fp"))
      .withColumn("tokens_removed", col("tokens_before") - col("tokens_after"))
      .withColumn("removal_permille",
        expr("tokens_removed * 1000 DIV greatest(tokens_before, 1L)"))
      .select("source", "n_docs", "docs_dropped", "tokens_before",
        "tokens_after", "tokens_removed", "removal_permille", "corpus_fp")
      .orderBy("source")

  val q163Sql: String =
    """WITH toks AS (SELECT doc_id,
      |   regexp_extract_all(lower(text), '[^ \t\n\r\f]+') AS toks FROM documents),
      | ng AS (SELECT doc_id,
      |   unnest(CASE WHEN len(toks) >= 3
      |     THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      |     ELSE CAST([] AS VARCHAR[]) END) AS ng
      |  FROM toks),
      | bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0),
      | flagged AS (SELECT DISTINCT n.doc_id FROM ng n JOIN bench b USING (ng)
      |  WHERE n.doc_id % 97 <> 0),
      | corpus AS (SELECT doc_id, source,
      |   CAST(len(regexp_extract_all(text, '[^ \t\n\r\f]+')) AS BIGINT) AS tokens,
      |   CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
      |  FROM documents WHERE doc_id % 97 <> 0)
      |SELECT source, COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_dropped,
      | CAST(SUM(tokens) AS BIGINT) AS tokens_before,
      | CAST(SUM(CASE WHEN f.doc_id IS NULL THEN tokens ELSE 0 END) AS BIGINT) AS tokens_after,
      | CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN tokens ELSE 0 END) AS BIGINT) AS tokens_removed,
      | CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN tokens ELSE 0 END) * 1000
      |   // GREATEST(SUM(tokens), 1) AS BIGINT) AS removal_permille,
      | COALESCE(bit_xor(CASE WHEN f.doc_id IS NULL THEN h END), 0) AS corpus_fp
      |FROM corpus LEFT JOIN flagged f USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q168 — PII-redaction EXECUTION (q51's scan applied — the eighth
  // audit→execution bridge, and the first that REWRITES text in place
  // rather than dropping or replicating whole documents): every detected
  // email / IPv4 / phone span is replaced with '<PII>' in q51's exact
  // chain order, the corpus is rebuilt with the redacted bytes, and the
  // rewrite is proven per source — docs touched, spans redacted by type,
  // char mass before/after, and a bit_xor fingerprint over the REDACTED
  // (doc_id, text) pairs: the corpus that ships, not the one scanned.
  //
  // The synthetic corpus carries no organic PII spans (q51 finds zero at
  // every SF), so a doc_id-gated deterministic contact line stands in for
  // the raw ingest's PII — the in-data harness convention q100 (user_id %
  // 13 deletion list) and q163 (doc_id % 97 benchmark slice) established:
  // docs with doc_id % 7 < 2 gain one email, one IPv4, and one phone span,
  // all derived from doc_id so both engines build the identical raw text.
  // QueriesSpec reconciles docs_touched and each span count against the
  // gate exactly.
  //
  // Scale path: pure per-row column work — three codegen'd regexp_replace
  // passes over the same subset-regex family q51 uses (identical under
  // Java and RE2: no lookaround, no \d/\w shorthand), then ONE map-side
  // rollup to S source rows. No joins, no shuffle but the S-row aggregate;
  // at 100 TB this is a single scan-rewrite-fold pass, embarrassingly
  // parallel by construction.
  // ===========================================================
  /** The raw-ingest frame q168 redacts: (doc_id, source, raw) with the
    * gated contact line appended — exposed so QueriesSpec can reconcile
    * the exec output against the exact injected spans. */
  private[graft] def q168Raw(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).withColumn("raw",
      when(pmod(col("doc_id"), lit(7)) < 2, concat(
        col("text"), lit(" Contact: user"), col("doc_id").cast("string"),
        lit("@example.com ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(100)).cast("string"),
        lit(" tel +1 555 01"),
        lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")))
        .otherwise(col("text")))
      .select("doc_id", "source", "raw")

  def q168PiiRedactExec(spark: SparkSession, dir: String): DataFrame = {
    val red = q168Raw(spark, dir)
      .withColumn("n_email", size(regexp_extract_all(col("raw"), lit(emailPat), lit(0))).cast("long"))
      .withColumn("n_ipv4", size(regexp_extract_all(col("raw"), lit(ipv4Pat), lit(0))).cast("long"))
      .withColumn("n_phone", size(regexp_extract_all(col("raw"), lit(phonePat), lit(0))).cast("long"))
      .withColumn("text_red",
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
          emailPat, "<PII>"), ipv4Pat, "<PII>"), phonePat, "<PII>"))
      .withColumn("h_red",
        graft.plans.TextKernels.md5_prefix60(concat(col("doc_id").cast("string"), lit(":"),
          col("text_red")).cast("binary")))
    red.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("text_red") =!= col("raw"), 1L).otherwise(0L)).as("docs_touched"),
        sum("n_email").as("emails"),
        sum("n_ipv4").as("ipv4s"),
        sum("n_phone").as("phones"),
        sum(length(col("raw")).cast("long")).as("chars_before"),
        sum(length(col("text_red")).cast("long")).as("chars_after"),
        expr("bit_xor(h_red)").as("redacted_fp"))
      .orderBy("source")
  }

  val q168Sql: String = {
    val email = emailPat
    val ipv4 = ipv4Pat
    val phone = phonePat
    s"""WITH ing AS (SELECT doc_id, source,
       |  CASE WHEN doc_id % 7 < 2 THEN text || ' Contact: user' ||
       |    CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.' ||
       |    CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ||
       |    ' tel +1 555 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
       |   ELSE text END AS raw
       | FROM documents),
       | r AS (SELECT doc_id, source, raw,
       |  CAST(len(regexp_extract_all(raw, '$email')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(raw, '$ipv4')) AS BIGINT) AS n_ipv4,
       |  CAST(len(regexp_extract_all(raw, '$phone')) AS BIGINT) AS n_phone,
       |  regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$email', '<PII>', 'g'), '$ipv4', '<PII>', 'g'), '$phone', '<PII>', 'g') AS text_red
       | FROM ing)
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN text_red <> raw THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
       | CAST(SUM(n_email) AS BIGINT) AS emails,
       | CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
       | CAST(SUM(n_phone) AS BIGINT) AS phones,
       | CAST(SUM(length(raw)) AS BIGINT) AS chars_before,
       | CAST(SUM(length(text_red)) AS BIGINT) AS chars_after,
       | bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text_red), 1, 15)) AS BIGINT)) AS redacted_fp
       |FROM r GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q165 — epoch-mixture EXECUTION (q131's plan applied — the seventh
  // audit→execution bridge, and the first that UP-samples): each
  // source's capped epoch rate ep = least(epochs_permille, cap) is
  // realized per document as ep DIV 1000 full copies plus one more iff
  // the domain-tagged hash gate draws below ep mod 1000 — deterministic
  // fractional epochs with zero coordination (the q62/q151 gate
  // convention, 'epoch:' tag so stacked samplers stay independent).
  // Output per source: the applied rate, corpus vs emitted docs/token
  // mass, the realized permille, and a bit_xor fingerprint over
  // (doc, copy-index) replica hashes — a MULTISET fingerprint, so both
  // engines must agree on every replica COUNT, not just membership.
  //
  // Scale path: ONE tokenize scan; the plan is the |sources|-row q131
  // table and broadcasts; copy counts are per-row arithmetic; the only
  // fanout is the ≤(cap/1000 + 1)× replica explode feeding a map-side
  // partial rollup. Nothing shuffles but the S-row aggregates.
  // ===========================================================
  /** The epoch-execution per-doc frame (source, doc_id, tokens, ep, gate,
    * copies) — q165's decision table, shared with q166's materialization
    * manifest so both realize the SAME replica multiset. Persisted and
    * MEMOIZED per (session, sf-dir): the narrow frame feeds two aggregates
    * inside q165 (q65's bigram rule) AND three q166 entry points, so one
    * Verify/scale-gate run holds a single cached copy instead of
    * accumulating one per entry point (r12 advisory). An external
    * clearCache/unpersist only drops the blocks — the memoized plan then
    * recomputes uncached, still correct. */
  // one-element memo, not a map: a growing (session, dir)-keyed map would
  // pin every stopped session's plans from a static field for the JVM
  // lifetime; the single slot covers the real reuse (five entry points in
  // one Verify/bench run) and an old entry is simply replaced
  @volatile private var q165PerDocCache: ((SparkSession, String), DataFrame) = null
  private def q165PerDoc(spark: SparkSession, dir: String): DataFrame = {
    val cached = q165PerDocCache
    if (cached != null && cached._1 == ((spark, dir))) cached._2
    else {
      val built = q165PerDocBuild(spark, dir)
      // release the evicted entry's persisted blocks BEFORE installing the
      // replacement: alternating (session, dir) keys would otherwise strand
      // MEMORY_AND_DISK blocks (and pin a stopped session's plan) until LRU
      // eviction. A stopped session makes unpersist throw — guard and drop.
      if (cached != null)
        try {
          if (!cached._1._1.sparkContext.isStopped)
            cached._2.unpersist(blocking = false)
        } catch { case _: Exception => () }
      q165PerDocCache = ((spark, dir), built)
      built
    }
  }
  private def q165PerDocBuild(spark: SparkSession, dir: String): DataFrame = {
    val plan = q131EpochPlan(spark, dir)
      .select(col("source"),
        least(col("epochs_permille"), lit(EpochCapPermille)).as("ep"))
    docs(spark, dir)
      .withColumn("tokens", ws_token_count(col("text")).cast("long"))
      .select(col("source"), col("doc_id"), col("tokens"))
      .join(broadcast(plan), Seq("source"))
      .withColumn("gate",
        graft.plans.TextKernels.md5_prefix60(concat(lit("epoch:"), col("doc_id").cast("string"))
          .cast("binary")) % 1000)
      .withColumn("copies",
        expr("ep DIV 1000 + CASE WHEN gate < ep % 1000 THEN 1 ELSE 0 END"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  def q165EpochExec(spark: SparkSession, dir: String): DataFrame = {
    val d = q165PerDoc(spark, dir)
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("tokens").as("tokens"),
      max("ep").as("applied_permille"),
      sum("copies").as("emitted_docs"),
      sum(expr("tokens * copies")).as("emitted_tokens"))
    val fp = d.filter(col("copies") > 0)
      .select(col("source"), col("doc_id"),
        explode(expr("sequence(0L, copies - 1L)")).as("k"))
      .withColumn("rfp",
        graft.plans.TextKernels.md5_prefix60(concat(lit("epochfp:"), col("doc_id").cast("string"),
          lit(":"), col("k").cast("string")).cast("binary")))
      .groupBy("source").agg(expr("bit_xor(rfp)").as("replica_fp"))
    base.join(fp, Seq("source"), "left_outer")
      .withColumn("replica_fp", coalesce(col("replica_fp"), lit(0L)))
      .withColumn("achieved_permille",
        expr("emitted_tokens * 1000 DIV greatest(tokens, 1L)"))
      .select(col("source"), col("n_docs"), col("tokens"),
        col("applied_permille"), col("emitted_docs"), col("emitted_tokens"),
        col("achieved_permille"), col("replica_fp"))
      .orderBy("source")
  }

  // shared by q165Sql and q166Sql: the epoch plan + per-doc replica-count
  // chain (through CTE c). lazy: EpochBudgetX/EpochCapPermille are
  // declared further down with q131; a strict val here would capture 0 at
  // object init (the q161Sql rule)
  private lazy val epochExecCtes: String =
    s"""WITH per AS (SELECT source,
       |   CAST(SUM(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+'))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       | w AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS weight FROM per),
       | tt AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot_tokens,
       |   CAST(SUM(weight) AS BIGINT) AS tot_weight FROM w),
       | p AS (SELECT source, tokens,
       |   (weight * 1000 // tt.tot_weight) * tt.tot_tokens * $EpochBudgetX // 1000 AS required_tokens
       |  FROM w, tt),
       | plan AS (SELECT source,
       |   LEAST(required_tokens * 1000 // tokens, $EpochCapPermille) AS ep FROM p),
       | dd AS (SELECT d.source, d.doc_id,
       |   CAST(len(regexp_extract_all(d.text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens,
       |   CAST(('0x' || substr(md5('epoch:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS gate
       |  FROM documents d),
       | c AS (SELECT dd.*, ep,
       |   ep // 1000 + CASE WHEN gate < ep % 1000 THEN 1 ELSE 0 END AS copies
       |  FROM dd JOIN plan USING (source))""".stripMargin

  lazy val q165Sql: String =
    s"""$epochExecCtes,
       | base AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS tokens,
       |   CAST(MAX(ep) AS BIGINT) AS applied_permille,
       |   CAST(SUM(copies) AS BIGINT) AS emitted_docs,
       |   CAST(SUM(tokens * copies) AS BIGINT) AS emitted_tokens
       |  FROM c GROUP BY source),
       | r AS (SELECT source, doc_id, u.k FROM c,
       |   LATERAL (SELECT unnest(range(0, copies)) AS k) u),
       | fp AS (SELECT source, bit_xor(CAST(('0x' || substr(md5('epochfp:'
       |     || CAST(doc_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)) AS replica_fp
       |  FROM r GROUP BY source)
       |SELECT base.source, n_docs, tokens, applied_permille, emitted_docs, emitted_tokens,
       | CAST(emitted_tokens * 1000 // GREATEST(tokens, 1) AS BIGINT) AS achieved_permille,
       | CAST(COALESCE(replica_fp, 0) AS BIGINT) AS replica_fp
       |FROM base LEFT JOIN fp USING (source) ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q166 — training-set MATERIALIZATION manifest (q165 × q162): the two
  // executions composed into the artifact a trainer actually streams —
  // the epoch-upsampled replica multiset, globally shuffled and sharded.
  // Every replica (doc, copy-index) draws its own order key
  // hash60('mat:' ‖ doc_id ‖ ':' ‖ k) — a fresh domain tag, so the
  // materialization shuffle is independent of q162's corpus shuffle and
  // of every sampling gate, AND two replicas of the same doc land in
  // (almost surely) different shards, which is exactly what epoch
  // up-sampling wants: no shard sees the same doc twice per pass.
  // Manifest per shard: replicas, distinct docs, token mass and share,
  // the first replica in shard order (the reproducibility witness), and
  // the bit_xor order-key fingerprint; zero-replica shards surface as
  // explicit zero rows (the q162 contract).
  //
  // Scale path: q165's one-tokenize-scan replica frame + the ≤4×
  // map-side explode; shard assignment is per-row arithmetic; the
  // manifest is an S-row rollup (count-distinct doc_id is the only
  // two-phase aggregate, bounded by the replica count). A real shard
  // write adds repartition(shard) + sortWithinPartitions(ok) exactly as
  // q162WriteShards does for the raw corpus.
  // ===========================================================
  /** The per-replica materialization order key over (`doc_id`, `k`) —
    * shared by the manifest and the from-files recomputation, which never
    * trusts a written column. */
  private def matOrderKey: Column = graft.plans.TextKernels.md5_prefix60(
    concat(lit("mat:"), col("doc_id").cast("string"),
      lit(":"), col("k").cast("string")).cast("binary"))

  /** The sharded replica frame (doc_id, tokens, k, ok, shard) — q165's
    * multiset under the materialization shuffle; shared by the manifest
    * and the shard writer ([[q166WriteShards]]). */
  private def q166Replicas(spark: SparkSession, dir: String): DataFrame =
    q165PerDoc(spark, dir)
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("tokens"),
        explode(expr("sequence(0L, copies - 1L)")).as("k"))
      .withColumn("ok", matOrderKey)
      .withColumn("shard", pmod(col("ok"), lit(ShuffleShards)))

  def q166MaterializeManifest(spark: SparkSession, dir: String): DataFrame =
    q166Manifest(spark, q166Replicas(spark, dir))

  /** Manifest aggregation over any sharded replica frame — one code path
    * for the prediction and the from-files recomputation (the q162Manifest
    * rule), so ShardWriteSpec's q166 write→recompute→compare differs only
    * in input. */
  private[graft] def q166Manifest(spark: SparkSession, reps: DataFrame): DataFrame = {
    val per = reps.groupBy("shard").agg(
      count(lit(1)).as("n_replicas"),
      countDistinct("doc_id").as("n_docs"),
      sum("tokens").as("shard_tokens"),
      min(expr("CAST(ok AS DECIMAL(38,0)) * 9223372036854775808 + doc_id"))
        .as("packed"),
      expr("bit_xor(ok)").as("shard_fp"))
    spark.range(ShuffleShards).select(col("id").as("shard"))
      .join(per, Seq("shard"), "left_outer")
      .withColumn("n_replicas", coalesce(col("n_replicas"), lit(0L)))
      .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
      .withColumn("shard_tokens", coalesce(col("shard_tokens"), lit(0L)))
      .withColumn("shard_fp", coalesce(col("shard_fp"), lit(0L)))
      .withColumn("token_permille", expr(
        "shard_tokens * 1000 DIV greatest(sum(shard_tokens) OVER (), 1L)"))
      .withColumn("first_doc",
        expr("coalesce(CAST(packed % 9223372036854775808 AS BIGINT), -1L)"))
      .select(col("shard"), col("n_replicas"), col("n_docs"),
        col("shard_tokens"), col("token_permille"), col("first_doc"),
        col("shard_fp"))
      .orderBy("shard")
  }

  lazy val q166Sql: String =
    s"""$epochExecCtes,
       | r AS (SELECT doc_id, tokens, u.k,
       |   CAST(('0x' || substr(md5('mat:' || CAST(doc_id AS VARCHAR) || ':'
       |     || CAST(u.k AS VARCHAR)), 1, 15)) AS BIGINT) AS ok
       |  FROM c, LATERAL (SELECT unnest(range(0, copies)) AS k) u),
       | s AS (SELECT *, ok % $ShuffleShards AS shard FROM r),
       | mper AS (SELECT shard, COUNT(*) AS n_replicas,
       |   COUNT(DISTINCT doc_id) AS n_docs,
       |   CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
       |   CAST(MIN(CAST(ok AS HUGEINT) * 9223372036854775808 + doc_id)
       |     % 9223372036854775808 AS BIGINT) AS first_doc,
       |   bit_xor(ok) AS shard_fp
       |  FROM s GROUP BY shard),
       | sh AS (SELECT unnest(range(0, $ShuffleShards)) AS shard)
       |SELECT CAST(sh.shard AS BIGINT) AS shard,
       | CAST(COALESCE(n_replicas, 0) AS BIGINT) AS n_replicas,
       | CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
       | CAST(COALESCE(shard_tokens, 0) AS BIGINT) AS shard_tokens,
       | CAST(COALESCE(shard_tokens, 0) * 1000
       |   // GREATEST(SUM(COALESCE(shard_tokens, 0)) OVER (), 1) AS BIGINT) AS token_permille,
       | CAST(COALESCE(first_doc, -1) AS BIGINT) AS first_doc,
       | CAST(COALESCE(shard_fp, 0) AS BIGINT) AS shard_fp
       |FROM sh LEFT JOIN mper USING (shard) ORDER BY shard""".stripMargin.replace("\n", " ")

  /** REALIZE the materialization q166 predicts: write the replica
    * multiset as S shard directories, each one file internally sorted by
    * (ok, doc_id, k) — the training-shard layout, minus the payload bytes
    * (a production shard inlines the text; the identity/order/placement
    * proof is the same either way). Same one-task-per-shard layout
    * guarantee as [[q162WriteShards]]. */
  def q166WriteShards(spark: SparkSession, dir: String, outPath: String): Unit =
    q166Replicas(spark, dir)
      .select(col("doc_id"), col("k"), col("ok"), col("shard"))
      .repartition(ShuffleShards.toInt, col("shard"))
      .sortWithinPartitions(col("shard"), col("ok"), col("doc_id"), col("k"))
      .write.mode("overwrite").partitionBy("shard").parquet(outPath)

  /** Recompute the q166 manifest FROM written shard files: shard from the
    * directory a replica landed in, the order key re-derived from the
    * stored (doc_id, k), and token counts re-joined from the CORPUS — so
    * a misplaced replica, a dropped copy, or a forged id all surface as a
    * manifest mismatch against the prediction (ShardWriteSpec). */
  def q166ManifestFromFiles(spark: SparkSession, dir: String,
                            outPath: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), ws_token_count(col("text")).cast("long").as("tokens"))
    val reps = spark.read.parquet(outPath)
      .select(col("doc_id"), col("k"), col("shard").cast("long").as("shard"))
      .withColumn("ok", matOrderKey)
      .join(toks, Seq("doc_id"))
    q166Manifest(spark, reps)
  }

  // ===========================================================
  // q65 — count-based LM quality score (CCNet/Gopher-style perplexity
  // filtering, re-expressed integer-exact). A 2-gram count LM is trained on
  // the corpus itself; each document's score is the mean log2-frequency of
  // its bigrams, in fixed-point millis. Rare/garbled word sequences score
  // low — the classic "perplexity filter" signal — while every operation
  // (bin() string length for floor(log2)+1, integer sums, one integer
  // division) is bit-exact across engines, so the oracle hash-matches
  // where a float log-prob would drift in ULPs.
  //
  // Scale path: the exploded bigrams feed BOTH the lm-table aggregation and
  // the scoring side of the join, so they are persisted (memory, spilling
  // to disk) — one tokenize+explode scan of the corpus, not two. Scoring is
  // a shuffle equi-join on the bigram key (at 100 TB the vocabulary's heavy
  // head could be broadcast and the long tail defaulted to class 1, trading
  // exactness for a shuffle; here the join stays exact). No UDFs; the
  // explode + join + two group-bys all codegen.
  // ===========================================================
  def q65LmQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.plans.TextKernels.ws_tokens(lower(col("text"))).as("ts"))
      .filter(size(col("ts")) >= 2)
    val bigrams = toks.select(col("doc_id"), col("source"),
      explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> concat(ts[i - 1], ' ', ts[i]))")).as("big"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = bigrams.groupBy("big")
      .agg(count(lit(1)).as("freq"))
      .select(col("big"), length(bin(col("freq"))).cast("long").as("cls"))
    bigrams.join(lm, "big")
      .groupBy("doc_id")
      .agg(first("source").as("source"),
        expr("CAST(1000 * SUM(cls) DIV COUNT(*) AS BIGINT)").as("score"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        min("score").as("min_score"),
        max("score").as("max_score"),
        sum("score").cast("long").as("sum_score"))
      .orderBy("source")
  }

  val q65Sql: String =
    """WITH tk AS (SELECT doc_id, source,
      |  regexp_extract_all(lower(text), '[^ \t\n\r\f]+') AS ts FROM documents),
      | bg AS (SELECT doc_id, source,
      |  unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS big
      |  FROM tk WHERE len(ts) >= 2),
      | lm AS (SELECT big, CAST(length(bin(COUNT(*))) AS BIGINT) AS cls FROM bg GROUP BY big),
      | d AS (SELECT doc_id, ANY_VALUE(source) AS source,
      |  CAST(1000 * SUM(cls) // COUNT(*) AS BIGINT) AS score
      |  FROM bg JOIN lm USING (big) GROUP BY doc_id)
      |SELECT source, COUNT(*) AS n_docs, MIN(score) AS min_score,
      | MAX(score) AS max_score, CAST(SUM(score) AS BIGINT) AS sum_score
      |FROM d GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q66 — Bloom-prefiltered decontamination: same contract as q54 (flag
  // corpus docs sharing any word 3-gram with the doc_id%97 benchmark
  // slice, reported per SOURCE) but the scale path a 100 TB corpus needs
  // when the benchmark n-gram SET is too big to broadcast as a hash
  // relation: build a BloomSketch over the benchmark's 60-bit n-gram
  // digests (16 KiB of bits regardless of cardinality, OR-merged map-side),
  // broadcast it, and drop corpus n-grams by a codegen'd bit-probe
  // expression BEFORE anything shuffles. Only the sliver surviving the
  // bloom pays the exact digest semi-join, which removes false positives —
  // so the output is exact and bloom-parameter-independent (the oracle is
  // plain SQL with no bloom at all). False negatives are impossible.
  // ===========================================================
  val BloomBits = 1 << 17 // 16 KiB: ~9 bits/key at sf0.1 benchmark size
  val BloomProbes = 5

  def q66BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomSketch
    def ngramHashes(df: DataFrame): DataFrame =
      df.withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
        .withColumn("ng", explode(graft.plans.TextKernels.ws_grams(col("toks"), 3)))
        .select(col("doc_id"),
          graft.plans.TextKernels.md5_prefix60(col("ng").cast("binary")).as("h"))
    val d = docs(spark, dir)
    // bench-slice digest set: THREE consumers (the bloom aggregate, the
    // exact-verify broadcast, and the scalar-subquery view) — materialize
    // once instead of re-tokenizing the bench slice per consumer
    val benchHashes = ngramHashes(d.filter(col("doc_id") % 97 === 0))
      .select("h").distinct().localCheckpoint()
    // the bits reach the corpus scan as a SCALAR SUBQUERY, not a join:
    // a single-row cross join would be subject to join reordering (Spark's
    // PushDownLeftSemiAntiJoin even crosses aggregation boundaries), which
    // floats the exact semi-join BELOW the bloom probe — harmless at test
    // scale but exactly backwards at 100 TB. As a filter predicate on the
    // n-gram stream the probe is pinned below the join and evaluates where
    // it belongs: in the corpus scan stage.
    benchHashes.agg(
        BloomSketch.bloom_agg(col("h"), BloomBits, BloomProbes).as("bits"))
      .createOrReplaceTempView("graft_q66_bloom")
    val contaminated = ngramHashes(d.filter(col("doc_id") % 97 =!= 0))
      .filter(BloomSketch.mightContain(
        "(SELECT bits FROM graft_q66_bloom)", "h", BloomBits, BloomProbes))
      .join(broadcast(benchHashes), Seq("h"), "left_semi") // exact: kills FPs
      .select("doc_id").distinct()
    d.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated.withColumn("hit", lit(1)), Seq("doc_id"), "left_outer")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
      .withColumn("contamination_rate",
        col("n_contaminated").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  /** Oracle: digest-level overlap with NO bloom — the two-phase bloom +
    * exact-verify plan must land on exactly this result. */
  val q66Sql: String =
    """WITH toks AS (SELECT doc_id, source,
      |   regexp_extract_all(lower(text), '[^ \t\n\r\f]+') AS toks FROM documents),
      | ng AS (SELECT doc_id,
      |   CAST(('0x' || substr(md5(unnest(CASE WHEN len(toks) >= 3
      |     THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
      |     ELSE CAST([] AS VARCHAR[]) END)), 1, 15)) AS BIGINT) AS h
      |  FROM toks),
      | bench AS (SELECT DISTINCT h FROM ng WHERE doc_id % 97 = 0),
      | contaminated AS (SELECT DISTINCT n.doc_id FROM ng n JOIN bench b USING (h)
      |  WHERE n.doc_id % 97 <> 0),
      | corpus AS (SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0)
      |SELECT source, COUNT(*) AS n_docs,
      | CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      | CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS contamination_rate
      |FROM corpus LEFT JOIN contaminated c USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q67 — deterministic per-source uniform sample, exactly k docs per
  // source, with NO window sort: a row_number() OVER (PARTITION BY source)
  // plan shuffles the ENTIRE corpus into one partition per source — at
  // 100 TB a hot source is a straggler that never finishes. smallest_k
  // over the 60-bit md5 hash keeps k longs of reducer state per source,
  // combines map-side, and the winners join back (broadcast — k×sources
  // rows) to fetch the sampled rows. Hash order makes the sample uniform,
  // content-stable across re-runs/repartitioning, and engine-replayable.
  // ===========================================================
  val SamplePerSource = 5

  def q67GroupSample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("h",
        graft.plans.TextKernels.md5_prefix60(col("doc_id").cast("string").cast("binary")))
    val winners = d.groupBy("source")
      .agg(graft.functions.SmallestK.smallest_k(col("h"), SamplePerSource).as("hs"))
      .select(col("source"), explode(col("hs")).as("h"))
    d.join(broadcast(winners), Seq("source", "h"), "left_semi")
      .select("source", "doc_id", "lang", "n_chars")
      .orderBy("source", "doc_id")
  }

  val q67Sql: String =
    s"""WITH d AS (SELECT source, doc_id, lang, n_chars,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       | FROM documents),
       | r AS (SELECT source, doc_id, lang, n_chars,
       |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM d)
       |SELECT source, doc_id, lang, n_chars FROM r
       |WHERE rn <= $SamplePerSource ORDER BY source, doc_id""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q71 — vocabulary coverage / OOV-rate evaluation: build the token
  // vocabulary from the train split (the q53 hash-split discipline:
  // doc_id parity, deterministic and coordination-free) and measure each
  // source's out-of-vocabulary token rate on the held-out split — the
  // standard pre-training check that a tokenizer/vocab trained on one
  // slice actually covers the rest of the corpus. One tokenize+explode
  // scan feeds both sides; the membership test is an equi-join on the
  // token (broadcast when the vocab fits, shuffle otherwise — and at
  // 100 TB the q66 bloom-prefilter move applies verbatim to THIS join,
  // since OOV tokens are exactly the bloom's negative space).
  // ===========================================================
  def q71VocabOov(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("tok"))
    val vocab = toks.filter(col("doc_id") % 2 === 0).select("tok").distinct()
    toks.filter(col("doc_id") % 2 === 1)
      .join(broadcast(vocab.withColumn("known", lit(1L))), Seq("tok"), "left_outer")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille", expr("1000 * n_oov DIV n_tokens"))
      .orderBy("source")
  }

  val q71Sql: String =
    """WITH tk AS (SELECT doc_id, source,
      |  unnest(regexp_extract_all(lower(text), '[^ \t\n\r\f]+')) AS tok FROM documents),
      | vocab AS (SELECT DISTINCT tok FROM tk WHERE doc_id % 2 = 0),
      | ev AS (SELECT tk.source, tk.tok, v.tok AS known
      |  FROM tk LEFT JOIN vocab v ON tk.tok = v.tok WHERE tk.doc_id % 2 = 1)
      |SELECT source, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
      | CAST(SUM(CASE WHEN known IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      | 1000 * CAST(SUM(CASE WHEN known IS NULL THEN 1 ELSE 0 END) AS BIGINT) // COUNT(*) AS oov_permille
      |FROM ev GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q74 — inverted-index build: token -> (document frequency, corpus
  // frequency, capped posting list). The search-index materialization pass
  // of a retrieval pipeline as a dataflow: one tokenize+explode scan, one
  // map-side-combinable (token, doc) aggregation for tf, then df/cf roll
  // up from THAT frame (never re-touching the corpus) while the posting
  // list is the per-token top-3 by tf — the bounded-heap TopKPerKey
  // rewrite, so reducer state is O(k) per token no matter how skewed the
  // head of the vocabulary is. At 100 TB posting lists are the classic
  // skew hazard ("the" posts everywhere); capping them map-side is what
  // keeps the build one clean pass.
  // ===========================================================
  val PostingCap = 3
  val MinDf = 50L

  def q74InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    // the (token, doc) frame feeds BOTH the df/cf rollup and the posting
    // lists — materialize it once instead of re-running tokenize+explode
    // per reference (the q65 lesson)
    val tf = docs(spark, dir)
      .select(col("doc_id"),
        explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("tok"))
      .groupBy("tok", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = tf.groupBy("tok")
      .agg(count(lit(1)).as("df"), sum("tf").cast("long").as("cf"))
      .filter(col("df") >= MinDf)
    val w = Window.partitionBy("tok").orderBy(col("tf").desc, col("doc_id"))
    val postings = tf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PostingCap)
      .groupBy("tok")
      .agg(expr(
        """concat_ws(',', transform(array_sort(collect_list(struct(rn, doc_id, tf))),
          |  x -> concat(CAST(x.doc_id AS STRING), ':', CAST(x.tf AS STRING))))""".stripMargin)
        .as("postings"))
    stats.join(postings, "tok")
      .select(col("tok"), col("df"), col("cf"), col("postings"))
      .orderBy("tok")
  }

  val q74Sql: String =
    s"""WITH tf AS (SELECT tok, doc_id, COUNT(*) AS tf FROM (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS tok
       |  FROM documents) GROUP BY tok, doc_id),
       | stats AS (SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf
       |  FROM tf GROUP BY tok HAVING COUNT(*) >= $MinDf),
       | r AS (SELECT tok, doc_id, tf,
       |   ROW_NUMBER() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS rn FROM tf),
       | p AS (SELECT tok, string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
       |    ',' ORDER BY rn) AS postings
       |  FROM r WHERE rn <= $PostingCap GROUP BY tok)
       |SELECT stats.tok, df, cf, postings FROM stats JOIN p ON stats.tok = p.tok
       |ORDER BY stats.tok""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q75 — PMI collocations: strongly-associated adjacent word pairs, the
  // phrase-mining / tokenizer-merge signal. PMI needs a log; the
  // integer-exact form is the bit-length class of the odds ratio —
  // class = bitlen(n_ab·N) − bitlen(n_a·n_b), i.e. ⌊log2⌋+1 arithmetic —
  // so both engines agree bit-for-bit where float log PMI would drift.
  // One tokenize scan feeds unigram AND bigram counts; the pair table
  // then joins the unigram counts on each side — shuffle equi-joins on
  // the word key (at 100 TB the vocabulary's heavy head would broadcast;
  // the n_ab >= MinPair gate keeps the pair side linear-ish regardless).
  // ===========================================================
  val MinPair = 20L

  def q75PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    // one tokenize scan feeds unigram AND bigram counts — persisted, since
    // both sides reference it (the q65 lesson)
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        graft.plans.TextKernels.ws_tokens(lower(col("text"))).as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val totals = uni.agg(sum("n_w").cast("long").as("n_total"))
    val pairs = toks.filter(size(col("ts")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(ts[i - 1] AS a, ts[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinPair)
    pairs
      .join(uni.select(col("w").as("a"), col("n_w").as("n_a")), "a")
      .join(uni.select(col("w").as("b"), col("n_w").as("n_b")), "b")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_class",
        (length(bin(col("n_ab") * col("n_total"))) -
          length(bin(col("n_a") * col("n_b")))).cast("long"))
      .select("a", "b", "n_ab", "n_a", "n_b", "pmi_class")
      .orderBy(col("pmi_class").desc, col("n_ab").desc, col("a"), col("b"))
      .limit(20)
  }

  val q75Sql: String =
    s"""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS ts
       |  FROM documents),
       | uni AS (SELECT w, COUNT(*) AS n_w FROM (SELECT unnest(ts) AS w FROM tk) GROUP BY w),
       | tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM uni),
       | pr AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS n_ab FROM (
       |   SELECT unnest(list_transform(range(1, len(ts)), i -> struct_pack(a := ts[i], b := ts[i + 1]))) AS p
       |   FROM tk WHERE len(ts) >= 2)
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinPair)
       |SELECT pr.a, pr.b, n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
       | CAST(length(bin(n_ab * n_total)) - length(bin(ua.n_w * ub.n_w)) AS BIGINT) AS pmi_class
       |FROM pr JOIN uni ua ON pr.a = ua.w JOIN uni ub ON pr.b = ub.w, tot
       |ORDER BY pmi_class DESC, n_ab DESC, a, b LIMIT 20""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q76 — BM25-class ranked retrieval for a fixed term set: the scoring
  // pass of full-text search as one corpus scan. idf uses the same
  // integer bit-length log class as q75 (bitlen(N) − bitlen(df)); the tf
  // saturation k/(tf+k) becomes integer millis (tf·1000 DIV (tf+2)) — the
  // whole score is exact int64 arithmetic, replayed verbatim by the
  // oracle. df comes from the SAME filtered (term, doc) frame (no second
  // corpus scan) and is broadcast back — |terms| rows. Top-10 docs via
  // the bounded-heap rewrite.
  // ===========================================================
  val Bm25Terms: Seq[String] = Seq("spark", "merge", "vector")

  /** BM25-ish lexical score of every document matching ≥1 query term:
    * (doc_id, score, n_terms). Shared by q76 (top-10 report) and q126
    * (the lexical leg of hybrid RRF fusion). */
  private[operators] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val tf = docs(spark, dir)
      .select(col("doc_id"),
        explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfs), "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("contrib",
        (length(bin(col("n_docs"))) - length(bin(col("df")))).cast("long") *
          expr("tf * 1000 DIV (tf + 2)"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("score"), count(lit(1)).as("n_terms"))
  }

  def q76Bm25(spark: SparkSession, dir: String): DataFrame = {
    // top-10 via orderBy().limit() → TakeOrderedAndProject (bounded heaps,
    // driver merges 10); the matching-doc score table is corpus-sized in
    // the worst case and must never funnel through one task's sort. The
    // rank window runs post-limit, over exactly 10 rows.
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
      .withColumn("rank", row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select("rank", "doc_id", "score", "n_terms")
      .orderBy("rank")
  }

  val q76Sql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
       | tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
       |   SELECT doc_id, unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS tok
       |   FROM documents) WHERE tok IN ($termList) GROUP BY doc_id, tok),
       | dfs AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
       | sc AS (SELECT doc_id,
       |   CAST(SUM(CAST(length(bin(n_docs)) - length(bin(df)) AS BIGINT) * (tf * 1000 // (tf + 2))) AS BIGINT) AS score,
       |   COUNT(*) AS n_terms
       |  FROM tf JOIN dfs USING (tok), n GROUP BY doc_id),
       | r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT rank, doc_id, score, n_terms FROM r WHERE rank <= 10
       |ORDER BY rank""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q77 — deterministic weighted sampling (A-RES re-expressed in exact
  // integers): per-source keep the k docs with the smallest
  // hash60(doc_id) DIV weight — longer documents (weight = n_chars) get
  // proportionally smaller priorities, so selection is length-biased the
  // way token-budget-aware corpus sampling wants, yet fully
  // deterministic, coordination-free (no global RNG state), and
  // replayable by any engine with md5. Per-source top-k runs on the
  // bounded-heap rewrite — O(k) reducer state per source, no per-source
  // sort of the corpus.
  // ===========================================================
  val WSampleK = 10

  def q77WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))
    docs(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("priority", expr(
        "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT)" +
          " DIV greatest(n_chars, 1)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= WSampleK)
      .select("source", "rank", "doc_id", "n_chars", "priority")
      .orderBy("source", "rank")
  }

  val q77Sql: String =
    s"""WITH p AS (SELECT source, doc_id, n_chars,
       |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |    // greatest(n_chars, 1) AS priority
       | FROM documents),
       | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rank
       |  FROM p)
       |SELECT source, rank, doc_id, n_chars, priority FROM r WHERE rank <= $WSampleK
       |ORDER BY source, rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q99 — boilerplate detection: repeated document HEADS and TAILS (the
  // first/last 8 tokens) shared across many documents — the C4-style
  // template/header/footer screen that runs before span-level dedup
  // (q60). One tokenize scan emits both edges per doc; a single count
  // aggregation over (kind, edge) finds the repeated templates with their
  // document and source spread, and the per-kind top-15 runs on the
  // bounded-heap rewrite. The shuffled edge key is 8 tokens (~tens of
  // bytes); at corpora where even that is too wide, shuffle the md5 digest
  // and re-join the top-15 digests for display.
  // ===========================================================
  val EdgeTokens = 8
  val BoilerplateTop = 15

  def q99Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    // BOTH edges ride out of one scan as a 2-element array + explode — a
    // union of two selects would tokenize the corpus twice
    val edges = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.plans.TextKernels.ws_tokens(lower(col("text"))).as("ts"))
      .filter(size(col("ts")) >= EdgeTokens)
      .select(col("doc_id"), col("source"), explode(expr(
        s"""array(struct('head' AS kind, array_join(slice(ts, 1, $EdgeTokens), ' ') AS edge),
           |      struct('tail' AS kind, array_join(slice(ts, -$EdgeTokens, $EdgeTokens), ' ') AS edge))"""
          .stripMargin.replace("\n", " "))).as("e"))
      .select(col("doc_id"), col("source"), col("e.kind").as("kind"), col("e.edge").as("edge"))
    val w = Window.partitionBy("kind").orderBy(col("n_docs").desc, col("edge"))
    edges
      .groupBy("kind", "edge")
      .agg(countDistinct("doc_id").as("n_docs"), countDistinct("source").as("n_sources"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BoilerplateTop)
      .select("kind", "rank", "edge", "n_docs", "n_sources")
      .orderBy("kind", "rank")
  }

  val q99Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |  regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS ts FROM documents),
       | e AS (SELECT doc_id, source, 'head' AS kind,
       |   array_to_string(ts[1:$EdgeTokens], ' ') AS edge FROM d WHERE len(ts) >= $EdgeTokens
       |  UNION ALL SELECT doc_id, source, 'tail',
       |   array_to_string(ts[-$EdgeTokens:], ' ') FROM d WHERE len(ts) >= $EdgeTokens),
       | g AS (SELECT kind, edge, COUNT(DISTINCT doc_id) AS n_docs,
       |   COUNT(DISTINCT source) AS n_sources FROM e GROUP BY kind, edge),
       | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY kind ORDER BY n_docs DESC, edge) AS rank
       |  FROM g)
       |SELECT kind, rank, edge, n_docs, n_sources FROM r WHERE rank <= $BoilerplateTop
       |ORDER BY kind, rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q108 — token-budget corpus selection: keep the highest-quality tiers
  // of the corpus that fit a training-token budget (¼ of total tokens
  // here). Quality = type-token ratio in exact integer permille (lexical
  // diversity — boilerplate and repetition score low); docs are tiered by
  // that score and tiers are admitted greedily from the top until the
  // budget is spent. Selection is decided at TIER granularity, which is
  // what makes the greedy prefix exact AND distributed: the per-tier
  // token totals are a value-domain histogram (≤1001 rows regardless of
  // corpus size — the q98 compression move), the running sum over it is a
  // window over that reduced table, and docs then join the admitted-tier
  // list by broadcast. No per-document running sum, no global sort of the
  // corpus, two scans (tier + final join side) of one tokenize pass.
  // ===========================================================
  val BudgetShareDiv = 4 // budget = total_tokens / 4

  def q108TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .withColumn("tokens", size(col("toks")).cast("long"))
      .filter(col("tokens") > 0)
      .withColumn("ttr", expr("CAST(size(array_distinct(toks)) AS BIGINT) * 1000 DIV tokens"))
    // value-domain histogram: ≤1001 tiers, so the ordered running sum is a
    // window over a reduced table, not over the corpus
    val tiers = d.groupBy("ttr").agg(sum("tokens").as("tier_tokens"))
    val wdesc = Window.orderBy(col("ttr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admitted = tiers
      .withColumn("cum", sum("tier_tokens").over(wdesc))
      .crossJoin(broadcast(tiers.agg((sum("tier_tokens") / BudgetShareDiv)
        .cast("long").as("budget"))))
      .filter(col("cum") <= col("budget"))
      .select("ttr")
    d.join(broadcast(admitted), Seq("ttr"))
      .groupBy("source")
      .agg(count(lit(1)).as("sel_docs"), sum("tokens").as("sel_tokens"),
        min("ttr").as("min_ttr"))
      .orderBy("source")
  }

  val q108Sql: String =
    s"""WITH d AS (SELECT source,
       |  CAST(len(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens,
       |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+'))) AS BIGINT) AS dtokens
       | FROM documents),
       | dd AS (SELECT source, tokens, dtokens * 1000 // tokens AS ttr FROM d WHERE tokens > 0),
       | tiers AS (SELECT ttr, SUM(tokens) AS tier_tokens FROM dd GROUP BY ttr),
       | cum AS (SELECT ttr, SUM(tier_tokens) OVER (ORDER BY ttr DESC
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM tiers),
       | admitted AS (SELECT ttr FROM cum
       |  WHERE cum <= (SELECT CAST(floor(CAST(SUM(tier_tokens) AS DOUBLE) / $BudgetShareDiv) AS BIGINT) FROM tiers))
       |SELECT source, COUNT(*) AS sel_docs, CAST(SUM(tokens) AS BIGINT) AS sel_tokens,
       | CAST(MIN(ttr) AS BIGINT) AS min_ttr
       |FROM dd JOIN admitted USING (ttr)
       |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q110 — incremental dedup: yesterday's corpus is already deduped;
  // today's arrivals (doc_id % 5 = 0 models the new slice) are checked
  // against the SNAPSHOT's fingerprint set and against each other —
  // never against the whole corpus text. This is how a daily 100 TB
  // pipeline actually runs q30: the snapshot side reduces to a distinct
  // 128-bit digest column (a fraction of corpus bytes, itself
  // incrementally maintainable), the membership probe is a hash
  // equi-join on digests, and within-batch keep-first ranks inside
  // digest groups — partitions are copy-counts of one digest, never a
  // corpus sort. Precedence: a digest already in the snapshot drops ALL
  // its new copies (dup_vs_old); otherwise the first new copy survives
  // and the rest drop (dup_within).
  // ===========================================================
  def q110IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), md5(norm.cast("binary")).as("h"))
    val oldH = d.filter(col("doc_id") % 5 =!= 0).select("h").distinct()
    val w = Window.partitionBy("h").orderBy("doc_id")
    d.filter(col("doc_id") % 5 === 0)
      .withColumn("rn", row_number().over(w))
      .join(oldH.withColumn("in_old", lit(1L)), Seq("h"), "left_outer")
      .withColumn("status",
        when(col("in_old").isNotNull, "dup_vs_old")
          .when(col("rn") > 1, "dup_within")
          .otherwise("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("kept"),
        sum(when(col("status") === "dup_vs_old", 1L).otherwise(0L)).as("dup_vs_old"),
        sum(when(col("status") === "dup_within", 1L).otherwise(0L)).as("dup_within"))
      .orderBy("source")
  }

  val q110Sql: String =
    s"""WITH d AS (SELECT doc_id, source, md5($normSql) AS h FROM documents),
       | old_h AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0),
       | nw AS (SELECT doc_id, source, h,
       |   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
       |  FROM d WHERE doc_id % 5 = 0),
       | cls AS (SELECT nw.source,
       |   CASE WHEN o.h IS NOT NULL THEN 'dup_vs_old'
       |    WHEN nw.rn > 1 THEN 'dup_within' ELSE 'kept' END AS status
       |  FROM nw LEFT JOIN old_h o ON nw.h = o.h)
       |SELECT source, COUNT(*) AS n_new,
       | CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       | CAST(SUM(CASE WHEN status = 'dup_vs_old' THEN 1 ELSE 0 END) AS BIGINT) AS dup_vs_old,
       | CAST(SUM(CASE WHEN status = 'dup_within' THEN 1 ELSE 0 END) AS BIGINT) AS dup_within
       |FROM cls GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q173 — two-day EXACT-dedup roll: q171's daily-loop contract on
  // q110's digest state. The rollable state here is simply the DISTINCT
  // digest set, and its roll is a union: state(day N+1) = state(day N) ∪
  // digests(kept day-N arrivals) — no base-corpus rescan, just the
  // materialized state frame plus the day's sliver. Two consecutive
  // arrival days (q171's split: base % 5 ∉ {0,1}, day 1 = 0, day 2 = 1):
  // day 1 runs q110's probe against the base state, day 1's kept docs'
  // digests roll in, day 2 probes the ROLLED set. The oracle recomputes
  // day 2's digest set from scratch over base ∪ kept-day-1, so the
  // hash-exact compare proves roll ≡ recompute — with q171 (band state)
  // this closes the daily loop on both batch incremental-dedup state
  // forms.
  //
  // Scale path: the state is a digest column (itself incrementally
  // maintained); each day is one hash equi-join probe + one per-digest
  // window over the arrival sliver; the roll is a union-distinct of the
  // state with the day's kept sliver. Nothing rescans, nothing corpus².
  // ===========================================================
  def q173ExactRoll(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), col("source"), md5(norm.cast("binary")).as("h"))
      .localCheckpoint() // one digest scan feeds the state and both days
    // the persisted state, materialized once: day 1 probes it, the roll
    // unions against it — the base corpus is never rescanned after this
    val state0 = d.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      .select("h").distinct().localCheckpoint()
    val w = Window.partitionBy("h").orderBy("doc_id")
    def dayVerdicts(day: DataFrame, state: DataFrame): DataFrame = day
      .withColumn("rn", row_number().over(w))
      .join(state.withColumn("in_old", lit(1L)), Seq("h"), "left_outer")
      .withColumn("status",
        when(col("in_old").isNotNull, "dup_vs_old")
          .when(col("rn") > 1, "dup_within")
          .otherwise("kept"))
      .select("doc_id", "source", "h", "status")
    val st1 = dayVerdicts(d.filter(col("doc_id") % 5 === 0), state0).localCheckpoint()
    // the ROLL: kept day-1 digests union into the state — distinct-union
    // of the state frame with the day's sliver, no rescans
    val state1 = state0.unionByName(
      st1.filter(col("status") === "kept").select("h")).distinct()
    val st2 = dayVerdicts(d.filter(col("doc_id") % 5 === 1), state1)
    st1.withColumn("day", lit(1L)).unionByName(st2.withColumn("day", lit(2L)))
      .groupBy("day", "source")
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("kept"),
        sum(when(col("status") === "dup_vs_old", 1L).otherwise(0L)).as("dup_vs_old"),
        sum(when(col("status") === "dup_within", 1L).otherwise(0L)).as("dup_within"))
      .orderBy("day", "source")
  }

  val q173Sql: String =
    s"""WITH d AS (SELECT doc_id, source, md5($normSql) AS h FROM documents),
       | oldh AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 NOT IN (0, 1)),
       | st1 AS MATERIALIZED (SELECT doc_id, source, h,
       |   CASE WHEN o.h IS NOT NULL THEN 'dup_vs_old'
       |    WHEN rn > 1 THEN 'dup_within' ELSE 'kept' END AS status
       |  FROM (SELECT doc_id, source, h,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
       |   FROM d WHERE doc_id % 5 = 0) nw LEFT JOIN oldh o USING (h)),
       | kept1 AS (SELECT doc_id FROM st1 WHERE status = 'kept'),
       | oldh2 AS (SELECT DISTINCT h FROM d
       |  WHERE doc_id % 5 NOT IN (0, 1) OR doc_id IN (SELECT doc_id FROM kept1)),
       | st2 AS (SELECT doc_id, source, h,
       |   CASE WHEN o.h IS NOT NULL THEN 'dup_vs_old'
       |    WHEN rn > 1 THEN 'dup_within' ELSE 'kept' END AS status
       |  FROM (SELECT doc_id, source, h,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
       |   FROM d WHERE doc_id % 5 = 1) nw LEFT JOIN oldh2 o USING (h))
       |SELECT CAST(1 AS BIGINT) AS day, source, COUNT(*) AS n_new,
       | CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       | CAST(SUM(CASE WHEN status = 'dup_vs_old' THEN 1 ELSE 0 END) AS BIGINT) AS dup_vs_old,
       | CAST(SUM(CASE WHEN status = 'dup_within' THEN 1 ELSE 0 END) AS BIGINT) AS dup_within
       |FROM st1 GROUP BY source
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS day, source, COUNT(*) AS n_new,
       | CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       | CAST(SUM(CASE WHEN status = 'dup_vs_old' THEN 1 ELSE 0 END) AS BIGINT) AS dup_vs_old,
       | CAST(SUM(CASE WHEN status = 'dup_within' THEN 1 ELSE 0 END) AS BIGINT) AS dup_within
       |FROM st2 GROUP BY source ORDER BY day, source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q114 — sliding n-gram duplication profile (the memorization-risk
  // audit of Lee et al. 2022, "Deduplicating Training Data Makes
  // Language Models Better"): for every OVERLAPPING 5-gram position in
  // the corpus, is that 5-gram repeated anywhere else? q60 dedups
  // non-overlapping passages (a transform); this measures fine-grained
  // repetition mass per source (a diagnostic) — the number LM teams
  // track because repeated n-grams are what models memorize verbatim.
  //
  // Scale path: a position never ships its text — each 5-gram reduces
  // to a 128-bit digest at the scan, then the dataflow aggregates
  // (digest, source) counts FIRST (map-side combined, so the shuffle
  // carries one row per distinct (digest, source), not per position)
  // and MATERIALIZES that aggregate once; the corpus frequency derives
  // from it as a second digest-keyed agg and joins back on the digest.
  // No self-join, no window over the corpus, and the expensive corpus
  // explode runs exactly once.
  // ===========================================================
  val NgramW = 5

  def q114NgramDupProfile(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .withColumn("ntok", size(col("toks")))
      .filter(col("ntok") >= NgramW)
      .select(col("source"), explode(
        graft.plans.TextKernels.ws_gram_md5_hex(col("toks"), NgramW)).as("g"))
    // materialize the (digest, source) aggregate ONCE: both the corpus
    // frequency and the instance side derive from it, and without the cut
    // the plan re-scans and re-explodes the corpus for each (verified in
    // the r8 plan dump — two full Generate branches)
    val bySrc = grams.groupBy("g", "source").agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val freq = bySrc.groupBy("g").agg(sum("k").as("f"))
    bySrc.join(freq, Seq("g"))
      .groupBy("source")
      .agg(
        sum("k").cast("long").as("n_positions"),
        sum(when(col("f") >= 2, col("k")).otherwise(0L)).cast("long").as("dup_positions"),
        count(lit(1)).as("distinct_grams"),
        sum(when(col("f") >= 2, 1L).otherwise(0L)).as("repeated_grams"),
        max("f").cast("long").as("max_freq"))
      .withColumn("dup_permille", expr("dup_positions * 1000 DIV n_positions"))
      .orderBy("source")
  }

  val q114Sql: String =
    s"""WITH t AS (SELECT source, regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks
       |  FROM documents),
       | gr AS (SELECT source,
       |   md5(array_to_string(toks[CAST(u.i AS INTEGER):CAST(u.i + ${NgramW - 1} AS INTEGER)], ' ')) AS g
       |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - ${NgramW - 2})) AS i) u
       |  WHERE len(toks) >= $NgramW),
       | bysrc AS (SELECT g, source, COUNT(*) AS k FROM gr GROUP BY g, source),
       | fr AS (SELECT g, SUM(k) AS f FROM bysrc GROUP BY g),
       | j AS (SELECT bysrc.source, bysrc.k, fr.f FROM bysrc JOIN fr USING (g))
       |SELECT source, CAST(SUM(k) AS BIGINT) AS n_positions,
       | CAST(SUM(CASE WHEN f >= 2 THEN k ELSE 0 END) AS BIGINT) AS dup_positions,
       | COUNT(*) AS distinct_grams,
       | CAST(SUM(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS repeated_grams,
       | CAST(MAX(f) AS BIGINT) AS max_freq,
       | CAST(SUM(CASE WHEN f >= 2 THEN k ELSE 0 END) * 1000 // SUM(k) AS BIGINT) AS dup_permille
       |FROM j GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q115 — temperature-scaled mixture weights (the XLM-R/mT5 move:
  // sample source i with probability p_i^alpha / sum p_j^alpha, alpha=0.5,
  // so head domains shrink and tail domains boost): computes, per
  // source, the natural token share, the temperature share, and the
  // boost delta — the config table a training run broadcast-joins
  // against its sampler (q62 consumes exactly such permille rates).
  // alpha=0.5 is integer-exact cross-engine: weight = floor(sqrt(tokens))
  // and IEEE sqrt is correctly rounded, so perfect squares hit their
  // integer exactly in both engines; shares are integer permille floors.
  //
  // Scale path: one token-count scan (map-side combined groupBy source),
  // then all arithmetic runs on the |sources|-row aggregate — the
  // totals join is a broadcast of ONE row, nothing corpus-sized moves.
  // ===========================================================
  /** Per-source token counts with the α=0.5 temperature weight:
    * (source, n_docs, tokens, weight) — the ONE definition of the mixture
    * weight, shared by q115 (shares report) and q131 (epoch planner) so
    * the planner can never compute shares from a different mixture than
    * the weights query reports. */
  private def sourceTokenWeights(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("tok", ws_token_count(col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
      .withColumn("weight", floor(sqrt(col("tokens").cast("double"))).cast("long"))

  def q115MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val per = sourceTokenWeights(spark, dir)
    val totals = per.agg(sum("tokens").as("tot_tokens"), sum("weight").as("tot_weight"))
    per.crossJoin(broadcast(totals))
      .withColumn("natural_permille", expr("tokens * 1000 DIV tot_tokens"))
      .withColumn("temp_permille", expr("weight * 1000 DIV tot_weight"))
      .withColumn("boost_permille", col("temp_permille") - col("natural_permille"))
      .select("source", "n_docs", "tokens", "weight",
        "natural_permille", "temp_permille", "boost_permille")
      .orderBy("source")
  }

  val q115Sql: String =
    """WITH per AS (SELECT source, COUNT(*) AS n_docs,
      |   CAST(SUM(len(regexp_extract_all(text, '[^ \t\n\r\f]+'))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      | w AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS weight FROM per),
      | tt AS (SELECT SUM(tokens) AS tot_tokens, SUM(weight) AS tot_weight FROM w)
      |SELECT source, n_docs, tokens, weight,
      | CAST(tokens * 1000 // tt.tot_tokens AS BIGINT) AS natural_permille,
      | CAST(weight * 1000 // tt.tot_weight AS BIGINT) AS temp_permille,
      | CAST(weight * 1000 // tt.tot_weight - tokens * 1000 // tt.tot_tokens AS BIGINT) AS boost_permille
      |FROM w, tt ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q116 — BPE merge candidates (the first iteration of byte-pair-
  // encoding tokenizer training, Sennrich et al. 2016): the top-20
  // adjacent character pairs by corpus frequency — exactly the statistic
  // a BPE trainer computes to pick its next merge. The load-bearing
  // scale move is aggregating the DISTINCT VOCABULARY first: corpus
  // tokens collapse to (word, count) — orders of magnitude smaller —
  // and pairs explode off distinct words only, weighted by the count.
  // (A production trainer adds word-boundary markers and iterates
  // merges; both ride the identical dataflow.) Top-20 goes through
  // orderBy().limit() = TakeOrderedAndProject — per-partition heaps,
  // never a global sort.
  // ===========================================================
  val BpeTopK = 20

  def q116BpeMergeCandidates(spark: SparkSession, dir: String): DataFrame = {
    val words = docs(spark, dir)
      .select(explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val pairCounts = words
      .filter(length(col("word")) >= 2)
      .select(col("c"), explode(expr(
        """transform(sequence(1, length(word) - 1),
          |  i -> struct(substring(word, i, 1) AS l, substring(word, i + 1, 1) AS r))""".stripMargin)).as("pr"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum("c").as("cnt"))
    val top = pairCounts
      .orderBy(col("cnt").desc, col("l"), col("r")).limit(BpeTopK)
    // rank assignment runs AFTER the limit, over exactly BpeTopK rows
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("l"), col("r"))))
      .select("rank", "l", "r", "cnt")
      .orderBy("rank")
  }

  val q116Sql: String =
    s"""WITH w AS (SELECT u.tok AS word, COUNT(*) AS c FROM documents,
       |  LATERAL (SELECT unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS tok) u
       |  GROUP BY u.tok),
       | p AS (SELECT substr(word, CAST(u2.i AS INTEGER), 1) AS l,
       |   substr(word, CAST(u2.i AS INTEGER) + 1, 1) AS r, c
       |  FROM w, LATERAL (SELECT unnest(range(1, length(word))) AS i) u2
       |  WHERE length(word) >= 2),
       | g AS (SELECT l, r, CAST(SUM(c) AS BIGINT) AS cnt FROM p GROUP BY l, r),
       | t AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, l, r) AS rank FROM g)
       |SELECT rank, l, r, cnt FROM t WHERE rank <= $BpeTopK ORDER BY rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q117 — cross-source span-overlap matrix (provenance-leakage audit):
  // which sources share verbatim 8-token spans with which — the
  // between-domain contamination signal a curation run checks before
  // treating sources as independent (crawl snapshots and mirrors
  // overlap heavily in practice). Spans are q60's non-overlapping
  // blocks; identity is the span digest, DISTINCT per (digest, source).
  //
  // Scale path: the pair explosion is bounded by (sources sharing a
  // span choose 2) — never doc pairs, never span instances — and the
  // per-source totals it normalizes by are a |sources|-row broadcast.
  // The digest self-join shuffles both sides on the digest, the same
  // key the distinct already partitioned by, so the exchange is reused.
  // ===========================================================
  def q117SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val spans = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .withColumn("ntok", size(col("toks")))
      .filter(col("ntok") > 0)
      .select(col("source"), explode(expr(
        s"""transform(sequence(0, (ntok + ${SpanW - 1}) div $SpanW - 1),
           |  b -> md5(CAST(concat_ws(' ', slice(toks, b * $SpanW + 1, $SpanW)) AS BINARY)))""".stripMargin)).as("h"))
      .distinct()
      // three consumers (totals + both join sides) — cut once or the
      // corpus re-scans and re-explodes for each
      .localCheckpoint()
    val totals = spans.groupBy("source").agg(count(lit(1)).as("n_spans"))
    val a = spans.select(col("h"), col("source").as("src_a"))
    val b = spans.select(col("h"), col("source").as("src_b"))
    a.join(b, Seq("h")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared_spans"))
      .join(broadcast(totals.select(col("source").as("src_a"), col("n_spans").as("n_spans_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"), col("n_spans").as("n_spans_b"))), Seq("src_b"))
      .withColumn("overlap_permille",
        expr("shared_spans * 1000 DIV least(n_spans_a, n_spans_b)"))
      .select("src_a", "src_b", "shared_spans", "n_spans_a", "n_spans_b", "overlap_permille")
      .orderBy("src_a", "src_b")
  }

  val q117Sql: String =
    s"""WITH t AS (SELECT source, regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks
       |  FROM documents),
       | sp AS (SELECT DISTINCT source,
       |   md5(array_to_string(toks[CAST(b.b * $SpanW + 1 AS INTEGER):CAST((b.b + 1) * $SpanW AS INTEGER)], ' ')) AS h
       |  FROM t, LATERAL (SELECT unnest(range(0, (len(toks) + ${SpanW - 1}) // $SpanW)) AS b) b
       |  WHERE len(toks) > 0),
       | tot AS (SELECT source, COUNT(*) AS n_spans FROM sp GROUP BY source),
       | pr AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_spans
       |  FROM sp a JOIN sp b ON a.h = b.h AND a.source < b.source
       |  GROUP BY a.source, b.source)
       |SELECT pr.src_a, pr.src_b, pr.shared_spans,
       | ta.n_spans AS n_spans_a, tb.n_spans AS n_spans_b,
       | CAST(pr.shared_spans * 1000 // least(ta.n_spans, tb.n_spans) AS BIGINT) AS overlap_permille
       |FROM pr JOIN tot ta ON pr.src_a = ta.source JOIN tot tb ON pr.src_b = tb.source
       |ORDER BY pr.src_a, pr.src_b""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q118 — iterated BPE training (Sennrich et al. 2016, the full loop
  // q116 computes one round of): NMerges rounds of count-pairs →
  // argmax → apply-merge over the corpus vocabulary, emitting the merge
  // table (the actual artifact a tokenizer ships) plus the corpus-
  // weighted symbol count after each round (the compression curve).
  //
  // Representation: a word is its symbols each wrapped in single
  // spaces (" a  b  c "), so applying merge (l, r) is ONE plain string
  // replace of " l  r " with " lr " — non-overlapping left-to-right in
  // both engines, which is exactly BPE's merge semantics ("aaaa" with
  // (a,a) → "aa aa"), and symbol identity can never leak across
  // boundaries (every symbol keeps its own delimiters).
  //
  // Scale path: the k-means dataflow shape (q57) — per round, the
  // distributed work is one pair-count aggregation over the DISTINCT
  // vocabulary (map-side combined; the corpus itself is touched once,
  // at vocab build), the argmax comes back as ONE driver row (via
  // TakeOrderedAndProject), and the merge ships back INTO the plan as
  // two literals. Nothing corpus-sized moves after the first scan;
  // vocab localCheckpoints per round to cut the replace-chain lineage.
  // ===========================================================
  val NMerges = 5

  /** Runs the trainer loop; returns (per-round merge records, final vocab
    * (word, w, c) with `w` in the space-wrapped symbol representation).
    * Shared by q118 (the merge table) and q119 (applying the tokenizer). */
  private def bpeTrain(spark: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long, Long)], DataFrame) =
    bpeTrainOn(docs(spark, dir)
      .select(explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c")))

  /** Trainer over any (word, c) vocabulary frame — q119 feeds it the
    * word-sums of its per-(source, word) table so the corpus tokenizes
    * exactly ONCE across training and application. Package-visible so the
    * property spec can replay randomized vocabularies against a pure-Scala
    * reference trainer. */
  private[graft] def bpeTrainOn(wc: DataFrame)
      : (Seq[(Int, String, String, String, Long, Long)], DataFrame) = {
    import org.apache.spark.sql.functions.{replace => strReplace}
    val spark = wc.sparkSession
    val vocab0 = wc
      .select(col("word"), wrapSymbols(col("word")).as("w"), col("c"))
      .localCheckpoint()
    var v = vocab0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long, Long)]
    var round = 1
    var exhausted = false
    while (round <= NMerges && !exhausted) {
      val bestRows = v
        .select(col("c"), expr("split(trim(w), '  ')").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("c"), explode(expr(
          """transform(sequence(1, size(s) - 1),
            |  i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .collect()
      if (bestRows.isEmpty) {
        // every word is a single symbol — nothing left to merge. Stop
        // with the merges learned so far instead of crashing (degenerate
        // corpora only; the SQL oracle cannot express an early stop, so
        // qNN parity holds on any corpus with >= NMerges mergeable pairs)
        exhausted = true
      } else {
      val best = bestRows(0)
      val (l, r, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      v = v.withColumn("w",
          strReplace(col("w"), lit(s" $l  $r "), lit(s" $l$r ")))
        .localCheckpoint()
      val symCount = v
        .select(sum(col("c") * size(expr("split(trim(w), '  ')"))).as("n"))
        .head().getLong(0)
      merges += ((round, l, r, l + r, cnt, symCount))
      round += 1
      }
    }
    (merges.toSeq, v)
  }

  def q118BpeTrain(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(bpeTrain(spark, dir)._1)
      .toDF("round", "l", "r", "merged", "pair_count", "corpus_symbols")
      .orderBy("round")

  /** Unrolled per-round CTE chain through `v$NMerges` (final vocab with
    * `word` carried through): the oracle replays count→argmax→merge for
    * every round in pure SQL (the same shape as the k-means oracle).
    * Shared by q118Sql and q119Sql. */
  private val bpeCtes: String = {
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s""" st$i AS (SELECT c, string_split(trim(w), '  ') AS s FROM $prev),
         | g$i AS (SELECT s[CAST(u.k AS INTEGER)] AS l, s[CAST(u.k AS INTEGER) + 1] AS r,
         |   CAST(SUM(c) AS BIGINT) AS cnt
         |  FROM st$i, LATERAL (SELECT unnest(range(1, len(s))) AS k) u
         |  GROUP BY 1, 2),
         | b$i AS (SELECT l, r, cnt FROM (SELECT *,
         |   ROW_NUMBER() OVER (ORDER BY cnt DESC, l, r) AS rn FROM g$i) WHERE rn = 1),
         | v$i AS (SELECT v.word, replace(v.w, ' ' || b.l || '  ' || b.r || ' ',
         |     ' ' || b.l || b.r || ' ') AS w, v.c FROM $prev v, b$i b),
         | m$i AS (SELECT CAST($i AS INTEGER) AS round, b.l, b.r, b.l || b.r AS merged,
         |   b.cnt AS pair_count,
         |   (SELECT CAST(SUM(c * len(string_split(trim(w), '  '))) AS BIGINT) FROM v$i)
         |     AS corpus_symbols
         |  FROM b$i b)""".stripMargin
    }
    val rounds = (1 to NMerges).map(round).mkString(",")
    s"""WITH wc AS (SELECT u.tok AS word, COUNT(*) AS c FROM documents,
       |  LATERAL (SELECT unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS tok) u
       |  GROUP BY u.tok),
       | v0 AS (SELECT word, array_to_string(list_transform(range(1, length(word) + 1),
       |     i -> ' ' || substr(word, CAST(i AS INTEGER), 1) || ' '), '') AS w, c FROM wc),
       |$rounds""".stripMargin
  }

  val q118Sql: String = {
    val union = (1 to NMerges).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    s"""$bpeCtes
       |SELECT * FROM ($union) ORDER BY round""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q119 — apply the trained tokenizer (the serving half of q118):
  // tokenize the corpus with the learned merge table and report, per
  // source, subword fertility (symbols per word — THE capacity-planning
  // number for a tokenizer: it sets sequence lengths and training cost)
  // and compression vs raw characters. The trained segmentation comes
  // from the final vocabulary — every corpus token IS a vocab word, so
  // application is a join from (source, word) counts to the per-word
  // symbol count; the corpus text is never re-scanned per merge.
  //
  // Scale path: the merges apply to the DISTINCT vocabulary (q118's
  // loop); the per-(source, word) table aggregates map-side off one
  // corpus scan and equi-joins the vocab on word — at production scale
  // the vocab side is broadcast-able (10⁷ rows) and AQE picks that.
  // ===========================================================
  def q119TokenizerApply(spark: SparkSession, dir: String): DataFrame = {
    // tokenize ONCE: the per-(source, word) table both feeds the trainer
    // (via its word-sums) and receives the trained segmentation
    val ws = docs(spark, dir)
      .select(col("source"),
        explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val (_, vocab) = bpeTrainOn(ws.groupBy("word").agg(sum("k").as("c")))
    val perWord = vocab.select(col("word"),
      size(expr("split(trim(w), '  ')")).cast("long").as("nsym"))
    ws.join(perWord, Seq("word"))
      .groupBy("source")
      .agg(
        sum("k").cast("long").as("total_words"),
        sum(col("k") * length(col("word"))).cast("long").as("total_chars"),
        sum(col("k") * col("nsym")).cast("long").as("total_symbols"))
      .withColumn("fertility_permille", expr("total_symbols * 1000 DIV total_words"))
      .withColumn("compression_permille", expr("total_symbols * 1000 DIV total_chars"))
      .orderBy("source")
  }

  val q119Sql: String =
    s"""$bpeCtes,
       | nv AS (SELECT word, CAST(len(string_split(trim(w), '  ')) AS BIGINT) AS nsym
       |  FROM v$NMerges),
       | ws AS (SELECT source, u.tok AS word, COUNT(*) AS k FROM documents,
       |  LATERAL (SELECT unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS tok) u
       |  GROUP BY source, u.tok)
       |SELECT ws.source, CAST(SUM(k) AS BIGINT) AS total_words,
       | CAST(SUM(k * length(ws.word)) AS BIGINT) AS total_chars,
       | CAST(SUM(k * nv.nsym) AS BIGINT) AS total_symbols,
       | CAST(SUM(k * nv.nsym) * 1000 // SUM(k) AS BIGINT) AS fertility_permille,
       | CAST(SUM(k * nv.nsym) * 1000 // SUM(k * length(ws.word)) AS BIGINT) AS compression_permille
       |FROM ws JOIN nv ON ws.word = nv.word
       |GROUP BY ws.source ORDER BY ws.source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q121 — corpus snapshot diff (dataset versioning): yesterday's
  // snapshot (v1 = doc_id % 7 ≠ 3) vs today's (v2 = doc_id % 7 ≠ 5),
  // per source: membership churn by primary key (added/removed via
  // anti-joins) plus content resurrection — added documents whose
  // normalized digest already existed in v1 (re-crawled identical text
  // under a new id, the case key-based diffs misreport as new data).
  // The % splits only BUILD the two inputs; the operator is the diff
  // dataflow a versioned corpus runs between releases.
  //
  // Scale path: the base (id, digest, source) projection materializes
  // once and every diff leg derives from it; the anti/semi joins are
  // key-partitioned equi-joins, and the per-source rollups reduce to
  // |sources| rows before the final full-outer assembly.
  // ===========================================================
  def q121SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id"), col("source"), md5(norm.cast("binary")).as("h"))
      .localCheckpoint()
    val v1 = base.filter(col("doc_id") % 7 =!= 3)
    val v2 = base.filter(col("doc_id") % 7 =!= 5)
    val added = v2.join(v1.select("doc_id"), Seq("doc_id"), "left_anti")
    val removed = v1.join(v2.select("doc_id"), Seq("doc_id"), "left_anti")
    val resurrected = added.join(v1.select("h").distinct(), Seq("h"), "left_semi")
    def per(df: DataFrame, name: String) =
      df.groupBy("source").agg(count(lit(1)).as(name))
    per(v1, "n_v1")
      .join(per(v2, "n_v2"), Seq("source"), "full_outer")
      .join(per(added, "added"), Seq("source"), "full_outer")
      .join(per(removed, "removed"), Seq("source"), "full_outer")
      .join(per(resurrected, "resurrected"), Seq("source"), "full_outer")
      .na.fill(0L, Seq("n_v1", "n_v2", "added", "removed", "resurrected"))
      .withColumn("churn_permille",
        expr("(added + removed) * 1000 DIV greatest(n_v1, 1L)"))
      .orderBy("source")
  }

  val q121Sql: String =
    s"""WITH base AS (SELECT doc_id, source, md5($normSql) AS h FROM documents),
       | v1 AS (SELECT * FROM base WHERE doc_id % 7 <> 3),
       | v2 AS (SELECT * FROM base WHERE doc_id % 7 <> 5),
       | added AS (SELECT * FROM v2 WHERE doc_id NOT IN (SELECT doc_id FROM v1)),
       | removed AS (SELECT * FROM v1 WHERE doc_id NOT IN (SELECT doc_id FROM v2)),
       | res AS (SELECT * FROM added WHERE h IN (SELECT h FROM v1)),
       | p1 AS (SELECT source, COUNT(*) AS n_v1 FROM v1 GROUP BY source),
       | p2 AS (SELECT source, COUNT(*) AS n_v2 FROM v2 GROUP BY source),
       | pa AS (SELECT source, COUNT(*) AS added FROM added GROUP BY source),
       | pr AS (SELECT source, COUNT(*) AS removed FROM removed GROUP BY source),
       | ps AS (SELECT source, COUNT(*) AS resurrected FROM res GROUP BY source),
       | j AS (SELECT source,
       |   COALESCE(n_v1, 0) AS n_v1, COALESCE(n_v2, 0) AS n_v2,
       |   COALESCE(added, 0) AS added, COALESCE(removed, 0) AS removed,
       |   COALESCE(resurrected, 0) AS resurrected
       |  FROM p1 FULL JOIN p2 USING (source) FULL JOIN pa USING (source)
       |   FULL JOIN pr USING (source) FULL JOIN ps USING (source))
       |SELECT source, CAST(n_v1 AS BIGINT) AS n_v1, CAST(n_v2 AS BIGINT) AS n_v2,
       | CAST(added AS BIGINT) AS added, CAST(removed AS BIGINT) AS removed,
       | CAST(resurrected AS BIGINT) AS resurrected,
       | CAST((added + removed) * 1000 // greatest(n_v1, 1) AS BIGINT) AS churn_permille
       |FROM j ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q124 — DSIR-style hashed n-gram importance weights (Xie et al. 2023,
  // "Data Selection for Language Models via Importance Resampling"): score
  // every document by how much its token distribution resembles a TARGET
  // domain versus the raw corpus. Features are hashed token buckets (B
  // buckets via the 60-bit md5 idiom); a bucket's weight is the smoothed
  // probability ratio as an exact integer PERMILLE deviation from parity:
  //   (T[b]+1)·Rtot·1000 DIV ((R[b]+1)·Ttot) − 1000
  // (all DIV operands positive, so Spark DIV ≡ DuckDB // — no floats, no
  // rounding divergence). Bit-length log classes (the q65/q75 move) are too
  // coarse here: target and raw token distributions differ at the few-
  // percent level per bucket, which a whole-bit class cannot see; the
  // permille ratio keeps that resolution while staying integer-exact. A
  // document's importance is the sum of its tokens' bucket weights; its
  // expectation is positive under the target distribution and ~zero under
  // raw (E_T[T/R] >= E_R[T/R] = 1). Target here = lang='en' docs (the
  // "quality domain" stand-in; swap the predicate for a real curated
  // corpus).
  //
  // Scale design: the bucket table is B rows — it and the class table
  // broadcast; totals are an aggregate OF the bucket table, not a second
  // corpus pass. The corpus is tokenized ONCE: the exploded
  // (source, lang, doc_id, bucket) projection — 4 narrow columns, the
  // token string already reduced to its bucket id — materializes via
  // localCheckpoint and feeds BOTH the bucket histogram and the per-doc
  // scoring join (the q119 single-scan move; tokenize is the dominant
  // cost and was previously paid twice). Both corpus aggregations are
  // map-side partial; the only shuffles move (bucket) and (source, doc_id)
  // keyed partials.
  // ===========================================================
  val DsirBuckets = 128
  val DsirTargetLang = "en"

  /** Shared base of q124 (weight audit) and q151 (resample execution):
    * the once-tokenized (source, lang, doc_id, b) bucket projection and the
    * ≤B-row per-bucket permille weight-class table. */
  private def dsirToksAndClasses(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val toks = docs(spark, dir)
      .select(col("source"), col("lang"), col("doc_id"),
        explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("tok"))
      .withColumn("b",
        graft.plans.TextKernels.md5_prefix60(col("tok").cast("binary")) % DsirBuckets)
      .drop("tok")
      .localCheckpoint()
    // ONE aggregation yields raw and target counts per bucket together;
    // materialized (≤B rows) so `totals` aggregates the bucket TABLE instead
    // of Catalyst re-running the corpus tokenize scan for the second branch
    val buckets = toks.groupBy("b")
      .agg(count(lit(1)).as("r_c"),
        sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("t_c"))
      .localCheckpoint()
    val totals = buckets.agg(sum("r_c").as("r_tot"), sum("t_c").as("t_tot"))
    val cls = buckets.crossJoin(broadcast(totals))
      .select(col("b"),
        (expr("(t_c + 1) * r_tot * 1000 DIV ((r_c + 1) * t_tot)") - 1000L).as("cls"))
    (toks, cls)
  }

  def q124DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val (toks, cls) = dsirToksAndClasses(spark, dir)
    val perDoc = toks.join(broadcast(cls), Seq("b"))
      .groupBy("source", "doc_id").agg(sum("cls").as("w"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("sum_weight"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_selected"))
      .orderBy("source")
  }

  // shared by q124Sql and q151Sql: hashed-bucket projection t and the
  // per-bucket weight-class table cls
  private val dsirCtes: String =
    s"""WITH t AS (SELECT d.source, d.lang, d.doc_id,
       |   CAST(('0x' || substr(md5(u.tok), 1, 15)) AS BIGINT) % $DsirBuckets AS b
       |  FROM documents d, LATERAL (SELECT unnest(regexp_extract_all(lower(d.text),
       |   '[^ \\t\\n\\r\\f]+')) AS tok) u),
       | bk AS (SELECT b, COUNT(*) AS r_c,
       |   SUM(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS t_c
       |  FROM t GROUP BY b),
       | tot AS (SELECT SUM(r_c) AS r_tot, SUM(t_c) AS t_tot FROM bk),
       | cls AS (SELECT b, (t_c + 1) * r_tot * 1000 // ((r_c + 1) * t_tot) - 1000 AS cls
       |  FROM bk, tot)""".stripMargin

  val q124Sql: String =
    s"""$dsirCtes,
       | pd AS (SELECT source, doc_id, SUM(cls) AS w
       |  FROM t JOIN cls USING (b) GROUP BY source, doc_id)
       |SELECT source, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS sum_weight,
       | CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
       |FROM pd GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q151 — DSIR resample EXECUTION: consume q124's importance weights the
  // way q149 consumes q148's sweep — the audit turned into the selection
  // itself. Each document's weight clamps to an acceptance rate in
  // [0, 1000]‰ and the q62 deterministic hash gate draws the sample:
  // hash60(doc_id) % 1000 < clamp(w, 0, 1000). Coordination-free (every
  // executor decides from the row alone), reproducible run-to-run,
  // resumable — the properties importance sampling needs at 100 TB where
  // df.sample's partition-ordering-dependent seed cannot give them.
  // Target-like docs (w ≥ 1000) are always kept, anti-target docs
  // (w ≤ 0) never; the permille band between interpolates, which IS
  // importance-weighted acceptance sampling in exact integers. Output
  // per source: corpus vs sample size, token mass kept, and the weight
  // mass the sample captures vs the corpus total.
  //
  // Scale path: q124's dataflow end-to-end (one tokenize scan feeding
  // histogram and scoring, ≤B-row broadcast class table, map-side
  // partial aggregations); the gate + rollup add one map stage and one
  // S-row aggregation — nothing new shuffles.
  // ===========================================================
  /** q151's deterministic acceptance draw: hash60("dsir:" + doc_id) ‰.
    * The "dsir:" domain tag decorrelates this draw from q62's mixture gate
    * (which hashes the bare doc_id) — stacked deterministic samplers must
    * draw independently, or every doc surviving a p-permille mixture gate
    * would be exactly the set the resampler keeps at clamped weight p.
    * Exact integer path (no floats): first 15 md5 hex chars → 60-bit long
    * → mod 1000; pinned bit-for-bit by a QueriesSpec test against a pure
    * JVM MessageDigest reference. */
  def dsirGate(docId: Column): Column =
    graft.plans.TextKernels.md5_prefix60(concat(lit("dsir:"), docId.cast("string")).cast("binary")) % 1000

  def q151DsirResample(spark: SparkSession, dir: String): DataFrame = {
    val (toks, cls) = dsirToksAndClasses(spark, dir)
    val perDoc = toks.join(broadcast(cls), Seq("b"))
      .groupBy("source", "doc_id")
      .agg(sum("cls").as("w"), count(lit(1)).as("n_toks"))
    val gated = perDoc
      .withColumn("rate_permille", greatest(least(col("w"), lit(1000L)), lit(0L)))
      .withColumn("gate", dsirGate(col("doc_id")))
      .withColumn("kept", col("gate") < col("rate_permille"))
    gated.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("kept_tokens"),
        sum(when(col("kept"), col("w")).otherwise(0L)).as("kept_weight"),
        sum("w").as("sum_weight"))
      .withColumn("kept_permille", expr("n_kept * 1000 DIV greatest(n_docs, 1L)"))
      .orderBy("source")
  }

  val q151Sql: String =
    s"""$dsirCtes,
       | pd AS (SELECT source, doc_id, SUM(cls) AS w, COUNT(*) AS n_toks
       |  FROM t JOIN cls USING (b) GROUP BY source, doc_id),
       | g AS (SELECT *, GREATEST(LEAST(w, 1000), 0) AS rate_permille,
       |   CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS gate
       |  FROM pd),
       | k AS (SELECT *, gate < rate_permille AS kept FROM g)
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | CAST(SUM(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
       | CAST(SUM(CASE WHEN kept THEN w ELSE 0 END) AS BIGINT) AS kept_weight,
       | CAST(SUM(w) AS BIGINT) AS sum_weight,
       | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1000 // GREATEST(COUNT(*), 1) AS BIGINT) AS kept_permille
       |FROM k GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q125 — per-document memorization-span audit: the document-level
  // companion of q114. q114 reports each source's repeated-5-gram MASS;
  // this finds the documents containing long UNBROKEN runs of
  // corpus-duplicated 5-gram positions — the verbatim spans models
  // memorize (Lee et al. 2022 / Carlini et al. 2021 extraction risk) and
  // the per-doc drop signal a curation pass acts on (q60 then removes the
  // span, or the doc is dropped outright).
  //
  // Scale path: positions reduce to digests at the scan (text never
  // ships); the repeated-digest set comes from one digest-keyed count
  // (map-side combined), and ONLY dup positions survive the semi-join —
  // non-dup positions merely break runs, so consecutive-i islanding
  // (i − row_number, keyed PER DOC, bounded partitions) needs just the
  // dup rows. At 100 TB the repeated-digest set is a sliver of the
  // corpus: broadcast it (or its bloom, the q66 move) instead of
  // shuffling every position by digest.
  // ===========================================================
  val RunThr = 8 // >= 8 consecutive dup positions = a 12-token verbatim span

  /** Maximal islands of consecutive corpus-duplicated NgramW-gram
    * positions over an arbitrary frame carrying `doc_id` and `text` (plus
    * any carry columns in `carry`): one row per island —
    * (doc_id, carry..., start, run) where `start` is the 1-based first
    * gram position and `run` the island length. Docs under NgramW tokens
    * and docs with no duplicated position produce NO rows. Shared base of
    * q125 (longest run per doc) and q128 (token-coverage accounting). */
  private[operators] def dupRunSpans(d: DataFrame, carry: Seq[String]): DataFrame = {
    val base = d
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .withColumn("ntok", size(col("toks")))
      .filter(col("ntok") >= NgramW)
    // native gram digests (TextKernels): posexplode's 0-based pos maps to
    // the transform form's 1-based i
    val positions = base
      .select((Seq(col("doc_id")) ++ carry.map(col) ++ Seq(posexplode(
        graft.plans.TextKernels.ws_gram_md5_hex(col("toks"), NgramW))
        .as(Seq("pos", "g")))): _*)
      .select((Seq(col("doc_id")) ++ carry.map(col) ++
        Seq((col("pos") + 1).cast("int").as("i"), col("g"))): _*)
    // repeated-position selection as ONE pass: count-over-window keyed by
    // the gram digest, f >= 2 kept. The previous [groupBy(g) ⋈ positions
    // semi] formulation evaluated the positions subtree TWICE (the scan +
    // tokenize + per-gram digests — the dominant CPU of every consumer)
    // and shuffled it twice (the aggregation's partials PLUS the full
    // position rows for the join): 5-gram digests of natural text are
    // nearly all distinct, so the map-side combine never shrank the
    // aggregation leg below the position count anyway. One compute, one
    // exchange, same rows out; gram groups are duplication-bounded, so the
    // window partitioning cannot skew.
    val dup = positions
      .withColumn("f", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("f") >= 2)
      .drop("f")
    val w = Window.partitionBy("doc_id").orderBy("i")
    val runKeys = (Seq("doc_id") ++ carry ++ Seq("grp")).map(col)
    dup
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(runKeys: _*)
      .agg(min("i").cast("long").as("start"), count(lit(1)).as("run"))
      .drop("grp")
  }

  /** Per-doc longest corpus-duplicated NgramW-gram run:
    * (doc_id, carry..., longest). Docs with no duplicated position produce
    * NO row (longest 0 by absence). Shared by q125 and
    * [[CurationPipeline]]'s memorization gate so the pipeline drops
    * exactly the documents the audit reports. */
  private[operators] def longestDupRuns(d: DataFrame, carry: Seq[String]): DataFrame = {
    val docKeys = (Seq("doc_id") ++ carry).map(col)
    dupRunSpans(d, carry).groupBy(docKeys: _*).agg(max("run").as("longest"))
  }

  def q125MemorizationSpans(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .withColumn("ntok", ws_token_count(col("text"))) // lower() is count-neutral
      .filter(col("ntok") >= NgramW)
    val longest = longestDupRuns(docs(spark, dir), Seq("source"))
    val perSrc = longest.groupBy("source")
      .agg(count(lit(1)).as("n_span_docs"),
        sum(when(col("longest") >= RunThr, 1L).otherwise(0L)).as("n_risky"),
        max("longest").as("max_run"))
    base.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(perSrc, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_span_docs"), lit(0L)).as("n_span_docs"),
        coalesce(col("n_risky"), lit(0L)).as("n_risky"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy("source")
  }

  val q125Sql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks FROM documents),
       | b AS (SELECT doc_id, source, toks FROM t WHERE len(toks) >= $NgramW),
       | gr AS (SELECT doc_id, source, u.i AS i,
       |   md5(array_to_string(toks[CAST(u.i AS INTEGER):CAST(u.i + ${NgramW - 1} AS INTEGER)], ' ')) AS g
       |  FROM b, LATERAL (SELECT unnest(range(1, len(toks) - ${NgramW - 2})) AS i) u),
       | rep AS (SELECT g FROM gr GROUP BY g HAVING COUNT(*) >= 2),
       | dup AS (SELECT doc_id, source, i FROM gr SEMI JOIN rep USING (g)),
       | runs AS (SELECT doc_id, source,
       |   i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM dup),
       | rl AS (SELECT doc_id, source, COUNT(*) AS run FROM runs GROUP BY doc_id, source, grp),
       | mx AS (SELECT doc_id, source, MAX(run) AS longest FROM rl GROUP BY doc_id, source),
       | ps AS (SELECT source, COUNT(*) AS n_span_docs,
       |   SUM(CASE WHEN longest >= $RunThr THEN 1 ELSE 0 END) AS n_risky,
       |   MAX(longest) AS max_run FROM mx GROUP BY source),
       | nd AS (SELECT source, COUNT(*) AS n_docs FROM b GROUP BY source)
       |SELECT nd.source, nd.n_docs,
       | CAST(COALESCE(ps.n_span_docs, 0) AS BIGINT) AS n_span_docs,
       | CAST(COALESCE(ps.n_risky, 0) AS BIGINT) AS n_risky,
       | CAST(COALESCE(ps.max_run, 0) AS BIGINT) AS max_run
       |FROM nd LEFT JOIN ps USING (source) ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q127 — distinct-n corpus diversity: per (source, n) for n = 1..3, the
  // fraction of n-gram instances that are unique (distinct/total, exact
  // integer permille) — the distinct-n diversity metric of Li et al. 2016
  // and the self-repetition signal mixture tuning watches (a source whose
  // distinct-3 collapses is template spam). One tokenize pass builds all
  // three gram streams via per-doc lead() windows (no re-scan per n);
  // grams reduce to md5 digests at the scan so only 16-byte keys shuffle.
  //
  // Scale path: the (source, n, digest) pre-aggregation is the canonical
  // two-phase distinct — map-side partial counts, then a digest-keyed
  // shuffle whose reducer rows are (gram, count), never positions; the
  // final per-(source, n) rollup is 3×|sources| rows. Per-doc windows
  // partition by doc_id (bounded ≤ doc length), no global sort anywhere.
  // ===========================================================
  def q127DistinctNgrams(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        posexplode(graft.plans.TextKernels.ws_tokens(lower(col("text"))))
          .as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // a null lead means the gram would run off the doc end — and since
    // concat_ws silently drops nulls (never yielding null itself), each
    // gram carries an explicit validity flag from its LAST needed token
    val valid = toks
      .withColumn("l1", lead("tok", 1).over(w))
      .withColumn("l2", lead("tok", 2).over(w))
      .select(col("source"), explode(array(
        struct(lit(1).as("n"), md5(col("tok").cast("binary")).as("g"), lit(true).as("ok")),
        struct(lit(2).as("n"),
          md5(concat_ws(" ", col("tok"), col("l1")).cast("binary")).as("g"),
          col("l1").isNotNull.as("ok")),
        struct(lit(3).as("n"),
          md5(concat_ws(" ", col("tok"), col("l1"), col("l2")).cast("binary")).as("g"),
          col("l2").isNotNull.as("ok")),
      )).as("p"))
      .filter(col("p.ok"))
      .select(col("source"), col("p.n").as("n"), col("p.g").as("g"))
    valid.groupBy("source", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("source", "n")
      .agg(count(lit(1)).as("distinct_grams"), sum("c").as("total_grams"))
      .withColumn("distinct_permille", expr("distinct_grams * 1000 DIV total_grams"))
      .select("source", "n", "total_grams", "distinct_grams", "distinct_permille")
      .orderBy("source", "n")
  }

  val q127Sql: String =
    """WITH t AS (SELECT doc_id, source,
      |   regexp_extract_all(lower(text), '[^ \t\n\r\f]+') AS toks FROM documents),
      | p AS (SELECT source, toks, u.i AS i
      |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u),
      | g AS (SELECT source, nn.n AS n,
      |   md5(array_to_string(toks[CAST(i AS INTEGER):CAST(i + nn.n - 1 AS INTEGER)], ' ')) AS g
      |  FROM p, (VALUES (1), (2), (3)) nn(n)
      |  WHERE i + nn.n - 1 <= len(toks)),
      | pc AS (SELECT source, n, g, COUNT(*) AS c FROM g GROUP BY source, n, g)
      |SELECT source, n, CAST(SUM(c) AS BIGINT) AS total_grams,
      | CAST(COUNT(*) AS BIGINT) AS distinct_grams,
      | CAST(COUNT(*) * 1000 // SUM(c) AS BIGINT) AS distinct_permille
      |FROM pc GROUP BY source, n ORDER BY source, n""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q128 — substring-dedup removal accounting (the ExactSubstr pass of
  // Lee et al. 2022 "Deduplicating Training Data Makes Language Models
  // Better", measured before destructive application): per source, how
  // many tokens sit inside corpus-duplicated verbatim spans long enough
  // to delete (dup-gram runs of ≥ RunThr positions = ≥ RunThr+NgramW-1
  // straight duplicated tokens). A run of R positions starting at gram
  // position s covers tokens [s, s+R+NgramW-2]; covered intervals of one
  // doc can overlap (two qualifying runs separated by < NgramW-1 clean
  // positions), so coverage is an exact interval union via a per-doc
  // running-max window — never double-counted, never approximated.
  //
  // Scale path: rides the q125 dup-run machinery (digests at the scan,
  // repeated-digest semi-join, per-doc islanding on dup rows only); the
  // interval union windows over QUALIFYING runs per doc — a handful of
  // rows each — and per-source totals are one map-side-combined rollup.
  // ===========================================================
  def q128SubstringRemoval(spark: SparkSession, dir: String): DataFrame = {
    val spans = dupRunSpans(docs(spark, dir), Seq("source"))
      .filter(col("run") >= RunThr)
      .withColumn("end", col("start") + col("run") + lit(NgramW - 2L))
    val prev = Window.partitionBy("doc_id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = spans
      .withColumn("pmax", max("end").over(prev))
      .withColumn("covered", greatest(lit(0L),
        col("end") - greatest(col("start") - 1L, coalesce(col("pmax"), lit(0L)))))
      .groupBy("doc_id", "source").agg(sum("covered").as("removed"))
    val totals = docs(spark, dir)
      .select(col("source"),
        ws_token_count(col("text")).as("ntok")) // lower() is count-neutral
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tokens_total"))
    val perSrc = perDoc.groupBy("source")
      .agg(count(lit(1)).as("docs_affected"), sum("removed").as("tokens_removed"))
    totals.join(perSrc, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("tokens_total"),
        coalesce(col("docs_affected"), lit(0L)).as("docs_affected"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"))
      .withColumn("removal_permille", expr("tokens_removed * 1000 DIV tokens_total"))
      .orderBy("source")
  }

  val q128Sql: String =
    s"""WITH t AS (SELECT doc_id, source,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks FROM documents),
       | b AS (SELECT doc_id, source, toks FROM t WHERE len(toks) >= $NgramW),
       | gr AS (SELECT doc_id, source, u.i AS i,
       |   md5(array_to_string(toks[CAST(u.i AS INTEGER):CAST(u.i + ${NgramW - 1} AS INTEGER)], ' ')) AS g
       |  FROM b, LATERAL (SELECT unnest(range(1, len(toks) - ${NgramW - 2})) AS i) u),
       | rep AS (SELECT g FROM gr GROUP BY g HAVING COUNT(*) >= 2),
       | dup AS (SELECT doc_id, source, i FROM gr SEMI JOIN rep USING (g)),
       | runs AS (SELECT doc_id, source, i,
       |   i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM dup),
       | rl AS (SELECT doc_id, source, MIN(i) AS s, COUNT(*) AS run
       |  FROM runs GROUP BY doc_id, source, grp),
       | q AS (SELECT doc_id, source, s, s + run + ${NgramW - 2} AS e
       |  FROM rl WHERE run >= $RunThr),
       | c AS (SELECT doc_id, source, GREATEST(0, e - GREATEST(s - 1,
       |   COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS covered FROM q),
       | per AS (SELECT doc_id, source, SUM(covered) AS removed FROM c GROUP BY doc_id, source),
       | ps AS (SELECT source, COUNT(*) AS docs_affected, SUM(removed) AS tokens_removed
       |  FROM per GROUP BY source),
       | tot AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS tokens_total
       |  FROM t GROUP BY source)
       |SELECT tot.source, tot.n_docs, tot.tokens_total,
       | CAST(COALESCE(ps.docs_affected, 0) AS BIGINT) AS docs_affected,
       | CAST(COALESCE(ps.tokens_removed, 0) AS BIGINT) AS tokens_removed,
       | CAST(COALESCE(ps.tokens_removed, 0) * 1000 // tot.tokens_total AS BIGINT) AS removal_permille
       |FROM tot LEFT JOIN ps USING (source) ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q157 — substring-dedup removal EXECUTION (q128's audit applied): the
  // third audit→execution bridge after q151 (q124's weights drawn) and
  // q155 (q143's threshold picked). The ExactSubstr pass actually runs:
  // every token inside a qualifying dup-run interval union is DELETED,
  // the document is rebuilt from the kept tokens, and the output proves
  // it — per source, docs modified / token mass before and after /
  // removal share, plus an order-independent corpus fingerprint
  // (bit_xor of each cleaned doc's 60-bit md5) so two engines must agree
  // on every cleaned BYTE, not just the counts. tokens_before −
  // tokens_after must equal q128's tokens_removed per source — the
  // execution provably implements the accounting (QueriesSpec asserts
  // the bridge row by row).
  //
  // Scale path: the span side rides q125/q128's dup-run machinery
  // (digests at the scan, repeated-digest semi-join, islanding on dup
  // rows only; qualifying spans are a handful of rows per affected doc);
  // reconstruction is ONE left join of the corpus against the
  // doc-keyed interval lists followed by a map-only per-doc filter —
  // no position explode, no shuffle beyond the span aggregation the
  // audit already pays. The per-source rollup is map-side combined;
  // bit_xor keeps the fingerprint order-independent so no sort exists
  // anywhere.
  // ===========================================================
  def q157SubstringRemovalExec(spark: SparkSession, dir: String): DataFrame = {
    val iv = dupRunSpans(docs(spark, dir), Seq.empty)
      .filter(col("run") >= RunThr)
      .select(col("doc_id"), col("start").as("s"),
        (col("start") + col("run") + lit(NgramW - 2L)).as("e"))
      .groupBy("doc_id").agg(collect_list(struct(col("s"), col("e"))).as("iv"))
    docs(spark, dir)
      .withColumn("otoks", graft.plans.TextKernels.ws_tokens(col("text")))
      .join(iv, Seq("doc_id"), "left_outer")
      // kept = tokens at positions outside the interval union; intervals
      // can overlap (q128's point) — the exists() test handles overlap
      // without needing the merge the arithmetic accounting required
      .withColumn("kept", when(col("iv").isNull, col("otoks")).otherwise(expr(
        "transform(filter(sequence(1, size(otoks)), i -> " +
          "NOT exists(iv, l -> i >= l.s AND i <= l.e)), i -> element_at(otoks, i))")))
      .withColumn("nb", size(col("otoks")).cast("long"))
      .withColumn("na", size(col("kept")).cast("long"))
      // untouched docs fingerprint their ORIGINAL bytes (spacing intact);
      // modified docs are rebuilt from kept tokens, so the single-space
      // join IS their cleaned byte form by definition
      .withColumn("h", graft.plans.TextKernels.md5_prefix60(
        when(col("iv").isNull, col("text"))
          .otherwise(concat_ws(" ", col("kept"))).cast("binary")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("na") < col("nb"), 1L).otherwise(0L)).as("docs_modified"),
        sum("nb").as("tokens_before"),
        sum("na").as("tokens_after"),
        expr("bit_xor(h)").as("corpus_fp"))
      .withColumn("tokens_removed", col("tokens_before") - col("tokens_after"))
      .withColumn("removal_permille",
        expr("tokens_removed * 1000 DIV greatest(tokens_before, 1L)"))
      .select("source", "n_docs", "docs_modified", "tokens_before",
        "tokens_after", "tokens_removed", "removal_permille", "corpus_fp")
      .orderBy("source")
  }

  val q157Sql: String =
    s"""WITH t AS (SELECT doc_id, source, text,
       |   regexp_extract_all(text, '[^ \\t\\n\\r\\f]+') AS otoks,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks FROM documents),
       | b AS (SELECT doc_id, toks FROM t WHERE len(toks) >= $NgramW),
       | gr AS (SELECT doc_id, u.i AS i,
       |   md5(array_to_string(toks[CAST(u.i AS INTEGER):CAST(u.i + ${NgramW - 1} AS INTEGER)], ' ')) AS g
       |  FROM b, LATERAL (SELECT unnest(range(1, len(toks) - ${NgramW - 2})) AS i) u),
       | rep AS (SELECT g FROM gr GROUP BY g HAVING COUNT(*) >= 2),
       | dup AS (SELECT doc_id, i FROM gr SEMI JOIN rep USING (g)),
       | runs AS (SELECT doc_id, i,
       |   i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM dup),
       | rl AS (SELECT doc_id, MIN(i) AS s, COUNT(*) AS run
       |  FROM runs GROUP BY doc_id, grp),
       | qv AS (SELECT doc_id, s, s + run + ${NgramW - 2} AS e
       |  FROM rl WHERE run >= $RunThr),
       | iv AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS iv
       |  FROM qv GROUP BY doc_id),
       | cl AS (SELECT t.doc_id, t.source, t.text, CAST(len(t.otoks) AS BIGINT) AS nb,
       |   iv.iv IS NULL AS untouched,
       |   CASE WHEN iv.iv IS NULL THEN t.otoks ELSE
       |     list_transform(list_filter(range(1, len(t.otoks) + 1),
       |       i -> len(list_filter(iv.iv, l -> i >= l['s'] AND i <= l['e'])) = 0),
       |      i -> t.otoks[CAST(i AS INTEGER)]) END AS kept
       |  FROM t LEFT JOIN iv USING (doc_id)),
       | fp AS (SELECT doc_id, source, nb, CAST(len(kept) AS BIGINT) AS na,
       |   CAST(('0x' || substr(md5(CASE WHEN untouched THEN text
       |     ELSE COALESCE(array_to_string(kept, ' '), '') END), 1, 15)) AS BIGINT) AS h
       |  FROM cl)
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN na < nb THEN 1 ELSE 0 END) AS BIGINT) AS docs_modified,
       | CAST(SUM(nb) AS BIGINT) AS tokens_before,
       | CAST(SUM(na) AS BIGINT) AS tokens_after,
       | CAST(SUM(nb) - SUM(na) AS BIGINT) AS tokens_removed,
       | CAST((SUM(nb) - SUM(na)) * 1000 // GREATEST(SUM(nb), 1) AS BIGINT) AS removal_permille,
       | bit_xor(h) AS corpus_fp
       |FROM fp GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q129 — learned quality filter trained INSIDE the engine: an integer
  // batch perceptron over q32's quality features (token count, punct
  // permille, mean-token-length permille + bias), labels from q32's own
  // rule panel, trained on the q53 train split and scored on the held-out
  // test split (confusion matrix + accuracy permille). The fasttext-style
  // "train a filter model on heuristic labels" move of CCNet/LLaMA data
  // prep, as a pure dataflow: every quantity is integer-exact, so the
  // whole train→apply→evaluate loop replays bit-identically in SQL.
  //
  // Scale path: one round = ONE map-side-combined aggregation over the
  // train split (4 long sums); weights are 4 driver-resident longs that
  // ride into the next round's plan as literals (the centroid pattern —
  // what you'd do at 100 TB too, the model is 32 bytes). Batch-mode
  // updates (sum over ALL currently-misclassified rows) make training
  // order-independent — no sequential online pass to fake in a
  // distributed engine.
  // ===========================================================
  val PerceptronRounds = 16
  val PerceptronBiasUnit = 32L // bias feature scale ≈ token-count scale

  /** q32's rule-margin features over a frame carrying `text`: columns
    * x1 = tokens − 20, x2 = 10·puncts − tokens, x3 = chars − 12·tokens
    * (chars > 12·tokens ⟺ mean token length > 12.0), plus the rule-panel
    * label y ∈ {−1, +1}. Pure products/sums only — Spark DIV truncates
    * toward zero while DuckDB `//` floors, so NO feature may divide a
    * possibly-negative value. Rows with zero tokens are dropped. */
  /** THE rule-margin formulas, parameterized on the three base measures —
    * one definition feeding both the q129 audit (via [[qualityFeatures]])
    * and the pipeline's learned gate, so they cannot drift. */
  private[operators] def qualityXs(
      chars: Column, tokens: Column, puncts: Column): (Column, Column, Column) =
    (tokens - 20L, puncts * 10L - tokens, chars - tokens * 12L)

  private[operators] def qualityLabel(
      chars: Column, tokens: Column, puncts: Column): Column =
    when(tokens < 20 || puncts * 10 > tokens || chars > tokens * 12, -1L)
      .otherwise(1L)

  private[operators] def qualityFeatures(d: DataFrame): DataFrame = {
    val (x1, x2, x3) = qualityXs(col("chars"), col("tokens"), col("puncts"))
    d.withColumn("chars", length(col("text")).cast("long"))
      .withColumn("tokens", ws_token_count(col("text")))
      .withColumn("puncts",
        size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast("long"))
      .filter(col("tokens") > 0)
      .withColumn("x1", x1).withColumn("x2", x2).withColumn("x3", x3)
      .withColumn("y", qualityLabel(col("chars"), col("tokens"), col("puncts")))
      .drop("chars", "tokens", "puncts")
  }

  /** The trained model's decision margin over explicit feature columns;
    * classify keep ⟺ margin > 0. */
  private[operators] def qualityMargin(
      w: Array[Long], x1: Column, x2: Column, x3: Column): Column =
    lit(w(0) * PerceptronBiasUnit) + lit(w(1)) * x1 + lit(w(2)) * x2 + lit(w(3)) * x3

  /** Margin over the x1/x2/x3 columns of [[qualityFeatures]]. */
  private[operators] def qualityMargin(w: Array[Long]): Column =
    qualityMargin(w, col("x1"), col("x2"), col("x3"))

  /** Train the integer batch perceptron on a frame of [[qualityFeatures]]
    * rows: (weights, train_n). Shared by q129 and
    * [[CurationPipeline.learnedQualityStage]], so the pipeline gates with
    * exactly the model the audit reports. */
  def trainQualityPerceptron(features: DataFrame): (Array[Long], Long) = {
    // materialize the train features ONCE (y + three longs per doc, ~32
    // bytes/row): the 16 update rounds then aggregate a cached long-only
    // projection instead of re-running the tokenize regexes per round
    val train = features.select("y", "x1", "x2", "x3").localCheckpoint()
    // class-balanced updates: a misclassified positive steps by n_neg, a
    // misclassified negative by n_pos — without this the 89/11 imbalance
    // drowns the minority class and the model degenerates to all-positive
    val cnt = train.agg(
      sum(when(col("y") === 1L, 1L).otherwise(0L)),
      sum(when(col("y") === -1L, 1L).otherwise(0L)), count(lit(1))).head()
    require(cnt.getLong(2) > 0, "empty training set: no rows with tokens > 0")
    val (nPos, nNeg, trainN) = (cnt.getLong(0), cnt.getLong(1), cnt.getLong(2))
    val s = when(col("y") === 1L, lit(nNeg)).otherwise(lit(nPos))
    var w = Array(0L, 0L, 0L, 0L)
    for (_ <- 1 to PerceptronRounds) {
      val upd = train
        .filter(col("y") * qualityMargin(w) <= 0)
        .agg(
          coalesce(sum(col("y") * s * PerceptronBiasUnit), lit(0L)),
          coalesce(sum(col("y") * s * col("x1")), lit(0L)),
          coalesce(sum(col("y") * s * col("x2")), lit(0L)),
          coalesce(sum(col("y") * s * col("x3")), lit(0L)))
        .head()
      w = Array(w(0) + upd.getLong(0), w(1) + upd.getLong(1),
        w(2) + upd.getLong(2), w(3) + upd.getLong(3))
    }
    train.unpersist()
    (w, trainN)
  }

  def q129QualityPerceptron(spark: SparkSession, dir: String): DataFrame = {
    val f = qualityFeatures(docs(spark, dir)
      .withColumn("h",
        graft.plans.TextKernels.md5_prefix60(col("doc_id").cast("string").cast("binary"))))
    val (w, trainN) = trainQualityPerceptron(f.filter(col("h") < TrainBound))
    f.filter(col("h") >= ValBound)
      .withColumn("pred", when(qualityMargin(w) > 0, 1L).otherwise(-1L))
      .agg(
        count(lit(1)).as("test_n"),
        sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === -1L && col("pred") === 1L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === -1L && col("pred") === -1L, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1L && col("pred") === -1L, 1L).otherwise(0L)).as("fn"))
      .select(lit(w(0)).as("w_bias"), lit(w(1)).as("w_tokens"),
        lit(w(2)).as("w_punct"), lit(w(3)).as("w_mtl"),
        lit(trainN).as("train_n"), col("test_n"), col("tp"), col("fp"),
        col("tn"), col("fn"),
        expr("(tp + tn) * 1000 DIV test_n").as("accuracy_permille"))
  }

  val q129Sql: String = {
    // unrolled rounds, q118-style: rN carries (b, wt, wp, wm); a round
    // adds the class-balanced sum of y·s·x over currently-misclassified
    // train rows (cnt provides the 1-row class counts)
    val B = PerceptronBiasUnit
    def round(prev: String, name: String): String = {
      val m = s"$prev.b * $B + $prev.wt * x1 + $prev.wp * x2 + $prev.wm * x3"
      val s = "CASE WHEN y = 1 THEN cnt.nn ELSE cnt.np END"
      def upd(xi: String) =
        s"CAST(COALESCE(SUM(CASE WHEN y * ($m) <= 0 THEN y * ($s) * $xi ELSE 0 END), 0) AS BIGINT)"
      s"""$name AS (SELECT $prev.b + ${upd(B.toString)} AS b,
         |  $prev.wt + ${upd("x1")} AS wt,
         |  $prev.wp + ${upd("x2")} AS wp,
         |  $prev.wm + ${upd("x3")} AS wm
         | FROM tr, $prev, cnt
         | GROUP BY $prev.b, $prev.wt, $prev.wp, $prev.wm, cnt.np, cnt.nn)""".stripMargin
    }
    val rounds = (1 to PerceptronRounds)
      .map(i => round(s"r${i - 1}", s"r$i")).mkString(",\n ")
    val last = s"r$PerceptronRounds"
    s"""WITH raw AS (SELECT
       |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
       |   CAST(length(text) AS BIGINT) AS chars,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens,
       |   CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS puncts
       |  FROM documents),
       | f AS (SELECT h, tokens - 20 AS x1, puncts * 10 - tokens AS x2,
       |   chars - tokens * 12 AS x3,
       |   CASE WHEN tokens < 20 OR puncts * 10 > tokens OR chars > tokens * 12
       |    THEN -1 ELSE 1 END AS y
       |  FROM raw WHERE tokens > 0),
       | tr AS (SELECT * FROM f WHERE h < $TrainBound),
       | cnt AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |   CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn,
       |   COUNT(*) AS train_n FROM tr),
       | r0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS wt,
       |   CAST(0 AS BIGINT) AS wp, CAST(0 AS BIGINT) AS wm),
       | $rounds,
       | te AS (SELECT f.*,
       |   CASE WHEN $last.b * $B + $last.wt * x1 + $last.wp * x2 + $last.wm * x3 > 0
       |    THEN 1 ELSE -1 END AS pred
       |  FROM f, $last WHERE h >= $ValBound),
       | ev AS (SELECT COUNT(*) AS test_n,
       |   CAST(SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |   CAST(SUM(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |   CAST(SUM(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |   CAST(SUM(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM te)
       |SELECT $last.b AS w_bias, $last.wt AS w_tokens, $last.wp AS w_punct,
       | $last.wm AS w_mtl, cnt.train_n, ev.test_n, ev.tp, ev.fp, ev.tn, ev.fn,
       | (ev.tp + ev.tn) * 1000 // ev.test_n AS accuracy_permille
       |FROM $last, cnt, ev""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q130 — per-source token-distribution divergence: q90's integer
  // chi-square, but over TEXT — each source's unigram distribution vs the
  // corpus-wide distribution on a deterministic top-V vocabulary plus an
  // OOV bucket (bounded width, so the statistic is comparable across
  // sources and scales). The "this source is off-distribution" audit that
  // decides whether a new crawl slice joins the mixture.
  //
  // Scale path: one tokenize scan for the vocabulary + one for the
  // histograms (materialized once; every reference table derives from
  // the tiny per-source bucket counts); the vocabulary is a top-V
  // TakeOrderedAndProject collected to the driver (V strings — the
  // centroid pattern); histograms are map-side-combined aggregations of
  // ≤(V+1) buckets per source; the corpus reference broadcasts. The
  // squared term bounds at (cur_n·Scale)² — int64-safe through ~10^6-token
  // sources at Scale 1000; larger corpora drop Scale or shard the sum.
  // ===========================================================
  val VocabTopK = 20
  val VocabScale = 1000L

  def q130SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(col("source"),
      explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(VocabTopK)
      .select("tok").collect().map(_.getString(0)).toSeq
    // ONE histogram scan after the vocab pass: ref/refN/curN all derive
    // from the materialized ≤|sources|·(V+1)-row cur table instead of
    // re-tokenizing the corpus per consumer (Catalyst does not dedupe the
    // shared scan subtree across the joins below)
    val cur = toks.withColumn("bucket",
        when(col("tok").isin(vocab: _*), col("tok")).otherwise(lit("<oov>")))
      .groupBy("source", "bucket").agg(count(lit(1)).as("cur_c"))
      .localCheckpoint()
    val ref = cur.groupBy("bucket").agg(sum("cur_c").cast("long").as("ref_c"))
    val refN = cur.agg(sum("cur_c").cast("long").as("ref_n"))
    val curN = cur.groupBy("source").agg(sum("cur_c").cast("long").as("cur_n"))
    cur.join(broadcast(ref), "bucket")
      .join(broadcast(curN), "source")
      .crossJoin(broadcast(refN))
      .withColumn("e", expr(s"ref_c * cur_n * $VocabScale DIV ref_n"))
      .filter(col("e") > 0) // sub-permille expectations cannot contribute
      .withColumn("contrib", expr(
        s"(cur_c * $VocabScale - e) * (cur_c * $VocabScale - e) DIV (e * $VocabScale)"))
      .groupBy("source")
      .agg(max("cur_n").as("tokens"), count(lit(1)).as("n_buckets"),
        sum("contrib").cast("long").as("chi2_millis"))
      .orderBy("source")
  }

  val q130Sql: String =
    s"""WITH t AS (SELECT source, u.tok AS tok FROM documents,
       |   LATERAL (SELECT unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS tok) u),
       | v AS (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
       |   ORDER BY c DESC, tok LIMIT $VocabTopK)),
       | b AS (SELECT source,
       |   CASE WHEN tok IN (SELECT tok FROM v) THEN tok ELSE '<oov>' END AS bucket FROM t),
       | cur AS (SELECT source, bucket, COUNT(*) AS cur_c FROM b GROUP BY source, bucket),
       | ref AS (SELECT bucket, COUNT(*) AS ref_c FROM b GROUP BY bucket),
       | rn AS (SELECT COUNT(*) AS ref_n FROM b),
       | cn AS (SELECT source, CAST(SUM(cur_c) AS BIGINT) AS cur_n FROM cur GROUP BY source),
       | c AS (SELECT cur.source, cur_n, cur_c,
       |   ref_c * cur_n * $VocabScale // ref_n AS e
       |  FROM cur JOIN ref USING (bucket) JOIN cn ON cur.source = cn.source, rn)
       |SELECT source, MAX(cur_n) AS tokens, COUNT(*) AS n_buckets,
       | CAST(SUM((cur_c * $VocabScale - e) * (cur_c * $VocabScale - e)
       |   // (e * $VocabScale)) AS BIGINT) AS chi2_millis
       |FROM c WHERE e > 0 GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q131 — epoch-mixture planner: given the q115 temperature-scaled
  // source shares and a multi-epoch training budget, how many times does
  // each source repeat? required_s = share_s × budget;
  // epochs_permille_s = required_s / available_s; sources past the
  // ~4-epoch repeat tolerance (Muennighoff et al. 2023) are capped and
  // their shortfall reported — the number the mixture owner reallocates.
  //
  // Scale path: everything after ONE token-count scan is arithmetic on
  // the |sources|-row aggregate with two broadcast scalar totals.
  // ===========================================================
  val EpochBudgetX = 3L      // training budget = 3× the corpus token count
  // repeat tolerance: the literature point is ~4 epochs (Muennighoff et
  // al. 2023); the demo corpus is near-balanced (~2.8-3.1 epochs/source),
  // so the cap sits at 3 epochs to keep the cap/shortfall path exercised
  val EpochCapPermille = 3000L

  def q131EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val per = sourceTokenWeights(spark, dir).drop("n_docs")
    val totals = per.agg(sum("tokens").as("tot_tokens"), sum("weight").as("tot_weight"))
    per.crossJoin(broadcast(totals))
      .withColumn("temp_permille", expr("weight * 1000 DIV tot_weight"))
      .withColumn("required_tokens",
        expr(s"temp_permille * tot_tokens * $EpochBudgetX DIV 1000"))
      .withColumn("epochs_permille", expr("required_tokens * 1000 DIV tokens"))
      .withColumn("over_cap", col("epochs_permille") > EpochCapPermille)
      .withColumn("capped_tokens",
        expr(s"least(required_tokens, tokens * $EpochCapPermille DIV 1000)"))
      .withColumn("shortfall_tokens", col("required_tokens") - col("capped_tokens"))
      .select("source", "tokens", "temp_permille", "required_tokens",
        "epochs_permille", "over_cap", "capped_tokens", "shortfall_tokens")
      .orderBy("source")
  }

  val q131Sql: String =
    s"""WITH per AS (SELECT source,
       |   CAST(SUM(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+'))) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source),
       | w AS (SELECT *, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS weight FROM per),
       | tt AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tot_tokens,
       |   CAST(SUM(weight) AS BIGINT) AS tot_weight FROM w),
       | p AS (SELECT source, tokens, weight * 1000 // tt.tot_weight AS temp_permille,
       |   (weight * 1000 // tt.tot_weight) * tt.tot_tokens * $EpochBudgetX // 1000 AS required_tokens
       |  FROM w, tt),
       | e AS (SELECT *, required_tokens * 1000 // tokens AS epochs_permille,
       |   LEAST(required_tokens, tokens * $EpochCapPermille // 1000) AS capped_tokens
       |  FROM p)
       |SELECT source, tokens, CAST(temp_permille AS BIGINT) AS temp_permille,
       | CAST(required_tokens AS BIGINT) AS required_tokens,
       | CAST(epochs_permille AS BIGINT) AS epochs_permille,
       | epochs_permille > $EpochCapPermille AS over_cap,
       | CAST(capped_tokens AS BIGINT) AS capped_tokens,
       | CAST(required_tokens - capped_tokens AS BIGINT) AS shortfall_tokens
       |FROM e ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q132 — benchmark-side contamination attribution: q54 reports WHICH
  // CORPUS DOCS are contaminated; this reports WHICH EVAL ITEMS leak —
  // per benchmark doc (q54's doc_id % 97 stand-in suite), how many of its
  // 3-grams appear in the training corpus and how many distinct corpus
  // docs share one. The eval-integrity owner reads this list to decide
  // which benchmark items to retire (their scores are memorization, not
  // capability). Top-15 by corpus reach.
  //
  // Scale path: the benchmark gram table is eval-suite-sized →
  // broadcast; the corpus gram stream joins it map-side (the q54 move
  // with the doc id carried through), and both distinct counts aggregate
  // the JOINED (bounded) pair stream, never corpus×bench.
  // ===========================================================
  val LeakTopK = 15

  def q132BenchLeaks(spark: SparkSession, dir: String): DataFrame = {
    def ngrams(df: DataFrame): DataFrame =
      df.withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
        .withColumn("ng", explode(graft.plans.TextKernels.ws_grams(col("toks"), 3)))
        .select(col("doc_id"), col("ng"))
    val d = docs(spark, dir)
    val benchG = ngrams(d.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id").as("bench_doc_id"), col("ng")).distinct()
    val pairs = ngrams(d.filter(col("doc_id") % 97 =!= 0))
      .select(col("doc_id").as("c_doc"), col("ng"))
      .join(broadcast(benchG), "ng")
    val per = pairs.groupBy("bench_doc_id")
      .agg(countDistinct("ng").as("n_leaked"),
        countDistinct("c_doc").as("n_corpus_docs"))
    benchG.groupBy("bench_doc_id").agg(count(lit(1)).as("n_grams"))
      .join(per, Seq("bench_doc_id"), "left_outer")
      .select(col("bench_doc_id"), col("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"))
      .withColumn("leak_permille", expr("n_leaked * 1000 DIV n_grams"))
      .orderBy(col("n_corpus_docs").desc, col("bench_doc_id")).limit(LeakTopK)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("n_corpus_docs").desc, col("bench_doc_id"))).cast("long"))
      .select("rank", "bench_doc_id", "n_grams", "n_leaked", "leak_permille", "n_corpus_docs")
      .orderBy("rank")
  }

  val q132Sql: String =
    s"""WITH toks AS (SELECT doc_id,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks FROM documents),
       | ng AS (SELECT doc_id,
       |   unnest(CASE WHEN len(toks) >= 3
       |     THEN list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
       |     ELSE CAST([] AS VARCHAR[]) END) AS ng
       |  FROM toks),
       | bench AS (SELECT DISTINCT doc_id AS bench_doc_id, ng FROM ng WHERE doc_id % 97 = 0),
       | pairs AS (SELECT b.bench_doc_id, n.ng, n.doc_id AS c_doc
       |  FROM ng n JOIN bench b USING (ng) WHERE n.doc_id % 97 <> 0),
       | per AS (SELECT bench_doc_id, COUNT(DISTINCT ng) AS n_leaked,
       |   COUNT(DISTINCT c_doc) AS n_corpus_docs FROM pairs GROUP BY bench_doc_id),
       | tot AS (SELECT bench_doc_id, COUNT(*) AS n_grams FROM bench GROUP BY bench_doc_id),
       | j AS (SELECT tot.bench_doc_id, tot.n_grams,
       |   CAST(COALESCE(per.n_leaked, 0) AS BIGINT) AS n_leaked,
       |   CAST(COALESCE(per.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs
       |  FROM tot LEFT JOIN per USING (bench_doc_id)),
       | r AS (SELECT *, n_leaked * 1000 // n_grams AS leak_permille,
       |   ROW_NUMBER() OVER (ORDER BY n_corpus_docs DESC, bench_doc_id) AS rank FROM j)
       |SELECT CAST(rank AS BIGINT) AS rank, bench_doc_id, n_grams, n_leaked,
       | CAST(leak_permille AS BIGINT) AS leak_permille, n_corpus_docs
       |FROM r WHERE rank <= $LeakTopK ORDER BY rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q133 — vocabulary coverage curve (tokenizer sizing): for vocabulary
  // budgets k = 1, 2, 4, ..., 32, what fraction of corpus token
  // OCCURRENCES do the top-k types cover? The Zipf-mass curve that
  // decides how large a word-level vocab (or BPE merge budget) must be
  // before <unk> mass is acceptable.
  //
  // Scale path: the frequency table is VOCABULARY-sized (types, not
  // occurrences); its global rank window sorts |V| rows — the one sort a
  // coverage curve fundamentally needs — and the k-budget expansion cross
  // joins |V| rows with a 6-row literal. The corpus itself is touched by
  // exactly one tokenize+count scan.
  // ===========================================================
  val CoverageKs: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)

  def q133VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val freq = docs(spark, dir)
      .select(explode(graft.plans.TextKernels.ws_tokens(lower(col("text")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint() // types-sized; ranked and totals both consume it
    val ranked = freq.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("tok"))).cast("long"))
    val totals = freq.agg(sum("c").as("total_tokens"), count(lit(1)).as("vocab_size"))
    ranked.crossJoin(broadcast(CoverageKs.toDF("k")))
      .filter(col("rank") <= col("k"))
      .groupBy("k").agg(sum("c").as("covered_tokens"))
      .crossJoin(broadcast(totals))
      .withColumn("coverage_permille", expr("covered_tokens * 1000 DIV total_tokens"))
      .select("k", "covered_tokens", "total_tokens", "vocab_size", "coverage_permille")
      .orderBy("k")
  }

  val q133Sql: String = {
    val kRows = CoverageKs.map(k => s"($k)").mkString(", ")
    s"""WITH t AS (SELECT u.tok AS tok FROM documents,
       |   LATERAL (SELECT unnest(regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+')) AS tok) u),
       | freq AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
       | ranked AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rank FROM freq),
       | tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens, COUNT(*) AS vocab_size FROM freq)
       |SELECT ks.k, CAST(SUM(ranked.c) AS BIGINT) AS covered_tokens,
       | tot.total_tokens, tot.vocab_size,
       | CAST(SUM(ranked.c) * 1000 // tot.total_tokens AS BIGINT) AS coverage_permille
       |FROM ranked, (VALUES $kRows) ks(k), tot
       |WHERE ranked.rank <= ks.k
       |GROUP BY ks.k, tot.total_tokens, tot.vocab_size ORDER BY ks.k""".stripMargin.replace("\n", " ")
  }

  // ===========================================================
  // q135 — winnowing fingerprints (Schleimer et al. 2003, the MOSS
  // algorithm): Karp-Rabin polynomial hashes over character k-grams of
  // the normalized text, a w-window min-selection (leftmost minimum via
  // the hash·2048+pos key trick — one plain window MIN in both engines),
  // and near-dup mining on the selected fingerprints. Winnowing
  // guarantees any shared substring of length ≥ k+w−1 produces a shared
  // fingerprint — the LOCAL complement of q41's whole-document MinHash
  // (robust to partial overlap/edits, which global signatures dilute).
  // q34's whole-doc digest, q41's MinHash, and this complete the
  // fingerprint family.
  //
  // Scale path: hashing is per-row lambda arithmetic at the scan; the
  // window min partitions per doc (bounded); fingerprint buckets ride the
  // q41 bucket-cap move (SmallestK, oversized stop-fingerprint buckets
  // dropped whole) so pair fanout is ≤ cap² per fingerprint, never
  // corpus². The final top-20 is TakeOrderedAndProject.
  // ===========================================================
  // constants live on the native expression — ONE source for the Spark
  // plan, the SQL oracle, and the codegen'd rolling recurrence
  val WinK: Int = graft.plans.RollingHashGrams.K // k-gram width (code points)
  val WinW = 4 // winnowing window (guarantee threshold = k + w - 1 = 8)
  val WinB: Long = graft.plans.RollingHashGrams.B
  val WinM: Long = graft.plans.RollingHashGrams.M // h*2048+pos stays < 2^41
  val WinCap = 64
  val WinTopN = 20
  val WinPosCap = 2097152L // 2^21: key = h·cap + pos stays under 2^51
  // Long documents are CHUNKED, not dropped: ≤2^21-char segments whose
  // k+w-2-char overlap keeps every length-(k+w-1) window of the original
  // fully inside some chunk — the winnowing guarantee ("any shared
  // substring ≥ k+w-1 chars shares a fingerprint") survives segmentation,
  // and at 100 TB the longest documents are prime near-dup candidates.
  // Fingerprints union (distinct) per doc across its chunks.
  val WinStep: Long = WinPosCap - (WinK + WinW - 2)

  def q135WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .withColumn("ntext", norm)
      .withColumn("n", length(col("ntext")).cast("long"))
      .filter(col("n") >= WinK + WinW - 1) // at least one full window
      // chunk count = 1 + ceil(max(0, n - cap) / step); ci is int-safe
      // (String length < 2^31 bounds ci·step + 1 under Int.MaxValue)
      .withColumn("ci", explode(expr(
        s"sequence(0, CAST((greatest(0L, n - ${WinPosCap}L) + ${WinStep - 1}L) DIV ${WinStep}L AS INT))")))
      // single-chunk docs (n <= cap, i.e. ~all of them) pass ntext through
      // untouched — substring() COPIES its slice, and an unconditional
      // substring would re-copy the whole corpus once per scan
      .withColumn("ctext", expr(
        s"CASE WHEN n <= ${WinPosCap}L THEN ntext" +
          s" ELSE substring(ntext, CAST(ci * $WinStep + 1 AS INT), $WinPosCap) END"))
      // a trailing chunk shorter than one window carries no window of its
      // own — its chars sit inside the previous chunk's overlap tail
      .filter(length(col("ctext")) >= WinK + WinW - 1)
      // native O(n) rolling recurrence — the composable lambda form costs
      // ~75 s at sf0.1 (interpreted HOFs, per-(i,j) substring rescans)
      .withColumn("hs", graft.plans.RollingHashGrams.rolling_hash_grams(col("ctext")))
      .select(col("doc_id"), col("ci"), posexplode(col("hs")).as(Seq("pos0", "h")))
      // h < M < 2^30 and pos < 2^21 keep the packed key under 2^51, so it
      // decodes exactly and leftmost-minimum tie-breaking falls out of MIN
      .withColumn("key", col("h") * WinPosCap + col("pos0") + 1L)
    // window min per (doc, chunk): chunk-local positions stay under the
    // 2^21 pos budget no matter how long the document is
    val winFrame = Window.partitionBy("doc_id", "ci").orderBy("pos0")
      .rowsBetween(Window.currentRow, WinW - 1)
    val fps = grams
      .withColumn("sel", min("key").over(winFrame))
      .withColumn("nh", count(lit(1)).over(Window.partitionBy("doc_id", "ci")))
      .filter(col("pos0") <= col("nh") - WinW) // full windows only
      .select(col("doc_id"), expr(s"sel DIV $WinPosCap").as("fph"))
      .distinct()
    val buckets = fps.groupBy("fph")
      .agg(graft.functions.SmallestK.smallest_k(col("doc_id"), WinCap + 1).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= WinCap)
    buckets
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(sequence(i + 1, size(ids)),
          |    j -> struct(element_at(ids, i) AS a, element_at(ids, j) AS b))))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared_fps"))
      .orderBy(col("shared_fps").desc, col("a"), col("b")).limit(WinTopN)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("shared_fps").desc, col("a"), col("b"))).cast("long"))
      .select("rank", "a", "b", "shared_fps")
      .orderBy("rank")
  }

  val q135Sql: String =
    s"""WITH d AS (SELECT doc_id, $normSql AS ntext FROM documents),
       | d2 AS (SELECT doc_id, ntext, CAST(length(ntext) AS BIGINT) AS fn FROM d
       |  WHERE length(ntext) >= ${WinK + WinW - 1}),
       | ch AS (SELECT doc_id, u.ci AS ci,
       |   CASE WHEN fn <= $WinPosCap THEN ntext
       |    ELSE substr(ntext, CAST(u.ci * $WinStep + 1 AS INTEGER), $WinPosCap) END AS ctext
       |  FROM d2, LATERAL (SELECT unnest(range(0,
       |   (greatest(0, fn - $WinPosCap) + ${WinStep - 1}) // $WinStep + 1)) AS ci) u),
       | dd AS (SELECT doc_id, ci, ctext AS ntext, length(ctext) AS n FROM ch
       |  WHERE length(ctext) >= ${WinK + WinW - 1}),
       | hsl AS (SELECT doc_id, ci, list_transform(range(1, n - ${WinK - 2}), i ->
       |   list_reduce(list_transform(range(0, $WinK),
       |     j -> CAST(ascii(substr(ntext, CAST(i + j AS INTEGER), 1)) AS BIGINT)),
       |    (acc, c) -> (acc * $WinB + c) % $WinM)) AS hs FROM dd),
       | p AS (SELECT doc_id, ci, u.h AS h, u.pos AS pos, len(hs) AS nh FROM hsl,
       |  LATERAL (SELECT unnest(hs) AS h, unnest(range(1, len(hs) + 1)) AS pos) u),
       | sel AS (SELECT doc_id, pos, nh, MIN(h * $WinPosCap + pos) OVER (
       |   PARTITION BY doc_id, ci ORDER BY pos
       |   ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS s FROM p),
       | fps AS (SELECT DISTINCT doc_id, s // $WinPosCap AS fph FROM sel
       |  WHERE pos <= nh - ${WinW - 1}),
       | buckets AS (SELECT fph, list(doc_id ORDER BY doc_id) AS ids FROM fps
       |  GROUP BY fph HAVING COUNT(*) BETWEEN 2 AND $WinCap),
       | pairs AS (SELECT p.pr[1] AS a, p.pr[2] AS b FROM buckets,
       |  LATERAL (SELECT unnest(flatten(list_transform(range(1, len(ids)),
       |   i -> list_transform(range(CAST(i AS INTEGER) + 1, len(ids) + 1),
       |    j -> [ids[CAST(i AS INTEGER)], ids[CAST(j AS INTEGER)]])))) AS pr) p),
       | pc AS (SELECT a, b, COUNT(*) AS shared_fps FROM pairs GROUP BY a, b),
       | r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY shared_fps DESC, a, b) AS rank FROM pc)
       |SELECT CAST(rank AS BIGINT) AS rank, a, b, CAST(shared_fps AS BIGINT) AS shared_fps
       |FROM r WHERE rank <= $WinTopN ORDER BY rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q136 — soft dedup via duplicate down-weighting (the SlimPajama/
  // RefinedWeb alternative to dropping): every exact-duplicate cluster
  // keeps ALL its copies but each copy carries weight 1000/copies
  // permille, so a duplicate family contributes ~one document's worth of
  // training mass regardless of copy count. Per source: raw vs effective
  // token mass and the implied keep ratio — the number that decides
  // whether a pipeline drops (q30), samples (q77), or down-weights.
  //
  // Scale path: cluster sizes come from ONE digest-keyed aggregation
  // (map-side partial counts over 16-byte keys); the weight attach is a
  // digest equi-join of two narrow projections — text never moves after
  // the scan, and the per-doc arithmetic (tokens·1000 DIV copies) is
  // exact integer in both engines. Final rollup is |sources| rows.
  // ===========================================================
  def q136SoftdedupWeights(spark: SparkSession, dir: String): DataFrame = {
    // the normalize+md5+tokenize projection feeds BOTH the cluster-size
    // aggregation and the weight-attach join; materialize it once (the
    // q124 move — 4 narrow columns, text never re-read)
    val d = docs(spark, dir).select(col("source"), col("doc_id"),
      md5(norm.cast("binary")).as("h"),
      ws_token_count(col("text")).cast("long").as("tokens"))
      .localCheckpoint()
    val sizes = d.groupBy("h").agg(count(lit(1)).as("copies"))
    d.join(sizes, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum("tokens").as("total_tokens"),
        sum(expr("tokens * 1000 DIV copies")).as("eff_tokens_millis"))
      .withColumn("keep_permille",
        expr("eff_tokens_millis DIV greatest(total_tokens, 1L)"))
      .orderBy("source")
  }

  val q136Sql: String =
    s"""WITH d AS (SELECT source, doc_id, md5($normSql) AS h,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens
       |  FROM documents),
       | g AS (SELECT h, COUNT(*) AS copies FROM d GROUP BY h),
       | j AS (SELECT d.source, d.tokens, g.copies FROM d JOIN g USING (h))
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       | CAST(SUM(tokens) AS BIGINT) AS total_tokens,
       | CAST(SUM(tokens * 1000 // copies) AS BIGINT) AS eff_tokens_millis,
       | CAST(SUM(tokens * 1000 // copies) // greatest(SUM(tokens), 1) AS BIGINT) AS keep_permille
       |FROM j GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q137 — containment pairs (Broder's containment, not Jaccard): excerpt
  // detection. A short document quoted inside a long one has tiny Jaccard
  // (the union is dominated by the long doc) but containment
  // shared/min(|A|,|B|) ≈ 1 — the asymmetric near-dup that every
  // symmetric score (q35/q41) structurally misses, and exactly how
  // quote-farms and scraped excerpts evade MinHash dedup.
  //
  // Scale path: word-3-gram shingles reduce to md5 digests at the scan
  // and deduplicate per doc BEFORE bucketing; candidate pairs come from
  // capped digest buckets (SmallestK, oversized stop-shingle buckets
  // dropped whole — the q41/q135 move), so fanout is ≤ cap² per shingle,
  // never corpus². The shingle table materializes ONCE (its three
  // consumers — buckets, and the a/b legs of the per-doc-count join —
  // were each re-running the tokenize+explode+distinct from parquet,
  // the r9 10× slope's main term); per-doc shingle counts checkpoint
  // too (doc-count rows) so the two pair-attach joins re-scan a reduced
  // frame, not the shingle set. The top-15 is a bounded heap.
  // ===========================================================
  val CntBucketCap = 32
  val CntMinShingles = 10L
  val CntTopN = 15

  def q137ContainmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .select(col("doc_id"), explode(graft.plans.TextKernels.ws_gram_md5_hex(col("toks"), 3)).as("g"))
      .distinct()
      .localCheckpoint() // one tokenize scan feeds buckets AND both count legs
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      .localCheckpoint() // doc-count rows; consumed by the a AND b joins
    val buckets = sh.groupBy("g")
      .agg(graft.functions.SmallestK.smallest_k(col("doc_id"), CntBucketCap + 1).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= CntBucketCap)
    buckets
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(sequence(i + 1, size(ids)),
          |    j -> struct(element_at(ids, i) AS a, element_at(ids, j) AS b))))""".stripMargin))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .join(perDoc.select(col("doc_id").as("a"), col("nsh").as("nsha")), "a")
      .join(perDoc.select(col("doc_id").as("b"), col("nsh").as("nshb")), "b")
      .filter(least(col("nsha"), col("nshb")) >= CntMinShingles)
      .withColumn("containment_permille",
        expr("shared * 1000 DIV least(nsha, nshb)"))
      .orderBy(col("containment_permille").desc, col("shared").desc, col("a"), col("b"))
      .limit(CntTopN)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("containment_permille").desc, col("shared").desc, col("a"), col("b"))).cast("long"))
      .select("rank", "a", "b", "shared", "nsha", "nshb", "containment_permille")
      .orderBy("rank")
  }

  val q137Sql: String =
    s"""WITH toks AS (SELECT doc_id,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks FROM documents),
       | sh AS (SELECT DISTINCT doc_id, u.g AS g FROM toks,
       |  LATERAL (SELECT unnest(CASE WHEN len(toks) >= 3
       |    THEN list_transform(range(1, len(toks) - 1),
       |      i -> md5(array_to_string(toks[i:i+2], ' ')))
       |    ELSE CAST([] AS VARCHAR[]) END) AS g) u),
       | pd AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
       | buckets AS (SELECT g, list(doc_id ORDER BY doc_id) AS ids FROM sh
       |  GROUP BY g HAVING COUNT(*) BETWEEN 2 AND $CntBucketCap),
       | pairs AS (SELECT p.pr[1] AS a, p.pr[2] AS b FROM buckets,
       |  LATERAL (SELECT unnest(flatten(list_transform(range(1, len(ids)),
       |   i -> list_transform(range(CAST(i AS INTEGER) + 1, len(ids) + 1),
       |    j -> [ids[CAST(i AS INTEGER)], ids[CAST(j AS INTEGER)]])))) AS pr) p),
       | pc AS (SELECT a, b, COUNT(*) AS shared FROM pairs GROUP BY a, b),
       | jn AS (SELECT pc.a, pc.b, pc.shared, pa.nsh AS nsha, pb.nsh AS nshb
       |  FROM pc JOIN pd pa ON pc.a = pa.doc_id JOIN pd pb ON pc.b = pb.doc_id
       |  WHERE least(pa.nsh, pb.nsh) >= $CntMinShingles),
       | r AS (SELECT *, shared * 1000 // least(nsha, nshb) AS containment_permille
       |  FROM jn),
       | rr AS (SELECT *, ROW_NUMBER() OVER (ORDER BY containment_permille DESC,
       |   shared DESC, a, b) AS rank FROM r)
       |SELECT CAST(rank AS BIGINT) AS rank, a, b, CAST(shared AS BIGINT) AS shared,
       | CAST(nsha AS BIGINT) AS nsha, CAST(nshb AS BIGINT) AS nshb,
       | CAST(containment_permille AS BIGINT) AS containment_permille
       |FROM rr WHERE rank <= $CntTopN ORDER BY rank""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q138 — n-gram novelty decay (data-growth diminishing returns): split
  // the corpus into 10 arrival batches (doc_id order — the crawl
  // timeline) and measure, per batch, what fraction of its distinct
  // 3-gram types was never seen in ANY earlier batch. The curve that
  // answers "does the next crawl increment still add content, or just
  // repeats?" before committing tokens to it (scaling-law data audits).
  //
  // Scale path: grams reduce to digests at the scan; the (digest, batch)
  // presence set is the canonical two-phase distinct (map-side partial)
  // and materializes ONCE (its two consumers — first-seen and the
  // per-batch type counts — were each re-running the tokenize+explode+
  // distinct from parquet, half the r9 10× slope); first-seen is ONE
  // min-aggregation over it, and both per-batch rollups are 10-row
  // outputs. The only wide shuffle moves 16-byte digests. The batch id
  // derives from doc_id against a broadcast 1-row max — no global
  // row_number sort anywhere.
  // ===========================================================
  val NoveltyBatches = 10

  def q138NoveltyDecay(spark: SparkSession, dir: String): DataFrame = {
    val denom = docs(spark, dir).agg((max("doc_id") + 1L).as("denom"))
    val g = docs(spark, dir)
      .withColumn("toks", graft.plans.TextKernels.ws_tokens(lower(col("text"))))
      .crossJoin(broadcast(denom))
      .withColumn("batch",
        expr(s"least(doc_id * $NoveltyBatches DIV denom, ${NoveltyBatches - 1})"))
      .select(col("batch"), explode(graft.plans.TextKernels.ws_gram_md5_hex(col("toks"), 3)).as("g"))
    val presence = g.distinct()
      .localCheckpoint() // one tokenize scan feeds first-seen AND per-batch
    val firstSeen = presence.groupBy("g").agg(min("batch").as("minb"))
    val perBatch = presence.groupBy("batch").agg(count(lit(1)).as("types_present"))
    val novel = firstSeen.groupBy("minb").agg(count(lit(1)).as("types_novel"))
      .select(col("minb").as("batch"), col("types_novel"))
    perBatch.join(novel, Seq("batch"), "left_outer")
      .select(col("batch"), col("types_present"),
        coalesce(col("types_novel"), lit(0L)).as("types_novel"))
      .withColumn("novelty_permille", expr("types_novel * 1000 DIV types_present"))
      .withColumn("cum_types", sum("types_novel")
        .over(Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("batch")
  }

  val q138Sql: String =
    s"""WITH d AS (SELECT doc_id,
       |   regexp_extract_all(lower(text), '[^ \\t\\n\\r\\f]+') AS toks FROM documents),
       | mx AS (SELECT MAX(doc_id) + 1 AS denom FROM documents),
       | g AS (SELECT least(doc_id * $NoveltyBatches // mx.denom,
       |    ${NoveltyBatches - 1}) AS batch, u.g AS g
       |  FROM d, mx, LATERAL (SELECT unnest(CASE WHEN len(toks) >= 3
       |   THEN list_transform(range(1, len(toks) - 1),
       |     i -> md5(array_to_string(toks[i:i+2], ' ')))
       |   ELSE CAST([] AS VARCHAR[]) END) AS g) u),
       | presence AS (SELECT DISTINCT batch, g FROM g),
       | fs AS (SELECT g, MIN(batch) AS minb FROM presence GROUP BY g),
       | pb AS (SELECT batch, COUNT(*) AS types_present FROM presence GROUP BY batch),
       | nv AS (SELECT minb AS batch, COUNT(*) AS types_novel FROM fs GROUP BY minb),
       | j AS (SELECT pb.batch, pb.types_present,
       |   COALESCE(nv.types_novel, 0) AS types_novel
       |  FROM pb LEFT JOIN nv USING (batch))
       |SELECT CAST(batch AS BIGINT) AS batch,
       | CAST(types_present AS BIGINT) AS types_present,
       | CAST(types_novel AS BIGINT) AS types_novel,
       | CAST(types_novel * 1000 // types_present AS BIGINT) AS novelty_permille,
       | CAST(SUM(types_novel) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING
       |   AND CURRENT ROW) AS BIGINT) AS cum_types
       |FROM j ORDER BY batch""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q139 — filter-threshold calibration: per source, the LARGEST integer
  // score cutoff whose acceptance rate still meets the target (600‰) —
  // how a production pipeline turns "keep the best ~60%" into a concrete
  // per-source threshold for its quality filter (per-source because score
  // distributions differ by domain; one global cutoff starves clean
  // sources and floods noisy ones). Score here = token density in millis
  // (tokens·1000 DIV chars — degenerate run-on text scores low); the
  // calibration mechanics are score-agnostic.
  //
  // Scale path: the corpus collapses to a (source, score) histogram in
  // one map-side-partial aggregation; the descending cumulative window
  // and the threshold selection run over that histogram (|sources| ×
  // |distinct scores| rows — thousands, not billions). No global sort of
  // documents anywhere.
  // ===========================================================
  val CalibTargetPermille = 600L

  def q139ThresholdCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("tk", ws_token_count(col("text")).cast("long"))
      .select(col("source"),
        expr("tk * 1000 DIV greatest(n_chars, 1L)").as("score"))
    val hist = scored.groupBy("source", "score").agg(count(lit(1)).as("c"))
    // totals DERIVE from the histogram via an unordered window over the
    // SAME source partitioning as the cumulative — one shuffle, no
    // hist⋈rollup self-join (which duplicated the tokenize scan subtree
    // statically and leaned on runtime ReusedExchange to collapse it)
    val cum = hist
      .withColumn("total_docs", sum("c").over(Window.partitionBy("source")))
      .withColumn("accepted", sum("c").over(
        Window.partitionBy("source").orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("accepted") * 1000 >= lit(CalibTargetPermille) * col("total_docs"))
    cum.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("score").desc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("score").as("threshold"),
        col("accepted").as("accepted_docs"), col("total_docs"))
      .withColumn("acceptance_permille", expr("accepted_docs * 1000 DIV total_docs"))
      .orderBy("source")
  }

  val q139Sql: String =
    s"""WITH s AS (SELECT source,
       |   len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) * 1000
       |     // greatest(n_chars, 1) AS score FROM documents),
       | hist AS (SELECT source, score, COUNT(*) AS c FROM s GROUP BY source, score),
       | tot AS (SELECT source, COUNT(*) AS total_docs FROM s GROUP BY source),
       | cum AS (SELECT h.source, h.score, tot.total_docs,
       |   SUM(h.c) OVER (PARTITION BY h.source ORDER BY h.score DESC
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accepted
       |  FROM hist h JOIN tot USING (source)),
       | el AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY score DESC) AS rn
       |  FROM cum WHERE accepted * 1000 >= $CalibTargetPermille * total_docs)
       |SELECT source, CAST(score AS BIGINT) AS threshold,
       | CAST(accepted AS BIGINT) AS accepted_docs,
       | CAST(total_docs AS BIGINT) AS total_docs,
       | CAST(accepted * 1000 // total_docs AS BIGINT) AS acceptance_permille
       |FROM el WHERE rn = 1 ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q159 — quality-filter EXECUTION (q139's calibration applied): the
  // fifth audit→execution bridge after q151/q155/q157/q158. q139 picks
  // each source's largest score cutoff still meeting the 600‰ acceptance
  // target; this pass actually drops every document scoring below its
  // source's threshold and proves the result — per source: the applied
  // threshold, docs kept, token mass before/after, the realized keep
  // rate (which must reconcile EXACTLY with q139's acceptance_permille —
  // QueriesSpec asserts the bridge row by row), and the q157/q158
  // order-independent corpus fingerprint (bit_xor of kept docs'
  // original-byte 60-bit md5 — kept docs are unmodified).
  //
  // Scale path: calibrate-then-execute is two corpus scans by design —
  // q139's histogram scan (the corpus collapses to |sources|×|scores|
  // rows map-side) derives the S-row threshold table, which BROADCASTS
  // into one re-scoring scan whose gate and rollup are map-side; no
  // per-doc state crosses the wire and nothing sorts.
  // ===========================================================
  def q159QualityFilterExec(spark: SparkSession, dir: String): DataFrame = {
    val thr = q139ThresholdCalibration(spark, dir)
      .select(col("source"), col("threshold"))
    val scored = docs(spark, dir)
      .withColumn("tokens", ws_token_count(col("text")).cast("long"))
      .withColumn("score", expr("tokens * 1000 DIV greatest(n_chars, 1L)"))
      .select(col("source"), col("text"), col("tokens"), col("score"))
    scored.join(broadcast(thr), Seq("source"))
      .withColumn("kept", col("score") >= col("threshold"))
      .withColumn("h",
        graft.plans.TextKernels.md5_prefix60(col("text").cast("binary")))
      .groupBy("source").agg(
        max("threshold").as("threshold"), // constant within the group
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("docs_kept"),
        sum("tokens").as("tokens_before"),
        sum(when(col("kept"), col("tokens")).otherwise(0L)).as("tokens_after"),
        coalesce(expr("bit_xor(CASE WHEN kept THEN h END)"), lit(0L)).as("corpus_fp"))
      .withColumn("kept_permille", expr("docs_kept * 1000 DIV greatest(n_docs, 1L)"))
      .select("source", "threshold", "n_docs", "docs_kept", "tokens_before",
        "tokens_after", "kept_permille", "corpus_fp")
      .orderBy("source")
  }

  val q159Sql: String =
    s"""WITH sc AS (SELECT source, text,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens,
       |   len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) * 1000
       |     // greatest(n_chars, 1) AS score FROM documents),
       | hist AS (SELECT source, score, COUNT(*) AS c FROM sc GROUP BY source, score),
       | tot AS (SELECT source, COUNT(*) AS total_docs FROM sc GROUP BY source),
       | cum AS (SELECT h.source, h.score, tot.total_docs,
       |   SUM(h.c) OVER (PARTITION BY h.source ORDER BY h.score DESC
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS accepted
       |  FROM hist h JOIN tot USING (source)),
       | el AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY score DESC) AS rn
       |  FROM cum WHERE accepted * 1000 >= $CalibTargetPermille * total_docs),
       | thr AS (SELECT source, score AS threshold FROM el WHERE rn = 1),
       | g AS (SELECT sc.source, sc.tokens, thr.threshold,
       |   sc.score >= thr.threshold AS kept,
       |   CAST(('0x' || substr(md5(sc.text), 1, 15)) AS BIGINT) AS h
       |  FROM sc JOIN thr USING (source))
       |SELECT source, CAST(MAX(threshold) AS BIGINT) AS threshold,
       | COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       | CAST(SUM(tokens) AS BIGINT) AS tokens_before,
       | CAST(SUM(CASE WHEN kept THEN tokens ELSE 0 END) AS BIGINT) AS tokens_after,
       | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) * 1000 // GREATEST(COUNT(*), 1) AS BIGINT) AS kept_permille,
       | COALESCE(bit_xor(CASE WHEN kept THEN h END), 0) AS corpus_fp
       |FROM g GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q142 — cross-source copy attribution (who copies whom): for every
  // exact-duplicate cluster, the earliest copy (min doc_id — the crawl
  // timeline order q138 uses) is the ORIGIN; every later copy attributes
  // as a directed (origin_source → copy_source) edge. The matrix answers
  // the provenance question symmetric overlap (q117) can't: is source B
  // scraping source A, or the reverse? Self-edges are internal
  // re-publication. The input to per-source crawl budgeting and to
  // "drop the mirror, keep the origin" policies.
  //
  // Scale path: origins come from ONE digest-keyed struct-min aggregation
  // (map-side partial over 16-byte keys); the attribution join is
  // digest-keyed equi (both sides narrow projections of the same
  // checkpointed scan — text never moves); the rollup is ≤ sources² rows.
  // ===========================================================
  def q142CopyAttribution(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        md5(norm.cast("binary")).as("h"))
      .localCheckpoint() // feeds the origin aggregation AND the join probe
    val origins = d.groupBy("h")
      .agg(min(struct(col("doc_id"), col("source"))).as("o"))
      .select(col("h"), col("o.doc_id").as("origin_doc"),
        col("o.source").as("origin_source"))
    d.join(origins, "h")
      .filter(col("doc_id") =!= col("origin_doc"))
      .groupBy(col("origin_source"), col("source").as("copy_source"))
      .agg(count(lit(1)).as("n_copied_docs"),
        countDistinct("h").as("n_digests"),
        sum("n_chars").as("copied_chars"))
      .orderBy("origin_source", "copy_source")
  }

  val q142Sql: String =
    s"""WITH d AS (SELECT source, doc_id, n_chars, md5($normSql) AS h FROM documents),
       | o AS (SELECT h, arg_min(doc_id, doc_id) AS origin_doc,
       |   arg_min(source, doc_id) AS origin_source FROM d GROUP BY h),
       | j AS (SELECT o.origin_source, d.source AS copy_source, d.h, d.n_chars
       |  FROM d JOIN o USING (h) WHERE d.doc_id <> o.origin_doc)
       |SELECT origin_source, copy_source, COUNT(*) AS n_copied_docs,
       | COUNT(DISTINCT h) AS n_digests, CAST(SUM(n_chars) AS BIGINT) AS copied_chars
       |FROM j GROUP BY origin_source, copy_source
       |ORDER BY origin_source, copy_source""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q143 — dedup yield curve (duplicate-cluster size profile): the
  // multiplicity histogram behind every dedup policy decision. Per
  // cluster-size bucket (1..9, 10 = "10+"): clusters, docs, token mass,
  // and the tokens REMOVABLE by keep-first dedup — plus the descending
  // cumulative, i.e. the savings from dropping only clusters of at least
  // that size. q30 reports the total and q136 the per-source mass; the
  // SHAPE (pairs vs mega-clusters) is what decides thresholded dedup —
  // a corpus whose dup mass sits in 2-copy clusters needs a different
  // policy than one dominated by thousand-copy boilerplate.
  //
  // Scale path: one digest aggregation for (copies, keeper), one
  // digest-keyed join back over the checkpointed narrow projection, and
  // a 10-row rollup; the cumulative window runs over those 10 rows.
  // ===========================================================
  val DupBucketCap = 10L

  def q143DedupYield(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), md5(norm.cast("binary")).as("h"),
        ws_token_count(col("text")).cast("long").as("tokens"))
      .localCheckpoint() // cluster aggregation + attribution join
    val g = d.groupBy("h")
      .agg(count(lit(1)).as("copies"), min("doc_id").as("keeper"))
    d.join(g, "h")
      .withColumn("bucket", least(col("copies"), lit(DupBucketCap)))
      .groupBy("bucket")
      .agg(countDistinct("h").as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum("tokens").as("total_tokens"),
        sum(when(col("doc_id") =!= col("keeper"), col("tokens")).otherwise(0L))
          .as("removable_tokens"))
      .withColumn("removable_permille",
        expr("removable_tokens * 1000 DIV greatest(total_tokens, 1L)"))
      .withColumn("cum_removable_tokens", sum("removable_tokens").over(
        Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("bucket")
  }

  val q143Sql: String =
    s"""WITH d AS (SELECT doc_id, md5($normSql) AS h,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens
       |  FROM documents),
       | g AS (SELECT h, COUNT(*) AS copies, MIN(doc_id) AS keeper FROM d GROUP BY h),
       | j AS (SELECT d.doc_id, d.h, d.tokens, g.copies, g.keeper FROM d JOIN g USING (h)),
       | b AS (SELECT least(copies, $DupBucketCap) AS bucket,
       |   COUNT(DISTINCT h) AS n_clusters, COUNT(*) AS n_docs,
       |   SUM(tokens) AS total_tokens,
       |   SUM(CASE WHEN doc_id <> keeper THEN tokens ELSE 0 END) AS removable_tokens
       |  FROM j GROUP BY 1)
       |SELECT CAST(bucket AS BIGINT) AS bucket, n_clusters, n_docs,
       | CAST(total_tokens AS BIGINT) AS total_tokens,
       | CAST(removable_tokens AS BIGINT) AS removable_tokens,
       | CAST(removable_tokens * 1000 // greatest(total_tokens, 1) AS BIGINT)
       |   AS removable_permille,
       | CAST(SUM(removable_tokens) OVER (ORDER BY bucket DESC
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |   AS cum_removable_tokens
       |FROM b ORDER BY bucket""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q155 — dedup-policy selection: CONSUME q143's yield curve (the q149
  // move applied to dedup). The policy space is "keep-first dedup only
  // clusters of multiplicity ≥ t" for t ∈ 2..10 (10 = "10+"; t=2 is full
  // dedup): higher t touches fewer clusters/docs (cheaper, safer — near-
  // threshold pairs are where false-positive dup clusters live) but
  // forgoes the savings sitting in small clusters. Per threshold:
  // clusters hit, docs removed, tokens saved, and the saved share of the
  // max (t=2) in permille; `selected` marks the LARGEST t — the most
  // conservative policy — still retaining ≥ 900‰ of the maximum savings.
  // The audit table IS the decision: its selected row is the policy knob
  // a thresholded dedup pass runs with.
  //
  // Scale path: everything heavy is q143's dataflow (one digest
  // aggregation + one digest join over a checkpointed narrow
  // projection); the policy table is ≤9 rows, checkpointed once, and
  // the two scalar attaches (max savings, selected threshold) are
  // whitelisted 1-row broadcasts over it.
  // ===========================================================
  val DedupSavingsTarget = 900L

  def q155DedupPolicy(spark: SparkSession, dir: String): DataFrame = {
    val wd = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ≤9-row policy table; checkpointed — it feeds the max-savings scalar,
    // the selection scalar, and the final readout
    val t = q143DedupYield(spark, dir)
      .filter(col("bucket") >= 2)
      .withColumn("n_clusters_hit", sum("n_clusters").over(wd))
      .withColumn("n_docs_removed", sum(col("n_docs") - col("n_clusters")).over(wd))
      .withColumn("tokens_saved", sum("removable_tokens").over(wd))
      .select("bucket", "n_clusters_hit", "n_docs_removed", "tokens_saved")
      .localCheckpoint()
    val mx = t.agg(max("tokens_saved").as("max_saved"))
    val s = t.crossJoin(broadcast(mx))
      .withColumn("savings_permille", expr(
        "CASE WHEN max_saved = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE 1000 * tokens_saved DIV max_saved END"))
    val sel = s.filter(col("savings_permille") >= DedupSavingsTarget)
      .agg(max("bucket").as("sel_bucket"))
    s.crossJoin(broadcast(sel))
      .withColumn("selected",
        when(col("bucket") === col("sel_bucket"), 1L).otherwise(0L))
      .select(col("bucket").as("threshold"), col("n_clusters_hit"),
        col("n_docs_removed"), col("tokens_saved"), col("savings_permille"),
        col("selected"))
      .orderBy("threshold")
  }

  val q155Sql: String =
    s"""WITH d AS (SELECT doc_id, md5($normSql) AS h,
       |   CAST(len(regexp_extract_all(text, '[^ \\t\\n\\r\\f]+')) AS BIGINT) AS tokens
       |  FROM documents),
       | g AS (SELECT h, COUNT(*) AS copies, MIN(doc_id) AS keeper FROM d GROUP BY h),
       | j AS (SELECT d.doc_id, d.h, d.tokens, g.copies, g.keeper FROM d JOIN g USING (h)),
       | b AS (SELECT least(copies, $DupBucketCap) AS bucket,
       |   COUNT(DISTINCT h) AS n_clusters, COUNT(*) AS n_docs,
       |   SUM(CASE WHEN doc_id <> keeper THEN tokens ELSE 0 END) AS removable_tokens
       |  FROM j GROUP BY 1),
       | t AS (SELECT bucket,
       |   CAST(SUM(n_clusters) OVER wd AS BIGINT) AS n_clusters_hit,
       |   CAST(SUM(n_docs - n_clusters) OVER wd AS BIGINT) AS n_docs_removed,
       |   CAST(SUM(removable_tokens) OVER wd AS BIGINT) AS tokens_saved
       |  FROM b WHERE bucket >= 2
       |  WINDOW wd AS (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       | mx AS (SELECT MAX(tokens_saved) AS max_saved FROM t),
       | s AS (SELECT t.*, CASE WHEN mx.max_saved = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(1000 * t.tokens_saved // mx.max_saved AS BIGINT) END AS savings_permille
       |  FROM t, mx),
       | sel AS (SELECT MAX(bucket) AS sel_bucket FROM s
       |  WHERE savings_permille >= $DedupSavingsTarget)
       |SELECT CAST(s.bucket AS BIGINT) AS threshold, s.n_clusters_hit,
       | s.n_docs_removed, s.tokens_saved, s.savings_permille,
       | CAST(CASE WHEN s.bucket = sel.sel_bucket THEN 1 ELSE 0 END AS BIGINT) AS selected
       |FROM s, sel ORDER BY threshold""".stripMargin.replace("\n", " ")

  // ===========================================================
  // q145 — range-partition boundary planning + balance audit: the layout
  // decision behind every global sort / range-bucketed write at 100 TB
  // (Spark's RangePartitioner, Delta OPTIMIZE ordering, Iceberg sort
  // orders). A deterministic 5% hash sample of doc lengths yields R-1
  // boundary values (exact sample quantiles, computed on a value-domain
  // histogram — never a global sort); every document then assigns to its
  // range partition and the audit reports the REALIZED balance — the
  // number that says whether the sampled boundaries would actually level
  // a 1000-executor sort, before paying for it.
  //
  // Scale path: the sample histogram is |distinct lengths| rows (the
  // q108 value-domain move) and its windows run over that histogram;
  // boundary selection is a ≤(R-1)-row broadcast theta-join against it;
  // assignment is a 1-row array broadcast attach (map-side, no shuffle);
  // the rollup is ≤R rows and the share window runs over those.
  // ===========================================================
  val RngParts = 8L
  val RngSampleMod = 100L
  val RngSamplePct = 5L

  def q145RangeBoundaries(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("n_chars"))
      .localCheckpoint() // sample histogram + full assignment
    val sample = d.filter(
      graft.plans.TextKernels.md5_prefix60(col("doc_id").cast("string").cast("binary")) % RngSampleMod < RngSamplePct)
    val hist = sample.groupBy("n_chars").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum("c").over(
      Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nrow = hist.agg(sum("c").cast("long").as("n"))
    val targets = spark.range(1, RngParts).toDF("i")
      .crossJoin(broadcast(nrow))
      .withColumn("target", expr(s"(i * n + ${RngParts - 1}) DIV $RngParts"))
    val bounds = cum.join(broadcast(targets), col("cum") >= col("target"))
      .groupBy("i").agg(min("n_chars").as("bound"))
    val barr = bounds.agg(sort_array(collect_list("bound")).as("bs"))
    d.crossJoin(broadcast(barr))
      .withColumn("part", expr("size(filter(bs, x -> n_chars >= x))").cast("long"))
      .groupBy("part")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("lo_chars"), max("n_chars").as("hi_chars"))
      .withColumn("total", sum("n_docs").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("balance_permille",
        expr(s"n_docs * $RngParts * 1000 DIV total")) // 1000 = perfectly level
      .drop("total")
      .orderBy("part")
  }

  val q145Sql: String =
    s"""WITH d AS (SELECT doc_id, n_chars FROM documents),
       | s AS (SELECT n_chars FROM d
       |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |   % $RngSampleMod < $RngSamplePct),
       | hist AS (SELECT n_chars, COUNT(*) AS c FROM s GROUP BY n_chars),
       | cum AS (SELECT n_chars, SUM(c) OVER (ORDER BY n_chars
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
       | n AS (SELECT COUNT(*) AS n FROM s),
       | t AS (SELECT r.i AS i, (r.i * n.n + ${RngParts - 1}) // $RngParts AS target
       |  FROM range(1, $RngParts) r(i), n),
       | b AS (SELECT i, MIN(n_chars) AS bound FROM t JOIN cum ON cum.cum >= t.target
       |  GROUP BY i),
       | barr AS (SELECT list(bound ORDER BY bound) AS bs FROM b),
       | parts AS (SELECT CAST(len(list_filter(barr.bs, x -> d.n_chars >= x)) AS BIGINT)
       |   AS part, d.n_chars FROM d, barr),
       | agg AS (SELECT part, COUNT(*) AS n_docs, MIN(n_chars) AS lo_chars,
       |   MAX(n_chars) AS hi_chars FROM parts GROUP BY part)
       |SELECT part, n_docs, lo_chars, hi_chars,
       | CAST(n_docs * $RngParts * 1000 // SUM(n_docs) OVER () AS BIGINT)
       |  AS balance_permille
       |FROM agg ORDER BY part""".stripMargin.replace("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q142_copy_attribution" -> (q142CopyAttribution _),
    "q143_dedup_yield" -> (q143DedupYield _),
    "q155_dedup_policy" -> (q155DedupPolicy _),
    "q145_range_boundaries" -> (q145RangeBoundaries _),
    "q136_softdedup_weights" -> (q136SoftdedupWeights _),
    "q137_containment_pairs" -> (q137ContainmentPairs _),
    "q138_novelty_decay" -> (q138NoveltyDecay _),
    "q139_threshold_calibration" -> (q139ThresholdCalibration _),
    "q159_quality_filter_exec" -> (q159QualityFilterExec _),
    "q160_pack_sweep" -> (q160PackSweep _),
    "q162_shuffle_shards" -> (q162ShuffleShards _),
    "q163_decon_exec" -> (q163DeconExec _),
    "q168_pii_redact_exec" -> (q168PiiRedactExec _),
    "q165_epoch_exec" -> (q165EpochExec _),
    "q166_materialize_manifest" -> (q166MaterializeManifest _),
    "q135_winnow_pairs" -> (q135WinnowPairs _),
    "q127_distinct_ngrams" -> (q127DistinctNgrams _),
    "q128_substring_removal" -> (q128SubstringRemoval _),
    "q157_substring_removal_exec" -> (q157SubstringRemovalExec _),
    "q129_quality_perceptron" -> (q129QualityPerceptron _),
    "q130_source_divergence" -> (q130SourceDivergence _),
    "q131_epoch_plan" -> (q131EpochPlan _),
    "q132_bench_leaks" -> (q132BenchLeaks _),
    "q133_vocab_coverage" -> (q133VocabCoverage _),
    "q125_memorization_spans" -> (q125MemorizationSpans _),
    "q151_dsir_resample" -> (q151DsirResample _),
    "q124_dsir_weights" -> (q124DsirWeights _),
    "q121_snapshot_diff" -> (q121SnapshotDiff _),
    "q119_tokenizer_apply" -> (q119TokenizerApply _),
    "q118_bpe_train" -> (q118BpeTrain _),
    "q116_bpe_merge_candidates" -> (q116BpeMergeCandidates _),
    "q117_source_overlap" -> (q117SourceOverlap _),
    "q114_ngram_dup_profile" -> (q114NgramDupProfile _),
    "q115_mixture_weights" -> (q115MixtureWeights _),
    "q110_incremental_dedup" -> (q110IncrementalDedup _),
    "q173_exact_roll" -> (q173ExactRoll _),
    "q108_token_budget" -> (q108TokenBudget _),
    "q99_boilerplate" -> (q99Boilerplate _),
    "q74_inverted_index" -> (q74InvertedIndex _),
    "q75_pmi_collocations" -> (q75PmiCollocations _),
    "q76_bm25" -> (q76Bm25 _),
    "q77_weighted_sample" -> (q77WeightedSample _),
    "q30_dedup_exact" -> (q30DedupExact _),
    "q31_token_stats" -> (q31TokenStats _),
    "q32_quality_score" -> (q32QualityScore _),
    "q33_lang_guess" -> (q33LangGuess _),
    "q34_fingerprint" -> (q34Fingerprint _),
    "q35_ngram_jaccard" -> (q35NgramJaccard _),
    "q37_tfidf" -> (q37Tfidf _),
    "q39_bpe_tokens" -> (q39BpeTokens _),
    "q51_pii_scan" -> (q51PiiScan _),
    "q53_hash_split" -> (q53HashSplit _),
    "q54_decontaminate" -> (q54Decontaminate _),
    "q55_chunking" -> (q55Chunking _),
    "q56_repetition_gate" -> (q56RepetitionGate _),
    "q60_span_dedup" -> (q60SpanDedup _),
    "q62_mixture_sample" -> (q62MixtureSample _),
    "q63_sequence_pack" -> (q63SequencePack _),
    "q65_lm_quality" -> (q65LmQuality _),
    "q66_bloom_decontaminate" -> (q66BloomDecontaminate _),
    "q67_group_sample" -> (q67GroupSample _),
    "q71_vocab_oov" -> (q71VocabOov _))

  val oracles: Map[String, String] = Map(
    "q142_copy_attribution" -> q142Sql,
    "q143_dedup_yield" -> q143Sql,
    "q155_dedup_policy" -> q155Sql,
    "q145_range_boundaries" -> q145Sql,
    "q136_softdedup_weights" -> q136Sql,
    "q137_containment_pairs" -> q137Sql,
    "q138_novelty_decay" -> q138Sql,
    "q139_threshold_calibration" -> q139Sql,
    "q159_quality_filter_exec" -> q159Sql,
    "q160_pack_sweep" -> q160Sql,
    "q162_shuffle_shards" -> q162Sql,
    "q163_decon_exec" -> q163Sql,
    "q168_pii_redact_exec" -> q168Sql,
    "q165_epoch_exec" -> q165Sql,
    "q166_materialize_manifest" -> q166Sql,
    "q135_winnow_pairs" -> q135Sql,
    "q127_distinct_ngrams" -> q127Sql,
    "q128_substring_removal" -> q128Sql,
    "q157_substring_removal_exec" -> q157Sql,
    "q129_quality_perceptron" -> q129Sql,
    "q130_source_divergence" -> q130Sql,
    "q131_epoch_plan" -> q131Sql,
    "q132_bench_leaks" -> q132Sql,
    "q133_vocab_coverage" -> q133Sql,
    "q125_memorization_spans" -> q125Sql,
    "q151_dsir_resample" -> q151Sql,
    "q124_dsir_weights" -> q124Sql,
    "q121_snapshot_diff" -> q121Sql,
    "q119_tokenizer_apply" -> q119Sql,
    "q118_bpe_train" -> q118Sql,
    "q116_bpe_merge_candidates" -> q116Sql,
    "q117_source_overlap" -> q117Sql,
    "q114_ngram_dup_profile" -> q114Sql,
    "q115_mixture_weights" -> q115Sql,
    "q110_incremental_dedup" -> q110Sql,
    "q173_exact_roll" -> q173Sql,
    "q108_token_budget" -> q108Sql,
    "q99_boilerplate" -> q99Sql,
    "q74_inverted_index" -> q74Sql,
    "q75_pmi_collocations" -> q75Sql,
    "q76_bm25" -> q76Sql,
    "q77_weighted_sample" -> q77Sql,
    "q30_dedup_exact" -> q30Sql,
    "q31_token_stats" -> q31Sql,
    "q32_quality_score" -> q32Sql,
    "q33_lang_guess" -> q33Sql,
    "q34_fingerprint" -> q34Sql,
    "q35_ngram_jaccard" -> q35Sql,
    "q37_tfidf" -> q37Sql,
    "q39_bpe_tokens" -> q39Sql,
    "q51_pii_scan" -> q51Sql,
    "q53_hash_split" -> q53Sql,
    "q54_decontaminate" -> q54Sql,
    "q55_chunking" -> q55Sql,
    "q56_repetition_gate" -> q56Sql,
    "q60_span_dedup" -> q60Sql,
    "q62_mixture_sample" -> q62Sql,
    "q63_sequence_pack" -> q63Sql,
    "q65_lm_quality" -> q65Sql,
    "q66_bloom_decontaminate" -> q66Sql,
    "q67_group_sample" -> q67Sql,
    "q71_vocab_oov" -> q71Sql)
}
