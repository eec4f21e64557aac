package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Composable corpus-curation pipeline: the library-level API that chains
 * the gate operators (dedup, length, repetition, language agreement) a
 * training-data run applies before sampling/packing, producing the kept
 * corpus AND a first-failing-stage funnel report — the attribution a
 * curation team reads ("how much did each rule cost us") before tuning
 * thresholds.
 *
 * Scale design: stages are PREDICATES, not transforms — each contributes
 * one boolean column, and the whole pipeline evaluates in a single scan
 * (plus whatever shuffles individual gates need, e.g. the dedup window's
 * digest partition). Attribution is a CASE over the stage booleans in
 * FIRST-FAILING order, so a document dropped by three rules charges only
 * the first — funnel numbers sum exactly to the corpus. Nothing
 * re-executes per stage: the classic "filter then count, stage by stage"
 * loop re-runs the lineage k times at 100 TB; this runs it once.
 */
object CurationPipeline {

  /** One gate: `keep` builds a boolean Column over the annotated frame
    * (it may use windows — dedup does). */
  final case class GateStage(name: String, keep: DataFrame => Column)

  /** Kept corpus + funnel. `annotated` carries one `keep_<stage>` column
    * per gate and `drop_stage` (null = survived); `funnel` has one row
    * per stage (stage, n_in, n_dropped, n_out) in pipeline order plus a
    * trailing ("kept", survivors, 0, survivors) row. */
  final case class Result(annotated: DataFrame, kept: DataFrame, funnel: DataFrame)

  /** The standard gate set, built from the same normalization/tokenizer
    * as the oracle-checked operators (TextOps.norm / wsTokenRe):
    * exact-dup keep-first (q30's rule), minimum length, repetition
    * (distinct-token ratio, q56's family), language agreement (q38's
    * stopword heuristic vs the declared lang). */
  def standardStages(minTokens: Int = 5, minDistinctPermille: Long = 250L): Seq[GateStage] = Seq(
    GateStage("exact_dup", df =>
      row_number().over(
        Window.partitionBy(md5(TextOps.norm.cast("binary"))).orderBy("doc_id")) === 1),
    GateStage("too_short", _ =>
      graft.plans.WsTokenCount.ws_token_count(col("text")) >= minTokens),
    GateStage("repetitive", _ => {
      val toks = graft.plans.TextKernels.ws_tokens(lower(col("text")))
      size(array_distinct(toks)).cast("long") * 1000 >=
        size(toks).cast("long") * minDistinctPermille
    }),
    GateStage("lang_mismatch", _ => {
      val padded = concat(lit(" "), TextOps.norm, lit(" "))
      val guess = when(padded.contains(" the ") || padded.contains(" and "), "en")
        .when(padded.contains(" der ") || padded.contains(" und "), "de")
        .when(padded.contains(" le ") || padded.contains(" la "), "fr")
        .otherwise("und")
      guess === "und" || guess === col("lang")
    }))

  /** Pre-annotator for [[memorizedStage]]: adds `longest_dup_run` — each
    * document's longest unbroken run of corpus-duplicated
    * [[TextOps.NgramW]]-gram positions (0 when none), computed by the SAME
    * machinery as the q125 audit, so the pipeline drops exactly the
    * documents the audit reports as risky. Corpus-level structure cannot be
    * a per-row predicate, hence the annotate-then-gate split: run this
    * once over the input frame, then include the stage. */
  def annotateMemorization(docs: DataFrame): DataFrame =
    // the dup-run table is per-doc-small but its lineage is the most
    // expensive machinery in the pipeline (gram explode, digest shuffle,
    // islanding windows) — materialize it once so every downstream action
    // on the annotated/kept frames replays a local table, not the corpus
    docs.join(TextOps.longestDupRuns(docs, Seq.empty).localCheckpoint(),
        Seq("doc_id"), "left_outer")
      .withColumn("longest_dup_run", coalesce(col("longest"), lit(0L)))
      .drop("longest")

  /** Drop documents whose longest corpus-duplicated gram run reaches
    * `runThr` (default = the q125 audit threshold: a ≥12-token verbatim
    * span). Requires [[annotateMemorization]] to have run. */
  def memorizedStage(runThr: Long = TextOps.RunThr.toLong): GateStage =
    GateStage("memorized", _ => col("longest_dup_run") < runThr)

  /** Train the q129 integer perceptron on a corpus (typically a trusted
    * slice; the q129 audit trains on the q53 hash split) and return its
    * 4-long model for [[learnedQualityStage]]. */
  def trainQualityFilter(docs: DataFrame): Array[Long] =
    TextOps.trainQualityPerceptron(TextOps.qualityFeatures(docs))._1

  /** Learned-quality gate: keep documents the trained perceptron
    * classifies positive (margin > 0) — q129's model applied as a
    * stateless per-row predicate, the production shape of a fasttext-
    * style filter. Zero-token docs fail the gate (no features). */
  def learnedQualityStage(w: Array[Long]): GateStage =
    GateStage("learned_quality", _ => {
      val tokens = graft.plans.WsTokenCount.ws_token_count(col("text"))
      val puncts =
        size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast("long")
      val chars = length(col("text")).cast("long")
      // the SHARED q129 formulas — the gate cannot drift from the audit
      val (x1, x2, x3) = TextOps.qualityXs(chars, tokens, puncts)
      tokens > 0 && TextOps.qualityMargin(w, x1, x2, x3) > 0
    })

  /** Gate columns + first-failing `drop_stage` over `docs` — the
    * annotation step of [[run]]. */
  private def annotate(docs: DataFrame, stages: Seq[GateStage]): DataFrame = {
    require(stages.nonEmpty, "need at least one gate stage")
    require(stages.map(_.name).distinct.size == stages.size, "stage names must be unique")
    // a gate that cannot evaluate (null text/lang reaching a null-valued
    // predicate) FAILS the document — without the coalesce, null keeps
    // fall through every when() and junk lands in the kept corpus
    val annotated0 = stages.foldLeft(docs) { (df, s) =>
      df.withColumn(s"keep_${s.name}", coalesce(s.keep(df), lit(false)))
    }
    // first-failing attribution, in declared order
    val attribution = stages.reverse.foldLeft(lit(null).cast("string")) { (tail, s) =>
      when(!col(s"keep_${s.name}"), lit(s.name)).otherwise(tail)
    }
    annotated0.withColumn("drop_stage", attribution)
  }

  /** Evaluate all gates in one pass and attribute drops first-failing. */
  def run(docs: DataFrame, stages: Seq[GateStage] = standardStages()): Result = {
    val annotated = annotate(docs, stages)
    val kept = annotated.filter(col("drop_stage").isNull)
      .drop(stages.map(s => s"keep_${s.name}") :+ "drop_stage": _*)
    // the funnel reduces to ≤ stages+1 driver rows (the centroid pattern)
    val counts = annotated.groupBy("drop_stage").agg(count(lit(1)).as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val total = counts.valuesIterator.sum
    var in = total
    val rows = stages.map { s =>
      val dropped = counts.getOrElse(Some(s.name), 0L)
      val out = in - dropped
      val row = (s.name, in, dropped, out)
      in = out
      row
    } :+ (("kept", in, 0L, in))
    val funnel = docs.sparkSession.createDataFrame(rows)
      .toDF("stage", "n_in", "n_dropped", "n_out")
    Result(annotated, kept, funnel)
  }
}
