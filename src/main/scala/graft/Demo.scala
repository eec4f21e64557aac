package graft

import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline demo over one testdata directory:
  * curation gate funnel → trained BPE merge table → per-source fertility →
  * sequence packing, all as batch queries.
  *
  * Usage: sbt "runMain graft.Demo [sfDir]"
  *
  * Every number printed here is the same dataflow the oracle-checked
  * queries run (q30/q118/q119/q63 families); this main exists to show the
  * library surface composing, not to re-prove correctness.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.control.GraftConf.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    println(s"== graft demo over $sfDir ==\n")

    // 1. curation: one-scan gate funnel, plus the corpus-level memorization
    //    gate (annotate once, then gate like any per-row stage)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val annotated = operators.CurationPipeline.annotateMemorization(docs)
    val model = operators.CurationPipeline.trainQualityFilter(docs)
    println(s"-- trained quality-filter model (q129 perceptron): ${model.mkString(", ")} --")
    val cur = operators.CurationPipeline.run(annotated,
      operators.CurationPipeline.standardStages() ++ Seq(
        operators.CurationPipeline.memorizedStage(),
        operators.CurationPipeline.learnedQualityStage(model)))
    println("-- curation funnel (first-failing attribution) --")
    cur.funnel.show(20, truncate = false)

    // 2. tokenizer training on the KEPT corpus (the q118 loop)
    val trained = SparkEntry.queries("q118_bpe_train")(spark, sfDir)
    println("-- BPE merge table (trained on the full corpus, q118) --")
    trained.show(10, truncate = false)

    // 3. fertility under the trained tokenizer, per source (q119)
    println("-- per-source fertility/compression under the trained merges (q119, head) --")
    SparkEntry.queries("q119_tokenizer_apply")(spark, sfDir).show(5, truncate = false)

    // 4. sequence packing summary (q63)
    println("-- sequence packing (2048-token sequences, q63, head) --")
    SparkEntry.queries("q63_sequence_pack")(spark, sfDir).show(5, truncate = false)

    // 5. the dedup/near-dup audit the curation run consults (q30 + q41)
    println("-- exact-dedup audit (q30) --")
    SparkEntry.queries("q30_dedup_exact")(spark, sfDir).show(truncate = false)

    // 6. hybrid retrieval over the kept corpus family (q126)
    println("-- hybrid BM25+dense retrieval, RRF-fused top-10 (q126) --")
    SparkEntry.queries("q126_hybrid_rrf")(spark, sfDir).show(truncate = false)

    val kept = cur.kept.count()
    println(s"kept corpus: $kept docs of ${docs.count()}")
    spark.stop()
  }
}
