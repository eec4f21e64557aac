package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/**
 * The batch workload: queries where data, not the scheduler, sets the
 * time, run through `SparkEntry.queries` on the generated x1 and x20
 * tables. The seed permutes the query order; the data is fixed, so each
 * query's fingerprint is too.
 */
object Batch {
  /** Two heavy queries whose time the data sets: the dupRunSpans n-gram
    * window and iterative PageRank. */
  val Queries: Seq[String] = Seq("q114_ngram_dup_profile", "q86_pagerank")
  /** Measured rounds; each round is one pass per scale, and each query's
    * time at a scale is its median over the rounds. */
  val Rounds = 2
  /** Table scales, as datagen.py writes them: x20 has 20 times the rows of x1. */
  val Scales: Seq[String] = Seq("x1", "x20")

  /** Row count plus an order-insensitive hash of the rows. Floating
    * columns are rounded first so the hash does not depend on the last bit
    * of a sum whose order the scheduler picks. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`").cast(DoubleType), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), bit_xor(col("h")))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  final case class Timed(query: String, buildS: Double, actionS: Double, fp: String) {
    def wallS: Double = buildS + actionS
  }

  /** Build one query (its eager steps run here) then run the fingerprint
    * action; both are spans under the query span. */
  def runOne(spark: SparkSession, name: String, dir: String, pass: String): Timed = {
    val fn = graft.SparkEntry.queries(name)
    val sc = spark.sparkContext
    Trace.span(s"operators.query", "operators", "", s"$pass/$name") { qk =>
      def step[T](label: String)(f: => T): (T, Double) =
        Trace.span(s"operators.$label", "operators", qk, s"$pass/$name") { sk =>
          sc.setLocalProperty("perfbench.span", sk)
          sc.setLocalProperty("perfbench.trace", s"$pass/$name")
          sc.setLocalProperty("perfbench.phase", label)
          val t0 = System.nanoTime()
          try { val r = f; (r, (System.nanoTime() - t0) / 1e9) }
          finally {
            sc.setLocalProperty("perfbench.span", null)
            sc.setLocalProperty("perfbench.trace", null)
            sc.setLocalProperty("perfbench.phase", null)
          }
        }
      val (df, b) = step("build")(fn(spark, dir))
      val (fp, a) = step("action")(fingerprint(df))
      Timed(name, b, a, fp)
    }
  }

  def run(spark: SparkSession, dataDir: String, seed: Long, rec: Record,
      planning: PlanningRows): Unit = {
    val Seq(x1, x20) = Scales
    rec.check("repeat_fingerprints", true)
    /** One pass; each result must match the fingerprint of its first run. */
    def pass(order: Seq[String], dir: String, tag: String): (Seq[Timed], Double, Double) = {
      val c0 = Diag.cpuNs; val w0 = System.nanoTime()
      val ts = order.map { q =>
        val t = runOne(spark, q, dir, tag)
        rec.fingerprints.get(s"$tag/$q") match {
          case None => rec.fingerprint(s"$tag/$q", t.fp)
          case Some(fp) => if (fp != t.fp) { rec.failed += 1; rec.check("repeat_fingerprints", false) }
        }
        rec.attempted += 1
        t
      }
      (ts, (System.nanoTime() - w0) / 1e9, (Diag.cpuNs - c0) / 1e9)
    }
    // set-up: session up, then three passes over the x1 tables in one
    // fixed order (the first is cold), then one over the x20 tables: the
    // first run of a query there plans and compiles code x1 did not need.
    // Set-up time is the session's, plus the median x1 pass, plus the x20
    // pass.
    val setups = (0 until 3).map(_ => pass(Queries, s"$dataDir/$x1", x1))
    setups.zipWithIndex.foreach { case (p, k) => rec.info(s"x1_setup_pass_s.$k", p._2) }
    val warm20 = pass(Queries, s"$dataDir/$x20", x20)
    rec.info("x20_setup_pass_s", warm20._2)
    rec.setupS = rec.infos("session_s") + Stats.median(setups.map(_._2)) + warm20._2

    // measured: rounds of one x1 pass and one x20 pass, each pass in an
    // order drawn from the seed
    val rnd = new scala.util.Random(seed)
    val steal0 = Diag.stealJiffies
    val gc0 = Diag.gcMs
    rec.sparkRows.foreach(_.start())
    planning.measuring = true
    val rounds = (0 until Rounds).map { _ =>
      (pass(rnd.shuffle(Queries), s"$dataDir/$x1", x1), pass(rnd.shuffle(Queries), s"$dataDir/$x20", x20))
    }
    planning.measuring = false
    rec.sparkRows.foreach(_.stop())
    val loTs = rounds.flatMap(_._1._1)
    val hiTs = rounds.flatMap(_._2._1)

    val m = rec.metrics
    m.put("work_s", rounds.map(_._2._2).sum, "s")
    m.put("work_cpu_s", rounds.map(_._2._3).sum, "s")
    def medianS(ts: Seq[Timed], q: String) = Stats.median(ts.filter(_.query == q).map(_.wallS))
    val loMs = Queries.map(medianS(loTs, _) * 1e3).toArray
    val hiMs = Queries.map(medianS(hiTs, _) * 1e3).toArray
    m.put("lo_p50_ms", Stats.pct(loMs, 0.5), "ms")
    m.put("lo_p99_ms", Stats.pct(loMs, 0.99), "ms")
    m.put("hi_p50_ms", Stats.pct(hiMs, 0.5), "ms")
    m.put("hi_p99_ms", Stats.pct(hiMs, 0.99), "ms")
    // how the time grows with the data
    Queries.zip(loMs.zip(hiMs)).foreach { case (q, (l, h)) =>
      rec.info(s"x20_over_x1.$q", h / l)
      System.err.println(f"[perfbench] $q%-24s x1 ${l / 1e3}%7.2f s  x20 ${h / 1e3}%7.2f s  ratio ${h / l}%5.2f")
    }

    val l = rec.layers
    l.put("operators.build_s", (loTs ++ hiTs).map(_.buildS).sum, "s")
    l.put("operators.action_s", (loTs ++ hiTs).map(_.actionS).sum, "s")
    l.put("operators.eager_jobs", rec.sparkRows.map(_.buildJobs.sum.toDouble).getOrElse(0.0), "count")
    Queries.foreach(q => l.put(s"operators.query_s.$q", medianS(hiTs, q), "s"))
    l.put("plans.planning_ms", planning.planningMs.sum.toDouble, "ms")
    rec.diag(steal0, Diag.stealJiffies, Diag.gcMs - gc0)
  }

  /** Write each query's result at both scales as parquet, with its DuckDB
    * oracle SQL, for `tools/check_oracle.py`; and its fingerprint. */
  def record(spark: SparkSession, dataDir: String, outDir: String, rec: Record): Unit =
    Scales.foreach { tag =>
      val oracle = Queries.map { q =>
        val df = graft.SparkEntry.queries(q)(spark, s"$dataDir/$tag")
        df.write.mode("overwrite").parquet(s"$outDir/$tag/$q")
        rec.fingerprint(s"$tag/$q", fingerprint(spark.read.parquet(s"$outDir/$tag/$q")))
        rec.attempted += 1
        Json.str(q) + ":" + Json.str(graft.SparkEntry.oracleSql(q))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$tag/oracle_sql.json"),
        oracle.mkString("{", ",", "}").getBytes("UTF-8"))
    }
}
