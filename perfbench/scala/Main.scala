package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Everything one run reports; written as one JSON file for run.py. */
final class Record {
  val metrics = new Metrics // end-to-end
  val layers = new Metrics  // per-layer
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val infos = mutable.LinkedHashMap.empty[String, Double]
  val fingerprints = mutable.LinkedHashMap.empty[String, String]
  var setupS = 0.0
  var attempted = 0L
  var failed = 0L
  var sparkRows: Option[SparkRows] = None

  def check(name: String, ok: Boolean): Unit = checks(name) = ok
  def info(name: String, v: Double): Unit = infos(name) = v
  def fingerprint(key: String, fp: String): Unit = fingerprints(key) = fp

  def diag(steal0: (Long, Long), steal1: (Long, Long), gcMs: Long): Unit = {
    val dt = steal1._2 - steal0._2
    layers.put("host.steal_share", if (dt > 0) (steal1._1 - steal0._1).toDouble / dt else 0.0, "ratio")
    layers.put("jvm.gc_ms", gcMs.toDouble, "ms")
    layers.put("jvm.code_cache_mb", Diag.codeCacheMb, "MB")
    if (layers.get("gen.late_max_ms").isEmpty) layers.put("gen.late_max_ms", 0.0, "ms")
  }
}

/**
 * One benchmark run in one JVM:
 * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <data dir> <out.json>`.
 * run.py builds the classpath, makes the data and reads the output file.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, root, dataDir, outPath) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    Trace.on = traceS == "1"
    val rec = new Record
    var code = 0
    try {
      val batch = workload.startsWith("batch")
      val spark = Session(root, extensions = batch)
      rec.info("session_s", (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      val cores = spark.sparkContext.defaultParallelism
      val planning = new PlanningRows
      if (Trace.on) {
        val sr = new SparkRows(cores)
        spark.sparkContext.addSparkListener(sr)
        spark.listenerManager.register(planning)
        rec.sparkRows = Some(sr)
      }
      workload match {
        case "fwd_retry" => Forward.run(spark, root, seed, seconds, rec)
        case "batch_heavy" => Batch.run(spark, dataDir, seed, rec, planning)
        case "batch_record" => Batch.record(spark, dataDir, s"$root/record", rec)
        case other => sys.error(s"unknown workload $other")
      }
      rec.metrics.put("setup_s", rec.setupS, "s")
      rec.metrics.put("heap_live_mb", Diag.heapLiveMb, "MB")
      rec.sparkRows.foreach(_.report(rec.layers))
      if (Trace.on) writeTrace(root, workload, seed, rec)
      spark.stop()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.check("completed", false)
        code = 1
    }
    val out = Json.obj(Seq(
      "metrics" -> rec.metrics.json,
      "layers" -> rec.layers.json,
      "checks" -> Json.obj(rec.checks.toSeq.map { case (k, v) => k -> v.toString }),
      "info" -> Json.obj(rec.infos.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "fingerprints" -> Json.obj(rec.fingerprints.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString))
    Files.write(Paths.get(outPath), out.getBytes(StandardCharsets.UTF_8))
    sys.exit(code)
  }

  /** Spans to `<root>/trace-<workload>-<seed>.json`, the self-time table
    * per module to stderr and to the layer metrics. */
  def writeTrace(root: String, workload: String, seed: Long, rec: Record): Unit = {
    val raw = Trace.all
    // planning phases arrive on Spark's listener thread without a parent:
    // attach each to the innermost benchmark span that contains it
    val ops = raw.filter(s => s.module == "operators" && s.name != "operators.query")
    val spans = raw.map { s =>
      if (s.parent.nonEmpty || s.module != "plans") s
      else ops.filter(o => o.startUs <= s.startUs && s.endUs <= o.endUs + 1000)
        .sortBy(o => o.endUs - o.startUs).headOption
        .map(o => s.copy(parent = o.key, trace = o.trace)).getOrElse(s)
    }
    val table = Trace.selfTime(spans)
    val modules = Seq("sources", "streaming", "model", "operators", "plans", "spark")
    modules.foreach { m =>
      rec.layers.put(s"self.${m}_ms", table.find(_._1 == m).map(_._4 / 1e3).getOrElse(0.0), "ms")
    }
    val sb = new StringBuilder
    sb ++= f"%n[perfbench] self time per module ($workload, seed $seed, ${spans.size} spans)%n"
    sb ++= f"${"module"}%-12s ${"spans"}%8s ${"total_ms"}%12s ${"self_ms"}%12s%n"
    table.foreach { case (m, n, t, s) => sb ++= f"$m%-12s $n%8d ${t / 1e3}%12.1f ${s / 1e3}%12.1f%n" }
    System.err.print(sb.toString)
    val path = Paths.get(root, s"trace-$workload-$seed.json")
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try {
      w.write("{\"workload\":" + Json.str(workload) + ",\"seed\":" + seed + ",\"self_time\":")
      w.write(Json.arr(table.map { case (m, n, t, s) =>
        Json.obj(Seq("module" -> Json.str(m), "spans" -> n.toString,
          "total_ms" -> Json.num(t / 1e3), "self_ms" -> Json.num(s / 1e3))) }))
      w.write(",\"spans\":[\n")
      spans.zipWithIndex.foreach { case (s, i) =>
        if (i > 0) w.write(",\n"); w.write(Trace.spanJson(s))
      }
      w.write("\n]}\n")
    } finally w.close()
    rec.info("spans", spans.size.toDouble)
  }
}
