package graft


/** Dev harness: run ONE registered query N times with per-iteration timing
  * (same session settings as Bench, no warmup suite) — for profiling a
  * single operator without the 105-query run.
  * Usage: sbt "runMain graft.RunOne <queryName> [sfDir] [iters]" */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: RunOne <queryName> [sfDir] [iters]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.control.GraftConf.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      println(f"[runone] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s, $rows rows")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
