package graft


/** Dev tool: dump `.explain("formatted")` for every SparkEntry query so plan
  * regressions (lost pushdown, missing broadcast, codegen gaps) are visible
  * in review. Usage: sbt "runMain graft.Explain [sfDir] [outFile]". */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("target/plans.txt")
    val spark = graft.control.GraftConf.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      sb.append(s"\n================ $name ================\n")
      try {
        val df = fn(spark, sfDir)
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
