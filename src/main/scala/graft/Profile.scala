package graft


/** Dev tool: time named queries cold (first run: plan + codegen + exec) and
  * warm (steady-state exec) to attribute bench seconds. Usage:
  *   sbt "runMain graft.Profile <sfDir> q33_lang_guess q41_minhash_lsh ..."
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.control.GraftConf.local(32)
    spark.sparkContext.setLogLevel("WARN")
    Seq("lineitem", "region", "events", "documents", "embeddings",
        "orders", "customer", "supplier", "part", "nation")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    spark.range(1000).selectExpr("CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS k")
      .groupBy("k").count().count()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        s
      }
      val cold = run()
      val warm = (1 to 3).map(_ => run()).min
      // "cold overhead" = plan + codegen + first-touch parquet I/O + JIT —
      // the pre-reads above touch whole tables, not the exact columns, so
      // the delta cannot be attributed to planning alone
      println(f"$name%-28s cold=$cold%7.3f  warm=$warm%7.3f  cold_overhead=${cold - warm}%7.3f")
    }
    spark.stop()
  }
}
