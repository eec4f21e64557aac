package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev tool: run ONE registered query (warm) with a SparkListener attached
  * and print every job's wall time + stage breakdown (task time, shuffle
  * bytes), so a multi-action query's seconds can be attributed to the
  * specific eager step (localCheckpoint, size-gate count, Lloyd round...)
  * that spent them. Usage:
  *   sbt "runMain graft.StageProfile <sfDir> <queryName> [queryName ...]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
                else sys.error("usage: StageProfile <sfDir> <queryName> [more...]")
    val warmups = 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.control.GraftConf.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    names.foreach { name => profileOne(spark, sfDir, name, warmups, () => cleanup()) }
    spark.stop()
  }

  private def profileOne(spark: SparkSession, sfDir: String, name: String,
                         warmups: Int, cleanup: () => Unit): Unit = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    (1 to warmups).foreach { _ => fn(spark, sfDir).count(); cleanup() }

    case class JobRec(id: Int, start: Long, var end: Long = 0L,
                      var stages: Int = 0, var tasks: Int = 0,
                      var taskTimeMs: Long = 0L, var shufWrite: Long = 0L,
                      var shufRead: Long = 0L, var input: Long = 0L,
                      var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId, e.time)
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        r.stages = e.stageIds.size
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
        jobs.put(e.jobId, r)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
          r.tasks += si.numTasks
          r.taskTimeMs += si.taskMetrics.executorRunTime
          r.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          r.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.input += si.taskMetrics.inputMetrics.bytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    // let the listener bus drain before reading
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val recs = jobs.values.asScala.toSeq.sortBy(_.id)
    println(f"\n[stageprofile] $name total=$total%.3f s, $rows rows, ${recs.size} jobs")
    var prevEnd = 0L
    recs.foreach { r =>
      val wall = (r.end - r.start) / 1e3
      val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
      prevEnd = r.end
      println(f"  job ${r.id}%3d wall=$wall%7.3f s gap=$gap%6.3f s stages=${r.stages}%2d tasks=${r.tasks}%4d taskTime=${r.taskTimeMs}%6d ms shufW=${r.shufWrite / 1024}%6d KB in=${r.input / 1024}%7d KB ${r.desc.take(60)}")
    }
    val jobWall = recs.map(r => r.end - r.start).sum / 1e3
    println(f"  sum(job wall)=$jobWall%.3f s vs total=$total%.3f s (driver gaps=${total - jobWall}%.3f s)")
    cleanup()
  }
}
