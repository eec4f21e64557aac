package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** Dev harness: run ONE registered query N times with per-iteration timing
  * (same session settings as Bench, no warmup suite) — for profiling a
  * single operator without the full query suite. The last iteration runs
  * with a SparkListener attached and prints every job's wall time and stage
  * breakdown (task time, shuffle bytes, input), so a multi-action query's
  * seconds can be attributed to the eager step (localCheckpoint, size-gate
  * count, Lloyd round...) that spent them.
  * Usage: sbt "runMain graft.RunOne <queryName> [sfDir] [iters]" */
object RunOne {
  private final case class JobRec(id: Int, start: Long, stages: Int, desc: String,
                                  var end: Long = 0L, var tasks: Int = 0,
                                  var taskTimeMs: Long = 0L, var shufWrite: Long = 0L,
                                  var input: Long = 0L)

  /** Collects one JobRec per job started while it is registered. */
  private final class JobTable extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageToJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds.size, desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.tasks += si.numTasks
        r.taskTimeMs += si.taskMetrics.executorRunTime
        r.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        r.input += si.taskMetrics.inputMetrics.bytesRead
      }
    }

    def report(name: String, totalSec: Double): Unit = {
      val recs = jobs.values.asScala.toSeq.sortBy(_.id)
      println(f"[runone] $name jobs of the last iteration: ${recs.size}")
      var prevEnd = 0L
      recs.foreach { r =>
        val wall = (r.end - r.start) / 1e3
        val gap = if (prevEnd > 0) (r.start - prevEnd) / 1e3 else 0.0
        prevEnd = r.end
        println(f"  job ${r.id}%3d wall=$wall%7.3f s gap=$gap%6.3f s stages=${r.stages}%2d tasks=${r.tasks}%4d taskTime=${r.taskTimeMs}%6d ms shufW=${r.shufWrite / 1024}%6d KB in=${r.input / 1024}%7d KB ${r.desc.take(60)}")
      }
      val jobWall = recs.map(r => r.end - r.start).sum / 1e3
      println(f"  sum(job wall)=$jobWall%.3f s vs total=$totalSec%.3f s (driver gaps=${totalSec - jobWall}%.3f s)")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: RunOne <queryName> [sfDir] [iters]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.control.GraftConf.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    (1 to iters).foreach { i =>
      val table = if (i == iters) Some(new JobTable) else None
      table.foreach(spark.sparkContext.addSparkListener)
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[runone] $name iter $i: $sec%.3f s, $rows rows")
      table.foreach { t =>
        Thread.sleep(500) // let the listener bus drain before reading
        spark.sparkContext.removeSparkListener(t)
        t.report(name, sec)
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
