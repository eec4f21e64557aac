package graft

import graft.control.GraftConf
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `GraftConf` bounds what the driver's status store keeps: a forwarding
  * query runs one job per trigger for as long as it lives. */
class StatusRetentionSpec extends AnyFunSuite {

  test("a GraftConf.local session keeps a bounded job history however many jobs run") {
    // retention is read when the SparkContext starts: stop the suite JVM's
    // shared session so that GraftConf.local starts its own
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    val spark = GraftConf.local(2)
    try {
      val bound = 20 // the retention GraftConf documents
      (1 to 5 * bound).foreach(i => spark.range(i).count())
      val sc = spark.sparkContext
      sc.setJobGroup("retention-last", "the last job")
      spark.range(1).count()
      sc.clearJobGroup()
      // the status store is fed asynchronously: wait until it has seen the last job
      val deadline = System.nanoTime() + 10000000000L
      while (sc.statusTracker.getJobIdsForGroup("retention-last").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup("retention-last").nonEmpty)
      val kept = sc.statusTracker.getJobIdsForGroup(null).length
      assert(kept <= bound, s"$kept jobs kept after ${5 * bound + 1} count() calls, bound $bound")
    } finally spark.stop()
  }
}
