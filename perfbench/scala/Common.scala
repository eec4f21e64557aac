package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Ordered metric record: name -> (value, unit). */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is not finite: $value")
    m(name) = (value, unit)
  }
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def json: String = Json.obj(m.toSeq.map { case (k, (v, u)) =>
    k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
}

object Json {
  /** Ordinary JSON numbers; run.py prints the result line as plain
    * decimals. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
    d.toString
  }
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  /** Linear-interpolated percentile (q in [0,1]) of unsorted values. */
  def pct(values: Array[Double], q: Double): Double = {
    if (values.isEmpty) return 0.0
    val s = values.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(values: Seq[Double]): Double = pct(values.toArray, 0.5)

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Host and JVM diagnostics. They explain noise; no run is dropped or
  * rescaled because of them. */
object Diag {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use after forced full collections: the least seen. Spark's
    * cleaner frees unreferenced blocks and broadcasts on its own thread
    * after a collection, one reference at a time, so keep collecting (at
    * least 2 s, at most 10 s) until the heap has not shrunk for 1 s. */
  def heapLiveMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    val used = mutable.ArrayBuffer.empty[Long]
    def shrinking = used.length < 8 || used.takeRight(5).head - used.takeRight(4).min > (1L << 20)
    while (used.length < 40 && shrinking) {
      System.gc(); Thread.sleep(250); used += mem.getHeapMemoryUsage.getUsed
    }
    used.min / 1048576.0
  }

  /** (steal, total) jiffies from the host's aggregate cpu line. */
  def stealJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }
}

/** One place that builds the Spark session every workload runs in. */
object Session {
  def apply(root: String, extensions: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    var b = graft.control.GraftConf(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.metricsEnabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
    if (extensions) b = b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
