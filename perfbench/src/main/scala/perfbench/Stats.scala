package perfbench

import scala.jdk.CollectionConverters._

/** Percentiles and process gauges. */
object Stats {

  /** Nearest-rank percentile of `xs` (0 < p <= 100); NaN when empty. */
  def percentile(xs: Array[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  def percentile(xs: Seq[Double], p: Double): Double = percentile(xs.toArray, p)

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples left above the `p`-th percentile: the guide asks for at least
    * ten behind any reported tail percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU the JIT compiler threads have used so far (Linux /proc; 10 ms
    * resolution). The JVM runs with a fixed set of compiler threads, so
    * none of this time leaves with a thread that ends. */
  def jitCpuNanos(): Long = {
    val tasks = java.nio.file.Paths.get("/proc/self/task")
    if (!java.nio.file.Files.isDirectory(tasks)) return 0L
    val ls = java.nio.file.Files.list(tasks)
    try ls.iterator.asScala.map { t =>
      try {
        val comm = new String(java.nio.file.Files.readAllBytes(t.resolve("comm")), "UTF-8").trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = new String(java.nio.file.Files.readAllBytes(t.resolve("stat")), "UTF-8")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * 10000000L // utime + stime, 100 ticks/s
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum finally ls.close()
  }

  /** Milliseconds of collector time so far, all collectors. */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap in use after full collections, less the bytes `exclude` names,
    * in MiB: the least of three rounds, with pauses that let Spark's
    * cleaner release what the last collection made unreachable. */
  def liveHeapMb(exclude: () => Long = () => 0L): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      (mem.getHeapMemoryUsage.getUsed - exclude()) / 1048576.0
    }.min
  }
}
