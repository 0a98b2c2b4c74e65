package graft.spider.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark driver: runs one workload for a fixed time in this JVM and
  * prints a per-metric table, then ONE result line
  *
  *   {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
  *
  * as the last line of standard output. Launched by perfbench/run.py:
  *
  *   PerfBench --workload <crawl_skew|query_sweep> --seed <n>
  *     --seconds <s> --trace <0|1> --cores <n> --data <dir> --work <dir>
  *
  * `--trace 0` measures the end-to-end metrics with no instrumentation;
  * `--trace 1` is the separate traced run that reports per-layer metrics.
  * Every workload is a closed loop with one client: the next crawl or query
  * starts when the previous one has returned.
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, data: String, work: String)

  /** One metric as printed: name, value, unit. */
  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload reports: operations attempted, how many failed (an
    * exception or a failed output check), and its metrics. */
  final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(arg("workload"), arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("cores").toInt, arg("data"), arg("work"))
    require(o.seconds >= 1, "--seconds must be at least 1")

    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * o.cores).toString)
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log(s"spark up at local[${o.cores}]")
    val result =
      try o.workload match {
        case "crawl_skew" => CrawlWorkload.run(spark, o)
        case "query_sweep" => QuerySweep.run(spark, o)
        case w => sys.error(s"unknown workload $w")
      } finally { log("stopping spark"); spark.stop() }
    log("done")

    val ratio = result.failed.toDouble / math.max(1L, result.attempted)
    println(f"workload ${o.workload} seed ${o.seed} trace ${if (o.trace) 1 else 0}: " +
      f"attempted ${result.attempted}, failed ${result.failed}, fail_ratio $ratio%.4f")
    result.metrics.foreach(m => println(f"  ${m.name}%-34s ${m.value}%16.6f ${m.unit}"))
    val ms = result.metrics.map(m =>
      s""""${m.name}": {"value": ${jsonNum(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${result.failed == 0}, "attempted": ${result.attempted}, """ +
      s""""failed": ${result.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Steal and total jiffies of all CPUs so far, from the first line of
    * /proc/stat ("cpu user nice system idle iowait irq softirq steal ..."). */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length == 8) f(7) else 0L, f.sum)
    } catch { case _: java.io.IOException => (0L, 0L) }

  /** Runs `f` and returns its result with its wall seconds less the share
    * of them the hypervisor gave to other machines (steal time). On a
    * shared host that share swings by tens of percent between runs; taking
    * it out keeps a run's time a measure of this program. */
  def timed[T](f: => T): (T, Double) = {
    val (s0, j0) = cpuJiffies()
    val t0 = System.nanoTime()
    val r = f
    val wall = seconds(t0)
    val (s1, j1) = cpuJiffies()
    (r, wall * (1.0 - (if (j1 > j0) (s1 - s0).toDouble / (j1 - j0) else 0.0)))
  }

  /** Progress note on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench +${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1fs] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Heap in use after a full collection, in MiB: what the program still
    * holds once a pass has returned (cached data, leaked frames). Taken
    * outside the timed region. The second collection comes after Spark's
    * cleaner has dropped the blocks whose handles the first one freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
