package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** CPU tick counters of this (virtual) machine, from /proc/stat. */
object Host {
  /** CPU time of this JVM, all threads. Time the hypervisor gave to other
    * tenants is not in it. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  /** user, nice, system, idle, iowait, irq, softirq, steal; empty where
    * /proc/stat does not exist. */
  def ticks(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").slice(1, 9).map(_.toLong)
    catch { case _: Exception => Array.empty }

  /** Share of the machine's CPU time between two readings that the
    * hypervisor gave to other tenants. */
  def stealShare(before: Array[Long], after: Array[Long]): Double =
    if (before.length < 8 || after.length < 8) 0.0
    else {
      val d = after.zip(before).map { case (a, b) => a - b }
      d(7).toDouble / math.max(1L, d.sum)
    }
}

/** One benchmark run in one JVM: build the session, stage the workload's
  * inputs, measure, check every output, and write the run's record.
  *
  * {{{
  * perfbench.Main --workload <stream_live|batch_queries>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --record <file>
  *   [--data <sf dir> --bench_dir <dir of oracle_hash.py>] [--commit <id>]
  * }}}
  */
object Main {

  /** Metrics of a run, by name, with unit and sample count. */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def put(name: String, value: Double, unit: String, n: Long = 1): Unit =
      values(name) = Map("value" -> value, "unit" -> unit, "n" -> n)
  }

  /** What every workload returns besides the metrics it puts into its
    * [[Run]]: check counts, failure messages, parameters and detail. */
  final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
                           params: Map[String, Any], detail: Map[String, Any])

  final class Run(val args: Map[String, String]) {
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val work: String = args("work")
    val cpus: Int = Runtime.getRuntime.availableProcessors()
    val endToEnd = new Metrics
    val layers = new Metrics
    private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    private var setupMs: Option[Long] = None

    /** Marks the start of the first timed operation: everything before it,
      * from JVM start, is set-up. */
    def setupDone(): Unit =
      if (setupMs.isEmpty) setupMs = Some(System.currentTimeMillis() - jvmStartMs)
    def setupSeconds: Double = setupMs.getOrElse(0L) / 1000.0
    def dir(name: String): String = {
      val p = Paths.get(work, name); Files.createDirectories(p); p.toString
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(args)
    val (spark, buildMs) = timed(GraftSession.build("perfbench"))
    run.layers.put("session.build_ms", buildMs, "ms")
    val workload = args("workload")
    val out =
      try workload match {
        case "stream_live"   => StreamBench.run(spark, run)
        case "batch_queries" => BatchBench.run(spark, run, args("data"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    run.endToEnd.put("setup_s", run.setupSeconds, "s")
    run.endToEnd.put("peak_rss_mb", peakRssMb(), "MiB")
    run.endToEnd.put("failed_frac", out.failed.toDouble / math.max(1L, out.attempted), "ratio", out.attempted)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> run.seed, "seconds" -> run.seconds,
      "trace" -> run.traced, "cpus" -> run.cpus, "commit" -> args.getOrElse("commit", "unknown"),
      "params" -> out.params,
      "correct" -> (out.failed == 0), "attempted" -> out.attempted, "failed" -> out.failed,
      "failures" -> out.failures.take(50),
      "end_to_end" -> run.endToEnd.values, "per_layer" -> run.layers.values,
      "detail" -> out.detail)
    Files.writeString(Paths.get(args("record")), Json.write(record))
  }

  /** Layers that do not run in a workload report 0, so every traced record
    * carries the same metric names. */
  def absent(m: Metrics, names: (String, String)*): Unit =
    names.foreach { case (n, unit) => if (!m.values.contains(n)) m.put(n, 0.0, unit, 0) }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }

  /** VmHWM: the resident-set high-water mark of this JVM. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
}
