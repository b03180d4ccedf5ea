package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Everything a traced run records about the engine, keyed by wall-clock
  * milliseconds so it can be attributed afterwards to the span that was
  * open when it happened. Nothing here is registered on untraced runs. */
object Trace {

  final case class Task(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        inputBytes: Long, shuffleWriteBytes: Long,
                        shuffleReadBytes: Long, spillBytes: Long)

  /** Jobs, stage-active intervals and finished tasks, as the scheduler
    * reports them. Callbacks arrive on the listener-bus thread; readers
    * call [[Engine.drain]] first. */
  final class Engine extends SparkListener {
    val jobStarts = ArrayBuffer.empty[Long]
    val stages    = ArrayBuffer.empty[(Long, Long)]
    val tasks     = ArrayBuffer.empty[Task]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += e.time }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages += ((s, c))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
    }

    def drain(spark: SparkSession): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    /** Scheduler activity inside [from, to] (epoch ms). */
    def within(from: Long, to: Long): Window = synchronized {
      val ts = tasks.filter(t => t.finishMs >= from && t.finishMs <= to).toSeq
      Window(
        jobs = jobStarts.count(t => t >= from && t <= to),
        stageBusyMs = busy(stages.toSeq, from, to),
        tasks = ts)
    }
  }

  final case class Window(jobs: Int, stageBusyMs: Long, tasks: Seq[Task]) {
    def runMs: Long = tasks.map(_.runMs).sum
    def cpuMs: Double = tasks.map(_.cpuNs).sum / 1e6
    def gcMs: Long = tasks.map(_.gcMs).sum
    def inputMb: Double = tasks.map(_.inputBytes).sum / Mb
    def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / Mb
    def shuffleReadMb: Double = tasks.map(_.shuffleReadBytes).sum / Mb
    def spillMb: Double = tasks.map(_.spillBytes).sum / Mb
  }

  val Mb: Double = 1024.0 * 1024.0

  /** Length of the union of `intervals` clipped to [from, to]: the time at
    * least one stage was running. Wall minus this is time the driver spent
    * between stages (scheduling, planning, collecting results). */
  def busy(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** One named interval of harness time around a call into a layer. */
  final case class Span(name: String, label: String, startMs: Long, endMs: Long) {
    def ms: Long = endMs - startMs
  }

  /** In-memory span log; written out once, at the end of the run. */
  final class Spans {
    private val buf = ArrayBuffer.empty[Span]
    def apply[T](name: String, label: String = "")(f: => T): T = {
      val s = System.currentTimeMillis()
      try f finally { val e = System.currentTimeMillis(); synchronized { buf += Span(name, label, s, e) } }
    }
    def all: Seq[Span] = synchronized(buf.toSeq)
    def total(name: String): Long = all.filter(_.name == name).map(_.ms).sum
  }
}

/** Order statistics as the record reports them. */
object Stats {
  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the record: maps, sequences, numbers, strings. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(','); str(k.toString); sb.append(':'); go(y)
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
