package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{Bench, SparkEntry}

/** `batch_queries`: warmed passes over the registered queries, in an order
  * permuted by the seed. Each timing covers building the DataFrame
  * (`SparkEntry.queries`), planning it (`executedPlan`) and collecting its
  * whole result; the result is then hashed and compared with the hash of the
  * DuckDB oracle's result for the same query (`oracle_hash.py`). */
object BatchBench {

  /** Short, driver-bound queries from `Bench.Baseline43`, the reference SQL
    * surface and the classic operators: an aggregate, a join with top-k, a
    * clickstream rollup, a vector scan. */
  val ShortQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q_hourly_metrics", "q_embedding_norms")

  /** Fixpoint-loop queries, each an `operators.LoopPlan` loop: connected
    * components and power iteration. */
  val LoopQueries: Seq[String] = Seq("q_dedup_clusters", "q_top_eigenvector")

  val Queries: Seq[String] = ShortQueries ++ LoopQueries
  require(ShortQueries.forall(Bench.Baseline43), "short queries come from the baseline set")

  /** Untimed passes before timing. The first pass is several times slower
    * than the next, and pass times keep falling for two passes after. */
  val WarmPasses = 3

  /** A timed pass takes about this long at 4 cores. A run makes a fixed
    * number of passes, `seconds` worth at this pace, so every run does the
    * same work however fast the host is at the time. At least five, so a
    * query's median over the passes leaves out two passes that a burst of
    * load from other tenants slowed. */
  val NominalPassSeconds = 3.5
  val MinPasses = 5

  final case class Timing(query: String, wallMs: Double, buildMs: Double,
                          planMs: Double, execMs: Double, ok: Boolean)

  def run(spark: SparkSession, run: Main.Run, dataDir: String): Main.Outcome = {
    val rnd = new scala.util.Random(run.seed)
    val oracle = oracleHashes(run, dataDir)
    // untimed warm-up passes: first-use class loading, codegen and JIT are
    // charged to set-up, not to the first timed queries
    Seq.fill(WarmPasses)(rnd.shuffle(Queries)).flatten.foreach { q =>
      val (_, ms) = Main.timed(try execute(spark, q, dataDir, None) catch { case _: Exception => () })
      Main.log(f"warm-up $q $ms%.0f ms")
    }
    val expected = oracle()
    val failures = mutable.ArrayBuffer.empty[String]
    expected.left.foreach(e => failures += e)
    val hashes = expected.getOrElse(Map.empty)
    run.setupDone()

    // each pass's CPU steal goes into the record: context for a pass that
    // reads slow on a shared host
    val passes = math.max(MinPasses, math.round(run.seconds / NominalPassSeconds).toInt)
    final case class Pass(timings: Seq[Timing], wallS: Double, steal: Double, cpuS: Double)
    val done = (1 to passes).map { _ =>
      val before = Host.ticks()
      val cpu0 = Host.cpuNs()
      val (ts, wall) = Main.timed(rnd.shuffle(Queries).map(q => measure(spark, q, dataDir, hashes, failures, None)))
      Pass(ts, wall / 1000.0, Host.stealShare(before, Host.ticks()), (Host.cpuNs() - cpu0) / 1e9)
    }
    val timings = done.flatMap(_.timings)
    val passWalls = done.map(_.wallS)

    // each query's median over the passes, so one pass the host slowed
    // does not move the run's figures
    val perQuery = timings.groupBy(_.query).map { case (q, ts) => q -> Stats.median(ts.map(_.wallMs / 1000.0).toSeq) }
    val walls = perQuery.values.toSeq
    // the quantiles are taken over one median per query
    val n = walls.size
    val e2e = run.endToEnd
    e2e.put("batch_wall_s", Stats.median(passWalls), "s", passWalls.size)
    e2e.put("query_s_p50", Stats.quantile(walls, 0.5), "s", n)
    e2e.put("query_s_p90", Stats.quantile(walls, 0.9), "s", n)
    // a query is one operation here: its release is the start of its build
    // and its commit is the end of collecting its result. These three
    // restate query_s_* in the stream workload's terms.
    e2e.put("events_per_s", walls.size / walls.sum, "1/s", n)
    e2e.put("commit_latency_p50_ms", Stats.quantile(walls, 0.5) * 1000, "ms", n)
    e2e.put("commit_latency_p90_ms", Stats.quantile(walls, 0.9) * 1000, "ms", n)

    val detail = mutable.LinkedHashMap[String, Any](
      "passes" -> done.map(p => Map("wall_s" -> p.wallS, "steal_pct" -> p.steal * 100, "process_cpu_s" -> p.cpuS)),
      "per_query_median_s" -> perQuery.toSeq.sortBy(_._1).to(mutable.LinkedHashMap))
    if (run.traced) detail("trace") = traced(spark, run, dataDir, rnd, hashes, failures, Stats.median(passWalls))
    Main.Outcome(
      attempted = done.map(_.timings.size).sum, failed = done.map(_.timings.count(!_.ok)).sum,
      failures = failures.toSeq,
      params = Map("data" -> dataDir, "queries" -> Queries, "loop_queries" -> LoopQueries,
        "warm_passes" -> WarmPasses, "timed_passes" -> passes),
      detail = detail.toMap)
  }

  /** A traced pass's span log plus the Catalyst phase times
    * (`QueryExecution.tracker`) summed over its queries. */
  final class Tracing {
    val spans = new Trace.Spans
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }

  /** Builds, plans and collects one query; returns the collected rows. */
  private def execute(spark: SparkSession, q: String, dataDir: String,
                      tracing: Option[Tracing]): (Array[Row], Seq[String], Double, Double, Double) = {
    def span[T](name: String)(f: => T): T = tracing.fold(f)(t => t.spans(name, q)(f))
    val (df, buildMs) = Main.timed(span("entry.build")(SparkEntry.queries(q)(spark, dataDir)))
    val (_, planMs) = Main.timed(span("planning")(df.queryExecution.executedPlan))
    val (rows, execMs) = Main.timed(span("operators.exec")(df.collect()))
    tracing.foreach(t => df.queryExecution.tracker.phases.foreach { case (k, v) =>
      t.phases(k) += v.durationMs.toDouble })
    (rows, df.columns.toSeq, buildMs, planMs, execMs)
  }

  private def measure(spark: SparkSession, q: String, dataDir: String,
                      hashes: Map[String, String], failures: mutable.ArrayBuffer[String],
                      tracing: Option[Tracing]): Timing = {
    val t0 = System.nanoTime()
    try {
      val (rows, cols, b, p, e) = execute(spark, q, dataDir, tracing)
      val wall = (System.nanoTime() - t0) / 1e6
      Main.log(f"$q $wall%.0f ms")
      val got = Canon.hash(cols, rows)
      val ok = hashes.get(q).contains(got)
      if (!ok) failures += s"$q: result hash $got != oracle ${hashes.getOrElse(q, "missing")}"
      Timing(q, wall, b, p, e, ok)
    } catch {
      case err: Throwable =>
        failures += s"$q: ${err.getClass.getName}: ${err.getMessage}"
        Timing(q, (System.nanoTime() - t0) / 1e6, 0, 0, 0, ok = false)
    }
  }

  /** Expected result hashes: the oracle SQL of every query, run through
    * DuckDB by `oracle_hash.py` in a child process that works while the
    * warm-up pass runs; the returned function waits for it. */
  private def oracleHashes(run: Main.Run, dataDir: String): () => Either[String, Map[String, String]] = {
    val dir = run.dir("oracle")
    val in = Paths.get(dir, "oracle_sql.json")
    val out = Paths.get(dir, "oracle_hashes.json")
    Files.writeString(in, Json.write(Queries.map(q => q -> SparkEntry.oracleSql(q)).to(mutable.LinkedHashMap)))
    val script = Paths.get(run.args("bench_dir"), "oracle_hash.py").toString
    val p = new ProcessBuilder("python3", script, dataDir, in.toString, out.toString)
      .redirectErrorStream(true).redirectOutput(Paths.get(dir, "oracle.log").toFile).start()
    () => {
      val code = p.waitFor()
      if (code != 0) Left(s"oracle_hash.py exited $code; see $dir/oracle.log")
      else {
        val hashes = "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r
          .findAllMatchIn(Files.readString(out)).map(m => m.group(1) -> m.group(2)).toMap
        val corrupt = sys.env.get("PERFBENCH_FAULT").contains("corrupt_hash")
        Right(if (corrupt) hashes.updated(Queries.head, "0" * 64) else hashes)
      }
    }
  }

  /** Traced pass: one more pass with the listener on and a span around each
    * layer call, attributed per query. */
  private def traced(spark: SparkSession, run: Main.Run, dataDir: String, rnd: scala.util.Random,
                     hashes: Map[String, String], failures: mutable.ArrayBuffer[String],
                     untracedPassS: Double): Map[String, Any] = {
    val engine = new Trace.Engine
    val tracing = new Tracing
    spark.sparkContext.addSparkListener(engine)
    val (ts, wallMs) = Main.timed(rnd.shuffle(Queries).map(q =>
      measure(spark, q, dataDir, hashes, failures, Some(tracing))))
    engine.drain(spark)
    spark.sparkContext.removeSparkListener(engine)
    val phases = tracing.phases
    val all = tracing.spans.all
    def byName(n: String) = all.filter(_.name == n)
    def window(ss: Seq[Trace.Span]) = ss.map(s => engine.within(s.startMs, s.endMs))
    val execs = byName("operators.exec")
    val execW = window(execs)
    val builds = byName("entry.build")
    val loopSpans = all.filter(s => LoopQueries.contains(s.label) && s.name != "planning")
    val loopW = window(loopSpans)
    val loopWall = LoopQueries.map(q => all.filter(_.label == q).map(_.ms).sum).sum
    val scan = window(all).map(_.inputMb).sum
    val L = run.layers
    L.put("sources.scan_mb", scan, "MiB")
    L.put("entry.build_ms", builds.map(_.ms).sum.toDouble, "ms", builds.size)
    L.put("entry.build_jobs", window(builds).map(_.jobs).sum.toDouble, "count", builds.size)
    L.put("planning.analysis_ms", phases("analysis"), "ms", Queries.size)
    L.put("planning.optimizer_ms", phases("optimization"), "ms", Queries.size)
    L.put("planning.physical_ms", phases("planning"), "ms", Queries.size)
    L.put("operators.jobs", execW.map(_.jobs).sum.toDouble, "count", execs.size)
    L.put("operators.driver_gap_ms", execs.zip(execW).map { case (s, w) => (s.ms - w.stageBusyMs).toDouble }.sum, "ms", execs.size)
    L.put("operators.tasks", execW.map(_.tasks.size).sum.toDouble, "count", execs.size)
    L.put("operators.task_run_ms", execW.map(_.runMs).sum.toDouble, "ms", execs.size)
    L.put("operators.task_cpu_ms", execW.map(_.cpuMs).sum, "ms", execs.size)
    L.put("operators.gc_ms", execW.map(_.gcMs).sum.toDouble, "ms", execs.size)
    L.put("operators.shuffle_write_mb", execW.map(_.shuffleWriteMb).sum, "MiB", execs.size)
    L.put("operators.shuffle_read_mb", execW.map(_.shuffleReadMb).sum, "MiB", execs.size)
    L.put("operators.spill_mb", execW.map(_.spillMb).sum, "MiB", execs.size)
    L.put("loop.jobs", loopW.map(_.jobs).sum.toDouble, "count", LoopQueries.size)
    L.put("loop.wall_ms", loopWall.toDouble, "ms", LoopQueries.size)
    L.put("loop.driver_gap_ms", loopSpans.zip(loopW).map { case (s, w) => (s.ms - w.stageBusyMs).toDouble }.sum, "ms", LoopQueries.size)
    val spanned = ts.map(t => t.buildMs + t.planMs + t.execMs).sum
    L.put("trace.accounted_pct", 100.0 * spanned / ts.map(_.wallMs).sum, "%", ts.size)
    L.put("trace.overhead_pct", 100.0 * (wallMs / 1000.0 - untracedPassS) / untracedPassS, "%")
    Main.absent(L, Seq("sources.release_lag_ms_p99" -> "ms", "parse.ms_per_kevent" -> "ms/kevent",
      "sinks.upsert_ms_per_krow" -> "ms/krow", "pipeline.commit_latency_p50_ms" -> "ms",
      "pipeline.commit_latency_p90_ms" -> "ms") ++
      StreamBench.Queries.flatMap(q => Seq(s"pipeline.$q.batches" -> "count", s"pipeline.$q.trigger_ms_p50" -> "ms",
        s"pipeline.$q.offsets_ms" -> "ms", s"pipeline.$q.planning_ms" -> "ms", s"pipeline.$q.log_commit_ms" -> "ms",
        s"pipeline.$q.add_batch_ms" -> "ms", s"sinks.${q}_ms" -> "ms")) ++
      Seq("sessions", "hourly").flatMap(q => Seq(s"state.$q.rows" -> "count", s"state.$q.mb" -> "MiB",
        s"state.$q.commit_ms" -> "ms", s"state.$q.dropped_by_watermark" -> "count")): _*)
    Map("pass_wall_s" -> wallMs / 1000.0, "untraced_pass_wall_s" -> untracedPassS,
      "spans" -> all.map(s => Map("name" -> s.name, "query" -> s.label, "start_ms" -> s.startMs, "ms" -> s.ms)),
      "per_query" -> ts.map(t => Map("query" -> t.query, "wall_ms" -> t.wallMs, "build_ms" -> t.buildMs,
        "plan_ms" -> t.planMs, "exec_ms" -> t.execMs)))
  }
}

/** Canonical, engine-independent rendering of a result, hashed. Columns are
  * taken in name order and rows as a multiset, as the oracle comparison
  * does; doubles are compared bit for bit. `oracle_hash.py` renders DuckDB
  * results the same way. */
object Canon {
  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rendered = rows.map { r =>
      val sb = new StringBuilder
      order.foreach(i => cell(r.get(i), sb))
      sb.toString
    }.sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString("\u0000").getBytes(UTF_8))
    rendered.foreach { s => md.update("\n".getBytes(UTF_8)); md.update(s.getBytes(UTF_8)) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val EpochMicros = (i: java.time.Instant) => i.getEpochSecond * 1000000L + i.getNano / 1000

  def cell(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append('n')
    case b: Boolean => sb.append(if (b) "b1" else "b0")
    case x: Byte => sb.append('i').append(x.toLong)
    case x: Short => sb.append('i').append(x.toLong)
    case x: Int => sb.append('i').append(x.toLong)
    case x: Long => sb.append('i').append(x)
    case d: Double => double(d, sb)
    case f: Float => double(f.toDouble, sb)
    case d: java.math.BigDecimal => sb.append('m').append(d.stripTrailingZeros.toPlainString)
    case s: String => sb.append('s').append(s.getBytes(UTF_8).length).append(':').append(s)
    case t: java.sql.Timestamp => sb.append('t').append(EpochMicros(t.toInstant))
    case t: java.time.Instant => sb.append('t').append(EpochMicros(t))
    case t: java.time.LocalDateTime => sb.append('t').append(EpochMicros(t.toInstant(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append('D').append(d.toEpochDay)
    case a: Array[Byte] => sb.append('x').append(a.map(b => f"${b & 0xff}%02x").mkString)
    case r: Row => sb.append('{'); (0 until r.length).foreach(i => cell(r.get(i), sb)); sb.append('}')
    case m: scala.collection.Map[_, _] =>
      sb.append('<'); m.toSeq.map { case (k, x) => val s = new StringBuilder; cell(k, s); cell(x, s); s.toString }
        .sorted.foreach(sb.append); sb.append('>')
    case xs: scala.collection.Seq[_] => sb.append('['); xs.foreach(cell(_, sb)); sb.append(']')
    case xs: java.util.List[_] => cell(xs.asScala.toSeq, sb)
    case other => sb.append('?').append(other.toString)
  }

  private def double(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN) sb.append("dnan")
    else sb.append('d').append(f"${java.lang.Double.doubleToRawLongBits(d)}%016x")
}
