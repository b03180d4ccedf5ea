package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager
import java.time.Instant
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.model.ClickstreamEvent
import graft.sources.EventGenerator
import graft.streaming.{ClickstreamPipeline, Parse, Sinks}

/** `stream_live`: the reference topology (four cursors, unbounded
  * update-mode sessions) under an open-loop load at a fixed offered rate.
  * Inputs are Kafka-shaped `(key, value, timestamp)` parquet files generated
  * from the seed during set-up; one release thread renames them on a fixed
  * schedule into the directory a file-stream source watches. Commit times
  * come from the queries' checkpoint logs, and every sink is reconciled
  * against a plain-Scala fold over the generated events. */
object StreamBench {

  // the reference producer's cardinalities
  val NumUsers = 1000
  val NumProducts = 500
  /** Offered rate, events/s: about half the pipeline's capacity. The
    * land-once topology (`Config.landOnce`, watermarked sessions, four files
    * per trigger) drained a standing backlog of 58k events at 3.9k events/s
    * on a 4-core VM. The fan-out topology keeps up with this rate there: its
    * commit latency does not grow over a run. */
  val LiveRate = 2000
  val LiveFileMs = 200
  /** Load of the set-up warm-up run, in seconds at the offered rate.
    * Micro-batch times keep falling for tens of batches after the first,
    * while the JIT compiles. */
  val WarmSeconds = 20.0

  val Queries = Seq("raw", "sessions", "hourly", "dashboard")
  val Wire: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("timestamp", TimestampType)))
  private val SessionCols = Seq("session_id", "user_id", "start_time", "end_time",
    "total_events", "page_views", "add_to_cart_events", "purchases",
    "total_purchase_amount", "session_duration_seconds", "converted")

  /** Generated events written as wire files; file `i` holds `slices(i)`. */
  final case class Staged(dir: Path, files: IndexedSeq[String], slices: IndexedSeq[Range],
                          events: IndexedSeq[ClickstreamEvent]) {
    val fileOf: Map[String, Int] = files.zipWithIndex.toMap
  }

  def run(spark: SparkSession, run: Main.Run): Main.Outcome = {
    def input(seed: Long, seconds: Double, dir: String): Staged =
      stage(new EventGenerator(seed, NumUsers, NumProducts).events((LiveRate * seconds).toInt),
        (seconds * 1000 / LiveFileMs).toInt, Paths.get(run.dir(dir)))
    val (staged, stageMs) = Main.timed(input(run.seed, run.seconds, "gen"))
    // warm-up on an input of its own: loads and JITs every operator, sink
    // and state-store class the measured instance uses
    val warm = input(run.seed + 1, WarmSeconds, "gen-warm")
    val (_, warmMs) = Main.timed(instance(spark, run, warm, "warm", tracer = None))
    Main.log(f"stage $stageMs%.0f ms, warm-up $warmMs%.0f ms")
    run.setupDone()

    val (before, cpu0) = (Host.ticks(), Host.cpuNs())
    val measured = instance(spark, run, staged, "measured", tracer = None)
    val cpuS = (Host.cpuNs() - cpu0) / 1e9
    val stealPct = Host.stealShare(before, Host.ticks()) * 100
    val check = reconcile(spark, staged, measured)
    val e2e = run.endToEnd
    val wallS = (measured.lastCommitUs - measured.firstReleaseUs) / 1e6
    e2e.put("events_per_s", math.max(0, staged.events.size - check.failed) / wallS, "1/s", staged.events.size)
    e2e.put("batch_wall_s", wallS, "s")
    e2e.put("commit_latency_p50_ms", Stats.quantile(check.latenciesMs, 0.5), "ms", check.latenciesMs.size)
    e2e.put("commit_latency_p90_ms", Stats.quantile(check.latenciesMs, 0.9), "ms", check.latenciesMs.size)
    val batchS = measured.logs.values.flatMap(_.durationsS).toSeq
    e2e.put("query_s_p50", Stats.quantile(batchS, 0.5), "s", batchS.size)
    e2e.put("query_s_p90", Stats.quantile(batchS, 0.9), "s", batchS.size)

    val failures = mutable.ArrayBuffer.empty[String] ++= check.failures
    var failed = check.failed.toLong
    val detail = mutable.LinkedHashMap[String, Any](
      "reconciled" -> check.summary, "host_steal_pct" -> stealPct, "process_cpu_s" -> cpuS,
      "batches" -> measured.logs.map { case (q, l) => q -> l.batches.size })
    if (run.traced) {
      val tracer = new Tracer(spark)
      val t = instance(spark, run, staged, "traced", tracer = Some(tracer))
      val tcheck = reconcile(spark, staged, t)
      failures ++= tcheck.failures.map("traced: " + _)
      failed += tcheck.failed
      detail("trace") = tracer.report(run, staged, t, check, tcheck)
    }
    Main.Outcome(
      attempted = staged.events.size, failed = math.min(failed, staged.events.size.toLong),
      failures = failures.toSeq,
      params = Map(
        "topology" -> "fan-out, unbounded sessions",
        "events" -> staged.events.size, "files" -> staged.files.size, "warm_up_seconds" -> WarmSeconds,
        "offered_rate_per_s" -> LiveRate, "file_interval_ms" -> LiveFileMs,
        "users" -> NumUsers, "products" -> NumProducts),
      detail = detail.toMap)
  }

  /** Writes the events' wire rows as `numFiles` parquet files, contiguous
    * slices in event order, with modification times in the same order (the
    * file-stream source takes files oldest first). One parquet writer in
    * this thread writes them; a Spark job of one task per file took several
    * times longer. */
  def stage(events: Seq[ClickstreamEvent], numFiles: Int, dir: Path): Staged = {
    val ev = events.toIndexedSeq
    val out = Files.createDirectories(dir.resolve("files"))
    val slices = (0 until numFiles).map(i =>
      ((i.toLong * ev.size) / numFiles).toInt until (((i + 1).toLong * ev.size) / numFiles).toInt)
    val rows = new SimpleGroupFactory(WireParquet)
    val base = System.currentTimeMillis() - 3600L * 1000
    val files = slices.indices.map { i =>
      val file = out.resolve(f"part-$i%05d.parquet")
      val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(WireParquet).build()
      try slices(i).foreach { j =>
        val e = ev(j)
        w.write(rows.newGroup().append("key", e.user_id).append("value", wireJson(e))
          .append("timestamp", Instant.parse(e.timestamp.get).toEpochMilli * 1000L))
      } finally w.close()
      Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      file.getFileName.toString
    }
    Staged(out, files, slices, ev)
  }

  /** [[Wire]] as a parquet schema, as Spark writes it. */
  private val WireParquet = MessageTypeParser.parseMessageType(
    """message wire {
      |  optional binary key (STRING);
      |  optional binary value (STRING);
      |  optional int64 timestamp (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** The producer's wire value: the event as one JSON object, null fields
    * left out (what `to_json` over the event struct writes). */
  def wireJson(e: ClickstreamEvent): String = {
    val fields = Seq(
      "event_id" -> Some(e.event_id), "user_id" -> Some(e.user_id), "event_type" -> Some(e.event_type),
      "product_id" -> e.product_id, "purchase_amount" -> e.purchase_amount, "timestamp" -> e.timestamp,
      "session_id" -> e.session_id, "page_url" -> e.page_url, "user_agent" -> e.user_agent,
      "ip_address" -> e.ip_address)
    fields.collect {
      case (k, Some(d: java.math.BigDecimal)) => s""""$k":${d.toPlainString}"""
      case (k, Some(v)) => s""""$k":${Json.write(v.toString)}"""
    }.mkString("{", ",", "}")
  }

  /** One query's checkpoint: per batch its start (offset-log write), commit
    * (commit-log write), watermark and source files. */
  final case class Batch(id: Long, startUs: Long, commitUs: Option[Long], watermarkMs: Long)
  final case class QueryLog(batches: Map[Long, Batch], fileBatch: Map[String, Long]) {
    def committed: Seq[Batch] = batches.values.filter(_.commitUs.isDefined).toSeq.sortBy(_.id)
    def durationsS: Seq[Double] = committed.map(b => (b.commitUs.get - b.startUs) / 1e6)
    def lastCommittedWatermarkMs: Long = committed.lastOption.map(_.watermarkMs).getOrElse(0L)
  }

  private def epochUs(): Long = { val t = Instant.now(); t.getEpochSecond * 1000000L + t.getNano / 1000 }
  private def mtimeUs(p: Path): Long = Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS)
  private def numbered(dir: Path): Seq[(Long, Path)] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .flatMap(p => p.getFileName.toString.toLongOption.map(_ -> p))
  private val PathEntry = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
  private val BatchEntry = "\"batchId\"\\s*:\\s*(\\d+)".r
  private val WatermarkEntry = "\"batchWatermarkMs\"\\s*:\\s*(\\d+)".r
  private def baseName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  def readLog(ckpt: Path): QueryLog = {
    val commits = numbered(ckpt.resolve("commits")).toMap
    val batches = numbered(ckpt.resolve("offsets")).map { case (id, p) =>
      val wm = WatermarkEntry.findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong).getOrElse(0L)
      id -> Batch(id, mtimeUs(p), commits.get(id).map(mtimeUs), wm)
    }.toMap
    val src = ckpt.resolve("sources").resolve("0")
    val fileBatch = if (!Files.isDirectory(src)) Map.empty[String, Long] else
      Files.list(src).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.stripSuffix(".compact").toLongOption.isDefined).flatMap { p =>
        Files.readAllLines(p).asScala.drop(1).flatMap { l =>
          for (path <- PathEntry.findFirstMatchIn(l); b <- BatchEntry.findFirstMatchIn(l))
            yield baseName(path.group(1)) -> b.group(1).toLong
        }
      }.toMap
    QueryLog(batches, fileBatch)
  }

  /** What an instance leaves behind for the checks. */
  final case class Instance(dir: Path, logs: Map[String, QueryLog],
                            dueUs: IndexedSeq[Long], releasedUs: IndexedSeq[Long], lagMs: IndexedSeq[Double],
                            derbyUrl: String) {
    def firstReleaseUs: Long = releasedUs.filter(_ > 0).min
    def lastCommitUs: Long = logs.values.flatMap(_.committed.flatMap(_.commitUs)).max
  }

  /** Starts the pipeline over `staged`, releases its files, drains, stops. */
  def instance(spark: SparkSession, run: Main.Run, staged: Staged, tag: String,
               tracer: Option[Tracer]): Instance = {
    val dir = Paths.get(run.dir(s"inst-$tag"))
    val ready = Files.createDirectories(dir.resolve("ready"))
    val watch = Files.createDirectories(dir.resolve("watch"))
    staged.files.foreach(f => Files.createLink(ready.resolve(f), staged.dir.resolve(f)))
    val derbyUrl = s"jdbc:derby:memory:perfbench_$tag;create=true"
    createSessionsTable(derbyUrl)
    val sinks = sinkSet(dir.resolve("out"), Sinks.Jdbc(derbyUrl, "", "", dialect = Sinks.AnsiMerge), tracer)
    val source = spark.readStream.schema(Wire).parquet(watch.toString)
    val now = Trigger.ProcessingTime(0)
    val cfg = ClickstreamPipeline.Config(dir.resolve("ckpt").toString,
      rawTrigger = now, sessionTrigger = now, hourlyTrigger = now, dashboardTrigger = now)

    val releaser = new Releaser(staged, ready, watch)
    tracer.foreach(_.begin())
    val qs = ClickstreamPipeline.start(source, sinks, cfg)
    try {
      // let every query initialise and poll the empty directory first
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(20)
      while (!qs.forall(_.status.message.startsWith("Waiting")) && System.nanoTime() < deadline) Thread.sleep(20)
      val t = new Thread(releaser, "perfbench-releaser"); t.start(); t.join()
      qs.foreach(_.processAllAvailable())
      waitIdle(qs, dir.resolve("ckpt"))
    } finally qs.foreach(_.stop())
    tracer.foreach(_.end())
    val logs = Queries.map(q => q -> readLog(dir.resolve("ckpt").resolve(q))).toMap
    Instance(dir, logs, releaser.dueUs.toIndexedSeq, releaser.releasedUs.toIndexedSeq,
      releaser.lagMs.toIndexedSeq, derbyUrl)
  }

  /** Waits until no query is mid-trigger and every written offset batch has
    * its commit, twice in a row. */
  private def waitIdle(qs: Seq[StreamingQuery], ckpt: Path): Unit = {
    def settled = qs.forall(q => !q.status.isTriggerActive) && Queries.forall { q =>
      val c = ckpt.resolve(q)
      numbered(c.resolve("offsets")).map(_._1).maxOption == numbered(c.resolve("commits")).map(_._1).maxOption
    }
    var stable = 0
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      stable = if (settled) stable + 1 else 0
    }
  }

  private def sinkSet(out: Path, jdbc: Sinks.Jdbc, tracer: Option[Tracer]): ClickstreamPipeline.SinkSet = {
    def spanned(q: String)(f: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
      tracer.fold(f)(t => (df: DataFrame, id: Long) => t.spans(s"sinks.$q", id.toString)(f(df, id)))
    ClickstreamPipeline.SinkSet(
      raw = spanned("raw")(Sinks.parquetAppend(out.resolve("raw").toString)),
      sessions = spanned("sessions")(jdbc.upsert("sessions", "session_id", SessionCols.tail,
        stagingColumnTypes = Some("session_id VARCHAR(64), user_id VARCHAR(64)"))),
      hourly = spanned("hourly")(Sinks.parquetAppend(out.resolve("hourly").toString)),
      dashboard = spanned("dashboard")(jdbc.overwrite("dashboard")))
  }

  /** Renames staged files into the watched directory, one every
    * `LiveFileMs`, logging when each went out and how late that was.
    * `PERFBENCH_FAULT=drop_file` withholds one file. */
  final class Releaser(staged: Staged, ready: Path, watch: Path) extends Runnable {
    val dueUs = Array.fill(staged.files.size)(0L)
    val releasedUs = Array.fill(staged.files.size)(0L)
    val lagMs = Array.fill(staged.files.size)(0.0)
    private val drop =
      if (sys.env.get("PERFBENCH_FAULT").contains("drop_file")) Some(staged.files.size / 2) else None
    def run(): Unit = {
      val t0 = System.nanoTime()
      val t0Us = epochUs()
      staged.files.indices.filterNot(drop.contains).foreach { i =>
        val due = t0 + TimeUnit.MILLISECONDS.toNanos(i.toLong * LiveFileMs)
        dueUs(i) = t0Us + i.toLong * LiveFileMs * 1000
        var wait = due - System.nanoTime()
        while (wait > 0) { TimeUnit.NANOSECONDS.sleep(wait); wait = due - System.nanoTime() }
        Files.move(ready.resolve(staged.files(i)), watch.resolve(staged.files(i)))
        releasedUs(i) = epochUs()
        lagMs(i) = (System.nanoTime() - due) / 1e6
      }
    }
  }

  // ---------------------------------------------------------------- checks

  /** `failed` counts the events some check could not reconcile, plus one
    * for each failed check that names no event. */
  final case class Check(failures: Seq[String], failed: Int,
                         latenciesMs: Seq[Double], summary: Map[String, Any])

  private final case class SessionRow(start: Long, end: Long, total: Long, views: Long, carts: Long,
                                      purchases: Long, amount: BigDecimal, duration: Long, converted: Boolean)
  private final case class HourRow(total: Long, views: Long, carts: Long, purchases: Long,
                                   revenue: BigDecimal, conversion: BigDecimal)

  private def eventMs(e: ClickstreamEvent): Long = Instant.parse(e.timestamp.get).toEpochMilli
  private val HourMs = 3600L * 1000

  def reconcile(spark: SparkSession, staged: Staged, inst: Instance): Check = {
    val ev = staged.events
    val n = ev.size
    val failures = mutable.ArrayBuffer.empty[String]
    val failed = mutable.BitSet.empty
    var unattributed = 0
    def fail(msg: String, idx: Iterable[Int]): Unit = {
      failures += msg; failed ++= idx; if (idx.isEmpty) unattributed += 1
    }
    val idOf = ev.indices.map(i => ev(i).event_id -> i).toMap
    val ts = ev.map(eventMs)

    // raw: every generated event exactly once
    val rawDir = inst.dir.resolve("out").resolve("raw")
    val rawIds = if (Files.isDirectory(rawDir)) spark.read.parquet(rawDir.toString).select("event_id")
      .collect().map(_.getString(0)) else Array.empty[String]
    val rawCounts = rawIds.groupBy(identity).map { case (k, v) => k -> v.length }
    val missing = ev.indices.filterNot(i => rawCounts.contains(ev(i).event_id))
    if (missing.nonEmpty) fail(s"raw: ${missing.size} of $n events missing", missing)
    val dups = rawCounts.filter(_._2 > 1).keys.flatMap(idOf.get)
    if (dups.nonEmpty) fail(s"raw: ${dups.size} events landed more than once", dups)
    val extra = rawCounts.keys.count(k => !idOf.contains(k))
    if (extra > 0) fail(s"raw: $extra rows that were never generated", Nil)

    // sessions: one row per (session_id, user_id) group, never closed
    val expectSessions = ev.indices.groupBy(i => (ev(i).session_id.get, ev(i).user_id)).toSeq
    def fold(idx: Seq[Int]): SessionRow = {
      val es = idx.map(ev); val t = idx.map(ts)
      val p = es.count(_.event_type == "purchase")
      SessionRow(t.min, t.max, es.size, es.count(_.event_type == "page_view"),
        es.count(_.event_type == "add_to_cart"), p,
        es.filter(_.event_type == "purchase").flatMap(_.purchase_amount).map(BigDecimal(_)).sum,
        Math.floorDiv(t.max, 1000L) - Math.floorDiv(t.min, 1000L), p > 0)
    }
    val gotSessions = derbyRows(inst.derbyUrl, s"SELECT ${SessionCols.mkString(", ")} FROM sessions").map { r =>
      r(0).asInstanceOf[String] -> SessionRow(
        r(2).asInstanceOf[java.sql.Timestamp].getTime, r(3).asInstanceOf[java.sql.Timestamp].getTime,
        r(4).asInstanceOf[Long], r(5).asInstanceOf[Long], r(6).asInstanceOf[Long], r(7).asInstanceOf[Long],
        BigDecimal(r(8).asInstanceOf[java.math.BigDecimal]), r(9).asInstanceOf[Int].toLong,
        r(10).asInstanceOf[Boolean])
    }
    val gotById = gotSessions.groupBy(_._1)
    var badSessions = 0
    expectSessions.foreach { case ((sid, _), idx) =>
      val want = fold(idx)
      gotById.get(sid) match {
        case Some(Seq((_, got))) if got == want => ()
        case other => badSessions += 1; failed ++= idx
          if (badSessions <= 5) failures += s"sessions: $sid expected $want, sink has ${other.map(_.map(_._2))}"
      }
    }
    val unexpected = gotById.keySet -- expectSessions.map(_._1._1)
    if (unexpected.nonEmpty) fail(s"sessions: ${unexpected.size} rows for sessions that were never generated", Nil)
    if (badSessions > 5) failures += s"sessions: $badSessions sessions wrong or missing in total"

    // hourly: every window the final watermark closed, on its exact columns
    val hourlyWm = inst.logs("hourly").lastCommittedWatermarkMs
    val hours = ev.indices.groupBy(i => Math.floorDiv(ts(i), HourMs) * HourMs)
    def hourFold(idx: Seq[Int]): HourRow = {
      val es = idx.map(ev)
      val views = es.count(_.event_type == "page_view"); val p = es.count(_.event_type == "purchase")
      HourRow(es.size, views, es.count(_.event_type == "add_to_cart"), p,
        es.flatMap(_.purchase_amount).map(BigDecimal(_)).sum.setScale(2),
        (if (views > 0) BigDecimal(p.toDouble * 100.0 / views.toDouble) else BigDecimal(0.0))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP))
    }
    val hourlyDir = inst.dir.resolve("out").resolve("hourly")
    val gotHours = if (!Files.isDirectory(hourlyDir)) Map.empty[Long, Seq[HourRow]] else
      spark.read.parquet(hourlyDir.toString).collect().toSeq.map { r =>
        r.getAs[java.sql.Timestamp]("hour_timestamp").getTime -> HourRow(
          r.getAs[Long]("total_events"), r.getAs[Long]("page_views"), r.getAs[Long]("cart_additions"),
          r.getAs[Long]("purchases"), BigDecimal(r.getAs[java.math.BigDecimal]("revenue")),
          BigDecimal(r.getAs[java.math.BigDecimal]("conversion_rate")))
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val closed = hours.filter { case (h, _) => h + HourMs <= hourlyWm }
    var badHours = 0
    closed.foreach { case (h, idx) =>
      val want = hourFold(idx)
      gotHours.get(h) match {
        case Some(Seq(got)) if got == want => ()
        case other => badHours += 1; failed ++= idx
          if (badHours <= 5) failures += s"hourly: window ${Instant.ofEpochMilli(h)} expected $want, sink has $other"
      }
    }
    val earlyHours = gotHours.keySet.filter(h => h + HourMs > hourlyWm)
    if (earlyHours.nonEmpty) fail(s"hourly: ${earlyHours.size} windows emitted before the watermark closed them",
      earlyHours.flatMap(hours.getOrElse(_, Nil)))

    // commit latency: scheduled release of an input file -> commit of the
    // last of the four queries' batches that consumed it; timing from the
    // schedule counts any releaser stall
    def commitOf(q: String, file: String): Option[Long] = {
      val log = inst.logs(q)
      log.fileBatch.get(file).flatMap(log.batches.get).flatMap(_.commitUs)
    }
    val latencies = mutable.ArrayBuffer.empty[Double]
    val fileLatencies = mutable.ArrayBuffer.empty[Double]
    var unconsumed = 0
    staged.files.indices.foreach { i =>
      val f = staged.files(i)
      val commits = Queries.map(commitOf(_, f))
      if (inst.releasedUs(i) == 0 || commits.exists(_.isEmpty)) { unconsumed += 1; failed ++= staged.slices(i) }
      else {
        val ms = (commits.flatten.max - inst.dueUs(i)) / 1000.0
        staged.slices(i).foreach(_ => latencies += ms)
        fileLatencies += ms
      }
    }
    if (unconsumed > 0) failures += s"latency: $unconsumed of ${staged.files.size} input files not committed by every query"

    // dashboard: the KPIs of the last batch it committed
    val dash = inst.logs("dashboard")
    val lastDash = dash.committed.lastOption.map(_.id)
    val lastFiles = dash.fileBatch.filter { case (_, b) => lastDash.contains(b) }.keys.toSeq
    val lastIdx = lastFiles.flatMap(f => staged.fileOf.get(f).toSeq.flatMap(staged.slices(_)))
    val gotDash = derbyRows(inst.derbyUrl, "SELECT \"metric_key\", \"metric_value\" FROM dashboard")
      .map(r => r(0).asInstanceOf[String] -> BigDecimal(r(1).asInstanceOf[java.math.BigDecimal]).toDouble).toMap
    if (lastIdx.isEmpty) fail("dashboard: no committed batch", 0 until n)
    else {
      val es = lastIdx.map(ev)
      val want = Map(
        "total_users" -> es.map(_.user_id).distinct.size.toDouble,
        "total_sessions" -> es.flatMap(_.session_id).distinct.size.toDouble,
        "conversion_rate" -> es.count(_.event_type == "purchase") * 100.0 / es.size,
        "total_revenue" -> es.flatMap(_.purchase_amount).map(BigDecimal(_)).sum.toDouble)
      val wrong = want.filter { case (k, v) => gotDash.get(k).forall(g => math.abs(g - v) > 1e-3) }
      if (wrong.nonEmpty) fail(s"dashboard: $wrong differ from the last batch's KPIs $gotDash", lastIdx)
    }

    val (early, late) = fileLatencies.toSeq.splitAt(fileLatencies.size / 2)
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Check(failures.toSeq, failed.size + unattributed, latencies.toSeq, Map(
      "events" -> n, "raw_rows" -> rawIds.length, "sessions_expected" -> expectSessions.size,
      "sessions_rows" -> gotSessions.size,
      "sessions_total_events" -> gotSessions.map(_._2.total).sum,
      "hourly_windows_closed" -> closed.size, "hourly_rows" -> gotHours.size,
      "hourly_closed_events" -> closed.values.map(_.size).sum,
      "hourly_watermark_ms" -> hourlyWm,
      "dashboard_last_batch_events" -> lastIdx.size, "failed_events" -> failed.size,
      "failed_checks_without_events" -> unattributed,
      // a backlog that grows over the run shows as a later half slower than
      // the earlier one: the offered rate is then above capacity
      "latency_p50_ms_first_half" -> median(early), "latency_p50_ms_second_half" -> median(late),
      "file_latency_ms" -> fileLatencies.map(_.round)))
  }

  /** The reference's `analytics.session_metrics` shape, in Derby. */
  private def createSessionsTable(url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE sessions (
        |  session_id VARCHAR(64) PRIMARY KEY, user_id VARCHAR(64),
        |  start_time TIMESTAMP, end_time TIMESTAMP,
        |  total_events BIGINT, page_views BIGINT, add_to_cart_events BIGINT,
        |  purchases BIGINT, total_purchase_amount DECIMAL(10,2),
        |  session_duration_seconds INT, converted BOOLEAN)""".stripMargin)
    finally conn.close()
  }

  private def derbyRows(url: String, sql: String): Seq[IndexedSeq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val cols = rs.getMetaData.getColumnCount
      val out = mutable.ArrayBuffer.empty[IndexedSeq[Any]]
      while (rs.next()) out += (1 to cols).map(i => rs.getObject(i) match {
        case c: java.sql.Clob => c.getSubString(1, c.length.toInt)
        case v => v
      })
      out.toSeq
    } catch { case _: java.sql.SQLException => Nil }
    finally conn.close()
  }

  // ---------------------------------------------------------------- tracing

  /** Listeners and spans of a traced instance. */
  final class Tracer(spark: SparkSession) {
    val engine = new Trace.Engine
    val spans = new Trace.Spans
    val progress = mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)]
    private val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += ((e.progress.name, e.progress)) }
    }
    def begin(): Unit = { spark.sparkContext.addSparkListener(engine); spark.streams.addListener(listener) }
    def end(): Unit = {
      engine.drain(spark)
      spark.streams.removeListener(listener); spark.sparkContext.removeSparkListener(engine)
    }

    private def queryKey(name: String): String = name match {
      case "raw_audit" => "raw"
      case "session_metrics" => "sessions"
      case "hourly_metrics" => "hourly"
      case _ => "dashboard"
    }

    def report(run: Main.Run, staged: Staged, t: Instance, check: Check, tcheck: Check): Map[String, Any] = {
      val L = run.layers
      val from = t.firstReleaseUs / 1000; val to = t.lastCommitUs / 1000
      val w = engine.within(from, to)
      L.put("sources.scan_mb", w.inputMb, "MiB", w.tasks.size)
      L.put("sources.release_lag_ms_p99", Stats.quantile(t.lagMs, 0.99), "ms", t.lagMs.size)
      L.put("operators.jobs", w.jobs, "count")
      L.put("operators.driver_gap_ms", (to - from - w.stageBusyMs).toDouble, "ms")
      L.put("operators.tasks", w.tasks.size, "count")
      L.put("operators.task_run_ms", w.runMs.toDouble, "ms", w.tasks.size)
      L.put("operators.task_cpu_ms", w.cpuMs, "ms", w.tasks.size)
      L.put("operators.gc_ms", w.gcMs.toDouble, "ms", w.tasks.size)
      L.put("operators.shuffle_write_mb", w.shuffleWriteMb, "MiB", w.tasks.size)
      L.put("operators.shuffle_read_mb", w.shuffleReadMb, "MiB", w.tasks.size)
      L.put("operators.spill_mb", w.spillMb, "MiB", w.tasks.size)

      val byQuery = progress.synchronized(progress.toSeq).groupBy { case (n, _) => queryKey(n) }
      val accounted = mutable.LinkedHashMap.empty[String, Any]
      Queries.foreach { q =>
        val ps = byQuery.getOrElse(q, Nil).map(_._2).filter(_.durationMs.containsKey("addBatch"))
        def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
        val trigger = ps.map(p => p.durationMs.get("triggerExecution").toDouble)
        L.put(s"pipeline.$q.batches", ps.size, "count")
        L.put(s"pipeline.$q.trigger_ms_p50", if (trigger.isEmpty) 0.0 else Stats.median(trigger), "ms", trigger.size)
        L.put(s"pipeline.$q.offsets_ms", d("latestOffset") + d("getBatch"), "ms", ps.size)
        L.put(s"pipeline.$q.planning_ms", d("queryPlanning"), "ms", ps.size)
        L.put(s"pipeline.$q.log_commit_ms", d("walCommit") + d("commitOffsets"), "ms", ps.size)
        L.put(s"pipeline.$q.add_batch_ms", d("addBatch"), "ms", ps.size)
        val sinkMs = spans.total(s"sinks.$q").toDouble
        L.put(s"sinks.${q}_ms", sinkMs, "ms", spans.all.count(_.name == s"sinks.$q"))
        val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets").map(d).sum
        accounted(q) = Map("trigger_ms" -> trigger.sum, "phases_ms" -> phases, "add_batch_ms" -> d("addBatch"),
          "sink_span_ms" -> sinkMs,
          "phases_pct" -> (if (trigger.sum > 0) 100.0 * phases / trigger.sum else 0.0))
        if (q == "sessions" || q == "hourly") {
          val st = ps.flatMap(_.stateOperators.headOption)
          L.put(s"state.$q.rows", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
          L.put(s"state.$q.mb", st.lastOption.map(_.memoryUsedBytes / Trace.Mb).getOrElse(0.0), "MiB")
          L.put(s"state.$q.commit_ms", st.map(_.commitTimeMs.toDouble).sum, "ms", st.size)
          L.put(s"state.$q.dropped_by_watermark", st.map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
        }
      }
      val trig = accounted.values.map(_.asInstanceOf[Map[String, Double]]).toSeq
      L.put("trace.accounted_pct", 100.0 * trig.map(_("phases_ms")).sum / math.max(1.0, trig.map(_("trigger_ms")).sum), "%")
      val (head, base) = (Stats.median(tcheck.latenciesMs), Stats.median(check.latenciesMs))
      L.put("trace.overhead_pct", 100.0 * (head - base) / base, "%")
      // the untraced instance's freshness: its run-to-run spread on a
      // shared 4-core host is too wide for an end-to-end bound (README)
      L.put("pipeline.commit_latency_p50_ms", Stats.quantile(check.latenciesMs, 0.5), "ms", check.latenciesMs.size)
      L.put("pipeline.commit_latency_p90_ms", Stats.quantile(check.latenciesMs, 0.9), "ms", check.latenciesMs.size)
      L.put("parse.ms_per_kevent", parseProbe(staged), "ms/kevent")
      L.put("sinks.upsert_ms_per_krow", upsertProbe(staged), "ms/krow")
      Main.absent(L, "entry.build_ms" -> "ms", "entry.build_jobs" -> "count",
        "planning.analysis_ms" -> "ms", "planning.optimizer_ms" -> "ms", "planning.physical_ms" -> "ms",
        "loop.jobs" -> "count", "loop.wall_ms" -> "ms", "loop.driver_gap_ms" -> "ms")
      Map("accounting" -> accounted, "spans" -> spans.all.size, "overhead_basis" -> "commit_latency_p50_ms")
    }

    /** `Parse.parse` alone over the run's own wire rows, materialized into a
      * no-op sink; median of three. */
    private def parseProbe(staged: Staged): Double = {
      val df = spark.read.schema(Wire).parquet(staged.dir.toString)
      val ms = (1 to 3).map { _ =>
        spans("parse.probe")(Main.timed(Parse.parse(df).write.format("noop").mode("overwrite").save())._2)
      }
      Stats.median(ms) / (staged.events.size / 1000.0)
    }

    /** `Jdbc.upsert` alone: the sessions aggregate of the run's events,
      * materialized, upserted into an empty Derby table; median of three. */
    private def upsertProbe(staged: Staged): Double = {
      val agg = Parse.sessionAgg(Parse.parse(spark.read.schema(Wire).parquet(staged.dir.toString)))
      val batch = spark.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
      val rows = batch.count()
      val ms = (1 to 3).map { rep =>
        val url = s"jdbc:derby:memory:perfbench_probe$rep;create=true"
        createSessionsTable(url)
        val jdbc = Sinks.Jdbc(url, "", "", dialect = Sinks.AnsiMerge)
        spans("sinks.upsert.probe")(Main.timed(jdbc.upsert("sessions", "session_id", SessionCols.tail,
          stagingColumnTypes = Some("session_id VARCHAR(64), user_id VARCHAR(64)"))(batch, rep))._2)
      }
      Stats.median(ms) / (rows / 1000.0)
    }
  }
}
