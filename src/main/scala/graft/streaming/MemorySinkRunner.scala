package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared harness for the oracle-facing streaming queries: run an
  * append-mode plan to completion against the memory sink and hand back the
  * captured result. Owns the bits the streaming query families were each
  * duplicating — unique query naming, the shuffle-partition override (the
  * partition count bakes into the checkpoint, and state-store open/commit
  * per partition per micro-batch is pure overhead for small result sets),
  * and start/processAllAvailable/stop discipline.
  *
  * Partition sizing is measured, not guessed: at sf0.1 (100k events,
  * 91k emitted sessions) the session query runs ~2.0 s at 4 partitions,
  * ~2.4 s at 16, ~2.4 s at 32 — per-partition state-store open/commit
  * outweighs added parallelism even at this state size, so callers pass
  * 4–8. (Sweep via GRAFT_STREAM_PARTS=N; per-phase and per-batch timings
  * via GRAFT_STREAM_DEBUG=1 — both dev-only knobs.)
  *
  * Lifecycle contract: the result is COPIED out of the memory sink into a
  * local relation, the sink's temp view is dropped and its one-run
  * checkpoint deleted before returning — nothing accumulates in driver
  * memory or on disk across invocations. Checkpoints live under
  * `java.io.tmpdir` and are throwaways by construction (each run gets a
  * fresh name). The whole run is serialized
  * on this object: the session-conf override around start() would race any
  * concurrent planner in the same session, so only one streaming oracle
  * query starts at a time (concurrent STREAMING execution belongs to
  * ClickstreamPipeline, which owns its queries' confs up front).
  */
private[streaming] object MemorySinkRunner {
  private val counter = new AtomicInteger()

  /** Raw `StreamingQueryProgress.json` lines of the most recent run —
    * dev-only hook for [[ScaleProbe]]'s per-micro-batch state-store
    * curve. Captured ONLY while [[captureProgress]] is set (ScaleProbe
    * flips it for its runs): the production driver-contract queries must
    * not retain a suite-lifetime copy of the last query's full progress
    * JSON on the driver (r15 ADVICE). Runs on this object are serialized
    * (see lifecycle contract), so plain vars are safe. */
  private[streaming] var lastRunProgress: Seq[String] = Nil
  private[streaming] var captureProgress: Boolean = false

  // per-process root: two concurrent harness JVMs (a dev verify beside a
  // driver bench) must never see each other's offset logs — a structured
  // streaming query refuses to start over a foreign checkpoint. Lazily
  // initialized ONCE per process so first use can clear any stale root a
  // crashed JVM with a since-reused pid left behind: per-run names restart
  // at _1 each process, so a foreign leftover under the same pid would
  // collide with our first run. The sweep beside it reaps siblings whose
  // owning pid is dead.
  private lazy val checkpointRoot: Path = {
    val base = Paths.get(System.getProperty("java.io.tmpdir"))
    try {
      import scala.jdk.CollectionConverters._
      val kids = Files.list(base)
      try kids.iterator.asScala
        .filter(_.getFileName.toString.startsWith("graft_ck_"))
        .foreach { p =>
          val pid = p.getFileName.toString.stripPrefix("graft_ck_")
          val alive = pid.toLongOption.exists(id =>
            ProcessHandle.of(id).map[Boolean](_.isAlive).orElse(false))
          if (!alive) deleteRecursively(p)
        }
      finally kids.close()
    } catch { case _: Throwable => () } // best-effort: sweep must never fail a run
    val mine = base.resolve(s"graft_ck_${ProcessHandle.current().pid()}")
    deleteRecursively(mine) // process-private by construction; anything here is stale
    mine
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .foreach(f => try Files.delete(f) catch { case _: Throwable => () })
      finally walk.close()
    }

  /** `needNoDataBatch = false` disables the trailing no-data micro-batch
    * for runs whose sink is already complete after the data batches:
    * update/complete-mode aggregations (no closure rule — groups emit on
    * change), dedup pass-through, and INNER interval joins (pairs emit
    * when both rows have arrived). Append-mode aggregations and OUTER
    * joins MUST keep it — their final emissions happen on the
    * watermark-advancing empty batch. The flag only skips state
    * maintenance work (eviction before stop), never changes sink rows. */
  def run(spark: SparkSession, df: DataFrame, namePrefix: String,
          shufflePartitions: Int, outputMode: String = "append",
          needNoDataBatch: Boolean = true): DataFrame = synchronized {
    val name  = s"${namePrefix}_${counter.incrementAndGet()}"
    val ckDir = Files.createDirectories(checkpointRoot).resolve(name)
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val splitKey  = "spark.sql.files.maxPartitionBytes"
    val openKey   = "spark.sql.files.openCostInBytes"
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.get(noDataKey)
    val prevSplit = spark.conf.get(splitKey)
    val prevOpen  = spark.conf.get(openKey)
    val parts = sys.env.get("GRAFT_STREAM_PARTS") // dev-only sweep knob
      .map(_.toInt).getOrElse(shufflePartitions)
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    spark.conf.set(noDataKey, needNoDataBatch.toString)
    // the staged source is a handful of SMALL files (StreamingHourly
    // splits it on purpose); at the default 128 MB/4 MB split params they
    // all pack into ONE scan task and batch-0 decode runs serial. Shrink
    // the bin size so each staged slice scans on its own thread.
    spark.conf.set(splitKey, (1L << 20).toString)
    spark.conf.set(openKey, "0")
    val debug = sys.env.get("GRAFT_STREAM_DEBUG").contains("1")
    def t[A](label: String)(f: => A): A =
      if (!debug) f else {
        val t0 = System.nanoTime(); val r = f
        System.err.println(f"[msr] $name $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
      }
    val q =
      try t("start") {
        df.writeStream
          .format("memory").queryName(name)
          .option("checkpointLocation", ckDir.toString)
          .outputMode(outputMode)
          .start()
      } finally {
        // shuffle partitions and the no-data flag are captured by the
        // query at start; the file-split params are read at every
        // micro-batch's scan planning, so they restore after the run
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
        spark.conf.set(noDataKey, prevNoData)
      }
    try {
      try t("processAllAvailable")(q.processAllAvailable()) finally {
        t("stop")(q.stop())
        spark.conf.set(splitKey, prevSplit)
        spark.conf.set(openKey, prevOpen)
      }
      if (debug) q.recentProgress.foreach(p =>
        System.err.println(s"[msr] $name batch ${p.batchId}: ${p.durationMs} rows=${p.numInputRows}" +
          (if (sys.env.get("GRAFT_STREAM_DEBUG_FULL").contains("1")) s"\n${p.json}" else "")))
      if (captureProgress) lastRunProgress = q.recentProgress.toSeq.map(_.json)
      val sunk = spark.table(name)
      // parallelize, not a driver LocalRelation: a local relation converts
      // every external Row to InternalRow on ONE thread per action — ~1 s
      // for a 100k-row sink result, paid again by each downstream action.
      // Slicing the copied rows across the executor threads makes the
      // conversion parallel and keeps the downstream reduction distributed.
      val local = t("collect") {
        val rows = sunk.collect()
        val slices = math.min(32, math.max(1, rows.length / 4096))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toIndexedSeq, slices), sunk.schema)
      }
      spark.catalog.dropTempView(name)
      local
    } finally deleteRecursively(ckDir)
  }
}
