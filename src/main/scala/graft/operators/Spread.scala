package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive fan-out for CPU-heavy lanes (optimization round r16).
  *
  * The failure mode (GraftSession scaladoc, guide §2.5 "input skew"): a
  * parquet file with ≤ a handful of row groups delivers ALL its rows to
  * one or two scan tasks no matter the split count — row groups are the
  * decode atom — so every downstream projection until the first exchange
  * (JSON parsing, case folding, tokenization, per-shingle/per-cell md5,
  * explodes) runs serially while the other cores idle. Measured at sf0.1:
  * 100+ queries spent 0.3–6 s in single-task stages (tools/ProfileAll
  * `serial1` column); q_bm25_top_docs alone serialized 6.2 s of CPU.
  *
  * The fix is the established pre-explosion-repartition doctrine
  * (Stats.bootstrapMedianCi, Similarity.topKCosine, Multimodal.pngMedia)
  * made SCALE-ADAPTIVE: hash-exchange the frame on a stable key ONLY when
  * the plan's estimated input size says the scan cannot reach the session's
  * parallelism on its own (size < defaultParallelism × maxPartitionBytes).
  * At 100 TB the condition is false — the scan already runs thousands of
  * splits and the exchange would be a pure waste (guide §2.4: remove
  * shuffles outright) — so the helper is a no-op there by construction,
  * not by configuration. Results are partitioning-independent everywhere
  * this is applied (hash aggregations / joins downstream), so the exchange
  * is physical-only.
  */
private[graft] object Spread {

  /** `df` hash-partitioned on `key` across the cores when the estimated
    * input is too small for the scan to parallelize; `df` unchanged
    * otherwise. The explicit partition count pins the fan-out so AQE's
    * coalescing (which sees only the small PRE-explosion bytes) cannot
    * fold the lane back onto one task.
    *
    * Gate hardening (r17, verdict item 7): the size read is the SUM OF THE
    * LEAF RELATIONS' sizes, not the post-optimizer estimate of `df` itself.
    * With CBO filter-selectivity estimation on, a selective predicate over
    * a 100 TB relation can estimate under `cores × maxPartitionBytes` and
    * the old gate would have added a full (useless) shuffle at scale; the
    * question the gate actually asks is "can the SCAN reach session
    * parallelism on its own", and that is a property of the base
    * relations. Any unreadable stats default to Long.MaxValue = no spread
    * (fail toward the scale-safe no-op). */
  /** True when the SUM of `df`'s leaf-relation sizes is below
    * `defaultParallelism × maxPartitionBytes` — i.e. the scan cannot reach
    * session parallelism on its own and single-task lanes are the session's
    * cost model, not data volume. The shared gate behind [[byKey]] and the
    * fixpoint loops' tiny-loop planning; false (scale posture) whenever
    * stats are unreadable. */
  def isTiny(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val splitBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val est =
      try df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).foldLeft(BigInt(0))(_ + _)
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    est < BigInt(cores) * splitBytes
  }

  def byKey(df: DataFrame, key: Column*): DataFrame = {
    // GRAFT_SPREAD=0: dev-only A/B switch (disables every spread site) —
    // lets a single build measure spread-on vs spread-off back-to-back;
    // Verify and Bench never set it
    if (sys.env.get("GRAFT_SPREAD").contains("0")) return df
    if (isTiny(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism, key: _*)
    else df
  }
}
