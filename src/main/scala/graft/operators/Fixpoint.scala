package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The fixpoint-loop runner: every operator that re-materializes a bounded
  * label/score frame round after round ([[GraphRank]]'s PageRank family,
  * BFS, k-core, label propagation, Markov and HITS; [[Dedup.dedupClusters]];
  * the tiny BPE train's argmax in [[TextAnalysis]]) supplies its round body,
  * its initial state, the row count it already measures, its stride and its
  * termination. Every loop-planning decision is made here, once per loop:
  *
  *  - Frame partitions: 64 Ki measured rows per partition, clamped to
  *    `defaultParallelism`. The partition count is a per-round scheduling
  *    cost, so it follows the measured size instead of being pinned (r13: a
  *    fixed `coalesce(1)` on an unbounded vertex set is a single-task choke
  *    at scale, while catalog-bounded graphs still collapse to one task).
  *  - Static planning (r16): with AQE on, every exchange in every round runs
  *    as its own query-stage job — the 8-round HITS loop ran 140 jobs for
  *    1.6 s of task time at sf0.1. AQE's per-stage replanning buys
  *    nothing inside these loops: partition counts come from the measured
  *    rows, the join strategy is decidable once from them, and the frame
  *    shapes repeat every round. So the loop runs with AQE off.
  *  - The pin (r17): static planning alone leaves loop exchanges at the
  *    session's shuffle partitions, re-fanning every tiny round aggregate
  *    across all of them (the r16 counter-examples). The loop's shuffle
  *    partitions are pinned to the measured count — the count AQE's
  *    coalescing always picked — but only when that count is strictly below
  *    both the cores and the session's setting, so a large loop or a
  *    deliberately higher cluster setting is never shrunk.
  *  - The broadcast hint (r17): none when pinned to one partition, where a
  *    forced broadcast costs a build job per round (q_centrality_survivors:
  *    0.45 s of task time under 50 jobs) — the static planner still
  *    broadcasts a side its size statistics show to be small — otherwise
  *    [[broadcastIfSmall]].
  *  - Checkpoint cadence: every `stride` rounds and after the last round.
  *  - The round cap: a loop run to a fixpoint throws when it has not
  *    converged within its cap, rather than emitting mid-flight state.
  *
  * Everything outside the loop (corpus-sized builds, final output joins)
  * plans under the session's AQE setting; an oversize loop keeps unhinted
  * shuffle joins on session-sized partitions — the degradation AQE
  * provided, minus the per-round replanning. Results are bit-identical
  * either way: planning only, never arithmetic. */
private[operators] final class Fixpoint private (
    spark: SparkSession, val parts: Int, val pin: Option[Int]) {

  /** `df` broadcast-hinted by the loop's rule: unhinted when pinned to one
    * partition, else [[Fixpoint.broadcastIfSmall]] on `estBytes`. */
  def hint(df: DataFrame, estBytes: Long): DataFrame =
    if (pin.contains(1)) df else Fixpoint.broadcastIfSmall(df, estBytes)

  /** `body` under static planning with this loop's pin. Lazy frames the body
    * returns execute under the caller's setting: materialize inside. */
  def scope[A](body: => A): A = Fixpoint.statically(spark, pin)(body)

  /** Exactly `rounds` rounds of `step` — for fixed-round loops, whose
    * oracle unrolls the same rounds. */
  def run[S](s0: S, rounds: Int, stride: Int)(checkpoint: S => S)
      (step: (S, Int) => S): S =
    iterate(s0, rounds, stride, checkpoint, None)(step)._1

  /** Rounds of `step` until `done(previous, current)` holds for two
    * consecutive checkpointed states (`s0` counts as the first); throws
    * `IllegalStateException(failure)` when `maxRounds` rounds pass without
    * that. */
  def converge[S](s0: S, maxRounds: Int, stride: Int)
      (checkpoint: S => S, done: (S, S) => Boolean, failure: => String)
      (step: (S, Int) => S): S =
    iterate(s0, maxRounds, stride, checkpoint, Some(done))(step) match {
      case (s, true) => s
      case _ => throw new IllegalStateException(failure)
    }

  private def iterate[S](s0: S, maxRounds: Int, stride: Int, checkpoint: S => S,
                         done: Option[(S, S) => Boolean])(step: (S, Int) => S) =
    scope {
      var s = s0; var last = s0; var r = 0; var converged = false
      while (!converged && r < maxRounds) {
        r += 1
        s = step(s, r)
        if (r % stride == 0 || r == maxRounds) {
          s = checkpoint(s)
          converged = done.exists(_(last, s))
          last = s
        }
      }
      (s, converged)
    }
}

private[operators] object Fixpoint {

  private val RowsPerPart = 65536L
  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartsKey = "spark.sql.shuffle.partitions"

  /** The planning decisions for a loop over frames of about `rows` measured
    * rows. */
  def apply(spark: SparkSession, rows: Long): Fixpoint = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val session = scala.util.Try(spark.conf.get(PartsKey).toLong).getOrElse(Long.MaxValue)
    val want = ((rows.max(0L) + RowsPerPart - 1) / RowsPerPart).max(1L)
    val parts = want.min(cores).toInt
    new Fixpoint(spark, parts, if (want < cores && want < session) Some(parts) else None)
  }

  /** Broadcast-hint `df` iff the measured estimate fits a QUARTER of
    * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 disables, Spark's own
    * convention). `estBytes` comes from a row count the loop already pays,
    * times a conservative bytes/row. The quarter (r17): the in-memory
    * HashedRelation a forced hint builds is typically several times the
    * serialized footprint the estimate approximates, so frames near the
    * threshold could force broadcasts AQE's measured-size check would have
    * rejected; between thr/4 and thr the frame keeps the unhinted join. */
  def broadcastIfSmall(df: DataFrame, estBytes: Long): DataFrame = {
    val thr = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
      .stripSuffix("b").stripSuffix("B") match {
      case s if s.isEmpty => -1L
      case s => scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)).getOrElse(-1L)
    }
    if (thr > 0 && estBytes <= thr / 4) broadcast(df) else df
  }

  /** The one place the session's AQE and shuffle-partition settings change:
    * off/pinned for `body`, restored even on throw. The settings are
    * session-global, so a process-wide lock serializes scopes and keeps
    * each save/restore pair intact under concurrent loops. It cannot stop
    * an unrelated query planned concurrently on the same session from
    * planning without AQE (correct results, possibly a worse plan); Verify
    * and Bench run queries sequentially, and a concurrent query runner
    * would need per-loop sessions instead. */
  private val staticLock = new java.util.concurrent.locks.ReentrantLock()
  private def statically[A](spark: SparkSession, pin: Option[Int])(body: => A): A = {
    staticLock.lock()
    try {
      val prevAqe = spark.conf.get(AqeKey)
      val prevParts = spark.conf.get(PartsKey)
      spark.conf.set(AqeKey, "false")
      pin.foreach(p => spark.conf.set(PartsKey, p.toString))
      try body finally {
        spark.conf.set(AqeKey, prevAqe)
        spark.conf.set(PartsKey, prevParts)
      }
    } finally staticLock.unlock()
  }
}
