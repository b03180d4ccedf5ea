package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.Tables

/** Optimization-helper contracts (r17 verdict items 7/8): the Spread gate
  * must stay a no-op at scale — judged from BASE RELATION size, immune to
  * post-filter CBO estimates — and the Fixpoint runner's session-conf
  * scope must restore AQE under concurrency and exceptions, and pin and
  * hint only by its measured-rows rule. In the operators package because
  * both helpers are private[graft]/private[operators]. */
class OptHelpersSpec extends SparkSpec {

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Spread.byKey is a no-op when base relations exceed cores×maxPartitionBytes") {
    // threshold = cores × 1 byte: every parquet relation exceeds it, so the
    // gate must leave the frame untouched (the 100 TB posture)
    withConf("spark.sql.files.maxPartitionBytes", "1") {
      val docs = Tables.documents(spark, sf)
      assert(Spread.byKey(docs, col("doc_id")) eq docs,
        "byKey must return the frame unchanged above the size threshold")
      // CBO-robustness (verdict item 7): a selective filter must not
      // re-enable the spread — the gate reads LEAF sizes, not the
      // post-filter estimate
      val filtered = docs.where(col("doc_id") === 1L)
      assert(Spread.byKey(filtered, col("doc_id")) eq filtered,
        "a post-filter estimate must not re-enable the spread")
    }
  }

  test("Spread.byKey spreads a small relation to a pinned hash partitioning") {
    val docs = Tables.documents(spark, sf) // sf0.001 parquet ≪ 32 × 128 MB
    val spreadDf = Spread.byKey(docs, col("doc_id"))
    assert(!(spreadDf eq docs), "small input must be spread")
    val logical = spreadDf.queryExecution.logical.toString()
    assert(logical.contains("RepartitionByExpression"), logical)
  }

  test("Fixpoint.scope restores AQE and shuffle partitions under concurrent scopes and exceptions") {
    val key = "spark.sql.adaptive.enabled"
    val pKey = "spark.sql.shuffle.partitions"
    assert(spark.conf.get(key) == "true", "precondition: session runs AQE on")
    val parts = spark.conf.get(pKey)
    val loop = Fixpoint(spark, 1L)
    assume(loop.pin.contains(1), "needs a session with more than one core and partition")
    // exception path: the finally must restore
    intercept[RuntimeException] {
      loop.scope { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(key) == "true", "AQE must be restored after a throw")
    assert(spark.conf.get(pKey) == parts, "shuffle partitions must be restored after a throw")
    // concurrency: N interleaved scopes must serialize (the lock) so the
    // save/restore pairing can never race prev=false back into the session
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try loop.scope {
          if (spark.conf.get(key) != "false" || spark.conf.get(pKey) != "1")
            errs.add(s"thread $i: AQE not off or partitions not pinned inside scope")
          Thread.sleep(10)
        } catch { case e: Throwable => errs.add(s"thread $i: $e") }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(spark.conf.get(key) == "true",
      "AQE must be restored after concurrent scopes")
    assert(spark.conf.get(pKey) == parts,
      "shuffle partitions must be restored after concurrent scopes")
  }

  test("broadcastIfSmall applies the thr/4 safety factor") {
    val thr = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold").stripSuffix("b"))
    assume(thr > 0)
    val df = Tables.documents(spark, sf)
    // within thr/4: hinted (new frame); between thr/4 and thr: unhinted
    assert(!(Fixpoint.broadcastIfSmall(df, thr / 4) eq df),
      "estimate within thr/4 must hint broadcast")
    assert(Fixpoint.broadcastIfSmall(df, thr / 4 + 1) eq df,
      "estimate above thr/4 must keep the unhinted join (memory margin)")
  }

  test("Fixpoint pins nothing when the measured count reaches the cores, even below the session's partitions") {
    val cores = spark.sparkContext.defaultParallelism
    withConf("spark.sql.shuffle.partitions", (cores * 4).toString) {
      val big = Fixpoint(spark, cores.toLong * 65536L)
      assert(big.pin.isEmpty, s"a loop of >= cores x 64 Ki rows must not be pinned: ${big.pin}")
      assert(big.parts == cores, "frame partitions stay clamped to the cores")
      assert(Fixpoint(spark, cores.toLong * 65536L * 100L).pin.isEmpty)
      if (cores > 1)
        assert(Fixpoint(spark, 1L).pin.contains(1), "a tiny loop still pins to 1")
    }
  }

  test("dedupClusters hints no broadcast in any round when the loop pins to one partition") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    assume(Fixpoint(spark, 1L).pin.contains(1), "needs session partitions > 1")
    // a 12-vertex chain: ~11 rounds, so several strides, each building its
    // later rounds inside the static scope
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val hinted = new java.util.concurrent.atomic.AtomicInteger(0)
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        executions.incrementAndGet()
        if (qe.analyzed.exists {
              case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
              case _ => false
            }) hinted.incrementAndGet()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val cc = try {
      val out = Dedup.dedupClusters(chain).as[(Long, Long)].collect()
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      out
    } finally spark.listenerManager.unregister(listener)
    assert(cc.length == 12 && cc.forall(_._2 == 1L))
    assert(executions.get > 3, s"expected the loop's executions to be observed: $executions")
    assert(hinted.get == 0,
      s"$hinted of $executions executions carried a broadcast hint")
  }
}
