package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank in fixed-point integer arithmetic — the iterative
  * graph-centrality family (beyond the connected-components clustering in
  * [[Dedup.dedupClusters]]), run as the standard Pregel-as-joins shape:
  * each iteration is ONE equi-join (ranks onto out-edges) plus ONE hash
  * aggregation (contributions by target), both hash-partitioned on node
  * ids — no driver-side graph, no cartesian, linear in |E| per round.
  *
  * All mass is integer (`scale` total, PageRank's p=0.85 as ×85 div 100;
  * per-edge contribution `(rank·w) div strength`), so ranks are
  * bit-reproducible on any engine and partitioning — the same doctrine as
  * the clustering oracles. Integer division sheds a few units of mass per
  * round; that loss is deterministic and identical cross-engine, which is
  * what an oracle-checked sketch needs (a float PageRank would drift in
  * the last ulp per reduction order).
  *
  * Iteration count is FIXED (default 10), not run to a tolerance: the
  * oracle must unroll the same rounds, and at 0.85 damping ten rounds
  * settle well under one fixed-point unit per node on graphs this shape.
  * Reference scope: the reference engine has no graph surface; declared
  * SURVEY extension (training-data pipelines rank entities/documents for
  * curriculum and graph-dedup survivor choice — e.g. centrality-weighted
  * survivor selection over the near-dup graph).
  */
object GraphRank {

  /** Ranks over an undirected weighted edge list `(item_a, item_b, pairs)`
    * (as produced by [[EventAnalytics.cooccurrenceCounts]]): each edge
    * feeds both directions (self-loops once), node set = every node with
    * at least one incident edge (strength > 0, so no dangling mass).
    * Returns (node, rank) for the top `k` by (rank desc, node asc). */
  def weightedPageRank(edges: DataFrame, iterations: Int = 10, k: Int = 50,
                       scale: Long = 1000000000000L): DataFrame = {
    require(k >= 1)
    pageRanks(edges, iterations, scale)
      .orderBy(col("rank").desc, col("node").asc).limit(k)
  }

  /** The full (node, rank) frame behind [[weightedPageRank]] — for
    * consumers that need every node's centrality rather than a top-k
    * (e.g. centrality-weighted survivor selection over a near-dup graph,
    * where the survivor choice joins ranks back onto cluster members). */
  def pageRanks(edges: DataFrame, iterations: Int = 10,
                scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && scale >= 1)
    val dir = edges.select(col("item_a").cast("long").as("src"),
        col("item_b").cast("long").as("dst"), col("pairs").cast("long").as("w"))
      .union(edges.where(col("item_a") =!= col("item_b"))
        .select(col("item_b").cast("long").as("src"),
          col("item_a").cast("long").as("dst"), col("pairs").cast("long").as("w")))
    val strength = dir.groupBy(col("src")).agg(sum(col("w")).as("s"))
    val nDF = strength.agg(count(lit(1)).as("n"))
    // per-node constants: teleport share and the initial uniform rank —
    // broadcast of the 1-row count, computed once, reused every round
    val base = strength.select(col("src").as("node"))
      .crossJoin(broadcast(nDF))
      .select(col("node"),
        expr(s"(15L * (${scale}L div n)) div 100L").as("teleport"),
        expr(s"${scale}L div n").as("rank0"))
    // materialize the loop invariants once and each round's ranks: without
    // this the 10 rounds compile into ONE plan that re-derives the edge
    // list (and its whole upstream) per round — 10× the scan/window work
    // and a planner tree that grows superlinearly. localCheckpoint keeps
    // each round a shallow job over bounded frames (|V| rank rows, |E|
    // edges); on a cluster the same role is played by persist().
    // bounded frames also coalesce before checkpointing: a 100-node rank
    // table spread over 32 shuffle partitions costs a 32-task job per
    // round for nothing — partition counts follow the MEASURED |E|
    // (see [[Fixpoint]]), not the session's shuffle default
    val outEdgesCk = dir.join(strength, "src").localCheckpoint()
    // Overflow headroom (same doctrine as Sampling.systematicWeighted's
    // documented bound): the per-edge contribution `rank * w` reaches
    // scale·max(w) in the worst case (one node holding all mass). Spark
    // multiplies longs with non-ANSI wraparound, so past 2⁶³ the engine
    // would silently diverge from an oracle whose BIGINT raises — fail
    // loudly here instead. One bounded agg over the already-checkpointed
    // edge frame; callers with heavier edges pass a smaller `scale`.
    // null max = empty edge frame (a legal input: a sparse corpus can have
    // zero verified pairs — r12 sparse fuzz); 0 passes the guard and the
    // loop then runs over empty frames to an empty rank table. The same
    // driver action reads |E|, which sizes every loop frame's coalesce.
    val head = outEdgesCk.agg(count(lit(1)), max(col("w"))).head()
    val nE = head.getLong(0)
    val maxW = Option(head.getAs[java.lang.Long](1)).map(_.longValue).getOrElse(0L)
    require(maxW <= 0L || maxW <= Long.MaxValue / scale,
      s"weightedPageRank: scale=$scale x max edge weight=$maxW can overflow " +
        "Long in the per-edge contribution (rank*w); pass a smaller scale " +
        s"(need scale <= ${Long.MaxValue / maxW})")
    val loop = Fixpoint(edges.sparkSession, nE)
    val outEdges = outEdgesCk.coalesce(loop.parts)
    val baseCk = base.coalesce(loop.parts).localCheckpoint()
    val rank = baseCk.select(col("node"), col("rank0").as("rank")).localCheckpoint()
    iterateRanks(loop, outEdges, baseCk, rank, iterations, scoreEstBytes = nE * 24L)
  }

  /** The shared fixed-point loop: one equi-join + one agg per round over a
    * (node, teleport) base frame — the teleport column is what
    * distinguishes uniform PageRank from the personalized variant. The
    * rank-frame broadcast is decided from the measured |E| (|V| ≤ |E| here:
    * every node has an out-edge by construction), so an unbounded vertex
    * set degrades to a shuffle-hash join on the node id instead of a pinned
    * broadcast that would OOM the executors (r13). */
  private def iterateRanks(loop: Fixpoint, outEdges: DataFrame, baseCk: DataFrame,
                           rank0: DataFrame, iterations: Int,
                           scoreEstBytes: Long): DataFrame =
    // stride 2, MEASURED against stride 4 (r16, warm same-JVM reps at
    // sf0.1): stride 4 ran q_entity_pagerank 1.68 → 2.32 s and
    // q_personalized_pagerank 1.68 → 2.33 s median — on these CORPUS-sized
    // rank frames the deeper unmaterialized plan costs more than the saved
    // checkpoint barriers, the opposite of the BPE and Markov results
    // (whose per-round frames are vocabulary-/|types|-sized)
    loop.run(rank0, iterations, stride = 2)(_.localCheckpoint()) { (rank, _) =>
      val contribs = outEdges
        .join(loop.hint(rank.withColumnRenamed("node", "src"), scoreEstBytes), "src")
        .select(col("dst").as("node"), expr("(rank * w) div s").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_mass"))
      baseCk
        .join(loop.hint(contribs, scoreEstBytes), Seq("node"), "left")
        .select(col("node"),
          expr("teleport + (85L * coalesce(in_mass, 0L)) div 100L").as("rank"))
    }

  /** Personalized PageRank: teleport mass flows ONLY to a seed set (here
    * the `seeds` strongest entities, the [[bfsDistances]] seed rule), so
    * ranks measure centrality RELATIVE to the seeds — the
    * "related entities" / local-recommendation primitive, vs the global
    * importance [[weightedPageRank]] reports. Identical fixed-point
    * integer doctrine and per-round plan shape; only the base frame
    * changes (seed rows carry `scale div seeds` initial mass and the full
    * 15% teleport share, everything else zero), so the oracle unrolls the
    * same rounds with a seed CASE. */
  def personalizedPageRank(edges: DataFrame, seeds: Int = 3, iterations: Int = 10,
                           k: Int = 50, scale: Long = 1000000000000L): DataFrame = {
    require(seeds >= 1 && iterations >= 1 && scale >= 1)
    val dir = edges.select(col("item_a").cast("long").as("src"),
        col("item_b").cast("long").as("dst"), col("pairs").cast("long").as("w"))
      .union(edges.where(col("item_a") =!= col("item_b"))
        .select(col("item_b").cast("long").as("src"),
          col("item_a").cast("long").as("dst"), col("pairs").cast("long").as("w")))
    val strength = dir.groupBy(col("src")).agg(sum(col("w")).as("s"))
    val seedDF = strength.orderBy(col("s").desc, col("src").asc).limit(seeds)
      .select(col("src").as("node"), lit(1L).as("is_seed"))
    val seedShare    = scale / seeds
    val teleportSeed = (15L * seedShare) / 100L
    // no hint on the seed join either (r13): seedDF is limit(seeds) rows —
    // AQE broadcasts a frame that small on its own measurement
    val base = strength.select(col("src").as("node"))
      .join(seedDF, Seq("node"), "left")
      .select(col("node"),
        when(col("is_seed").isNotNull, lit(teleportSeed)).otherwise(lit(0L)).as("teleport"),
        when(col("is_seed").isNotNull, lit(seedShare)).otherwise(lit(0L)).as("rank0"))
    val outEdgesCk = dir.join(strength, "src").localCheckpoint()
    // null max = empty edge frame (a legal input: a sparse corpus can have
    // zero verified pairs — r12 sparse fuzz); 0 passes the guard and the
    // loop then runs over empty frames to an empty rank table; the same
    // action reads |E| to size the loop frames' coalesce ([[Fixpoint]])
    val head = outEdgesCk.agg(count(lit(1)), max(col("w"))).head()
    val maxW = Option(head.getAs[java.lang.Long](1)).map(_.longValue).getOrElse(0L)
    require(maxW <= 0L || maxW <= Long.MaxValue / scale,
      s"personalizedPageRank: scale=$scale x max edge weight=$maxW can overflow Long")
    val loop = Fixpoint(edges.sparkSession, head.getLong(0))
    val outEdges = outEdgesCk.coalesce(loop.parts)
    val baseCk = base.coalesce(loop.parts).localCheckpoint()
    val rank = baseCk.select(col("node"), col("rank0").as("rank")).localCheckpoint()
    iterateRanks(loop, outEdges, baseCk, rank, iterations,
        scoreEstBytes = head.getLong(0) * 24L)
      .orderBy(col("rank").desc, col("node").asc).limit(k)
  }

  /** Multi-source BFS distance census over the same undirected weighted
    * edge list — the reachability/radius diagnostic completing the graph
    * family (PageRank = centrality, triangles = density, CC = components,
    * this = distance): from the `seeds` highest-strength entities, the
    * minimum hop count to every node within `hops` rounds, attributed to
    * the NEAREST seed (ties → smallest seed id).
    *
    * Scale shape — frontier-free label-min propagation, the Pregel BFS as
    * joins: per round ONE equi-join (current best labels onto out-edges)
    * plus ONE min-aggregation by target. (dist, root) pairs are packed
    * into a single long `dist·2⁴⁰ + root` so lexicographic (dist, root)
    * minimization is a plain `min(packed)` — integer, bit-reproducible,
    * same-packing mirrored by the SQL oracle. Round count is FIXED (the
    * oracle unrolls the same rounds — the PageRank doctrine); nodes not
    * reached within `hops` report dist = −1 rather than extending the
    * loop, so the result is well-defined at every scale factor.
    *
    * Output is the bounded census (root, dist) → node count + id range:
    * ≤ seeds·(hops+1)+1 rows at any graph size. Requires node ids < 2⁴⁰
    * (entity vocabularies are; checked). */
  def bfsDistances(edges: DataFrame, seeds: Int = 3, hops: Int = 4): DataFrame = {
    require(seeds >= 1 && hops >= 1)
    val Pack = 1L << 40
    val dir = edges.select(col("item_a").cast("long").as("src"),
        col("item_b").cast("long").as("dst"), col("pairs").cast("long").as("w"))
      .union(edges.where(col("item_a") =!= col("item_b"))
        .select(col("item_b").cast("long").as("src"),
          col("item_a").cast("long").as("dst"), col("pairs").cast("long").as("w")))
    val strength = dir.groupBy(col("src")).agg(sum(col("w")).as("s"))
    // null max = empty edge graph (legal: zero co-occurrence pairs on a
    // sparse corpus — the third site of the r12 sparse-fuzz crash class);
    // an empty graph packs trivially and BFS returns an empty frame
    val maxId = Option(strength.agg(max(col("src"))).head()
      .getAs[java.lang.Long](0)).map(_.longValue).getOrElse(0L)
    require(maxId < Pack, s"bfsDistances: node id $maxId >= 2^40 breaks the (dist,root) packing")
    // seed labels: dist 0, root = self → packed = node id
    val seedDF = strength.orderBy(col("s").desc, col("src").asc).limit(seeds)
      .select(col("src").as("node"))
    // propagation graph: (src, dst) only — w already folded into seed
    // choice; the checkpointed frame's count sizes the loop
    val edgesCk0 = dir.select(col("src"), col("dst")).localCheckpoint()
    val nEdges = edgesCk0.count()
    val loop = Fixpoint(edges.sparkSession, nEdges)
    val edgesCk = edgesCk0.coalesce(loop.parts)
    // the seed frame is limit(seeds) rows — structurally bounded, so a
    // single partition is exact, not a pinned guess
    val seeded = seedDF.select(col("node"), col("node").as("packed"))
      .coalesce(1).localCheckpoint()
    // reached ≤ |V| ≤ 2|E|: the label-frame estimate
    val best = loop.run(seeded, hops, stride = 2)(_.coalesce(loop.parts).localCheckpoint()) {
      (cur, _) =>
        val prop = edgesCk
          .join(loop.hint(cur.withColumnRenamed("node", "src"), 2L * nEdges * 24L), "src")
          .select(col("dst").as("node"), (col("packed") + Pack).as("packed"))
        cur.union(prop)
          .groupBy(col("node")).agg(min(col("packed")).as("packed"))
    }
    strength.select(col("src").as("node"))
      .join(best, Seq("node"), "left")
      .select(col("node"),
        when(col("packed").isNull, lit(-1L)).otherwise(expr(s"packed div ${Pack}L")).as("dist"),
        when(col("packed").isNull, lit(-1L)).otherwise(expr(s"packed % ${Pack}L")).as("root"))
      .groupBy(col("root"), col("dist"))
      .agg(count(lit(1)).as("nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy(col("root"), col("dist"))
  }

  /** k-core census (Seidman 1983; the round-based distributed peel of
    * Montresor et al. 2013): for each k, repeatedly drop nodes of degree
    * < k until fixpoint — the maximal subgraph where every node keeps ≥ k
    * neighbors, the standard noise-pruning step before clustering a
    * near-dup or interaction graph (singleton chains and whiskers peel
    * away; the surviving core is where real duplicate mass concentrates).
    *
    * Each round is one degree aggregation plus two semi-joins on the
    * monotonically-shrinking edge set — Pregel-as-joins like the CC /
    * PageRank family — run to a GUARDED fixpoint (a non-converged census
    * can never be emitted; the per-round count that drives the guard is
    * the standard distributed-termination check). Edges are
    * localCheckpointed per round so round N's lineage never replays
    * rounds 1..N−1.
    *
    * The ks peel NESTED, ascending: since the k-core of G equals the
    * k-core of the (k−1)-core of G (cores are nested — Seidman's
    * containment property), each k's peel starts from the PREVIOUS core's
    * edge set, not from the base graph. The k=3 peel therefore runs over
    * the (much smaller) 2-core instead of re-peeling every whisker the
    * k=2 pass already removed — at 100 TB that is the difference between
    * |ks| full-graph peels and one full peel plus incremental shrinks.
    * Output: |ks| rows of (k, core_nodes, core_edges), identical to
    * independent per-k peels. */
  def kCoreCensus(edges: DataFrame, aCol: String, bCol: String,
                  ks: Seq[Int] = Seq(2, 3), maxRounds: Int = KCoreMaxRounds): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val base = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .localCheckpoint()
    // state: the surviving edges and their count n — the count each round
    // already pays for the termination check, which also sizes the
    // keep-set broadcast (nodes ≤ 2n)
    var core = (base, base.count())
    // CUMULATIVE round budget across the nested chain: the flat (from-base)
    // k-peel the oracle unrolls converges within the SUM of nested rounds
    // up to k (P_k is monotone and P_k(A) ⊆ P_j(A) for j ≤ k, so by
    // induction flat round t stays inside nested round t's edge set), so
    // guarding the cumulative count ≤ maxRounds is exactly what makes
    // "oracle unrolled-maxRounds per k = fixpoint = engine" sound.
    var cumRounds = 0
    val loop = Fixpoint(spark, core._2)
    val rows = loop.scope { ks.sorted.map { k =>
      // checkpoint-then-count, NOT an observed metric (r17, measured):
      // riding the count on the checkpoint as an Observation (the
      // dedupClusters pattern) cut 7 jobs but was wall-flat in the quiet
      // window (1.93 vs 1.97 s) and adds one listener-bus await PER ROUND
      // — the only cross-run data point under host load ran 1.46× slower
      // normalized, so the plain count's job-result read wins on
      // robustness.
      if (core._2 > 0L) core = loop.converge(core, maxRounds - cumRounds, stride = 1)(
          { case (e, _) => val ck = e.localCheckpoint(); (ck, ck.count()) },
          (prev, cur) => cur._2 == prev._2,
          s"k-core peel (k=$k) did not converge within $maxRounds cumulative rounds") {
        case ((e, n), _) =>
          cumRounds += 1
          val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
            .groupBy(col("node")).agg(count(lit(1)).as("d"))
          val keep = loop.hint(deg.where(col("d") >= k).select(col("node")), 2L * n * 16L)
          (e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
            .join(keep.select(col("node").as("b")), Seq("b"), "left_semi"), n)
      }
      val (e, n) = core
      val nodes = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .distinct().count()
      (k.toLong, nodes, n)
    } }
    rows.toDF("k", "core_nodes", "core_edges").orderBy(col("k"))
  }

  /** One shared per-k round bound for [[kCoreCensus]] AND its SQL oracle:
    * the oracle unrolls exactly this many peel rounds per k, and the
    * engine's guard refuses to emit a census that has not converged within
    * the same bound — so "unrolled-N = fixpoint = engine" holds by
    * construction (a graph needing more rounds fails loudly in the engine
    * instead of hash-mismatching against a truncated oracle). */
  val KCoreMaxRounds: Int = 24

  /** Synchronous label-propagation communities (Raghavan, Albert & Kumara
    * 2007) over the undirected weighted entity graph: every node starts
    * as its own label; each round it adopts the label with the greatest
    * incident edge weight (ties to the SMALLEST label — the determinism
    * rule that makes synchronous LPA reproducible, where the classic
    * random-order variant is not). Communities are the densely-linked
    * subsets WITHIN a connected component — the finer structure
    * [[Dedup.dedupClusters]]' min-label CC deliberately ignores.
    *
    * Fixed round count (like the PageRank family): the oracle unrolls the
    * same rounds, so a non-converged labeling is still bit-identical on
    * both engines. Each round is one equi-join (labels onto edges) + one
    * weighted vote aggregation + one deterministic argmax — Pregel-as-
    * joins, linear in |E| per round, no driver-side graph. Output is the
    * community census (label, size, min/max member).
    *
    * The per-round label join is broadcast only when the measured |E|
    * says the |V|-row label frame is small ([[Fixpoint]]): |V| is the
    * entity catalog here (~10⁴ at any SF of this corpus), but it is NOT
    * structurally bounded the way [[markovStationary]]'s |types|² frame
    * is, and at a ~10⁸-item catalog a pinned broadcast would OOM the
    * executors where the unhinted plan degrades gracefully to a shuffle
    * join on `src`. */
  def labelPropagation(edges: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1)
    val dir0 = edges.select(col("item_a").cast("long").as("src"),
        col("item_b").cast("long").as("dst"), col("pairs").cast("long").as("w"))
      .union(edges.where(col("item_a") =!= col("item_b"))
        .select(col("item_b").cast("long").as("src"),
          col("item_a").cast("long").as("dst"), col("pairs").cast("long").as("w")))
      .localCheckpoint()
    // |E| count off the cached blocks sizes every loop frame ([[Fixpoint]])
    val nE = dir0.count()
    val loop = Fixpoint(edges.sparkSession, nE)
    val dir = dir0.coalesce(loop.parts)
    val lab0 = dir.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .coalesce(loop.parts).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("node"))
      .orderBy(col("v").desc, col("label").asc)
    // label frame ≤ |V| ≤ |E| rows
    val lab = loop.run(lab0, rounds, stride = 2)(_.coalesce(loop.parts).localCheckpoint()) {
      (cur, _) =>
        dir.join(loop.hint(cur.withColumnRenamed("node", "src"), nE * 24L), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(sum(col("w")).as("v"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).select(col("node"), col("label"))
    }
    lab.groupBy(col("label"))
      .agg(count(lit(1)).as("nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy(col("label"))
  }

  /** Stationary distribution of the per-user event-type Markov chain —
    * the steady-state of [[EventAnalytics.typeTransitions]]' behavior
    * model ("where does a session spend its time in the long run?"),
    * estimated as damped power iteration over the DIRECTED weighted
    * transition graph. Same fixed-point integer doctrine as
    * [[weightedPageRank]] (total mass `scale`, damping ×85 div 100,
    * per-edge flow `(rank·w) div s` — bit-reproducible on any engine and
    * partitioning; the oracle unrolls the identical rounds), but the
    * graph is NOT symmetrized: edges are conditional transitions
    * P(next|prev), the state set is the UNION of sources and targets,
    * and a state with no outgoing transitions simply sheds its damped
    * mass (the standard dangling simplification — deterministic, and
    * identical in the oracle).
    *
    * Shape: the transition matrix is the |types|² bounded frame from one
    * user-windowed lag + one hash agg; every round is a broadcast join +
    * agg over that bounded frame. The event scan happens once (the lag
    * window is the sessionization exchange shape). */
  def markovStationary(events: DataFrame, iterations: Int = 12,
                       scale: Long = 1000000000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"), col("event_id"))
    // null-category doctrine (same rule as typeTransitions): a null-typed
    // event is no state — skip it BEFORE the lag so it neither emits a
    // NULL chain state nor breaks a real A→B adjacency into A→NULL/NULL→B.
    // The oracle's `e` CTE filters identically.
    val trans = Spread.byKey(events.where(col("event_type").isNotNull),
        col("user_id")) // pins the lag-window exchange's parallelism locally
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    // the transition frame is ≤ |types|² rows — structurally bounded by
    // the event-type catalog — but its coalesce is still derived from the
    // measured count ([[Fixpoint]]), same rule as the unbounded graphs
    val loop = Fixpoint(events.sparkSession, trans.count())
    val states = trans.select(col("src").as("state"))
      .union(trans.select(col("dst").as("state"))).distinct()
    val strength = trans.groupBy(col("src")).agg(sum(col("w")).as("s"))
    // scalar state count: the same distributed-check precedent as
    // kCoreCensus' termination count; failing loudly here beats the
    // ANSI div-by-zero an empty chain would otherwise throw mid-plan
    val k = states.count()
    require(k > 0, "markovStationary: the event stream has no transitions")
    val base = states
      .select(col("state"),
        lit((15L * (scale / k)) / 100L).as("teleport"),
        lit(scale / k).as("rank0"))
      .coalesce(loop.parts).localCheckpoint()
    val out = trans.join(strength, "src").coalesce(loop.parts).localCheckpoint()
    val rank0 = base.select(col("state"), col("rank0").as("rank")).localCheckpoint()
    // stride-4 checkpointing: the |types|-row frames make each round's plan
    // trivially cheap to recompute, so the job round-trips of a
    // materialization dominate — fewer, deeper checkpoints win here (unlike
    // the corpus-sized PageRank frames at stride 2). The rank and
    // contribution frames hold ≤ k rows.
    val rank = loop.run(rank0, iterations, stride = 4)(_.localCheckpoint()) { (cur, _) =>
      val contribs = out
        .join(loop.hint(cur.withColumnRenamed("state", "src"), k * 24L), "src")
        .select(col("dst").as("state"), expr("(rank * w) div s").as("c"))
        .groupBy(col("state")).agg(sum(col("c")).as("in_mass"))
      base
        .join(loop.hint(contribs, k * 24L), Seq("state"), "left")
        .select(col("state"),
          expr("teleport + (85L * coalesce(in_mass, 0L)) div 100L").as("rank"))
    }
    rank.orderBy(col("rank").desc, col("state").asc)
  }

  def triangleCounts(edges: DataFrame, k: Int = 30): DataFrame = {
    // canonical undirected edges a < b, self-loops out
    val e = edges.where(col("item_a") < col("item_b"))
      .select(col("item_a").cast("long").as("a"), col("item_b").cast("long").as("b"))
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // orient by (degree, id): src is the smaller endpoint in that order
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("src"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("dst"))
    // wedges from shared apex; close against the canonical edge set
    val o1 = oriented.select(col("src"), col("dst").as("d1"))
    val o2 = oriented.select(col("src"), col("dst").as("d2"))
    val wedges = o1.join(o2, Seq("src")).where(col("d1") < col("d2"))
    val tri = wedges.join(e,
      least(col("d1"), col("d2")) === col("a") &&
        greatest(col("d1"), col("d2")) === col("b"))
      .select(col("src").as("x"), col("d1").as("y"), col("d2").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(0.0)).otherwise(
          floor((lit(2.0) * coalesce(col("triangles"), lit(0L)))
            / (col("degree") * (col("degree") - 1)) * 10000.0) / 10000.0)
          .as("clustering_coeff"))
      .orderBy(col("triangles").desc, col("node").asc)
      .limit(k)
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED weighted
    * edge list `(src, dst, w)` — the direction-aware sibling of
    * [[weightedPageRank]]: on an entity-transition graph an *authority*
    * is an entity many strong hubs lead INTO (a destination), a *hub* is
    * one that leads into many strong authorities (a gateway). PageRank on
    * the symmetrized graph cannot separate the two roles; HITS is the
    * standard mutual-reinforcement pair.
    *
    * Fixed-point integer arithmetic throughout, same doctrine as
    * [[pageRanks]]: each round is two Pregel-as-joins half-steps
    * (authority pull over in-edges, hub pull over out-edges), each ONE
    * equi-join + ONE hash aggregation over frames bounded by |V|/|E|. The
    * per-half-step renormalization divides by `max(1, max(raw) div scale)`
    * — division only, no multiplication, so the rescale itself can never
    * overflow (the `Spectral.powerIteration` matrix-rescale shape), and
    * the normalized scores stay in [0, ~2·scale). The per-term product
    * `w · h` is the only multiplication; the overflow guard bounds the
    * aggregate by `2·scale·Σw` against Long.MaxValue and fails loudly
    * (Spark wraps silently; the BIGINT oracle would raise — same rule as
    * the PageRank guard).
    *
    * Iteration count is FIXED (default 8) so the oracle unrolls the same
    * rounds; with max-renormalization each half-step, 8 rounds settle the
    * top-k order on graphs this shape. Per round the two raw frames are
    * localCheckpointed (bounded |V| rows) so the 8-round plan stays
    * shallow; the normalized view rides the next half-step's plan lazily
    * — it is one broadcast-scalar join over the checkpointed raw frame.
    * The |V|-row score frame is broadcast only when the measured |E| says
    * it is small (the [[labelPropagation]] doctrine), and degrades to a
    * shuffle-hash join on an unbounded vertex set.
    *
    * Returns the top `k` nodes by (authority desc, hub desc, node asc) —
    * a total order, so the limit is deterministic. Nodes with no in-edges
    * report authority 0; no out-edges, hub 0. */
  def hitsScores(edges: DataFrame, iterations: Int = 8, k: Int = 25,
                 scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && k >= 1 && scale >= 1)
    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .localCheckpoint()
    // null sum = empty edge frame (legal: a sparse corpus can have zero
    // transitions — the r12 sparse-fuzz doctrine); 0 passes the guard and
    // the loop runs over empty frames to an empty score table; the same
    // action reads |E| to size every loop frame's coalesce ([[Fixpoint]])
    val head = e0.agg(count(lit(1)), sum(col("w"))).head()
    val totW = Option(head.getAs[java.lang.Long](1)).map(_.longValue).getOrElse(0L)
    val loop = Fixpoint(edges.sparkSession, head.getLong(0))
    val p = loop.parts
    val e = e0.coalesce(p)
    // divide twice instead of forming 2*scale: a caller-supplied
    // scale > Long.MaxValue/2 would wrap the product negative and let the
    // guard pass vacuously (r13 ADVICE)
    require(totW <= Long.MaxValue / 2 / scale,
      s"hitsScores: scale=$scale x total edge weight=$totW can overflow Long " +
        s"in the half-step sum (w*h); pass a smaller scale " +
        s"(need scale <= ${Long.MaxValue / 2 / totW.max(1L)})")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().coalesce(p).localCheckpoint()
    // KEEPS the score-frame broadcast hint even when pinned to one
    // partition (r17, measured): unlike the pagerank/CC loops, the edge
    // frame here is ~1.7 MB at sf0.1 and the unhinted single-partition
    // sort-merge join re-shuffles it TWICE per half-step — A/B 2.37 s
    // (hint) vs 2.85 s (no hint). The pin alone still trims the stage
    // fan-out. Score frames ≤ |V| ≤ 2|E| rows.
    def scoreB(df: DataFrame): DataFrame =
      Fixpoint.broadcastIfSmall(df, 2L * head.getLong(0) * 24L)
    // state (hub, auth): the raw half-step frames are checkpointed inside
    // the round, and the normalized views over them stay lazy
    val start = (nodes.select(col("node"), lit(scale).as("h")),
      nodes.select(col("node"), lit(scale).as("a")))
    val (hub, auth) = loop.run(start, iterations, stride = 1)(identity) { case ((h, _), _) =>
      val araw = e.join(scoreB(h.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), (col("w") * col("h")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("araw"))
        .coalesce(p).localCheckpoint()
      val a = nodes.join(scoreB(araw), Seq("node"), "left")
        .crossJoin(broadcast(araw.agg(max(col("araw")).as("amax"))))
        .select(col("node"),
          coalesce(expr(s"araw div greatest(1L, amax div ${scale}L)"),
            lit(0L)).as("a"))
      val hraw = e.join(scoreB(a.withColumnRenamed("node", "dst")), "dst")
        .select(col("src").as("node"), (col("w") * col("a")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("hraw"))
        .coalesce(p).localCheckpoint()
      (nodes.join(scoreB(hraw), Seq("node"), "left")
        .crossJoin(broadcast(hraw.agg(max(col("hraw")).as("hmax"))))
        .select(col("node"),
          coalesce(expr(s"hraw div greatest(1L, hmax div ${scale}L)"),
            lit(0L)).as("h")), a)
    }
    nodes.join(auth, Seq("node")).join(hub, Seq("node"))
      .select(col("node"), col("a").as("authority"), col("h").as("hub"))
      .orderBy(col("authority").desc, col("hub").desc, col("node").asc)
      .limit(k)
  }
}
