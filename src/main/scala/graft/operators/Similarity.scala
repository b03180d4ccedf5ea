package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cols
import graft.plans.VectorExpressions.{fvecDot, fvecNorm}

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label): brute-force cosine top-k as the exact baseline, and
  * random-hyperplane LSH bucketing as the scale path.
  *
  * Vector math uses the engine's native codegen'd Catalyst expressions
  * ([[graft.plans.VectorExpressions]]) — a tight Java loop per pair instead
  * of an interpreted lambda per element (~10× on the O(n²) scan). The
  * higher-order-function forms are kept ([[dotHof]]) as the semantic
  * reference: both widen float→double before multiplying and fold
  * left-to-right from 0.0, so they are bit-identical.
  *
  * Scale notes:
  *  - Norms are projected ONCE per vector before any join; pairs then pay
  *    one dot product and two scalar multiplies, not three vector folds.
  *  - Brute force is a broadcast nested-loop of |queries| × N — correct
  *    baseline, linear in corpus size, viable when |queries| is small.
  *  - LSH path reduces candidates to one equi-join on a hyperplane-sign
  *    bucket code; recall/latency trades by the number of planes.
  */
object Similarity {

  def dot(a: Column, b: Column): Column  = fvecDot(a, b)
  def norm(a: Column): Column            = fvecNorm(a)
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Semantic reference implementations (interpreted higher-order funcs);
    * used by tests to pin the codegen expressions' IEEE op order. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
  def normHof(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Per-vector L2 norms (sanity/oracle query). */
  def norms(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      Cols.asDec4(norm(col("embedding"))).as("l2_norm"))

  /** Exact top-k cosine neighbors for each query vector. `queries` must be
    * small (it is broadcast); the corpus side streams, paying one codegen'd
    * dot per candidate with both norms precomputed.
    *
    * The corpus is hash-spread over the cores before the ×|queries| row
    * explosion (the [[graft.operators.Stats.bootstrapMedianCi]] pre-explode
    * doctrine): a corpus small enough to scan as one split — one parquet
    * row group — would otherwise stream the ENTIRE pair blow-up through a
    * single task (the r13 ×16 scale gate measured exactly that: 32k vecs ×
    * 6.4k queries on one core), while the narrow (id, vec, norm) shuffle
    * this costs is linear and tiny. */
  def topKCosine(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val parts = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
      .repartition(parts, col("vec_id"))
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm")))
    val scored = c
      .join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (fvecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        Cols.asDec4(col("cos")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Top-k via the engine's heap aggregate ([[graft.plans.TopKAggregate]])
    * instead of a ranking window: candidates never sort or shuffle — each
    * partition keeps an O(k) heap per query and ships only k pairs. Same
    * output contract (and oracle) as [[topKCosine]]; this is the plan you
    * run when candidates-per-query is large. */
  def topKCosineAgg(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    // same pre-explosion spread as [[topKCosine]] — the heap still has to
    // SEE every candidate, so single-split inputs must fan out first
    val parts = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .repartition(parts, col("vec_id"))
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm")))
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (fvecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    scored.groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate.topk(
        struct(col("cos"), col("neighbor_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("neighbor_id"), Cols.asDec4(col("p.score")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --------------------------------------------------------------- LSH path

  val NumPlanes = 16
  val Dim       = 64

  /** Fixed random hyperplanes (seeded; constants baked into the plan).
    * Exposed so the SQL oracle can embed the identical constants — Scala's
    * Double.toString round-trips exactly, so both engines see the same
    * plane vectors bit-for-bit. */
  val planes: Seq[Seq[Double]] = {
    val r = new scala.util.Random(7)
    Seq.fill(NumPlanes)(Seq.fill(Dim)(r.nextGaussian()))
  }

  /** Hyperplane-sign bucket code over an explicit plane slice. */
  def bucketCodeOf(emb: Column, planeSlice: Seq[Seq[Double]]): Column =
    planeSlice.zipWithIndex.map { case (p, i) =>
      val d = aggregate(
        zip_with(emb, typedlit(p), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(d >= 0, shiftleft(lit(1), i)).otherwise(lit(0))
    }.reduce(_.bitwiseOR(_))

  /** Hyperplane-sign bucket code. `numPlanes` trades recall vs bucket size:
    * more planes → smaller buckets → fewer comparisons, lower recall. Sized
    * so that expected bucket occupancy ≈ corpus_size / 2^numPlanes stays in
    * the hundreds at the target scale. */
  def bucketCode(emb: Column, numPlanes: Int = NumPlanes): Column =
    bucketCodeOf(emb, planes.take(numPlanes))

  /** Bucketed ANN: candidates share the hyperplane bucket; exact cosine is
    * computed only within buckets. One equi-join shuffle on the bucket code,
    * norms precomputed per vector. */
  def annCosineLsh(embeddings: DataFrame, minCosine: Double = 0.8,
                   numPlanes: Int = NumPlanes): DataFrame = {
    // materialize before the self-join: the interpreted numPlanes×dim
    // bucket-code fold would otherwise run once per alias branch
    val coded = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      bucketCode(col("embedding"), numPlanes).as("bucket"))
      .localCheckpoint()
    val l = coded.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val r = coded.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    l.join(r, Seq("bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Cols.asDec4(fvecDot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .where(col("cosine") >= minCosine)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Multi-probe LSH ANN (Lv et al., "Multi-Probe LSH", VLDB 2007 — the
    * probing-sequence idea specialized to hyperplane signs): each query
    * examines its own bucket PLUS every 1-bit-flip neighbor, so one table
    * at `numPlanes` planes reaches the recall that would otherwise need
    * many tables — probing is query-side replication (numPlanes+1 rows per
    * query), not another corpus-wide index.
    *
    * Scale shape: the corpus is coded once (scan-side projection); probes
    * are a tiny exploded frame that BROADCASTS onto the corpus bucket
    * equi-join; ranking is the bounded [[graft.plans.TopKAggregate]] heap
    * on the raw cosine (ties to the lower id — the exact order the
    * oracle's ranking window states). A corpus vector owns one bucket and
    * the probe set per query is distinct, so no pair can duplicate — no
    * distinct pass. */
  def annMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                    numPlanes: Int = 8): DataFrame = {
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      bucketCode(col("embedding"), numPlanes).as("bucket"))
    val probes = broadcast(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          norm(col("embedding")).as("q_nrm"),
          bucketCode(col("embedding"), numPlanes).as("qb"))
        .select(col("query_id"), col("q_emb"), col("q_nrm"),
          explode(array((col("qb") +:
            (0 until numPlanes).map(i => col("qb").bitwiseXOR(lit(1 << i)))): _*))
            .as("bucket")))
    c.join(probes, Seq("bucket"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        (fvecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate.topk(struct(col("cos"), col("corpus_id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("p.id").as("neighbor_id"), Cols.asDec4(col("p.score")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-space quality eval: leave-one-out k-NN label agreement —
    * the standard label-coherence probe run before trusting an embedding
    * column for semantic dedup or retrieval (a k-NN-classifier eval in
    * census form). Queries are a deterministic hash slice of the corpus
    * (the eval-on-a-sample doctrine — at 100 TB nobody evals on every
    * vector); neighbors come from the exact broadcast top-k (the
    * recall-oracle shape: sampled queries broadcast, the corpus streams),
    * and the census reports, per query label, how many of the k nearest
    * neighbors carry the SAME label. A healthy embedding space scores far
    * above the label-prior baseline; a collapsed one converges to it. */
  def knnLabelAgreement(embeddings: DataFrame, k: Int = 5,
                        num: Int = 1, den: Int = 5): DataFrame = {
    val queries = Sampling.hashSample(embeddings, col("vec_id"), num, den,
      tag = "knneval")
    val nbrs = topKCosine(embeddings, queries, k)
    val qLab = embeddings.select(col("vec_id").as("query_id"),
      col("label").cast("long").as("q_label"))
    val nLab = embeddings.select(col("vec_id").as("neighbor_id"),
      col("label").cast("long").as("n_label"))
    nbrs.join(qLab, Seq("query_id")).join(nLab, Seq("neighbor_id"))
      .groupBy(col("q_label").as("label"))
      .agg(countDistinct(col("query_id")).as("queries"),
        count(lit(1)).as("neighbor_pairs"),
        Cols.countWhen(col("n_label") === col("q_label")).as("same_label_pairs"))
      .select(col("label"), col("queries"), col("neighbor_pairs"),
        col("same_label_pairs"),
        Cols.pct4(col("same_label_pairs"), col("neighbor_pairs")).as("agreement_pct"))
      .orderBy(col("label"))
  }

  /** Exact all-pairs cosine via triangle block-partitioning (the 1-Bucket
    * blocking of Okcan & Riedewald 2011's MapReduce theta-join): each
    * vector hashes to one of `numBlocks` blocks; every unordered block
    * pair (i ≤ j) becomes ONE equi-join key, the left input carrying
    * block-i rows (each row replicated to keys (blk..B-1)) and the right
    * carrying block-j rows (keys (0..blk)). A pair (x, y) with blocks
    * p ≤ q lands under exactly key (p, q) — once for p < q, twice on the
    * diagonal where `vec_a < vec_b` keeps one.
    *
    * Same O(n²) comparison count as a cartesian — that is what EXACT
    * all-pairs costs — but expressed as a shuffled equi-join: the work
    * spreads evenly over B(B+1)/2 keys instead of serializing through a
    * CartesianProduct/nested-loop operator, every partition is
    * (n/B)²-bounded, and AQE sizes the shuffle like any other join.
    * Replication factor is ≤ B+1 rows per input row. */
  def exactPairsBlocked(embeddings: DataFrame, minCosine: Double = 0.4,
                        numBlocks: Int = 8): DataFrame = {
    require(numBlocks >= 1, "numBlocks must be positive")
    val coded = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      (Dedup.PortableHash(concat(lit("blk:"), col("vec_id").cast("string")))
        % numBlocks).as("blk"))
    val l = coded.withColumn("bj", explode(sequence(col("blk"), lit(numBlocks - 1))))
      .select(col("blk").as("bi"), col("bj"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val r = coded.withColumn("bi", explode(sequence(lit(0), col("blk"))))
      .select(col("bi").as("ri"), col("blk").as("rj"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    l.join(r, col("bi") === col("ri") && col("bj") === col("rj"))
      .where(col("bi") =!= col("bj") || col("vec_a") < col("vec_b"))
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"),
        Cols.asDec4(fvecDot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** LSH recall audit — the number that justifies shipping
    * [[nearDupCosineLsh]] as the registered near-dup scale path: how many
    * of the EXACT near-dup pairs does the bucketed pipeline find at the
    * same threshold? Verification is exact on both sides (identical
    * quantized cosine), so LSH ⊆ exact by construction and the audit
    * reduces to counts: exact pairs, found, missed, recall %.
    *
    * The audit runs on a deterministic `sampleNum/sampleDen` hash slice of
    * vec_ids (the COVERAGE pairing doctrine: exact anchors are sampled at
    * scale), and the exact side within the slice is [[exactPairsBlocked]]
    * — an evenly-spread equi-join, NOT a cartesian. Restricting the LSH
    * side to the same slice loses nothing: a pair's bucket collision
    * depends only on its own two codes, so LSH-on-slice ≡ (LSH-on-corpus
    * restricted to slice-internal pairs). Recall estimated on the slice is
    * unbiased for pair-level recall. */
  def lshRecallAudit(embeddings: DataFrame, minCosine: Double = 0.4,
                     sampleNum: Int = 1, sampleDen: Int = 4): DataFrame = {
    val slice = Sampling.hashSample(embeddings, col("vec_id"), sampleNum, sampleDen,
      tag = "recall")
    val exact = exactPairsBlocked(slice, minCosine)
      .select(col("vec_a"), col("vec_b"))
    val lsh = nearDupCosineLshPairs(slice, minCosine)
      .select(col("vec_a").as("la"), col("vec_b").as("lb"), lit(1L).as("hit"))
    exact.join(lsh, col("vec_a") === col("la") && col("vec_b") === col("lb"), "left")
      .agg(count(lit(1)).as("exact_pairs"),
        Cols.countWhen(col("hit").isNotNull).as("found_pairs"))
      .select(col("exact_pairs"), col("found_pairs"),
        (col("exact_pairs") - col("found_pairs")).as("missed_pairs"),
        Cols.pct4(col("found_pairs"), col("exact_pairs")).as("recall_pct"))
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022, MRL): how much of
    * the full-dimension top-k survives when vectors are truncated to a
    * prefix of `prefixDim` dims? The question every storage/latency
    * truncation decision hangs on, answered as per-query overlap counts —
    * exact integers, so the audit is oracle-checkable bit-for-bit.
    *
    * Scale shape: two brute-force broadcast top-k passes (queries are tiny;
    * the corpus streams — the recall-oracle shape, like [[topKCosine]]),
    * then a |queries|·k-row join. Production would pair the truncated
    * scan with a full-dim rescore; this query measures whether that works
    * on THIS corpus. */
  def matryoshkaOverlap(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                        prefixDim: Int = 16): DataFrame = {
    def trunc(df: DataFrame) =
      df.select(col("vec_id"), slice(col("embedding"), 1, prefixDim).as("embedding"))
    val full = topKCosine(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val pre = topKCosine(trunc(corpus), trunc(queries), k)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    full.join(pre, col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("full_topk"),
        graft.functions.Cols.countWhen(col("n2").isNotNull).as("kept_topk"))
      .orderBy(col("query_id"))
  }

  /** Embedding-cosine near-duplicate pairs, the scale path: multi-table
    * hyperplane LSH (each table = a disjoint slice of [[planes]]) generates
    * candidates, exact cosine verifies them, and a set-distinct merges the
    * tables. This is the production near-dup shape — every emitted pair is
    * truly ≥ `minCosine` (verification is exact; no false positives) and
    * per-pair recall is 1−(1−p^b)^T with p = 1−θ/π: ≥ 96% for genuine
    * near-duplicates (cosine ≥ 0.9) at the default 4×4 config, lower for
    * moderate-similarity pairs by design (the config dial is tables ×
    * planes-per-table). Cost: T bounded equi-joins on bucket codes — no
    * cartesian anywhere, candidates shrink 2^planesPerTable-fold per table.
    *
    * [[nearDupCosineExact]] is the O(n²) oracle anchor; DedupSpec pins this
    * plan's soundness (⊆ exact) and its recall on the test corpus. */
  def nearDupCosineLsh(embeddings: DataFrame, minCosine: Double = 0.4,
                       numTables: Int = 4, planesPerTable: Int = 4): DataFrame =
    nearDupCosineLshPairs(embeddings, minCosine, numTables, planesPerTable)
      .orderBy(col("vec_a"), col("vec_b"))

  /** [[nearDupCosineLsh]] WITHOUT the total output ordering — for pipeline
    * consumers (semantic-dedup clustering) where the global sort would
    * feed straight into another shuffle. */
  def nearDupCosineLshPairs(embeddings: DataFrame, minCosine: Double = 0.4,
                            numTables: Int = 4, planesPerTable: Int = 4): DataFrame = {
    require(numTables * planesPerTable <= planes.size,
      s"plane pool has ${planes.size} planes; need numTables*planesPerTable")
    val codes = (0 until numTables).map { t =>
      bucketCodeOf(col("embedding"),
        planes.slice(t * planesPerTable, (t + 1) * planesPerTable)).as(s"b$t")
    }
    val coded = embeddings.select(
      Seq(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm")) ++ codes: _*)
    // materialized for the same alias-branch reason as [[annCosineLsh]] —
    // here the fold is numTables×planesPerTable×dim per row
    val tagged = coded.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(array((0 until numTables).map(t => col(s"b$t")): _*))
          .as(Seq("tbl", "bucket")))
      .localCheckpoint()
    val l = tagged.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val r = tagged.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    l.join(r, Seq("tbl", "bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Cols.asDec4(fvecDot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .where(col("cosine") >= minCosine)
      .distinct() // a pair can collide in several tables; cosine is deterministic
  }

  /** kNN-graph construction: every vector's top-`k` neighbors among the
    * LSH-verified candidate pairs — the offline graph-build step semantic
    * dedup, diversity selection, and graph-ANN index construction all start
    * from. Candidates come from [[nearDupCosineLshPairs]] (bucket equi-joins,
    * exact-cosine verified, no cartesian), symmetrized so both endpoints see
    * the edge; ranking is (cosine DESC, neighbor ASC) on the quantized
    * cosine — deterministic on any engine. Vectors whose buckets collide
    * with nothing above `minCosine` have no edges and are absent, on both
    * sides of the oracle.
    *
    * Scale shape: the per-vector ranking window partitions on vec_id over
    * each vector's candidate list (bounded by LSH bucket collisions, never
    * by corpus size); at extreme collision skew the same contract runs as
    * the bounded heap ([[graft.plans.TopKAggregate]], see [[topKCosineAgg]]). */
  def knnGraph(embeddings: DataFrame, k: Int = 3, minCosine: Double = 0.3,
               numTables: Int = 4, planesPerTable: Int = 4): DataFrame = {
    val pairs = nearDupCosineLshPairs(embeddings, minCosine, numTables, planesPerTable)
    val sym = pairs
      .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor"), col("cosine"))
      .unionByName(pairs
        .select(col("vec_b").as("vec_id"), col("vec_a").as("neighbor"), col("cosine")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("neighbor").asc)
    sym.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
        col("neighbor"), col("cosine"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs (exact O(n²) within small corpora;
    * the registered scale path is [[nearDupCosineLsh]]). */
  def nearDupCosineExact(embeddings: DataFrame, minCosine: Double = 0.95): DataFrame = {
    val coded = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    // pre-explosion spread (see [[topKCosine]]): the ×n blow-up side must
    // not inherit a single-split scan
    val l = coded.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
      .repartition(coded.sparkSession.sparkContext.defaultParallelism, col("vec_a"))
    val r = coded.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"))
    l.crossJoin(r).where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Cols.asDec4(fvecDot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
          .as("cosine"))
      .where(col("cosine") >= minCosine)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // --------------------------------------------------------------- IVF path

  /** IVF-style ANN: partition the corpus into cells around seed centroids,
    * then search only the `nprobe` nearest cells per query.
    *
    * Centroid choice is deterministic (min vec_id per hash bucket, see
    * [[seedCentroids]]) — a k-means refinement would drop recall error
    * further but changes no plan shape.
    * Two broadcast joins: corpus→cells (one pass, broadcast centroids) and
    * query→probe-cells; the candidate join then shuffles on cell id only.
    * At 100 TB the cell assignment becomes a write-time bucketing of the
    * corpus table, making the probe side a partition-pruned scan. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
              numCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val centroids = broadcast(seedCentroids(corpus, numCells))

    def nearestCells(df: DataFrame, vecCol: String, outPrefix: String, take: Int): DataFrame = {
      val scored = df.crossJoin(centroids)
        .withColumn("c_dot", fvecDot(col(vecCol), col("c_emb")))
      val w = Window.partitionBy(col(s"${outPrefix}_id")).orderBy(col("c_dot").desc, col("cell_id").asc)
      scored.withColumn("cell_rank", row_number().over(w))
        .where(col("cell_rank") <= take)
        .drop("c_emb", "c_dot", "cell_rank")
    }

    val cells = nearestCells(
      corpus.select(col("vec_id").as("corpus_id"), col("embedding"),
        norm(col("embedding")).as("nrm")), "embedding", "corpus", 1)
      .select(col("cell_id"), col("corpus_id"), col("embedding"), col("nrm"))
    val probes = nearestCells(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm")), "q_emb", "query", nprobe)
      .select(col("cell_id"), col("query_id"), col("q_emb"), col("q_nrm"))

    val scored = cells.join(broadcast(probes), Seq("cell_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id").as("neighbor_id"),
        (fvecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        Cols.asDec4(col("cos")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic seed centroids: the min-vec_id vector of each of
    * `numCells` portable-hash buckets (`md5₄₈(vec_id) % numCells`).
    *
    * This is one hash-partitioned aggregation with map-side combine — no
    * global sort, no single-partition window — so the index build holds at
    * any corpus size (the previous every-⌈N/k⌉-th-rank rule needed a
    * one-task `row_number() OVER (ORDER BY vec_id)` over the whole corpus).
    * Still bit-deterministic and oracle-expressible: both engines compute
    * the identical md5-derived bucket and the identical min. Hash buckets
    * can in principle be empty (→ fewer than numCells cells); assignment
    * and probing are agnostic to the cell count. */
  def seedCentroids(corpus: DataFrame, numCells: Int = 16): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .groupBy((Dedup.PortableHash(col("vec_id").cast("string")) % numCells).as("bucket"))
      .agg(min(col("vec_id")).as("cell_id"),
        min_by(col("embedding"), col("vec_id")).as("c_emb"))
      .select(col("cell_id"), col("c_emb"))

  /** Nearest-cell assignment by dot product (ties broken on cell_id).
    * Argmax is an aggregation, not a ranking window: max over a
    * (dot, -cell_id, cell_id) struct gives "highest dot, then lowest cell"
    * with map-side partial combine — the shuffle carries one row per vector
    * instead of one per (vector, centroid), and nothing sorts. Same
    * semantics as `row_number() OVER (ORDER BY dot DESC, cell ASC) = 1`,
    * which is what the SQL oracle states. */
  private def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"),
        struct(fvecDot(col("embedding"), col("c_emb")).as("dot"),
          (-col("cell_id")).as("neg_cell"), col("cell_id").as("cell_id")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(max(col("sc")).as("best"), first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("best.cell_id").as("cell_id"))

  /** Lloyd-refined centroids: `iters` rounds of assign → recompute-mean.
    * Component means go through exact 1e-4-unit long sums (the
    * [[labelCentroids]] trick), so every round — and therefore the final
    * index — is bit-deterministic across partitionings and engines; the SQL
    * oracle unrolls the same rounds. Each round costs one broadcast-join
    * pass over the corpus plus a centroid-sized aggregation — the standard
    * distributed Lloyd shape that holds at any corpus size. */
  def kmeansCentroids(corpus: DataFrame, numCells: Int = 16, iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = seedCentroids(corpus, numCells)
    // NOT a [[Fixpoint]] loop (r16 A/B: static planning ran the kmeans
    // consumers SLOWER — q_ivf_kmeans_topk 1.49 vs 1.19 s, q_semdedup
    // 1.43 vs 0.86 s; the posexplode+two-level agg per round wants AQE's
    // partition coalescing, the BPE-train result again)
    for (_ <- 1 to iters) {
      val updated = assignCells(corpus.select(col("vec_id"), col("embedding")), cents)
        .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(sum(floor(col("v").cast("double") * 10000.0)).as("s_u"),
          count(lit(1)).as("n"))
        .select(col("cell_id"), col("pos"),
          (col("s_u").cast("double") / 10000.0 / col("n").cast("double")).as("c"))
        .groupBy(col("cell_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pairs"))
        .select(col("cell_id"), transform(col("pairs"), p => p.getField("c")).as("c_emb"))
      // materialize each round: centroids are k×dim values, so collecting is
      // the standard distributed-Lloyd step — otherwise round N's lineage
      // replays rounds 1..N-1 (and every later consumer replays them again)
      cents = updated.select(col("cell_id"), col("c_emb")).as[(Long, Seq[Double])]
        .collect().sortBy(_._1).toSeq.toDF("cell_id", "c_emb")
    }
    cents
  }

  /** IVF top-k over a k-means-refined index: tighter cells than the seed
    * index → higher recall at the same nprobe. Same query-time plan as
    * [[ivfTopK]]: broadcast centroids, one candidate join on cell id. */
  def ivfKmeansTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                    numCells: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(corpus, numCells, iters)

    val corp = corpus.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val cells = assignCells(corp.select(col("vec_id"), col("embedding")), cents)
      .join(corp.select(col("vec_id"), col("nrm")), Seq("vec_id"))
      .select(col("cell_id"), col("vec_id").as("corpus_id"), col("embedding"), col("nrm"))

    val qs = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm"))
    val probeScored = qs.crossJoin(broadcast(cents))
      .withColumn("c_dot", fvecDot(col("q_emb"), col("c_emb")))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("c_dot").desc, col("cell_id").asc)
    val probes = probeScored.withColumn("cr", row_number().over(pw))
      .where(col("cr") <= nprobe)
      .select(col("cell_id"), col("query_id"), col("q_emb"), col("q_nrm"))

    val scored = cells.join(broadcast(probes), Seq("cell_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id").as("neighbor_id"),
        (fvecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        Cols.asDec4(col("cos")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Write-time IVF layout: persist the corpus PARTITIONED BY its nearest
    * cell id — the at-rest form of [[ivfTopK]]'s cell assignment that the
    * scaladoc there promises for 100 TB. Paying the assignment once at
    * write time turns every subsequent probe into a partition-PRUNED scan:
    * the directory listing alone eliminates (numCells − nprobe)/numCells of
    * the corpus before a single byte is read. */
  def writeCellPartitioned(corpus: DataFrame, dir: String, numCells: Int = 16): Unit = {
    val cents = seedCentroids(corpus, numCells).localCheckpoint()
    assignCells(corpus.select(col("vec_id"), col("embedding")), broadcast(cents))
      .write.mode("overwrite").partitionBy("cell_id").parquet(dir)
    // the index rides with the layout: probes must rank against the SAME
    // centroids without touching the corpus again (an underscore path is
    // invisible to the partitioned read)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids")
  }

  /** Probe a [[writeCellPartitioned]] layout: rank cells per query against
    * the centroids PERSISTED WITH the layout (numCells tiny rows — the
    * corpus is never touched outside its pruned partitions), collect the
    * probe-cell union (a |queries|·nprobe-element list — driver-side by
    * design, it becomes the partition filter), and score only inside the
    * pruned partitions. Identical ranking contract to [[ivfTopK]]. */
  def ivfTopKPartitioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                         queries: DataFrame, k: Int = 5,
                         nprobe: Int = 4): DataFrame = {
    val cents = broadcast(spark.read.parquet(s"$dir/_centroids"))
    val probeScored = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
      .crossJoin(cents)
      .withColumn("c_dot", fvecDot(col("q_emb"), col("c_emb")))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("c_dot").desc, col("cell_id").asc)
    val probes = probeScored.withColumn("cr", row_number().over(pw))
      .where(col("cr") <= nprobe)
      .select(col("cell_id"), col("query_id"), col("q_emb"), col("q_nrm"))
      .localCheckpoint() // two consumers: the partition filter and the join
    val probeCells = probes.select(col("cell_id")).distinct()
      .collect().map(_.getLong(0)) // the partition-pruning predicate
    val layout = spark.read.parquet(dir)
    // the IN-list literals must carry the INFERRED partition-column type:
    // wider (long) literals would wrap cell_id in a cast, and a cast on the
    // partition column defeats pruning — the scan silently reads every
    // partition (caught by BucketingSpec's strict-subset inputFiles check)
    val typedCells: Seq[Any] = layout.schema("cell_id").dataType match {
      case org.apache.spark.sql.types.IntegerType => probeCells.toSeq.map(_.toInt)
      case org.apache.spark.sql.types.StringType  => probeCells.toSeq.map(_.toString)
      case _                                      => probeCells.toSeq
    }
    val cells = layout
      .where(col("cell_id").isin(typedCells: _*)) // prunes at the LISTING
      .select(col("cell_id"), col("vec_id").as("corpus_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    val scored = cells.join(broadcast(probes), Seq("cell_id"))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id").as("neighbor_id"),
        (fvecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        Cols.asDec4(col("cos")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions with a
    * HASH-DERIVED sign matrix (Achlioptas '01 ±1 entries): s(i,j) is the
    * parity of a portable 48-bit md5 of "tag:i:j", so the projection matrix
    * is never materialized, never shipped, and identical on every engine —
    * the database-friendly form of JL sketching (pairwise distances
    * preserved within 1±ε at outDims = O(log n / ε²)).
    *
    * At 100 TB this is the cheap-embedding path: an 8-dim sketch is 1/8 of
    * the scan+shuffle bytes for coarse clustering / blocking stages, with
    * the full vector consulted only on survivors (same sketch→verify
    * doctrine as LSH, bloom, Misra–Gries).
    *
    * Determinism: each element contribution is floor-quantized to integer
    * micro-units BEFORE the per-(vector, j) sum — 64-bit integer adds in
    * any order on any engine. One explode, one map-side-combined shuffle on
    * (vec_id, j). */
  def randomProjection(embeddings: DataFrame, outDims: Int = 8,
                       tag: String = "rp"): DataFrame = {
    val sign = when(
      Dedup.PortableHash(concat_ws(":", lit(tag), col("i"), col("j"))) % 2 === 0, 1L)
      .otherwise(-1L)
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .withColumn("j", explode(sequence(lit(0), lit(outDims - 1))))
      .select(col("vec_id"), col("j"),
        (floor(col("v").cast("double") * 1000000.0) * sign).as("contrib"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("contrib")).as("proj_micro"))
      .orderBy(col("vec_id"), col("j"))
  }

  /** Mean vector per label — exercises array aggregation (element-wise mean
    * via posexplode + groupBy). Components are floor-quantized to exact
    * 1e-4-unit longs before summing, so the group means are independent of
    * partition/aggregation order (a raw double sum is not) and the result is
    * bit-reproducible on any engine — including the SQL oracle. */
  /** Fisher class-separability matrix over the embedding space — the
    * one-frame diagnostic for "are these labels actually separable, and
    * which pairs collide": for every label pair, the squared
    * centroid-to-centroid distance over the summed within-class scatter
    * (the two-class Fisher criterion, the quantity LDA maximizes). A
    * label pair whose ratio sits near 0 shares its region of the space —
    * exactly the pairs a downstream classifier will confuse
    * ([[knnLabelAgreement]] measures that confusion empirically; this
    * explains it geometrically).
    *
    * Exactness: components quantize to 1e-4 integer units AT THE SCAN
    * (the [[labelCentroids]] lane), and everything until the final ratio
    * is exact integer/DECIMAL(38,0) arithmetic on (sum, count, sum-of-
    * squares) per (label, dimension): centroid distance² cross-multiplies
    * to Σ(suₐ·n_b − su_b·nₐ)², within-class scatter is Σ(n·Σu² − su²)
    * (König–Huygens), and the engine runs ONE fixed IEEE divide sequence
    * per pair, floor-quantized. Embeddings are fixed-width by table
    * contract (the gram/PCA assumption), so the per-dimension count
    * equals the per-label count.
    *
    * Shape: one explode+agg to the (label, dim) moment frame (bounded by
    * |labels|·d), a |labels|²·d pair join on dim, one agg to the
    * |labels|² matrix. Nothing downstream of the first aggregation
    * touches the corpus. */
  def fisherSeparability(embeddings: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val moments = embeddings.select(col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * 10000.0).cast("long").as("u"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("u")).as("su"), count(lit(1)).as("n"),
        sum(col("u").cast(dec) * col("u").cast(dec)).as("sq"))
      .localCheckpoint() // both pair-join sides + the per-label scatter
    val scatter = moments
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        sum(col("n").cast(dec) * col("sq") - col("su").cast(dec) * col("su").cast(dec))
          .as("scnum"))
    val a = moments.select(col("label").as("label_a"), col("pos"),
      col("su").as("sua"), col("n").as("na"))
    val pairNum = a.join(
        moments.select(col("label").as("label_b"), col("pos"),
          col("su").as("sub"), col("n").as("nb")), Seq("pos"))
      .where(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        sum({
          val d = col("sua").cast(dec) * col("nb").cast(dec) -
            col("sub").cast(dec) * col("na").cast(dec)
          d * d
        }).as("dnum"))
    val sa = scatter.select(col("label").as("label_a"),
      col("n").as("sn_a"), col("scnum").as("scnum_a"))
    val sb = scatter.select(col("label").as("label_b"),
      col("n").as("sn_b"), col("scnum").as("scnum_b"))
    val nanb = col("na").cast("double") * col("nb").cast("double")
    val d2 = col("dnum").cast("double") / nanb / nanb
    val sigA = col("scnum_a").cast("double") /
      (col("sn_a").cast("double") * col("sn_a").cast("double"))
    val sigB = col("scnum_b").cast("double") /
      (col("sn_b").cast("double") * col("sn_b").cast("double"))
    pairNum.join(broadcast(sa), Seq("label_a")).join(broadcast(sb), Seq("label_b"))
      .select(col("label_a").cast("long").as("label_a"),
        col("label_b").cast("long").as("label_b"),
        Cols.q4(d2 / 100000000.0).as("centroid_dist2"),
        when(sigA + sigB > 0.0, Cols.q4(d2 / (sigA + sigB)))
          .otherwise(lit(0.0)).as("fisher_ratio"))
      .orderBy(col("label_a"), col("label_b"))
  }

  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val exploded = embeddings.select(col("label"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    exploded.groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("v").cast("double") * 10000.0)).as("s_u"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("s_u").cast("double") / 10000.0 / col("n").cast("double")).as("mean_v"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("pairs"))
      .select(col("label"), transform(col("pairs"), p => p.getField("mean_v")).as("centroid"))
  }

  /** Nearest-centroid assignment census — the cheap classification /
    * cluster-balancing step of an embedding pipeline (assign every vector
    * to its closest class centroid, read the label × assignment confusion
    * counts). Distances are squared L2 against the [[labelCentroids]]
    * means: each term (v − mean)² is one shared IEEE double op and the sum
    * left-folds in position order from 0.0, so distances are bit-identical
    * on any engine that folds the same way (0.0 + x₁ ≡ x₁ in IEEE, so an
    * init-free fold agrees). Ties break to the lowest centroid label via
    * lexicographic struct-min.
    *
    * Scale shape: the centroid table is |labels| rows — broadcast; the
    * cross join is a scan-side broadcast NLJ (|corpus| × |labels| fused in
    * codegen, the brute-kNN shape that survives any corpus size as long as
    * the class count stays bounded), then one map-side-combinable argmin
    * per vector and a census aggregation on ≤ |labels|² keys. */
  def nearestCentroidProfile(embeddings: DataFrame): DataFrame = {
    val cents = labelCentroids(embeddings)
      .select(col("label").as("c_label"), col("centroid"))
    val dist = aggregate(
      zip_with(col("embedding"), col("centroid"),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)
    embeddings.crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct(col("dist"), col("c_label"))).as("best"))
      .select(col("label"), col("best").getField("c_label").as("assigned"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("vecs"))
      .orderBy(col("label"), col("assigned"))
  }

  /** Embedding-space outlier census — per label, vectors whose squared
    * distance to their OWN class centroid exceeds 2× the class mean
    * (mislabels, corrupt embeddings, off-distribution samples — the
    * cleaning pass before the centroids are trusted for routing). The
    * outlier test is a PURE INTEGER cross-multiplication on 1e6-quantized
    * distances — du·n > 2·Σdu — so no per-row division and no float
    * threshold; the emitted mean/max are one fixed expression each.
    * (Headroom: du ≤ ~1e9 at unit-scale embeddings, so du·n stays inside
    * int64 to ~10⁹ vectors per label; past that, DECIMAL lanes.)
    *
    * Shape: centroids are the bounded broadcast frame; distances are one
    * codegen'd fold per vector on the scan; the per-label stats frame is
    * |labels| rows, broadcast back for the flag pass. */
  def centroidOutliers(embeddings: DataFrame): DataFrame = {
    val cents = labelCentroids(embeddings)
      .select(col("label"), col("centroid"))
    val dist = aggregate(
      zip_with(col("embedding"), col("centroid"),
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)
    val du = embeddings.join(broadcast(cents), Seq("label"))
      .select(col("label").cast("long").as("label"), col("vec_id"),
        floor(dist * 1e6).cast("long").as("du"))
    val stats = du.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("du")).as("sd"))
    du.join(broadcast(stats), Seq("label"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("vecs"),
        Cols.countWhen(col("du") * col("n") > lit(2L) * col("sd")).as("outliers"),
        max(col("du")).as("maxdu"), max(col("sd")).as("sd2"), max(col("n")).as("n2"))
      .select(col("label"), col("vecs"), col("outliers"),
        Cols.pct4(col("outliers"), col("vecs")).as("outlier_pct"),
        (col("maxdu").cast("double") / 1e6).as("max_sqdist"),
        Cols.q4(col("sd2").cast("double") / 1e6 / col("n2").cast("double"))
          .as("mean_sqdist"))
      .orderBy(col("label"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
    * of each query's cosine candidate list — the diversified top-k a
    * retrieval pipeline serves instead of the raw nearest neighbors when
    * near-duplicate hits would waste the context window. Greedy:
    * repeatedly pick argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s).
    *
    * Determinism: rel and sim are the engine's bit-exact ordered-fold
    * cosines; each round's argmax orders by the FLOOR-1e9-QUANTIZED score
    * (an exact long on both engines) with vec_id as the tiebreak, so the
    * pick sequence — a lexicographic decision chain on exact integers —
    * is reproducible anywhere. The oracle unrolls the same `k` greedy
    * rounds. `mu` is passed explicitly (NOT derived as 1−λ at runtime)
    * so both engines parse the identical literal.
    *
    * Scale shape: candidates come from the top-`listK` cosine window per
    * query (broadcast queries over the streamed corpus — the [[topKCosine]]
    * shape); everything after is bounded by |queries|·listK² (the pair-sim
    * frame) and runs as k broadcast-join rounds over checkpointed
    * candidate frames. Corpus size only ever touches the first scan. */
  def mmrRerank(embeddings: DataFrame, nQueries: Int = 3, listK: Int = 12,
                k: Int = 5, lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val c = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val q = broadcast(embeddings.where(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm")))
    val scored = c.join(q, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand"), col("embedding"),
        col("nrm"),
        (fvecDot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("rel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand").asc)
    val cands = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= listK)
      .select(col("query_id"), col("cand"), col("embedding"), col("nrm"), col("rel"))
      .coalesce(1).localCheckpoint()
    val a = cands.select(col("query_id"), col("cand").as("ca"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = cands.select(col("query_id"), col("cand").as("cb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairSims = a.join(b, Seq("query_id")).where(col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        (fvecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      .coalesce(1).localCheckpoint()
    val rel = cands.select(col("query_id"), col("cand"), col("rel"))
    var selected: DataFrame = null
    // NOT a [[Fixpoint]] loop (r16 A/B: 1.19 vs 1.04 s in AQE's favor —
    // the per-round anti-join/agg shuffles want AQE coalescing)
    for (r <- 1 to k) {
      val rem = if (r == 1) rel
        else rel.join(selected.select(col("query_id"), col("cand")),
          Seq("query_id", "cand"), "left_anti")
      val ms = if (r == 1) rem.withColumn("msim", lit(0.0))
        else rem.join(
          pairSims.join(broadcast(selected.select(col("query_id"),
              col("cand").as("cb"))), Seq("query_id", "cb"))
            .groupBy(col("query_id"), col("ca").as("cand"))
            .agg(max(col("sim")).as("msim")),
          Seq("query_id", "cand"))
      val score = lit(lambda) * col("rel") - lit(mu) * col("msim")
      val wr = Window.partitionBy(col("query_id"))
        .orderBy(col("si").desc, col("cand").asc)
      val pick = ms.withColumn("si", floor(score * 1e9).cast("long"))
        .withColumn("prn", row_number().over(wr))
        .where(col("prn") === 1)
        .select(col("query_id"), col("cand"), lit(r.toLong).as("pick"),
          (floor(score * 1e4) / 1e4).as("mmr_score"))
      selected = if (r == 1) pick.localCheckpoint()
        else selected.unionAll(pick).localCheckpoint()
    }
    selected.select(col("query_id"), col("pick"), col("cand").as("neighbor_id"),
        col("mmr_score"))
      .orderBy(col("query_id"), col("pick"))
  }

  /** SemDeDup semantic deduplication (Abbas, Tirumala, Simig, Ganguli,
    * Morcos, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): k-means the embedding
    * corpus, then compare vectors ONLY within their cluster and drop every
    * vector whose cosine with a LOWER-id same-cluster member reaches τ —
    * the published recipe for pruning semantically redundant (not merely
    * near-identical) training examples, where the clustering bounds the
    * pairwise search the way LSH bands bound [[nearDupCosineLsh]].
    *
    * The keep-rule here is deterministic lowest-id-wins (the paper keeps
    * the member with the lowest cosine to the cluster centroid; the rule is
    * a per-group ranking choice and changes no plan shape — id order makes
    * the result bit-stable and lets the oracle state it in one EXISTS).
    *
    * Scale shape: the index build is [[kmeansCentroids]] (broadcast-join
    * Lloyd rounds, bit-deterministic), assignment is one broadcast join,
    * and the only shuffle joins are hash-partitioned on cell_id. The
    * within-cell comparison is quadratic IN THE CELL — the paper's own
    * cost model — so numCells is the knob that bounds it: k grows with the
    * corpus (SemDeDup used 50k clusters for LAION-440M) keeping cell sizes
    * roughly constant, and a skew-heavy corpus can re-bucket its largest
    * cells hierarchically. At the gate scale k=16 matches the oracle's
    * unrolled Lloyd CTEs verbatim.
    *
    * Output: one row per vector — its cell and whether SemDeDup keeps it. */
  def semDedupProfile(embeddings: DataFrame, tau: Double = 0.4,
                      numCells: Int = 16, iters: Int = 2): DataFrame = {
    val cents = kmeansCentroids(embeddings, numCells, iters)
    val cells = assignCells(embeddings.select(col("vec_id"), col("embedding")), cents)
      .select(col("cell_id"), col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .localCheckpoint() // both sides of the pair join + the output read it
    val a = cells.select(col("cell_id"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = cells.select(col("cell_id"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val dropped = a.join(b, Seq("cell_id"))
      .where(col("a_id") < col("b_id"))
      .where(fvecDot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")) >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("d", lit(1))
    cells.select(col("vec_id"), col("cell_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("d").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }
}
