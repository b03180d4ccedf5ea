package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("empty pair graph: clusters and page ranks are empty frames, never index errors") {
    // a sparse corpus can legally produce ZERO verified near-dup pairs —
    // the r12 sparse fuzz crashed here twice (a zero-field Observation
    // metrics row; a null max edge weight read with getLong)
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.Dedup.dedupClusters(noPairs).count() == 0)
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("item_a", "item_b", "pairs")
    assert(graft.operators.GraphRank.pageRanks(noEdges).count() == 0)
    assert(graft.operators.GraphRank.bfsDistances(noEdges).count() == 0)
  }

  test("exact dedup keeps lowest doc_id per identical text") {
    val docs = docsDf((1L, "a b c"), (2L, "A B C"), (3L, "x y z"))
    val kept = Dedup.exactDeduped(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L)) // 2 is a case-normalized dup of 1
    val groups = Dedup.exactDupGroups(docs).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("keep_doc_id") == 1L)
  }

  test("normalized dedup: case/punct/spacing variants collapse, distinct text survives") {
    val docs = Seq(
      (1L, "s1", "Hello, World! How are you?"),
      (2L, "s1", "hello world how are you"),
      (3L, "s2", "HELLO  world -- how are you"),
      (4L, "s2", "entirely different content here")
    ).toDF("doc_id", "source", "text")
    val m = Dedup.normalizedDedupProfile(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // docs 1-3 share one normalized fingerprint; keeper is doc 1 (lowest id)
    assert(m("s1") == ((2L, 2L, 1L, 1L)), s"got ${m("s1")}") // docs=2 dup=2 keep=1 drop=1
    assert(m("s2") == ((2L, 1L, 1L, 1L)), s"got ${m("s2")}") // doc 3 dups, doc 4 unique keeps
  }

  test("dedup shift profile shows a source whose docs are ALL cross-source dups") {
    // s2's only doc is an exact dup of s1's (keeper = lowest doc_id, in s1):
    // the most extreme distribution shift must appear, not vanish
    val docs = Seq(
      (1L, "s1", "same text"),
      (2L, "s2", "same text"),
      (3L, "s1", "unique text")
    ).toDF("doc_id", "source", "text")
    val m = Dedup.dedupShiftProfile(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m("s2") == ((1L, 0L)), s"eliminated source must report docs_after=0: $m")
    assert(m("s1") == ((2L, 2L)), s"got $m")
  }

  test("minhash LSH finds heavily overlapping docs and not disjoint ones") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = (1 to 57).map(i => s"w$i").mkString(" ") + " x1 x2 x3"
    val far  = (100 to 160).map(i => s"v$i").mkString(" ")
    val docs = docsDf((1L, base), (2L, near), (3L, far))
    val pairs = Dedup.nearDupMinhash(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("verifyJaccard computes the exact shingle-set Jaccard") {
    // doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} → J = 1/3
    val docs  = docsDf((1L, "a b c d"), (2L, "a b c e"))
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val j = Dedup.verifyJaccard(docs, pairs).select("jaccard").head().getDouble(0)
    assert(j == 0.3333)
  }

  test("simhash: identical docs at distance 0, near docs close, disjoint docs far") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = docsDf((1L, base), (2L, base), (3L, (100 to 160).map(i => s"v$i").mkString(" ")))
    val sh = Dedup.simhashes(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 6)
    val pairs = Dedup.nearDupSimhash(docs, 3).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("near-dup pipeline on real corpus: estimates track exact jaccard") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val est = Dedup.nearDupMinhash(docs, 0.5).select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val verified = Dedup.verifyJaccard(docs, est.select("doc_a", "doc_b"))
    val joined = est.join(verified, Seq("doc_a", "doc_b"))
    val drifted = joined.where(abs(col("est_jaccard") - col("jaccard")) > 0.25).count()
    assert(drifted == 0, "minhash estimate >0.25 away from exact jaccard")
  }

  test("heap top-k aggregate matches the ranking-window top-k exactly") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val win = Similarity.topKCosine(emb, queries, 5).collect().map(_.toString).toSeq
    val agg = Similarity.topKCosineAgg(emb, queries, 5).collect().map(_.toString).toSeq
    assert(agg == win)
  }

  test("fvec functions are callable from SQL text (extension registration)") {
    graft.sources.Tables.embeddings(spark, sf).createOrReplaceTempView("emb_sql_probe")
    val r = spark.sql(
      "SELECT abs(fvec_dot(embedding, embedding) - fvec_norm(embedding) * fvec_norm(embedding)) AS d FROM emb_sql_probe")
    assert(r.where(col("d") > 1e-9).count() == 0)
  }

  test("codegen'd vector expressions are bit-identical to the higher-order-function forms") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val self = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("d1"),
      Similarity.dotHof(col("embedding"), col("embedding")).as("d2"),
      Similarity.norm(col("embedding")).as("n1"),
      Similarity.normHof(col("embedding")).as("n2"))
    assert(self.where(col("d1") =!= col("d2") || col("n1") =!= col("n2")).count() == 0)
  }

  test("IVF top-k recall: most exact neighbors recovered with nprobe=4/16 cells") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 5)
    val exact = Similarity.topKCosine(emb, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low (exact=$exact ivf=$ivf)")
  }

  test("embedding cosine: self-similarity 1, LSH candidates subset of exact pairs") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val self = emb.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .where(abs(col("c") - 1.0) > 1e-9).count()
    assert(self == 0)
    val exact = Similarity.nearDupCosineExact(emb, 0.3).select("vec_a", "vec_b")
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.annCosineLsh(emb, 0.3, numPlanes = 8).select("vec_a", "vec_b")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH must not produce pairs the exact search rejects")
  }

  test("prefix-filter Jaccard join is EXACT: equals brute-force all-pairs at t=1/2") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id"))
    val allPairs = ids.select(col("doc_id").as("doc_a"))
      .crossJoin(ids.select(col("doc_id").as("doc_b")))
      .where(col("doc_a") < col("doc_b"))
    val brute = Dedup.verifyJaccard(docs, allPairs).where(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val pj = Dedup.jaccardJoinPrefix(docs, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty, "corpus must contain near-dup pairs for this test to bite")
    assert(pj == brute,
      s"prefix filter must lose nothing: missing=${brute -- pj} extra=${pj -- brute}")
  }

  test("dedup clusters: converged labels, ids are component minima, oracle anchor holds") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val pairs = Dedup.jaccardJoinPrefix(docs, 1, 2).select("doc_a", "doc_b")
    val cc = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    // oracle anchor: the SQL oracle unrolls exactly 10 rounds — assert the
    // fixpoint is already reached there on the test corpus, so the
    // convergence-guarded production path and the unrolled oracle agree
    val c10 = Dedup.dedupClustersFixedRounds(pairs, 10).as[(Long, Long)].collect().toMap
    assert(cc == c10, "round 10 must already be the fixpoint on the test corpus")
    // connectivity: every near-dup pair must land in one cluster
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(cc(a) == cc(b), s"pair ($a,$b) split across clusters")
    }
    // canonical ids: each cluster is labeled by its minimum member
    cc.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"cluster $cid not labeled by min member")
    }
  }

  test("embedding dedup clusters: fixpoint by round 10 (oracle anchor) on the ANN pair graph") {
    // 10 is measured headroom: at sf0.1 this graph needs 7 rounds to
    // confirm its fixpoint, which a 5-round unroll silently missed
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val pairs = Similarity.nearDupCosineLsh(emb, 0.4)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val cc = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    val c10 = Dedup.dedupClustersFixedRounds(pairs, 10).as[(Long, Long)].collect().toMap
    assert(cc == c10, "round 10 must already be the fixpoint on the embedding pair graph")
  }

  test("cluster survivors: survivor is a member with the cluster-max quality, lowest id on ties") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val pairs = Dedup.jaccardJoinPrefix(docs, 1, 2).select("doc_a", "doc_b")
    val clusters = Dedup.dedupClusters(pairs)
    val qual = graft.operators.TextAnalysis.qualityUnits(docs)
      .as[(Long, Long)].collect().toMap
    val memb = clusters.as[(Long, Long)].collect().groupBy(_._2).view.mapValues(_.map(_._1))
    val out = Dedup.clusterSurvivors(clusters, graft.operators.TextAnalysis.qualityUnits(docs))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (cid, keep, members) =
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("keep_doc_id"), r.getAs[Long]("members"))
      val ms = memb(cid)
      assert(ms.contains(keep), s"survivor $keep not in cluster $cid")
      assert(ms.length.toLong == members)
      val best = ms.map(m => (qual(m), -m)).max
      assert((qual(keep), -keep) == best, s"cluster $cid kept $keep, expected ${-best._2}")
      assert(r.getAs[Double]("keep_quality") == qual(keep).toDouble / 10000.0)
      assert(r.getAs[Long]("dropped") == members - 1)
    }
  }

  test("centrality survivors: centrality outranks quality, quality breaks rank ties") {
    // star cluster {1..5}: hub 1 touches every member, leaves only touch
    // the hub — hub 1 has max centrality despite the WORST quality, so
    // the centrality-first rule must keep 1 where quality-first keeps a
    // leaf. Disjoint pair {10,11}: symmetric ranks → quality decides.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val clusters = Dedup.dedupClusters(pairs)
    val ranks = graft.operators.GraphRank.pageRanks(
      pairs.select(col("doc_a").as("item_a"), col("doc_b").as("item_b"),
        lit(1L).as("pairs")))
    val qual = Seq(1L -> 100L, 2L -> 9000L, 3L -> 8000L, 4L -> 7000L,
      5L -> 6000L, 10L -> 2000L, 11L -> 5000L).toDF("doc_id", "qual_u")
    val out = Dedup.centralitySurvivors(clusters, ranks, qual)
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("members"),
          r.getAs[Double]("keep_quality"))).toMap
    assert(out(1L) == ((1L, 5L, 0.01)),
      s"star cluster must keep the central hub over higher-quality leaves: $out")
    assert(out(10L) == ((11L, 2L, 0.5)),
      s"symmetric pair must fall back to quality: $out")
    // survivor's rank is the cluster max rank
    val rankMap = ranks.as[(Long, Long)].collect().toMap
    assert(rankMap(1L) > rankMap(2L), "hub must out-rank leaves")
    assert(rankMap(10L) == rankMap(11L), "symmetric pair ranks equal")
  }

  test("dedup clusters: a chain component deeper than any fixed round count converges") {
    // path graph 1-2-3-…-12: diameter 11 — min-label propagation needs 11
    // synchronous rounds to push label 1 to vertex 12; the old fixed
    // rounds=5 constant would have returned non-converged labels here
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.dedupClusters(chain).as[(Long, Long)].collect().toMap
    assert(cc.size == 12 && cc.values.forall(_ == 1L),
      s"chain must collapse to one cluster labeled 1, got $cc")
    // and the guard actually bites: a cap below the diameter must throw,
    // never silently return mid-flight labels
    val ex = intercept[IllegalStateException] {
      Dedup.dedupClusters(chain, maxRounds = 3).collect()
    }
    assert(ex.getMessage.contains("not converged"))
  }

  test("dedup clusters: explicit-aggregate fallback path matches the observation path") {
    // dedupClusters rides Observation metrics on the checkpoint job;
    // if that contract ever breaks in an environment it falls back to one
    // checkpoint + aggregate per round, sticky per JVM. The fallback must
    // produce identical clusters (and the same cap-exhaustion throw).
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val expected = Dedup.dedupClusters(chain).as[(Long, Long)].collect().toMap
    val prev = Dedup.checkpointDrivesObservation
    try {
      Dedup.checkpointDrivesObservation = false
      val got = Dedup.dedupClusters(chain).as[(Long, Long)].collect().toMap
      assert(got == expected, s"fallback diverged: $got vs $expected")
      val ex = intercept[IllegalStateException] {
        Dedup.dedupClusters(chain, maxRounds = 2).collect()
      }
      assert(ex.getMessage.contains("not converged"))
      // empty graph short-circuits on the fallback path too
      assert(Dedup.dedupClusters(
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    } finally Dedup.checkpointDrivesObservation = prev
  }

  test("knn graph: edges are verified pairs, ranks dense, top-k equals naive per-vec sort") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val pairs = Similarity.nearDupCosineLshPairs(emb, 0.3)
      .as[(Long, Long, Double)].collect()
    val graph = Similarity.knnGraph(emb, 3, 0.3)
      .as[(Long, Long, Long, Double)].collect()
    // every edge is a verified candidate pair with the same cosine
    val pairSet = pairs.flatMap { case (a, b, c) => Seq((a, b) -> c, (b, a) -> c) }.toMap
    graph.foreach { case (v, _, n, c) =>
      assert(pairSet.get((v, n)).contains(c), s"edge ($v,$n,$c) not a verified pair")
    }
    // ranks are dense 1..deg with deg <= k, ordered by (cosine desc, neighbor asc)
    graph.groupBy(_._1).foreach { case (v, edges) =>
      val sorted = edges.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"ranks not dense for $v")
      assert(sorted.length <= 3)
      val naive = pairs.flatMap { case (a, b, c) =>
        Seq((a, b, c), (b, a, c)) }.filter(_._1 == v)
        .sortBy { case (_, n, c) => (-c, n) }.take(3).map(t => (t._2, t._3)).toSeq
      assert(sorted.map(t => (t._3, t._4)).toSeq == naive, s"top-k mismatch for $v")
    }
    assert(graph.nonEmpty, "the deterministic corpus must yield some edges at cos>=0.3")
  }

  test("nearest centroid: well-separated clusters assign diagonally, ties break low") {
    val e1 = Array(1.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f)
    def jitter(base: Array[Float], d: Float) = base.map(x => x + d)
    val emb = Seq(
      (1L, jitter(e1, 0.01f), 0), (2L, jitter(e1, 0.02f), 0), (3L, jitter(e1, -0.01f), 0),
      (4L, jitter(e2, 0.01f), 1), (5L, jitter(e2, -0.02f), 1),
      (6L, jitter(e2, 0.03f), 0) // a label-0 vector sitting in cluster 1
    ).toDF("vec_id", "embedding", "label")
    val rows = Similarity.nearestCentroidProfile(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    // label-0 vectors 1-3 assign to centroid 0; the stray label-0 vector 6
    // lands on centroid 1; label-1 vectors assign to centroid 1
    assert(rows((0, 0)) == 3L, s"got $rows")
    assert(rows((0, 1)) == 1L, s"got $rows")
    assert(rows((1, 1)) == 2L, s"got $rows")
    assert(rows.values.sum == 6L, "every vector assigned exactly once")
  }

  test("triangle-blocked exact pairs equal the crossJoin reference at several block counts") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val ref = Similarity.nearDupCosineExact(emb, 0.3)
      .select("vec_a", "vec_b", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(ref.nonEmpty, "reference pair set must be non-trivial")
    for (b <- Seq(1, 3, 8)) {
      val blocked = Similarity.exactPairsBlocked(emb, 0.3, numBlocks = b)
        .select("vec_a", "vec_b", "cosine")
        .as[(Long, Long, Double)].collect()
      assert(blocked.length == blocked.toSet.size, s"B=$b emitted duplicate pairs")
      assert(blocked.toSet == ref, s"B=$b pair set diverges from crossJoin reference")
    }
  }

  test("multi-table LSH near-dup: sound vs exact, recall amplified over one table") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val exact = Similarity.nearDupCosineExact(emb, 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val multi = Similarity.nearDupCosineLsh(emb, 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(multi.subsetOf(exact), "verification must reject non-near-dup candidates")
    // one table of the same total planes-per-pair selectivity
    val one = Similarity.annCosineLsh(emb, 0.4, numPlanes = 4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(multi.size >= one.size, s"union of 4 tables (${multi.size}) must cover ≥ 1 table (${one.size})")
    info(s"recall at cos≥0.4 on the deterministic corpus: ${multi.size}/${exact.size} (1 table: ${one.size})")
    // pinned floor: data + planes are fixed, so this is a constant, not flake
    assert(multi.size.toDouble >= 0.35 * exact.size,
      s"multi-table recall collapsed: ${multi.size}/${exact.size}")
  }

  test("threshold sweep: pair counts are monotone non-increasing in the cutoff, 0.5 row matches the pipeline") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val sweep = Dedup.dedupThresholdSweep(docs).collect()
    assert(sweep.nonEmpty)
    sweep.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("pairs") >= b.getAs[Long]("pairs"))
        assert(a.getAs[Long]("docs_affected") >= b.getAs[Long]("docs_affected"))
      case _ =>
    }
    sweep.find(_.getAs[Double]("threshold") == 0.5).foreach { row =>
      val pipeline = Dedup.nearDupVerifiedPairs(docs).count()
      assert(row.getAs[Long]("pairs") == pipeline,
        "the 0.5 sweep row must equal the registered pipeline's pair count")
    }
  }

  test("alternating-star CC equals min-label propagation on adversarial graph shapes") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      "chain-13" -> (1L until 13L).map(i => (i, i + 1)),
      "star" -> Seq((7L, 2L), (7L, 3L), (7L, 9L), (7L, 11L)),
      "cycle" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)),
      "two-comps+selfpair" -> Seq((5L, 6L), (6L, 7L), (20L, 21L), (30L, 30L)),
      "dup-mirrored-pairs" -> Seq((2L, 1L), (1L, 2L), (3L, 2L)))
    shapes.foreach { case (name, ps) =>
      val pairs = ps.toDF("doc_a", "doc_b")
      val star = asMap(Dedup.ccAlternatingStar(pairs))
      val prop = asMap(Dedup.dedupClusters(pairs))
      assert(star == prop, s"$name: alternating-star $star != propagation $prop")
    }
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.ccAlternatingStar(noPairs).count() == 0)
  }

  test("alternating-star CC equals propagation on the real near-dup pair graph") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val pairs = Dedup.jaccardJoinPrefix(docs, 1, 2).select("doc_a", "doc_b")
    val star = Dedup.ccAlternatingStar(pairs).as[(Long, Long)].collect().toMap
    val prop = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(star == prop)
  }

  test("semdedup: within-cell lower-id prune rule equals the brute-force recompute") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val out = Similarity.semDedupProfile(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell_id"), r.getAs[Boolean]("kept")))
    assert(out.length == emb.count())
    assert(out.exists(!_._3), "τ=0.4 must drop something on the test corpus")
    assert(out.exists(_._3), "τ=0.4 must keep something on the test corpus")
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // recompute the prune decision per vector from the operator's OWN cell
    // assignment (the assignment itself is oracle-verified via
    // q_ivf_kmeans_topk, which shares the unrolled-Lloyd CTEs)
    val byCell = out.groupBy(_._2)
    out.foreach { case (id, cell, kept) =>
      val expectDropped = byCell(cell).exists { case (a, _, _) =>
        a < id && cos(vecs(a), vecs(id)) >= 0.4 }
      assert(kept == !expectDropped, s"vec $id in cell $cell: kept=$kept")
    }
  }

  test("alternating-star CC collapses a depth-4096 chain within its logarithmic round cap") {
    // the deep-component case the operator exists for: min-label
    // propagation needs 4095 synchronous rounds here (dedupClusters'
    // default 50-round cap rightly throws), alternating-star finishes
    // inside its default 25-round cap (theory: O(log² n), log₂ 4096 = 12)
    val chain = (1L until 4096L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.ccAlternatingStar(chain).as[(Long, Long)].collect()
    assert(cc.length == 4096 && cc.forall(_._2 == 1L),
      "chain must collapse to one cluster labeled by its minimum")
    intercept[IllegalStateException] { Dedup.dedupClusters(chain).collect() }
  }
}
