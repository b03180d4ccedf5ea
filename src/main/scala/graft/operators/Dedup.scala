package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Algorithms follow the public literature: MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997) with
  * banded LSH candidate generation (Indyk & Motwani 1998; banding analysis
  * as in Mining of Massive Datasets ch. 3), and SimHash 64-bit similarity
  * signatures (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002) with the pigeonhole chunk search of Manku et al.
  * (WWW 2007).
  *
  * Scale architecture (the reason these shapes were chosen):
  *  - Exact dedup is a hash-groupBy — one shuffle on the content hash, O(1)
  *    state per group.
  *  - MinHash signatures are computed via explode(shingles) → 64 `min`
  *    aggregates → array. This keeps every per-shingle expression inside
  *    whole-stage codegen and evaluates each shingle hash exactly once.
  *    (The tempting alternative — one nested higher-order-function
  *    expression per doc — re-evaluates the shingle pass inside every
  *    permutation lambda because Catalyst collapses single-reference
  *    projections: measured 60× slower. The groupBy formulation also gets
  *    map-side partial mins, so the shuffle carries 64 longs per doc.)
  *  - LSH candidate generation is an equi-join on (band, band_hash) buckets —
  *    only colliding docs ever meet; candidate pairs are deduped on ids
  *    before signatures are joined back for the Jaccard estimate.
  *  - SimHash reduces each doc to one 64-bit code; near-dup search is a
  *    pigeonhole self-join on 16-bit chunks, then exact Hamming via
  *    bit_count(xor).
  *  - All hash seeds/permutations are fixed constants: results are
  *    deterministic across runs, partitions, and cluster sizes.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups by normalized-content hash. Returns one row per
    * duplicated fingerprint with the canonical (min) doc_id kept. */
  def exactDupGroups(docs: DataFrame): DataFrame =
    Spread.byKey(docs, col("doc_id")) // fold+md5 fan-out, no-op at scale
      .groupBy(md5(Cols.foldCase(col("text"))).as("fingerprint"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keep_doc_id"))
      .where(col("copies") > 1)

  /** Corpus with exact duplicates removed (keep lowest doc_id per content).
    * Implemented as a min-aggregation + semi join rather than dropDuplicates
    * so the "which row survives" rule is deterministic (dropDuplicates keeps
    * an arbitrary first row per partition ordering). */
  def exactDeduped(docs: DataFrame): DataFrame = {
    val keep = Spread.byKey(docs, col("doc_id")) // fold+md5 fan-out, no-op at scale
      .groupBy(md5(Cols.foldCase(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Post-dedup corpus profile per source — what survives exact dedup and
    * how many characters it keeps (the number a data-pipeline budget cares
    * about). */
  def survivorsBySource(docs: DataFrame): DataFrame =
    exactDeduped(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("surviving_docs"), sum(col("n_chars")).as("surviving_chars"))
      .orderBy(col("source"))

  /** Distribution-shift audit of exact dedup — the data-centric question a
    * curation pipeline must answer before training on the deduped corpus:
    * did removing duplicates CHANGE THE SOURCE MIX? Template-heavy sources
    * lose share; if the loss is large the mixture weights need re-tuning
    * (see [[CorpusFilters.mixtureWeights]]). Reports per source: docs
    * before/after, each side's share of its corpus, and the share delta —
    * shares via the fixed pct4 IEEE sequence, the delta one further
    * subtraction of those two quantized doubles (deterministic).
    *
    * Shape: the before census is one hash agg; the after side reuses
    * [[exactDeduped]] (fingerprint groupBy); totals broadcast back. */
  def dedupShiftProfile(docs: DataFrame): DataFrame = {
    import graft.functions.Cols
    val before = docs.groupBy(col("source")).agg(count(lit(1)).as("docs_before"))
    val after = exactDeduped(docs).groupBy(col("source")).agg(count(lit(1)).as("docs_after"))
    val tot = before.agg(sum(col("docs_before")).as("tb"))
    val tda = after.agg(sum(col("docs_after")).as("ta"))
    // left join from `before`: a source whose docs are ALL eliminated by
    // cross-source duplicates must still appear (share_after = 0) — the
    // most extreme shift is exactly the one the audit exists to show
    before.join(after, Seq("source"), "left")
      .withColumn("docs_after", coalesce(col("docs_after"), lit(0L)))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(tda))
      .select(col("source"), col("docs_before"), col("docs_after"),
        Cols.pct4(col("docs_before"), col("tb")).as("share_before"),
        Cols.pct4(col("docs_after"), col("ta")).as("share_after"))
      .withColumn("share_delta", col("share_after") - col("share_before"))
      .orderBy(col("source"))
  }

  /** Normalization-robust content fingerprint: casefold, non-alphanumerics
    * to spaces, runs of whitespace collapsed, edges trimmed — then md5. The
    * tier between byte-exact dedup (misses trivial reformattings) and
    * MinHash near-dup (pays shingling): two documents differing only in
    * case, punctuation or spacing collapse to one fingerprint. A pure
    * projection — rides the scan. */
  def normalizedFp(text: Column): Column =
    md5(trim(regexp_replace(regexp_replace(Cols.foldCase(text), "[^a-z0-9]", " "), " +", " ")))

  /** Per-source census of normalized-exact dedup: total docs, docs in a
    * >1-copy normalized group, and the keep/drop split under the
    * deterministic keep-lowest-doc_id rule. Same two-aggregation shape as
    * the exact census — the group stats frame joins back on the fingerprint
    * (hash equi-join, co-partitioned; a hot fingerprint meets one stats row,
    * so skew stays on the join's probe side where AQE splits it). */
  def normalizedDedupProfile(docs: DataFrame): DataFrame = {
    val fps = Spread.byKey(docs, col("doc_id")) // fold+regex+md5 fan-out, no-op at scale
      .select(col("doc_id"), col("source"),
        normalizedFp(col("text")).as("fp"))
    val groups = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keep_id"))
    fps.join(groups, Seq("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        graft.functions.Cols.countWhen(col("copies") > 1).as("dup_docs"),
        graft.functions.Cols.countWhen(col("doc_id") === col("keep_id")).as("keep_docs"),
        graft.functions.Cols.countWhen(col("doc_id") =!= col("keep_id")).as("drop_docs"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------- shingling

  /** One row per (doc_id, w-word shingle). The tokens array is projected
    * first so the per-shingle lambda slices a materialized array (linear in
    * doc length) instead of re-splitting the text per shingle (quadratic).
    * Docs shorter than w contribute their full text as a single shingle.
    * `keep` carries extra doc columns (e.g. `source`) through the explode —
    * cheaper than joining them back onto the exploded table.
    *
    * Pre-explosion spread ([[Spread.byKey]]): ahead of the ×(tokens−w+1)
    * explode + per-shingle hashing, the docs frame fans out on doc_id when
    * the scan cannot parallelize it itself (a one-row-group parquet input
    * — every local SF — delivers ALL rows to one task, serializing the
    * whole shingle lane; measured at sf0.1 the single-task
    * shingle+signature stages were ~0.9 s of q_near_dup_verified's 2.5 s
    * wall). At scale the scan splits suffice and the exchange vanishes. */
  def shingleRows(docs: DataFrame, w: Int = 3, keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id") +: kept :+ split(col("text"), " ").as("toks"): _*)
      .select(col("doc_id") +: kept :+ explode(
        when(size(col("toks")) < w, array(concat_ws(" ", col("toks"))))
          .otherwise(transform(sequence(lit(1), size(col("toks")) - (w - 1)),
            i => concat_ws(" ", slice(col("toks"), i, lit(w))))))
        .as("shingle"): _*)
  }

  /** Column variant for small texts (kept for composition/tests). Prefer
    * [[shingleRows]] in pipelines — see the class doc on evaluation cost. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = split(text, " ")
    when(size(toks) < w, array(text)).otherwise(
      transform(sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))
  }

  // ---------------------------------------------------------------- hashing

  /** Pluggable token/shingle hash. */
  type HashFn = Column => Column

  /** Scale-path hash: xxhash64 — fastest, engine-specific. */
  val FastHash: HashFn = xxhash64(_)

  /** Portable 48-bit content hash: integer value of the first 12 hex chars
    * of md5. Any engine with md5() computes the identical value (DuckDB:
    * `CAST('0x' || substring(md5(s), 1, 12) AS BIGINT)`), which makes every
    * sketch built on it externally oracle-checkable. ~2-3× the cost of
    * xxhash64 — use [[FastHash]] when no cross-engine check is needed. */
  val PortableHash: HashFn = c => conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  // ---------------------------------------------------------------- minhash

  val MinhashPrime: Long = 2147483647L // 2^31-1; keeps a*h+b < 2^62 (ANSI-safe)
  val NumHashes = 64
  /** 32 bands of 2 rows: P(candidate | J) = 1-(1-J²)³². At the engine's
    * J=0.5 dedup threshold that is 99.99% recall; the 4-row banding it
    * replaced caught only 64% (measured: candidate volume grows ~14× but
    * stays trivial relative to corpus size, and the signature-estimate
    * filter prunes it before any array-carrying join). */
  val BandRows  = 2

  /** Fixed permutation coefficients (seeded, constant across runs); public
    * so the SQL oracle can embed the identical constants. */
  private val rnd   = new scala.util.Random(42)
  val perms: Seq[(Long, Long)] = Seq.fill(NumHashes)(
    (1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))

  /** (doc_id, sig) signature table — sig is an array of NumHashes longs;
    * h_i(s) = (a_i * hash(s) mod p + b_i) mod p, minimized over shingles.
    * Explode → 64 codegen'd min-aggregates → array (see class doc). */
  def signatures(docs: DataFrame, hash: HashFn = FastHash): DataFrame =
    signaturesOnShingles(shingleRows(docs), hash)

  /** [[signatures]] over a pre-built (doc_id, shingle) table — callers that
    * also verify exactly share one shingle pass. */
  def signaturesOnShingles(shingleTable: DataFrame, hash: HashFn = FastHash): DataFrame = {
    val hashed = shingleTable
      .select(col("doc_id"), pmod(hash(col("shingle")), lit(MinhashPrime)).as("h"))
    val minCols = (0 until NumHashes).map { i =>
      val (a, b) = perms(i)
      min(pmod(lit(a) * col("h") + lit(b), lit(MinhashPrime))).as(s"m$i")
    }
    hashed.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH candidate pairs with signature-estimated Jaccard ≥ threshold.
    * Banding: NumHashes/BandRows bands; docs colliding on any band's key
    * become candidates via an equi-join on (band, band_hash). The band key
    * packs the two 31-bit row values into one collision-free 62-bit long
    * (m₀·2³¹ + m₁) — as compact as hashing the slice but exact, and
    * reproducible in plain SQL. */
  def nearDupMinhash(docs: DataFrame, threshold: Double = 0.5,
                     hash: HashFn = FastHash): DataFrame =
    nearDupMinhashOnSignatures(signatures(docs, hash), threshold)

  /** [[nearDupMinhash]] from a signature table. The signatures are
    * materialized first: the plan references them through FOUR alias-renamed
    * branches (both sides of the band self-join plus the two estimate
    * joins), and alias renames defeat exchange reuse — without the
    * checkpoint the 64-min-agg over exploded shingles runs four times. */
  def nearDupMinhashOnSignatures(sigTable: DataFrame, threshold: Double = 0.5): DataFrame = {
    val sigs  = sigTable.localCheckpoint()
    val banded = bandRows(sigs)
    // candidate pairs are deduped on ids BEFORE the signatures are joined
    // back: the distinct shuffles 2 longs per row, not 2×64-long arrays
    val l = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
    val r = banded.select(col("band"), col("band_hash"), col("doc_id").as("doc_b"))
    val pairs = l.join(r, Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / NumHashes
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), Cols.asDec4(est).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** (doc_id, band, band_hash) LSH bucket keys from any frame carrying a
    * `sig` minhash array. Banding: NumHashes/BandRows bands; the band key
    * packs the two 31-bit row values into one collision-free 62-bit long
    * (m₀·2³¹ + m₁) — as compact as hashing the slice but exact, and
    * reproducible in plain SQL. */
  private[operators] def bandRows(withSig: DataFrame): DataFrame = {
    val bands = NumHashes / BandRows
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        (element_at(col("sig"), b * BandRows + 1) * lit(2147483648L)
          + element_at(col("sig"), b * BandRows + 2)).as("band_hash")))
    withSig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.band_hash"))
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard for candidate pairs (the verify step after LSH, or
    * a standalone near-dup detector when joined from any candidate source).
    * Shingle sets come from the linear-time exploded form; both pair-side
    * joins are shuffle-hash on doc_id. */
  def verifyJaccard(docs: DataFrame, candidatePairs: DataFrame): DataFrame =
    verifyJaccardOnShingles(shingleRows(docs), candidatePairs)

  /** [[verifyJaccard]] over an already-built (doc_id, shingle) table — use
    * when the caller has materialized shingles for candidate generation so
    * verification doesn't re-shingle the corpus. The set aggregation is
    * one map-side-combined shuffle of the shingle table; a candidate-doc
    * semi-join ahead of it was measured SLOWER at the candidate densities
    * this pipeline runs at (est-threshold banding admits a sizable doc
    * fraction, so the prune saved little and its extra join +
    * materialization barrier cost more) — the pair-side joins below are
    * already candidate-only, which is what bounds the expensive
    * array-intersect work. */
  def verifyJaccardOnShingles(shingleTable: DataFrame, candidatePairs: DataFrame): DataFrame = {
    val sets = shingleTable
      .groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("sh"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = size(array_union(col("sh_a"), col("sh_b"))).cast("double")
    candidatePairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Cols.asDec4(inter / union).as("jaccard"))
  }

  /** End-to-end near-dup pipeline: LSH candidates → exact Jaccard ≥ t.
    * One shingle pass feeds both candidate generation and verification.
    *
    * Deliberately STAGED, not single-pass: folding `collect_set` into the
    * signature aggregation (one groupBy computing sig + set, one pair of
    * candidate joins carrying both arrays) was measured ~50% SLOWER — a
    * single TypedImperativeAggregate in the agg list forces the whole
    * 65-column aggregate onto ObjectHashAggregate, evicting the 64 min
    * columns from whole-stage-codegen HashAggregate. Keeping the min-agg
    * and the set-agg as separate operators keeps the hot signature pass
    * codegen'd. */
  def nearDupVerified(docs: DataFrame, estThreshold: Double = 0.3,
                      exactThreshold: Double = 0.5, hash: HashFn = FastHash): DataFrame =
    nearDupVerifiedPairs(docs, estThreshold, exactThreshold, hash)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[nearDupVerified]] WITHOUT the total output ordering — the form
    * pipeline consumers (clustering, survivor selection) should take:
    * the global sort only serves human/oracle-facing output, and feeding
    * it into a downstream shuffle (CC's edge distinct) pays a range
    * exchange for nothing. */
  def nearDupVerifiedPairs(docs: DataFrame, estThreshold: Double = 0.3,
                           exactThreshold: Double = 0.5, hash: HashFn = FastHash): DataFrame = {
    val sh = shingleRows(docs).localCheckpoint()
    val cands = nearDupMinhashOnSignatures(signaturesOnShingles(sh, hash), estThreshold)
      .select(col("doc_a"), col("doc_b"))
    verifyJaccardOnShingles(sh, cands)
      .where(col("jaccard") >= exactThreshold)
  }

  /** Dedup threshold sensitivity sweep: the verified candidate-pair frame
    * is computed ONCE (LSH candidates → exact Jaccard, no threshold), then
    * every candidate threshold reads its pair count and affected-doc count
    * from that one frame — the "what does moving the near-dup cutoff
    * cost?" calibration a pipeline runs before committing to one, without
    * re-running the pipeline per threshold (the [[Sessionize.gapSensitivity]]
    * doctrine applied to dedup). Thresholds are shared literal doubles;
    * the flagged set per threshold is an exact comparison on the
    * 1e-4-quantized Jaccard, so counts are cross-engine exact. */
  def dedupThresholdSweep(docs: DataFrame,
                          thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
                          estThreshold: Double = 0.3,
                          hash: HashFn = FastHash): DataFrame = {
    val sh = shingleRows(docs).localCheckpoint()
    val cands = nearDupMinhashOnSignatures(signaturesOnShingles(sh, hash), estThreshold)
      .select(col("doc_a"), col("doc_b"))
    val ver = verifyJaccardOnShingles(sh, cands).localCheckpoint()
    val flagged = ver
      .withColumn("threshold", explode(array(thresholds.map(lit): _*)))
      .where(col("jaccard") >= col("threshold"))
    val pairs = flagged.groupBy(col("threshold"))
      .agg(count(lit(1)).as("pairs"))
    val affected = flagged
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("doc")).as("docs_affected"))
    pairs.join(affected, Seq("threshold")).orderBy(col("threshold"))
  }

  /** EXACT n-gram Jaccard similarity join via prefix filtering (the
    * AllPairs/PPJoin family: Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW 2007; Xiao et al., WWW 2008) — every pair with
    * J ≥ num/den is found, with no O(n²) scan and no LSH recall loss.
    *
    * Principle: order each doc's shingle set by a shared total order
    * (ascending document frequency — rarest first — then shingle hash,
    * then shingle text); a doc of set-size s only needs its first
    * p = s − ⌈t·s⌉ + 1 shingles INDEXED, because a pair sharing none of
    * either prefix cannot reach overlap t·|A∪B|. The PROBE side needs even
    * less: orienting each pair so the smaller set probes, J ≥ t forces
    * overlap α ≥ ⌈2t/(1+t)·s_small⌉ (since s_big ≥ s_small), so the first
    * shared token sits within the smaller doc's first
    * s − ⌈2t/(1+t)·s⌉ + 1 positions (Xiao et al.'s probe prefix — a third
    * shorter at t=1/2); on the bigger side α ≥ ⌈t·s_big⌉ (since
    * s_small ≥ t·s_big) keeps the full index prefix sufficient. The
    * threshold is a rational num/den so every length computation is
    * integer-exact in any engine.
    *
    * Candidate generation joins on the 64-bit shingle hash, not the
    * string, so the hot equi-join and the per-doc sorts compare longs
    * instead of ~20-byte strings. Exactness survives collisions: the
    * canonical order stays total through the string tie-break, a shared
    * STRING always produces a hash join match (same string ⟹ same hash),
    * and the two places a collision could otherwise LOSE a pair — the
    * aggregated positional filter and the hash-tier verification — are
    * both widened by a per-doc collision-slack term
    * `dup = s − |distinct hashes|` (zero on collision-free docs, so the
    * widening costs nothing in the common case; see the inline proofs).
    * Extra collision-born join rows only ADD candidates, which string
    * verification rejects.
    *
    * Scale shape: df-count is one map-side-combined aggregation; per-doc
    * ordering sorts each doc's own shingles (no global sort); the
    * candidate join hits only docs sharing a RARE shingle — on natural
    * corpora the prefix index is dominated by df=1 shingles that join to
    * nothing. Skew guard: a shingle shared by all docs lands at the END of
    * the canonical order, so it enters prefixes only for tiny sets.
    * Verification joins each surviving pair to its two set arrays and
    * counts the intersection in-map (|A∪B| = sa + sb − |A∩B| needs no
    * second pass); the per-doc array table is bounded by corpus token
    * count and shuffles once per side — no row expansion, no
    * re-aggregation. */
  def jaccardJoinPrefix(docs: DataFrame, num: Int = 1, den: Int = 2): DataFrame = {
    require(num > 0 && den >= num, "threshold num/den must be in (0, 1]")
    val docArrays = canonicalDocArrays(docs)
    // index prefix p = s − ⌈t·s⌉ + 1; probe prefix swaps t for 2t/(1+t).
    // ⌈a/b⌉ = floor((a+b−1)/b), exact in double below 2^52
    val p = (col("s") - floor((col("s") * num + (den - 1)) / den) + 1).cast("int")
    val pShort = (col("s")
      - floor((col("s") * (2 * num) + (num + den - 1)) / (num + den)) + 1).cast("int")
    val pre = docArrays
      .select(col("doc_id"), col("s"), col("dup"),
        posexplode(slice(col("ohs"), lit(1), p)))
      .select(col("doc_id"), col("s"), col("dup"), col("pos"), col("col").as("h"))
    // probe side = the pair's SMALLER set (ties by id): a strict subset of
    // the index rows, so it filters the same exploded table further
    val l = pre.where(col("pos") < pShort)
      .select(col("h"), col("doc_id").as("doc_l"), col("s").as("sl"), col("pos").as("pl"),
        col("dup").as("dup_l"))
    val r = pre.select(col("h"), col("doc_id").as("doc_r"), col("s").as("sr"),
      col("pos").as("pr"), col("dup").as("dup_r"))
    // Pair-level PPJoin positional filter (Xiao et al. '08, aggregated
    // form). A pair needs overlap α = ⌈t·(sl+sr)/(1+t)⌉. Canonical ranks
    // are monotone in the shared global order, so on a collision-free
    // pair, for the pair's LAST shared prefix token (rank pl_max in l,
    // pr_max in r — both maxima attained at the same token): every shared
    // token canonically ≤ it has pos ≤ pl_max < probe-prefix AND
    // ≤ pr_max < index-prefix, i.e. is one of the o_pp join matches; every
    // shared token after it lies in both ranges (pl_max, sl) and
    // (pr_max, sr). Hence
    //   overlap ≤ o_pp + min(sl − pl_max − 1, sr − pr_max − 1) + dup_l + dup_r
    // where the dup terms cover the collision case: a shared string missed
    // by both counts must sit canonically between the two strings of a
    // colliding (hash-equal, string-distinct) join match — forcing its own
    // hash into that collision value, so each miss consumes a distinct
    // within-doc duplicate-hash unit on the side whose maximum trapped it.
    // With dup_l = dup_r = 0 (every real corpus) this is the strictly
    // tighter-than-classic lossless bound; a collision merely loosens it
    // back. The aggregation doubles as pair dedup, so it costs no extra
    // shuffle. (sl ≤ sr makes the second size bound den·sr ≥ num·sl
    // vacuous — den ≥ num already implies it.)
    val alpha = floor((lit(num) * (col("sl") + col("sr")) + (num + den - 1)) / (num + den))
    val cand = l.join(r, Seq("h"))
      .where((col("sl") < col("sr")
          || (col("sl") === col("sr") && col("doc_l") < col("doc_r")))
        && lit(den) * col("sl") >= lit(num) * col("sr"))
      .groupBy(col("doc_l"), col("doc_r"), col("sl"), col("sr"),
        col("dup_l"), col("dup_r"))
      .agg(count(lit(1)).as("o_pp"), max(col("pl")).as("pl_max"), max(col("pr")).as("pr_max"))
      .where(col("o_pp") +
        least(col("sl") - col("pl_max") - 1, col("sr") - col("pr_max") - 1)
        + col("dup_l") + col("dup_r") >= alpha)
      .select(least(col("doc_l"), col("doc_r")).as("doc_a"),
        greatest(col("doc_l"), col("doc_r")).as("doc_b"),
        col("sl"), col("sr"))
    // two-PHASE intersection: the LONG hash arrays are compared first, in
    // their own join pair, and only hash-tier survivors ever meet the
    // string arrays. For each shared DISTINCT hash value v, the shared
    // strings hashing to v number at most min(cntA(v), cntB(v)), so
    // summing over the interH shared values:
    //   |A∩B| ≤ interH + min(dup_a, dup_b)
    // — with zero collisions (dup = 0) this is the plain |A∩B| ≤ interH
    // bound, so a pair whose hash overlap (plus slack) misses the required
    // α = ⌈t·(sl+sr)/(1+t)⌉ is rejected without ever touching the
    // strings, and the rejection is lossless even under collisions (a
    // rejected pair's true Jaccard is < t, which the final filter would
    // drop anyway). Splitting the phases matters because the positional
    // filter is weak at moderate thresholds (measured at t=1/2, sf0.1:
    // 207k candidate pairs → 123k after it → 256 true results): the heavy
    // candidate-side joins now ship ONLY the long arrays, and the string
    // payload — several times larger — is joined for the ~result-sized
    // survivor set, where Spark broadcasts it. The exact string-set
    // intersection remains the sole authority on the reported Jaccard.
    val alphaPair = floor((lit(num) * (col("sl") + col("sr")) + (num + den - 1))
      / (num + den))
    val interH = size(array_intersect(col("oh_a"), col("oh_b"))).cast("long")
    val hashPass = cand
      .join(docArrays.select(col("doc_id").as("doc_a"),
        col("ohs").as("oh_a"), col("dup").as("dup_a")), Seq("doc_a"))
      .join(docArrays.select(col("doc_id").as("doc_b"),
        col("ohs").as("oh_b"), col("dup").as("dup_b")), Seq("doc_b"))
      .where(interH + least(col("dup_a"), col("dup_b")) >= alphaPair)
      .select(col("doc_a"), col("doc_b"), col("sl"), col("sr"))
    val interS = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    hashPass
      .join(docArrays.select(col("doc_id").as("doc_a"), col("shs").as("sh_a")), Seq("doc_a"))
      .join(docArrays.select(col("doc_id").as("doc_b"), col("shs").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Cols.asDec4(interS.cast("double") /
          (col("sl") + col("sr") - interS).cast("double")).as("jaccard"))
      .where(col("jaccard") >= lit(num).cast("double") / lit(den).cast("double"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** ONE per-doc structure serves a whole prefix-filter join: the
    * canonically-ordered (df asc, hash, string) hash array for candidate
    * generation plus the aligned string array for verification (each doc
    * sorts its own ~s elements, no global sort). The df count rides a
    * window over the hash partitioning — no aggregate-then-join-back — so
    * the whole build is one linear chain: explode → distinct → df window →
    * per-doc collect, with ONE materialization at the end (four consumers
    * reference it through different alias projections, which defeats
    * exchange reuse). `dup` is the per-doc collision slack: shingles are
    * distinct strings, so any duplicate hash value inside one doc is a
    * 64-bit collision — dup = 0 on real corpora, and it widens the jaccard
    * join's pruning bounds just enough to stay lossless in the 2^-64
    * collision case. Shared by [[jaccardJoinPrefix]],
    * [[containmentJoinPrefix]], and the dev probes. */
  private[graft] def canonicalDocArrays(docs: DataFrame): DataFrame =
    shingleRows(docs).distinct()
      .select(col("doc_id"), col("shingle"), xxhash64(col("shingle")).as("h"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h"), col("shingle")))).as("ord"),
        count(lit(1)).as("s"))
      .select(col("doc_id"), col("s"),
        transform(col("ord"), x => x.getField("h")).as("ohs"),
        transform(col("ord"), x => x.getField("shingle")).as("shs"))
      .withColumn("dup", col("s") - size(array_distinct(col("ohs"))))
      .localCheckpoint()

  /** EXACT containment similarity join: every ordered pair where the
    * SMALLER shingle set is ≥ num/den contained in the larger
    * (|A∩B| / |A| ≥ t with |A| ≤ |B|, ties oriented by id) — the
    * asymmetric cousin of [[jaccardJoinPrefix]] that catches quoted
    * passages, page-in-page templates, and subset documents, which
    * Jaccard misses when the container is much larger (a fully-quoted
    * 100-shingle doc inside a 1000-shingle page has J ≈ 0.1 but
    * containment 1.0).
    *
    * Prefix bound (the SSJoin containment-prefix argument): if
    * C(A→B) ≥ t then overlap ≥ ⌈t·|A|⌉, so among A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles in ANY fixed per-doc order at least one
    * is shared with B — the probe prefix needs no shared order with the
    * index side. Ascending document frequency still orders each doc's
    * array (rarest first) so prefixes are rare-shingle-heavy and the
    * candidate join stays small; the index side is every doc's full
    * shingle list — the standard inverted-index/posting-list shape,
    * bounded by corpus shingle count (this is what makes the join exact
    * at any container size, and it shuffles once). The candidate join
    * runs on 64-bit shingle hashes (a shared string always produces a
    * hash match, so a collision can only ADD candidates); verification
    * intersects the STRING arrays, so the reported containment is exact
    * with no collision caveat, and the ≥ t test is integer
    * cross-multiplication (den·|A∩B| ≥ num·|A|). Unlike the minhash
    * family, the result is provably independent of the hash function —
    * the oracle mirrors the same prefix algorithm in plain SQL. */
  def containmentJoinPrefix(docs: DataFrame, num: Int = 4, den: Int = 5,
                            prefixExt: Int = 2): DataFrame = {
    require(num > 0 && den >= num, "threshold num/den must be in (0, 1]")
    require(prefixExt >= 0, "prefix extension must be non-negative")
    val docArrays = canonicalDocArrays(docs)
    // minimal probe prefix p = s − ⌈t·s⌉ + 1 (⌈a/b⌉ = floor((a+b−1)/b),
    // exact); the EXTENDED prefix pX = min(p + prefixExt, s) buys a
    // match-count filter: shared tokens beyond A's extended prefix number
    // at most s − pX, so a qualifying pair (overlap ≥ ⌈t·s⌉ = s − p + 1)
    // must match the probe on o ≥ pX − p + 1 DISTINCT prefix tokens —
    // the minimal prefix alone admits any pair sharing one rare token
    // (o ≥ 1, vacuous), while Δ extra tokens reject the long tail of
    // single-rare-shingle coincidences before any array is shipped. The
    // count rides the same aggregation that dedups candidate pairs, so
    // the filter is free; it is exact for ANY per-doc order because the
    // index side carries every token of B (each of A's extended-prefix
    // tokens shared with B is necessarily one of the join matches).
    val p  = (col("s") - floor((col("s") * num + (den - 1)) / den) + 1).cast("int")
    val pX = least(p + prefixExt, col("s").cast("int"))
    val probe = docArrays.select(col("doc_id").as("doc_a"), col("s").as("sa"),
      p.as("pa"), pX.as("pax"),
      explode(slice(col("ohs"), lit(1), pX)).as("h"))
    val index = docArrays.select(col("doc_id").as("doc_b"), col("s").as("sb"),
      explode(col("ohs")).as("h"))
    val cand = probe.join(index, Seq("h"))
      .where(col("sa") < col("sb")
        || (col("sa") === col("sb") && col("doc_a") < col("doc_b")))
      .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("pa"), col("pax"))
      .agg(count(lit(1)).as("o"))
      .where(col("o") >= col("pax") - col("pa") + 1)
      .select(col("doc_a"), col("doc_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    cand
      .join(docArrays.select(col("doc_id").as("doc_a"),
        col("shs").as("sh_a"), col("s").as("sa")), Seq("doc_a"))
      .join(docArrays.select(col("doc_id").as("doc_b"),
        col("shs").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sa"), inter.as("inter"))
      .where(lit(den) * col("inter") >= lit(num) * col("sa"))
      .select(col("doc_a"), col("doc_b"),
        Cols.asDec4(col("inter").cast("double") / col("sa").cast("double"))
          .as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------- dedup clusters

  /** Near-dup CLUSTER assignment — the step after pair detection in a real
    * dedup pipeline (pairs chain: A~B, B~C ⟹ {A,B,C} keep one): connected
    * components over the pair graph via synchronous min-label propagation
    * RUN TO CONVERGENCE. Each round every vertex takes the min of its own
    * and its neighbors' previous labels — one edge⋈label join plus one
    * min-aggregation per round, all hash-partitioned, no global structure
    * (the standard large-graph CC recipe). Iteration stops the first round
    * that changes zero labels, so a component of ANY diameter converges —
    * a fixed round count would silently emit non-converged cluster ids on
    * a deep near-dup chain at scale. `maxRounds` (≥ the largest component
    * diameter ever expected; near-dup components are shallow by
    * construction) is a guard against pathological graphs: exhausting it
    * without convergence THROWS rather than returning wrong clusters.
    * Deterministic: labels are min doc_ids and the fixpoint of min-label
    * propagation is the unique component minimum, independent of round
    * count or partitioning. Returns (doc_id, cluster_id = component-min
    * doc_id) for every vertex that appears in a pair.
    *
    * Shape: min over N(v) ∪ {v} each round — folding the self-loop into
    * the edge set makes a round ONE equi-join plus ONE min-aggregation
    * (identical result to least(own, min-of-neighbors), since a vertex's
    * own previous label rides in on its self-loop). Each round's labels
    * are eagerly materialized with `localCheckpoint` (distributed,
    * executor-resident, lineage-truncating; swap for reliable `checkpoint`
    * on a long-lived cluster where executor loss mid-iteration must be
    * survivable) — the convergence test re-reads them anyway, so the
    * checkpoint is paid for by the guard.
    *
    * Convergence test: per-vertex labels are monotonically non-increasing
    * (min over a set containing the previous label), so Σ label is
    * strictly decreasing until the fixpoint and constant at it — comparing
    * one decimal aggregate per check detects "zero labels changed" without
    * a join against the previous labels. Decimal(38,0) keeps the sum exact
    * at any corpus size (no long overflow, no float rounding).
    *
    * Barrier economics: the INITIAL labels already ARE round 1 — with the
    * self-loop folded into the edge set, round 1 over identity labels is
    * just min(dst) per src, a plain aggregation of the edge list needing
    * no label join. Rounds run as a [[Fixpoint]] loop in STRIDES of 2 per
    * job barrier, with the Σ label observed at EVERY round boundary inside
    * the job (an `Observation` riding the checkpoint materialization) — so
    * a graph that converges at round 1 (the common shallow near-dup case)
    * is proven converged by the FIRST job, and no per-round precision is
    * lost to the stride: any adjacent equal pair of sums is the fixpoint,
    * and the rounds after it inside the stride are no-ops, never a wrong
    * answer. The round cap is `maxRounds` plus ONE confirming
    * round, so a graph whose fixpoint lands exactly on `maxRounds` is not
    * rejected (the sum can only prove convergence one round after it
    * happens). An empty pair set short-circuits to the empty frame. */
  def dedupClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    require(maxRounds >= 1, "need at least one propagation round")
    // referenced in every round of every stride — materialize the
    // self-looped edge set once instead of re-running its union+distinct
    // inside each propagation job
    val edges = ccEdges(pairs).localCheckpoint()
    // one cheap count over the materialized blocks sizes the loop: labels
    // ≤ |E| rows on the self-looped edge set
    val nE = edges.count()
    val loop = Fixpoint(edges.sparkSession, nE)
    val sumExpr = sum(col("label").cast("decimal(38,0)")).as("label_sum")
    def aggSum(l: DataFrame): java.math.BigDecimal = l.agg(sumExpr).head().getDecimal(0)
    // an EMPTY labels frame can surface as a zero-field metrics row (the
    // observe node never sees a partition) — read it as the null sum of
    // the empty graph, not an index error (found by the r12 sparse fuzz)
    def observedSums(s: CcLabels): Option[Vector[java.math.BigDecimal]] =
      if (!checkpointDrivesObservation) None
      else try Some(s.pending.map { case (_, o) =>
        val row = scala.concurrent.Await.result(
          o.future, scala.concurrent.duration.Duration(5, "seconds"))
        if (row.length == 0) null else row.getDecimal(0)
      }) catch {
        case _: java.util.concurrent.TimeoutException =>
          checkpointDrivesObservation = false
          None
      }
    def checkpoint(s: CcLabels): CcLabels = {
      val ck = s.labels.localCheckpoint()
      val sums = observedSums(s).getOrElse(
        s.pending.init.map(p => aggSum(p._1)) :+ aggSum(ck))
      CcLabels(ck, sums, Vector.empty)
    }
    // fixpoint proof: per-vertex labels are monotonically non-increasing,
    // so Σ label strictly decreases until the fixpoint and is constant at
    // it — ANY adjacent equal pair in the per-round sum sequence proves
    // convergence at that round, and every later round is a no-op, so the
    // stride-end checkpoint is the fixpoint frame even when convergence
    // landed mid-stride. A null first sum is the empty graph.
    def done(prev: CcLabels, cur: CcLabels): Boolean =
      cur.sums.head == null || (prev.sums.takeRight(1) ++ cur.sums).sliding(2)
        .exists(p => p.length == 2 && p(0).compareTo(p(1)) == 0)
    // round 1 for free: min over N(v) ∪ {v} of identity labels = min(dst)
    val init = edges.groupBy(col("src")).agg(min(col("dst")).as("label"))
      .select(col("src").as("doc_id"), col("label"))
    // stride 2, MEASURED against 3 (perfbench batch_queries, sf0.01, two
    // seeds): q_dedup_clusters converges at round 1, and its 3-round first
    // job ran 0.71 s against 0.45–0.55 s — each unhinted one-partition
    // round re-shuffles the edges into a sort-merge join, so rounds past
    // the proof cost more than the barrier a longer stride saves
    val stride = if (checkpointDrivesObservation) 2 else 1
    loop.converge(CcLabels(init, Vector.empty, Vector.empty), maxRounds + 1, stride)(
        checkpoint, done,
        s"dedupClusters: min-label propagation not converged after $maxRounds rounds " +
          "— raise maxRounds (a component's diameter exceeds the cap)") { (s, r) =>
      val next = if (r == 1) s.labels else ccRound(edges, s.labels, loop.hint(_, nE * 24L))
      val o = org.apache.spark.sql.Observation()
      val observed = next.observe(o, sumExpr)
      s.copy(labels = observed, pending = s.pending :+ (observed -> o))
    }.labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** [[dedupClusters]]' loop state: the labels, the Σ label at each round
    * boundary of the last checkpointed stride, and the rounds built since
    * that checkpoint with the observations their sums arrive on. */
  private final case class CcLabels(labels: DataFrame,
                                    sums: Vector[java.math.BigDecimal],
                                    pending: Vector[(DataFrame, org.apache.spark.sql.Observation)])

  /** Whether a checkpoint action drives the observed-metrics listener. If it
    * ever stops doing so (observed: it does today), [[dedupClusters]] falls
    * back to an explicit checkpoint + aggregate per round and remembers the
    * failure, so the bounded wait is paid at most once per JVM. */
  @volatile private[graft] var checkpointDrivesObservation = true

  /** Fixed-round variant of [[dedupClusters]] — `rounds` synchronous
    * min-label rounds with NO convergence guard, labels left mid-flight if
    * `rounds` is below the component diameter. Test-only anchor: the SQL
    * oracle unrolls exactly this recurrence, and DedupSpec asserts the
    * unrolled form reaches the [[dedupClusters]] fixpoint on the test
    * corpus. Not for production — use [[dedupClusters]]. */
  private[graft] def dedupClustersFixedRounds(pairs: DataFrame, rounds: Int): DataFrame = {
    val (edges, init) = ccEdgesAndInit(pairs)
    var labels = init
    for (_ <- 1 to rounds) labels = ccRound(edges, labels)
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR edge
    * rewriting (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014) — the
    * LOGARITHMIC-round alternative to [[dedupClusters]]' synchronous
    * min-label propagation. Same input contract (a (doc_a, doc_b) pair
    * frame) and bit-identical output ((doc_id, cluster_id = component-min
    * doc_id) for every vertex appearing in a pair), so the two share one
    * SQL oracle and DedupSpec asserts their equality on adversarial graphs.
    *
    * Why carry BOTH: propagation costs 2 shuffles per round but needs
    * O(component diameter) rounds — a 100 TB near-dup graph with one
    * chained-duplicate component of depth 10⁴ (crawl mirrors of mirrors)
    * turns into 10⁴ barriers. Large-star/small-star rewrites the EDGES
    * instead of the labels and provably converges in O(log² n) rounds
    * (O(log n) observed) regardless of diameter; each round costs ~3×
    * a propagation round (two agg+join+distinct passes plus the fixpoint
    * check), so propagation stays the default for the shallow graphs
    * near-dup banding actually produces (diameter ≤ 3 at every measured
    * SF) and this operator is the registered deep-component scale path.
    * DedupSpec measures the crossover on a depth-4096 chain: 13 alternating
    * rounds vs 4096 propagation rounds.
    *
    * Round = smallStar ∘ largeStar on a canonical (hi > lo, distinct,
    * self-loop-free) edge set:
    *  - large-star: every vertex u points its LARGER neighbors at
    *    m(u) = min(N(u) ∪ {u}) — one symmetrized min-aggregation, one
    *    equi-join back on u, one distinct. Preserves connectivity (the
    *    replaced path v–u–m exists through m) and never orients an edge
    *    upward: emitted edges are (v, m) with v > u ≥ m.
    *  - small-star: every vertex u points its SMALLER-OR-EQUAL neighbors
    *    (exactly the canonical rows (hi=u, lo=v)) at m = min of them — the
    *    same agg/join/distinct shape without symmetrization.
    * Both ops only ever connect vertices to smaller vertices, so edge
    * "height" falls monotonically; the fixpoint is a forest of stars
    * centered at each component's minimum, checked EXACTLY (same count and
    * empty except — frames are distinct, so that is set equality).
    *
    * The label read-off (min over N(u) ∪ {u} of the final star forest) is
    * guarded by a cross-check that every ORIGINAL pair lands in one
    * cluster — the connectivity-preservation invariant an implementation
    * bug would break first — so a wrong answer throws rather than ships. */
  def ccAlternatingStar(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    require(maxRounds >= 1, "need at least one alternating round")
    // vertex set INCLUDING self-pair-only vertices (a self-pair carries no
    // edge but does declare its vertex — dedupClusters' self-looped edge
    // set keeps it too, and the two operators must agree exactly)
    val vertices = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct().localCheckpoint()
    def canon(df: DataFrame) = df
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
        least(col("doc_a"), col("doc_b")).as("lo"))
      .where(col("hi") =!= col("lo")).distinct()
    var edges = canon(pairs).localCheckpoint()
    var n = edges.count()
    // per-round min-frame broadcast decided from the MEASURED surviving
    // edge count (mins ≤ 2n rows; the count is the termination check the
    // loop already pays); oversize graphs keep the unhinted shuffle join
    def minsB(df: DataFrame): DataFrame =
      Fixpoint.broadcastIfSmall(df, 2L * n * 24L)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      sym.join(minsB(mins), Seq("u")).where(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      e.join(minsB(mins), Seq("hi")).where(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(mins.select(col("hi"), col("m").as("lo")))
        .distinct()
    }
    var converged = n == 0L
    var round = 0
    // measured-size broadcast hints only, NOT a [[Fixpoint]] loop (r16
    // A/B: static planning ran this loop SLOWER, 2.48 vs 1.82 s — the
    // star rewrites' distinct/union shuffles profit from AQE coalescing
    // the way the BPE train does, unlike the pure Pregel loops)
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val n2 = next.count()
      // distinct frames: equal cardinality + empty difference = set equality
      converged = n2 == n && next.exceptAll(edges).isEmpty
      edges = next
      n = n2
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ccAlternatingStar: star forest not reached after $maxRounds rounds " +
          "— raise maxRounds (theoretical bound is O(log² n))")
    // label read-off: min over N(u) ∪ {u} on the star forest = the star
    // center for leaves, itself for centers and edge-free vertices
    val sym = edges.select(col("hi").as("doc_id"), col("lo").as("nb"))
      .union(edges.select(col("lo").as("doc_id"), col("hi").as("nb")))
    val labels = vertices
      .join(sym.groupBy(col("doc_id")).agg(min(col("nb")).as("mn")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(coalesce(col("mn"), col("doc_id")), col("doc_id")).as("cluster_id"))
      .localCheckpoint()
    // connectivity guard: every original pair must land in ONE cluster
    val split = pairs.where(col("doc_a") =!= col("doc_b"))
      .join(labels.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), Seq("doc_a"))
      .join(labels.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), Seq("doc_b"))
      .where(col("ca") =!= col("cb")).limit(1)
    if (!split.isEmpty)
      throw new IllegalStateException(
        "ccAlternatingStar: connectivity invariant violated — a pair spans two clusters")
    labels
  }

  /** The step AFTER clustering in a dedup pipeline: pick each near-dup
    * cluster's SURVIVOR — the member with the highest quality score,
    * lowest doc_id on ties — and report what gets dropped. Takes the
    * (doc_id, cluster_id) assignment and a (doc_id, qual_u) table of
    * exact 1e-4-unit integer quality scores ([[TextAnalysis.qualityUnits]])
    * so the max is integer-deterministic; the kept doc's quality surfaces
    * as a double only at the output edge. One join + one groupBy — both
    * hash-partitioned on bounded keys, nothing cluster-global. */
  def clusterSurvivors(clusters: DataFrame, qualityUnits: DataFrame): DataFrame =
    clusters.join(qualityUnits, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        // max over (qual_u, -doc_id): highest quality, ties to LOWEST id
        max_by(col("doc_id"), struct(col("qual_u"), (-col("doc_id")).as("nid"))).as("keep_doc_id"),
        max(col("qual_u")).as("keep_qual_u"),
        count(lit(1)).as("members"))
      .select(col("cluster_id"), col("keep_doc_id"),
        (col("keep_qual_u").cast("double") / 10000.0).as("keep_quality"),
        col("members"), (col("members") - 1).as("dropped"))
      .orderBy(col("cluster_id"))

  /** [[clusterSurvivors]] with graph centrality as the PRIMARY criterion —
    * the survivor choice PageRank was built for ([[GraphRank]] scaladoc):
    * within each near-dup cluster keep the member most central to the
    * near-dup graph (highest fixed-point rank), breaking ties by quality
    * units then lowest doc_id. Centrality beats raw quality as the
    * survivor signal when a cluster mixes a canonical page with partial
    * mirrors: the canonical copy is the one MANY near-dup edges point at,
    * not necessarily the one with the best stopword ratio.
    *
    * Inputs: the (doc_id, cluster_id) assignment, the full (node, rank)
    * frame from [[GraphRank.pageRanks]] over the SAME pair graph the
    * clusters came from (so every clustered doc has a rank — both derive
    * from the identical edge set), and (doc_id, qual_u) integer quality.
    * The ordering struct (rank, qual_u, −doc_id) is unique per member, so
    * every max_by is deterministic. Two joins + one groupBy, all
    * hash-partitioned on doc/cluster ids — scale shape identical to
    * [[clusterSurvivors]] plus one |V|-row join. */
  def centralitySurvivors(clusters: DataFrame, ranks: DataFrame,
                          qualityUnits: DataFrame): DataFrame = {
    val ord = struct(col("rank"), col("qual_u"), (-col("doc_id")).as("nid"))
    clusters
      .join(ranks.select(col("node").as("doc_id"), col("rank")), Seq("doc_id"))
      .join(qualityUnits, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"), ord).as("keep_doc_id"),
        max_by(col("rank"), ord).as("keep_rank"),
        max_by(col("qual_u"), ord).as("keep_qual_u"),
        count(lit(1)).as("members"))
      .select(col("cluster_id"), col("keep_doc_id"), col("keep_rank"),
        (col("keep_qual_u").cast("double") / 10000.0).as("keep_quality"),
        col("members"), (col("members") - 1).as("dropped"))
      .orderBy(col("cluster_id"))
  }

  /** Self-looped undirected edge set for CC — ONE pass over the pair plan
    * (each pair explodes into its two mirror edges plus both self-loops,
    * one distinct). NOT materialized here: callers checkpoint the returned
    * frame once ([[dedupClusters]] does) so the upstream pair plan runs
    * exactly once however many propagation rounds consume the edges. */
  private def ccEdges(pairs: DataFrame): DataFrame =
    // ONE pass over the pair plan: each pair explodes into its two mirror
    // edges plus both self-loops, then one distinct collapses the
    // duplicate self-loops of shared vertices. The union-of-projections
    // formulation this replaces referenced `pairs` twice (forcing an extra
    // checkpoint barrier of the whole upstream pair plan) and needed a
    // second pass for the self-loop vertex set; this shape needs neither —
    // the caller's single edge-set checkpoint materializes everything.
    pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")),
        struct(col("doc_a").as("src"), col("doc_a").as("dst")),
        struct(col("doc_b").as("src"), col("doc_b").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()

  /** [[ccEdges]] plus identity labels — the round-0 state the test-only
    * fixed-round recurrence (and its SQL-oracle unroll) starts from. The
    * edge frame is materialized here because the caller references it once
    * per unrolled round (plus once for init). */
  private def ccEdgesAndInit(pairs: DataFrame): (DataFrame, DataFrame) = {
    val edges = ccEdges(pairs).localCheckpoint()
    val init = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
    (edges, init)
  }

  /** One synchronous min-label round: min over N(v) ∪ {v} via the
    * self-looped edge set. `hint` is the loop's broadcast decision for the
    * label frame ([[Fixpoint.hint]]); the test-anchor fixed-rounds path
    * never hints. */
  private def ccRound(edges: DataFrame, labels: DataFrame,
                      hint: DataFrame => DataFrame = identity): DataFrame =
    edges
      .join(hint(labels.select(col("doc_id").as("dst"), col("label"))), Seq("dst"))
      .groupBy(col("src")).agg(min(col("label")).as("label"))
      .select(col("src").as("doc_id"), col("label"))

  // ---------------------------------------------------------------- simhash

  /** `bits`-wide SimHash per document (64 on the fast path, 48 on the
    * portable-hash path). Tokens are exploded, hashed once, and each bit
    * position is summed as ±1; the sign vector reassembles into a long. One
    * shuffle (groupBy doc_id) with O(bits) state per doc — at 100 TB this is
    * a standard map-side-combine agg. */
  def simhashes(docs: DataFrame, hash: HashFn = FastHash, bits: Int = 64): DataFrame = {
    val tok = Spread.byKey(docs, col("doc_id")) // explode+hash fan-out, no-op at scale
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), hash(col("t")).as("h"))
    val bitSums = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"b$i")
    }
    val code = (0 until bits)
      .map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), code.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming. The 4-chunk
    * pigeonhole banding (Manku et al., WWW 2007) is exhaustive only for
    * maxHamming < 4 — at distance ≤ 3 at least one chunk must be untouched —
    * so that bound is enforced; the result then equals a brute-force O(n²)
    * Hamming scan, which is exactly what the SQL oracle runs. */
  def nearDupSimhash(docs: DataFrame, maxHamming: Int = 3,
                     hash: HashFn = FastHash, bits: Int = 64): DataFrame =
    nearDupSimhashImpl(simhashes(docs, hash, bits), maxHamming, bits)

  private def nearDupSimhashImpl(sh: DataFrame, maxHamming: Int, bits: Int): DataFrame = {
    val chunks = 4
    require(maxHamming < chunks,
      s"$chunks-chunk pigeonhole search is exhaustive only for maxHamming < $chunks")
    require(bits % chunks == 0, "simhash width must split evenly into chunks")
    val cb = bits / chunks
    val chunkStructs = (0 until chunks).map(j =>
      struct(lit(j).as("chunk"),
        shiftright(col("simhash"), j * cb).bitwiseAND(lit((1L << cb) - 1)).as("ckey")))
    val chunked = sh.select(col("doc_id"), col("simhash"),
      explode(array(chunkStructs: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk"), col("cc.ckey"))
    val l = chunked.select(col("chunk"), col("ckey"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val r = chunked.select(col("chunk"), col("ckey"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("chunk", "ckey"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Dedup selection-bias audit — the census a pipeline reads after exact
    * dedup to see WHAT the keep-lowest-id rule removed, per source: doc
    * and token mass dropped, and the mean quality (the
    * [[TextAnalysis.qualityScored]] 1e-4-unit score) of kept vs dropped
    * documents. Duplicated mass is usually template/boilerplate, so a
    * dropped-quality mean well below the kept mean is the expected
    * healthy signature; parity instead warns that dedup is eating
    * original prose (e.g. a mirrored feed). A source CAN lose all its
    * docs (the survivor of a cross-source cluster belongs to whichever
    * source holds the lowest id) — both means are zero-guarded.
    *
    * Shape: the survivor per fingerprint comes from `groupBy(fp).agg(min)`
    * — map-side partial combine, so a mega duplicate cluster (10 M copies
    * of one boilerplate template is exactly what this audit studies)
    * reduces locally before any exchange — then ONE equi-join of the
    * |fp|-row keeper frame back onto the doc frame (AQE-splittable if a
    * hot fp still dominates a join partition), one join onto the
    * |docs|-row unit frame, one per-source hash aggregation. A
    * `Window.partitionBy(fp)` flag would compute the same thing but move
    * every row of the hottest cluster through a single task — the shape
    * [[exactDeduped]] already avoids, so this audit avoids it too. */
  def dedupBiasAudit(docs: DataFrame): DataFrame = {
    val fps = docs
      .select(col("doc_id"), md5(Cols.foldCase(col("text"))).as("fp"))
    val keepers = fps.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val flagged = fps.join(keepers, "fp")
      .select(col("doc_id"),
        (col("doc_id") === col("keep_id")).cast("long").as("kept"))
    val u = TextAnalysis.budgetUnits(docs)
    u.join(flagged, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        Cols.countWhen(col("kept") === 0L).as("dropped_docs"),
        sum(col("n_tok")).as("tokens"),
        sum(when(col("kept") === 0L, col("n_tok")).otherwise(0L)).as("dropped_tokens"),
        sum(when(col("kept") === 1L, col("qual_u")).otherwise(0L)).as("kq"),
        sum(when(col("kept") === 0L, col("qual_u")).otherwise(0L)).as("dq"))
      .select(col("source"), col("docs"), col("dropped_docs"),
        col("tokens"), col("dropped_tokens"),
        Cols.pct4(col("dropped_tokens"), col("tokens")).as("dropped_token_pct"),
        when(col("docs") - col("dropped_docs") > 0L,
          Cols.q4(col("kq").cast("double") / 10000.0
            / (col("docs") - col("dropped_docs")).cast("double")))
          .otherwise(lit(0.0)).as("kept_mean_quality"),
        when(col("dropped_docs") > 0L,
          Cols.q4(col("dq").cast("double") / 10000.0
            / col("dropped_docs").cast("double")))
          .otherwise(lit(0.0)).as("dropped_mean_quality"))
      .orderBy(col("source"))
  }
}
