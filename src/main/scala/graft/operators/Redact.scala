package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cols

/** PII / sensitive-token redaction — the scrubbing stage a training-data
  * pipeline runs before text leaves the ingest zone. Patterns are RE2-safe
  * (character classes and counted repetition only — no lookarounds, no
  * backreferences) so the same pattern text runs identically under
  * java.util.regex, RE2-based engines, and the DuckDB oracle.
  *
  * Scale shape: pure per-row projection inside WholeStageCodegen — no
  * shuffle, no UDF; redaction cost rides the scan.
  */
object Redact {

  /** name → (RE2-safe pattern, replacement tag). Order matters: URLs are
    * redacted before emails so a credentialed URL cannot leak its userinfo
    * through the email pass, and digit runs go last so structured numbers
    * (phones) keep their specific tag. */
  val Patterns: Seq[(String, (String, String))] = Seq(
    "url"   -> ("https?://[^ ]+", "<URL>"),
    "email" -> ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone" -> ("\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}", "<PHONE>"),
    "digits" -> ("[0-9]{2,}", "<NUM>"))

  /** Apply every redaction pass, in order, to one text column. */
  def redactAll(c: Column): Column =
    Patterns.foldLeft(c) { case (acc, (_, (re, tag))) => regexp_replace(acc, re, tag) }

  /** Redaction profile over the events stream's raw `props` payload —
    * counts digit-run hits (the only PII-shaped content in this synthetic
    * corpus; the email/url/phone passes run too, proving out the full
    * stack) and measures the size delta redaction causes. */
  def eventsProfile(events: DataFrame): DataFrame = {
    val redacted = redactAll(col("props"))
    // null-category doctrine (r14): the per-type census keeps known types
    events.where(col("event_type").isNotNull).select(col("event_type"),
        size(regexp_extract_all(col("props"), lit("[0-9]{2,}"), lit(0))).cast("long").as("runs"),
        length(col("props")).cast("long").as("raw_len"),
        length(redacted).cast("long").as("red_len"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(col("runs")).as("digit_runs"),
        sum(col("raw_len")).as("raw_chars"),
        sum(col("red_len")).as("redacted_chars"))
      .orderBy(col("event_type"))
  }

  /** PII token patterns shared by [[piiCensus]] and [[piiRedactionProfile]].
    * Portability doctrine: every pattern is anchored `^…\z` and matched
    * against individual whitespace tokens (suffix punctuation stripped),
    * NEVER free-scanned with `\b` — RE2's word boundary is ASCII-only
    * while Java's is Unicode-aware, so `\b` silently diverges next to
    * non-ASCII letters (the unicode fuzz corpus has them) — and the
    * anchors are `^…\z`, never `…$`: Java's `$` matches BEFORE a final
    * newline while RE2's matches only at end-of-string, so a token
    * carrying a trailing newline would classify differently (r14
    * self-review finding, probed in both engines); `\z` is absolute
    * end-of-text in both. Anchored full-token match + an ASCII-only
    * suffix strip keeps Spark and the DuckDB oracle byte-identical.
    * Precedence email → ipv4 → ipv6 → national-id → IBAN → phone; the
    * id/phone grammars are disjoint ({2} vs {3,4} middle groups) but ipv4
    * must precede phone (a 10-12-digit run is not an ip, yet order is
    * pinned anyway so the rule is total, not incidental); ipv6 and IBAN
    * are colon- resp. letter-prefixed and collide with nothing, slotted
    * next to their structural kin.
    *
    * All grammars are SHAPE-level token classifiers, not validating
    * parsers (the ipv4 one admits 999.999.999.999 — stated above). The
    * ipv6 grammar covers the full 8-group form, the interior-`::`
    * compressed form, and the leading-`::` form; a trailing-`::` address
    * ("fe80::") can never classify because the shared suffix strip eats
    * trailing colons first — deterministic and identical in both engines,
    * accepted. Group counts in the compressed alternatives are bounded
    * but not cross-constrained (a 9-group "compressed" token matches) —
    * shape-level, same doctrine. The IBAN grammar is the uppercase wire
    * shape CC + 2 check digits + 11-30 alphanumeric BBAN (total 15-34,
    * ISO 13616 length envelope) with no mod-97 check. */
  private val PiiSuffixStrip = "[.,;:!?]+\\z"
  private val PiiEmail = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9-]+\\.[a-zA-Z]{2,}\\z"
  private val PiiIpv4  = "^([0-9]{1,3}\\.){3}[0-9]{1,3}\\z"
  private val PiiIpv6  = "^(([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}" +
    "|([0-9a-fA-F]{1,4}:){1,6}(:[0-9a-fA-F]{1,4}){1,6}" +
    "|::[0-9a-fA-F]{1,4}(:[0-9a-fA-F]{1,4}){0,6})\\z"
  private val PiiId    = "^[0-9]{3}-[0-9]{2}-[0-9]{4}\\z"
  private val PiiIban  = "^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\z"
  private val PiiPhone = "^(\\+?[0-9]{10,12}|[0-9]{3}-[0-9]{3,4}-[0-9]{4})\\z"

  /** PII detection census — the privacy screen a training-data pipeline
    * runs before release (emails, IPv4 + IPv6 addresses, SSN-shaped
    * national ids, IBAN-shaped account numbers, phone numbers): per
    * source, how many documents carry at least
    * one PII token, the per-class token counts, and the PII share of
    * total token mass. Detection is per-token (see the pattern doctrine
    * above) on the RAW text — no case fold: e-mail localparts are
    * case-significant and all grammars here are caseless digits/symbols
    * anyway.
    *
    * Shape: one explode + two hash aggregations (doc roll-up, then the
    * bounded per-source census) — the standard token-census exchange,
    * linear in corpus tokens, no joins. */
  def piiCensus(docs: DataFrame): DataFrame = {
    val t = regexp_replace(col("token"), PiiSuffixStrip, "")
    val cls = docs
      .select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("token"))
      .select(col("source"), col("doc_id"),
        when(t.rlike(PiiEmail), "email").when(t.rlike(PiiIpv4), "ip")
          .when(t.rlike(PiiIpv6), "ip6").when(t.rlike(PiiId), "id")
          .when(t.rlike(PiiIban), "iban").when(t.rlike(PiiPhone), "phone")
          .as("pii"))
    val perDoc = cls.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("toks"),
        Cols.countWhen(col("pii") === "email").as("e"),
        Cols.countWhen(col("pii") === "ip").as("i"),
        Cols.countWhen(col("pii") === "ip6").as("i6"),
        Cols.countWhen(col("pii") === "id").as("d"),
        Cols.countWhen(col("pii") === "iban").as("ib"),
        Cols.countWhen(col("pii") === "phone").as("p"))
    val anyPii = col("e") + col("i") + col("i6") + col("d") + col("ib") + col("p")
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        Cols.countWhen(anyPii > 0L).as("docs_with_pii"),
        sum(col("e")).as("email_tokens"), sum(col("i")).as("ip_tokens"),
        sum(col("i6")).as("ip6_tokens"), sum(col("d")).as("id_tokens"),
        sum(col("ib")).as("iban_tokens"), sum(col("p")).as("phone_tokens"),
        sum(col("toks")).as("tokens"),
        sum(anyPii).as("pii_tokens"))
      .select(col("source"), col("docs"), col("docs_with_pii"),
        col("email_tokens"), col("ip_tokens"), col("ip6_tokens"),
        col("id_tokens"), col("iban_tokens"), col("phone_tokens"),
        col("pii_tokens"), col("tokens"),
        Cols.pct4(col("pii_tokens"), col("tokens")).as("pii_pct"))
      .orderBy(col("source"))
  }

  /** PII redaction profile — the remediation action behind [[piiCensus]]
    * (same grammar set): every matching token is replaced whole by its
    * class sentinel (`<EMAIL>`/`<IP>`/`<IP6>`/`<ID>`/`<IBAN>`/`<PHONE>`),
    * and the census
    * reports, per source, how many documents were rewritten and how the
    * exact-identity space changes under redaction (distinct md5 before vs
    * after — redaction typically MERGES near-identical boilerplate that
    * differed only in the embedded address). The rewrite is a single
    * codegen'd higher-order transform over the token array — no UDFs, no
    * shuffle before the census aggregation. */
  def piiRedactionProfile(docs: DataFrame): DataFrame = {
    val red = concat_ws(" ", transform(split(col("text"), " "), tk => {
      val c = regexp_replace(tk, PiiSuffixStrip, "")
      when(c.rlike(PiiEmail), lit("<EMAIL>")).when(c.rlike(PiiIpv4), lit("<IP>"))
        .when(c.rlike(PiiIpv6), lit("<IP6>")).when(c.rlike(PiiId), lit("<ID>"))
        .when(c.rlike(PiiIban), lit("<IBAN>"))
        .when(c.rlike(PiiPhone), lit("<PHONE>"))
        .otherwise(tk)
    }))
    docs.select(col("source"), col("text"), red.as("red"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        Cols.countWhen(col("red") =!= col("text")).as("redacted_docs"),
        countDistinct(md5(col("text"))).as("raw_ids"),
        countDistinct(md5(col("red"))).as("redacted_ids"))
      .orderBy(col("source"))
  }
}
