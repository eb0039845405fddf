package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for the LLM-data-pipeline surface
  * (SURVEY.md §2.3): language ID, quality scoring, token counting,
  * rolling-hash fingerprints.
  *
  * All pure Column expressions (whole-stage codegen / HOFs — no Scala
  * UDFs). Each has an exact SQL mirror used by the DuckDB oracle;
  * arithmetic is integer or single-op IEEE double so results are
  * bit-identical across engines.
  */
object Text {

  /** Whitespace tokens. Mirror: `string_split(text, ' ')`. */
  def tokens(text: Column): Column = split(text, " ")

  // ---- language ID ----------------------------------------------------

  /** Tiny per-language stopword marker sets (public common-word lists).
    * Deliberately small: language ID here is the reference-style
    * n-gram/stopword heuristic, not a model. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "von", "den", "ein", "zu"))

  /** Count of tokens (with multiplicity) present in a marker set. */
  def markerScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t =>
      array_contains(array(markers.map(lit): _*), t)))

  /** Predicted language: 'zh' if any CJK char; else the first language
    * in `langMarkers` order achieving the max marker score; 'und' if
    * all scores are zero. Priority order matches the oracle's CASE
    * chain exactly. */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, m) => l -> markerScore(text, m) }
    val maxScore = greatest(scores.map(_._2): _*)
    val pick = scores.reverse.foldLeft(lit("und")) { case (els, (l, s)) =>
      when(s === maxScore, lit(l)).otherwise(els)
    }
    when(regexp_count(text, lit("[一-鿿]")) > 0, lit("zh"))
      .when(maxScore === 0, lit("und"))
      .otherwise(pick)
  }

  // ---- quality score --------------------------------------------------

  /** All-language stopword union for the stopword-ratio feature. */
  private val allMarkers: Seq[String] =
    langMarkers.flatMap(_._2).distinct

  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** BPE-ish piece count: letter runs, digit runs, single symbols.
    * Mirror: `len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))`. */
  def tokenCountRegex(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))

  /** ~chars-per-token subword estimate: ceil(len/4) = (len+3) div 4. */
  def tokenCountSubwordEst(text: Column): Column =
    ((length(text) + 3) / lit(4)).cast("long")

  def stopwordRatio(text: Column): Column =
    markerScore(text, allMarkers).cast("double") / tokenCountWs(text)

  def digitRatio(text: Column): Column =
    regexp_count(text, lit("[0-9]")).cast("double") / length(text)

  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9 ]")).cast("double") / length(text)

  def meanTokenLen(text: Column): Column =
    (length(text) - (tokenCountWs(text) - 1)).cast("double") / tokenCountWs(text)

  /** Composite [0,1] quality score; every term is a single IEEE op on
    * exact integer-derived doubles, so the SQL mirror is bit-identical.
    * Weights follow the usual heuristic-filter shape (length prior +
    * stopword evidence − symbol noise). */
  def qualityScore(text: Column): Column =
    lit(0.4) * least(lit(1.0), tokenCountWs(text).cast("double") / 100.0) +
      lit(0.3) * least(lit(1.0), stopwordRatio(text) * 4.0) +
      lit(0.3) * (lit(1.0) - least(lit(1.0), (digitRatio(text) + punctRatio(text)) * 4.0))

  /** All order-n word shingles from a token-array column (with
    * repeats). Empty when the doc has fewer than n tokens (Spark's
    * `sequence` runs *backwards* for start > stop, so that case needs
    * the guard). The lambda captures `s` — pass a materialized
    * attribute, not a computed expression, or the split re-evaluates
    * per element (see [[tokenHashes]]). */
  def ngramsFromTokens(s: Column, n: Int): Column =
    when(size(s) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(s) - (n - 1)),
        i => concat_ws(" ", slice(s, i, lit(n)))))

  /** Token hash array — hash strings ONCE, count on longs. Callers of
    * the FromHashes variants below must materialize this in its OWN
    * projection (e.g. `.withColumn`) before use: a lambda that
    * references a non-attribute array expression re-inlines (and
    * re-evaluates) it per element — O(n²) string hashing per row.
    * CollapseProject keeps a non-cheap multi-referenced alias in its
    * own Project, so the two-step shape is safe. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => xxhash64(t))

  /** Gopher-style repetition signal over a materialized hash array:
    * 1 − |distinct n-grams| / |n-grams| (0 for docs too short to have
    * any). N-grams are rotate-xor-combined 64-bit keys — no shingle
    * strings, long equality (counts identical to the string form
    * barring a ~2⁻⁶⁴ collision; the oracle compares against DuckDB's
    * string-side count and passes). */
  def repetitionRatioFromHashes(h: Column, n: Int = 2): Column = {
    val m = size(h) - (n - 1)
    // rotate-xor combine: overflow-free under ANSI mode, order-sensitive
    val g = transform(sequence(lit(1), greatest(m, lit(1))),
      i => (0 until n).map(j => element_at(h, i + j))
        .reduce((a, b) =>
          (shiftleft(a, 17).bitwiseOR(shiftrightunsigned(a, 47))).bitwiseXOR(b)))
    when(m <= 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(g)).cast("double") / m)
  }

  /** Fraction of the document made of its single most frequent token
    * (the other standard repetition filter); same materialized-hash
    * contract as [[repetitionRatioFromHashes]]. */
  def topTokenFractionFromHashes(h: Column): Column =
    array_max(transform(array_distinct(h),
      t => size(filter(h, x => x === t)))).cast("double") / size(h)

  /** Convenience single-expression forms — fine for one-off use; hot
    * paths should materialize [[tokenHashes]] once and use the
    * FromHashes variants. */
  def repetitionRatio(text: Column, n: Int = 2): Column =
    repetitionRatioFromHashes(tokenHashes(text), n)

  def topTokenFraction(text: Column): Column =
    topTokenFractionFromHashes(tokenHashes(text))

  // ---- normalization / PII scrub -------------------------------------

  /** Redaction patterns — deliberately RE2-compatible (no lookaround,
    * no backrefs) so the DuckDB oracle can run the *same* regex:
    * Java regex and RE2 agree on these constructs. Applied to
    * lowercased text, in order (emails before phones so the phone
    * pattern never bites a digit run inside an address).
    *
    * phonePattern: 7-15 digits with at most one `-`/space between
    * consecutive digits. Deliberately conservative for a PII scrub:
    * date-like strings ("2024-01-01") and long numeric ids still
    * match — over-redaction is the accepted trade-off for a
    * training-corpus normalizer (prefer losing a date to leaking a
    * number that was a phone). */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipPattern = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val phonePattern = "\\+?\\d([\\- ]?\\d){6,14}"

  /** PII scrub over lowercased text: emails → <email>, IPv4 → <ip>,
    * phone-shaped digit runs → <phone>. Redaction tokens are
    * lowercase so a second normalization pass is the identity —
    * pipelines re-run stages, and idempotence is what makes that safe
    * (property-checked in PropertySpec). */
  def piiRedact(text: Column): Column = {
    val e = regexp_replace(lower(text), emailPattern, "<email>")
    val i = regexp_replace(e, ipPattern, "<ip>")
    regexp_replace(i, phonePattern, "<phone>")
  }

  /** Training-corpus text normalization: lowercase, collapse
    * whitespace runs, trim, THEN PII-redact. Whitespace collapse must
    * precede redaction: the phone pattern's separator class contains
    * only literal space, so "123\t45678" is untouched when redaction
    * runs first, then collapses to a redactable form — one pass would
    * not reach the fixpoint (the round-2 idempotence bug). Pure
    * codegen'd string exprs — order-free per row, embarrassingly
    * parallel at any scale.
    * Idempotent: normalize(normalize(x)) == normalize(x). */
  def normalize(text: Column): Column =
    piiRedact(trim(regexp_replace(lower(text), "\\s+", " ")))

  // ---- fingerprints ---------------------------------------------------

  private val Mod = 1000000007L
  private val CharB = 31L
  private val TokB = 131L

  /** Polynomial rolling hash of one token's chars, mod 1e9+7.
    * Seeded at 0 so the first step equals DuckDB's first-element seed.
    * HOF reference form — kept as the differential-test twin of the
    * compiled kernel ([[PortableHashKernel]]); hot paths use the
    * kernel (the HOF runs an interpreted lambda per CHARACTER). */
  private def tokenHash(t: Column): Column =
    aggregate(split(t, ""), lit(0L),
      (acc, c) => (acc * CharB + ascii(c)) % Mod)

  /** Engine-portable deterministic hash of any column (via its string
    * form) in [0, 1e9+7) — the cross-engine analog of xxhash64 for
    * ops whose *assignment* must be reproducible in the oracle
    * (sampling, split bucketing). Mirror: SparkEntry.sqlTokenHash.
    * Compiled kernel; [[portableHashHof]] is the spec twin. */
  def portableHash(c: Column): Column =
    PortableHashExpressions.portableHash(c.cast("string"))

  private[graft] def portableHashHof(c: Column): Column = tokenHash(c.cast("string"))

  /** [[portableHash]] pushed through one multiplicative-congruential
    * step (Knuth's 2654435761, mod the same prime). The raw
    * polynomial hash of a short decimal id is nearly MONOTONE in the
    * id (small alphabet, few wraps), so used directly it is neither
    * uniform in [0, M) nor order-free; the multiply equidistributes
    * it (measured deciles ±2% over 5k ids). Fits int64:
    * (M−1)·2654435761 < 2^63, so no overflow on either engine.
    * Mirror: SparkEntry.sqlPortableMix. */
  def portableMix(c: Column): Column =
    (portableHash(c) * lit(2654435761L)) % lit(1000000007L)

  /** Order-sensitive document fingerprint: rolling hash over the
    * token-hash sequence. Mirror in DuckDB: nested list_reduce with
    * the same (B, mod) constants. Compiled kernel; the HOF twins
    * below exist only for the differential spec. */
  def fingerprint(text: Column): Column =
    PortableHashExpressions.fingerprint(text, canonical = false)

  /** Order-insensitive (canonical) fingerprint: same hash over the
    * *sorted distinct* token sequence — shuffled near-duplicates
    * collapse to one value. */
  def fingerprintCanonical(text: Column): Column =
    PortableHashExpressions.fingerprint(text, canonical = true)

  private[graft] def fingerprintHof(text: Column): Column =
    aggregate(transform(tokens(text), tokenHash(_)), lit(0L),
      (acc, h) => (acc * TokB + h) % Mod)

  private[graft] def fingerprintCanonicalHof(text: Column): Column =
    aggregate(transform(array_sort(array_distinct(tokens(text))), tokenHash(_)),
      lit(0L), (acc, h) => (acc * TokB + h) % Mod)
}
