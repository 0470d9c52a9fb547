package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, tokenization, quality scoring, language-ID heuristics,
  * fingerprinting. Everything is a codegen-friendly column expression —
  * no UDFs — so the whole document pipeline stays inside whole-stage
  * codegen and scales linearly over a 100 TB corpus (narrow, per-row,
  * no shuffle).
  */
object TextFunctions {

  /** Whitespace-collapsed lowercase form used by fingerprints/shingles.
    * The collapse is the fused byte-scan expression (one linear pass,
    * no per-row regex Matcher walk — see expressions.WhitespaceCollapse),
    * spec-pinned bit-identical to
    * `lower(regexp_replace(trim(c), "\\s+", " "))`; `lower` stays the
    * builtin for Unicode case-mapping correctness.
    */
  def normalize(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    lower(ColumnBridge.column(
      expressions.WhitespaceCollapse(ColumnBridge.expression(trim(c)))))
  }

  /** Exact-dedup document fingerprint: md5 of the normalized text. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — canonicalize BEFORE
    * fingerprinting so composed and decomposed spellings dedup
    * together. Codegen'd expression; ASCII fast-path. See
    * expressions.UnicodeNormalize.
    */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      expressions.UnicodeNormalize(ColumnBridge.expression(c), form))
  }

  /** NFC-canonical fingerprint: unicode-normalize, then the standard
    * whitespace/case normalization and md5.
    */
  def unicodeFingerprint(c: Column): Column =
    fingerprint(unicodeNormalize(c, "NFC"))

  /** Whitespace tokens of the raw text — the fused byte-scan
    * expression (see expressions.WhitespaceTokens), spec-pinned
    * bit-identical to `split(trim(c), "\\s+")`, whose builtin path
    * recompiles the regex and round-trips through java.lang.String
    * EVERY ROW. This is the scan-side workhorse of every token-shaped
    * operator on the board.
    */
  def tokens(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      expressions.WhitespaceTokens(ColumnBridge.expression(c)))
  }

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Character n-grams (shingles) of an already-normalized string;
    * empty array when the text is shorter than n (Spark's `sequence`
    * would otherwise count backwards).
    */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array())

  /** Word n-grams (space-joined token windows) — the unit of
    * benchmark-contamination screening (t26). Empty array below n
    * tokens (same `sequence` guard as charNgrams). Codegen'd built-ins
    * end to end: tokens → transform/slice/array_join.
    */
  def wordNgrams(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => array_join(slice(t, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Non-overlapping n-token chunks (stride = n, tail remainder
    * dropped) — the unit of paragraph/line-level dedup. Codegen'd
    * built-ins end to end, like wordNgrams.
    */
  def wordChunks(c: Column, n: Int): Column = {
    val t = tokens(c)
    val k = floor(size(t) / lit(n)).cast("int")
    when(size(t) >= n,
      transform(sequence(lit(0), k - 1),
        i => array_join(slice(t, i * n + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** 60-bit md5 hashes of the non-overlapping n-token chunks, in chunk
    * order, fused into one pass (see expressions.WordChunkHashes).
    * Equal to `transform(wordChunks(c, n), g ->
    * conv(substring(md5(g), 1, 15), 16, 10))` — pinned by a test.
    */
  def wordChunkHashes(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      expressions.WordChunkHashes(ColumnBridge.expression(tokens(c)), n))
  }

  /** Sorted distinct 60-bit md5 hashes of the word n-grams, fused into
    * one pass (see expressions.WordNgramHashSet). Equal to
    * `sort_array(array_distinct(transform(wordNgrams(c, n), g ->
    * conv(substring(md5(g), 1, 15), 16, 10))))` — pinned by a test.
    */
  def wordNgramHashes(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      expressions.WordNgramHashSet(ColumnBridge.expression(tokens(c)), n))
  }

  /** Distinct shingle set via the custom Catalyst expression (one
    * linear pass; see graft.functions.expressions.CharNgramSet). Equal
    * to `array_distinct(charNgrams(c, n))` — pinned by a test.
    */
  def distinctCharNgrams(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      expressions.CharNgramSet(ColumnBridge.expression(c), n))
  }

  /** Sorted distinct leading-32-bit md5 hashes of the n-grams, fused
    * into one slice-digest-dedup pass (see expressions.CharNgramHashSet)
    * — the dedup pipelines' scan stage, one digest per shingle total.
    */
  def distinctCharNgramHashes(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      expressions.CharNgramHashSet(ColumnBridge.expression(c), n))
  }

  /** Default stopword list shared with the oracle SQL. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  /** BPE-ish pre-tokenizer regex (GPT-2 style, RE2-compatible subset
    * shared with the oracle): contractions, space-prefixed letter runs,
    * digit runs, punctuation runs.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\s a-zA-Z0-9]+"

  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpePattern), lit(0)))

  /** Karp–Rabin rolling hash of the normalized text: fold
    * h ← (h·257 + codepoint) mod 1e9+7 over the characters, left to
    * right — the streaming-friendly fingerprint (any window's hash is
    * derivable incrementally), portable to any engine with a list fold.
    */
  /** Sorted distinct winnowed (MOSS) fingerprints: minimum 60-bit
    * gram hash per sliding w-window, fused into one pass (see
    * expressions.WinnowedFingerprints — the HOF formulation is
    * quadratic because lambdas get no CSE). Equal to
    * `array_distinct(transform(sequence(1, size(hs)-w+1), j ->
    * array_min(slice(hs, j, w))))` over the ordered n-gram hashes —
    * pinned by WinnowQualitySpec.
    */
  def winnowedFingerprints(c: Column, n: Int, w: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      expressions.WinnowedFingerprints(ColumnBridge.expression(tokens(c)), n, w))
  }

  def rollingFingerprint(c: Column): Column =
    aggregate(
      split(normalize(c), ""),
      lit(0L),
      (acc, ch) => (acc * 257L + ascii(ch)) % 1000000007L)

  /** Quality-score components (length / punctuation / stopword ratios).
    * Ratios are exact integer ratios evaluated in double — identical
    * IEEE division on both engines.
    */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,;:!?'\"()]", ""))

  def stopwordCount(c: Column, stopwords: Seq[String] = Stopwords): Column =
    size(filter(tokens(c), t => t.isin(stopwords.map(x => x: Any): _*)))

  /** Language-ID by stopword-marker counts with a fixed precedence on
    * ties (en > es > de, else unknown) — the classic n-gram/marker
    * heuristic in its simplest deterministic form.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"))

  def langMarkerCount(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(c)), t => t.isin(markers.map(x => x: Any): _*)))

  def languageId(c: Column): Column = {
    val cnt = LangMarkers.map { case (lang, m) => lang -> langMarkerCount(c, m) }.toMap
    when(cnt("en") >= cnt("es") && cnt("en") >= cnt("de") && cnt("en") > 0, "en")
      .when(cnt("es") >= cnt("de") && cnt("es") > 0, "es")
      .when(cnt("de") > 0, "de")
      .otherwise("unknown")
  }

  /** Lowercased whitespace terms — the unit of TF-IDF scoring. */
  def terms(c: Column): Column = tokens(lower(trim(c)))

  /** Deterministic 0..9999 sampling bucket from the leading 32 bits of
    * md5 of the id — engine-portable (no RNG state), uniform, and
    * stable across runs/partitionings, so a sampling decision is
    * reproducible and a sample can be exactly re-materialized later.
    */
  def samplingBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 10000

  /** PII redaction patterns, applied in order. Conservative RE2-style
    * subset (char classes + quantifiers only) so Java and other regex
    * engines agree byte-for-byte.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "[EMAIL]",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "[IP]",
    "\\b\\d{7,15}\\b" -> "[NUMBER]")

  /** Redacted text: every PII pattern replaced by its tag. */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (pat, tag)) =>
      regexp_replace(acc, pat, tag)
    }

  /** Count of PII matches across all patterns (on the raw text, so
    * overlapping rewrites don't hide earlier matches).
    */
  def piiCount(c: Column): Column =
    PiiPatterns.map { case (pat, _) =>
      size(regexp_extract_all(c, lit(pat), lit(0)))
    }.reduce(_ + _)

  /** Within-document repetition: highest occurrence count of any single
    * token — the standard "loopy document" quality gate. One hash-
    * counting pass per row (see expressions.TokenMaxFreq); narrow,
    * no shuffle, embarrassingly parallel.
    */
  def maxTokenFreq(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(expressions.TokenMaxFreq(
      ColumnBridge.expression(tokens(c))))
  }
}
