package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a large-scale training-data pipeline:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting.
  *
  * Everything here is pure `Column` algebra over Spark built-ins — fully
  * whole-stage-codegen'd, no UDFs, so the expressions inline into scans and
  * survive a 100 TB scale-up (per-row cost only, no shuffle, no state).
  *
  * The reference's only text processing is ingest-time HTML cleaning
  * (reference: producers/steam_utils.py:38-42, `html.unescape(re.sub(
  * '<.*?>', '', raw)).strip()`); [[cleanReviewText]] reproduces all three
  * steps.
  */
object TextFunctions {

  /** HTML-tag strip, mirroring the reference's `re.sub(r'<.*?>', '', text)`
    * (reference: producers/steam_utils.py:38-42). Python's `.` does not
    * match a newline, so a "tag" whose body spans lines is kept — hence
    * `[^>\n]`, not `[^>]`.
    */
  def stripTags(c: Column): Column = regexp_replace(c, "<[^>\n]*>", "")

  /** HTML character-reference decode (`&amp;` `&#x41;` …) matching Python's
    * `html.unescape` — the second step of the reference's ingest cleaner
    * (reference: producers/steam_utils.py:38-42). Native codegen'd
    * expression; see [[graft.functions.expressions.HtmlEntities]] for the
    * exact entity coverage.
    */
  def unescapeHtml(c: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.expressions.HtmlUnescape(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(c)))

  /** The whitespace set Python's no-arg `str.strip()` removes (ASCII
    * controls + every Unicode space, incl. the U+00A0 that `&nbsp;`
    * decodes to).
    */
  val PythonWhitespace: String =
    " \t\n\f\r  " +
      "           " +
      "    　"

  /** The reference's full review-text cleaner, B11:
    * `html.unescape(re.sub('<.*?>', '', raw)).strip()`
    * (reference: producers/steam_utils.py:38-42). The trim uses Python's
    * `strip()` whitespace set, not just ASCII space.
    */
  def cleanReviewText(c: Column): Column =
    trim(unescapeHtml(stripTags(c)), PythonWhitespace)

  /** Whitespace tokenization of trimmed text. Empty string → empty array. */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Token count (whitespace tokenizer). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Count of punctuation characters. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "\\p{Punct}", ""))

  /** Punctuation chars / total chars (0 for empty text). */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(punctCount(c) / length(c))

  /** English-ish stopword list shared with the DuckDB oracle. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Number of tokens that are stopwords. */
  def stopwordCount(c: Column): Column =
    size(filter(tokens(c), t => t.isin(Stopwords.map(lit): _*)))

  /** stopword tokens / total tokens (0 for empty text). */
  def stopwordRatio(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, lit(0.0)).otherwise(stopwordCount(c) / n)
  }

  /** Composite quality score in [0,1]:
    * 0.5 * min(tokens,64)/64 + 0.3 * (1 - punct_ratio) + 0.2 * min(stop_ratio*4, 1).
    * Deterministic integer/double algebra — identical in the SQL oracle.
    */
  def qualityScore(c: Column): Column = {
    val tok  = least(tokenCount(c), lit(64)) / lit(64.0)
    val pct  = lit(1.0) - punctRatio(c)
    val stop = least(stopwordRatio(c) * 4.0, lit(1.0))
    tok * 0.5 + pct * 0.3 + stop * 0.2
  }

  /** PII scrubbing patterns — deliberately simple regexes (the testdata
    * carries synthetic PII); production swaps in the full pattern bank
    * (international phones, IBANs, SSNs) without changing the pipeline
    * shape: codegen'd `regexp_replace`/`regexp_count` per row, no
    * shuffle, no UDF. Patterns stay in the RE2-compatible subset so the
    * SQL oracle matches byte-for-byte.
    */
  val EmailPattern = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  val PhonePattern = "555-[0-9]{4}"

  /** Replace every email/phone occurrence with a typed placeholder. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Naive n-gram/stopword language-ID heuristic: scores text against tiny
    * per-language marker sets and returns the best-scoring language, 'und'
    * when nothing matches. Deterministic and SQL-expressible (the real
    * system would swap in fastText/CLD3 — the *pipeline shape* is what
    * matters: one codegen'd expression per row, no shuffle).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"))

  def langIdGuess(c: Column): Column = {
    val toks = tokens(c)
    val scores = LangMarkers.map { case (lang, marks) =>
      lang -> size(filter(toks, t => t.isin(marks.map(lit): _*)))
    }
    // argmax with deterministic tie-break on language order
    val best = scores.foldLeft((lit("und"), lit(0))) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    best._1
  }

  /** Content fingerprint: md5 of normalized text (lowercased, collapsed
    * whitespace). md5 is bit-identical across engines → oracle-friendly.
    */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(trim(c), "\\s+", " ")))

  /** Order-insensitive content key: md5 over the sorted distinct token
    * set — catches shuffled/reordered copies that byte-level
    * [[fingerprint]] misses.
    */
  def bagFingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(c)))))

  // ---- rolling (Rabin-Karp) fingerprints -------------------------------

  /** Polynomial base / modulus for the rolling hash. Mod 2^31-1 keeps every
    * intermediate (h·B + t16 < 2^48) inside exact int64 range in both Spark
    * and the SQL oracle.
    */
  val RollBase = 65599L
  val RollMod  = 2147483647L

  /** 16-bit token hash: first 4 hex chars of the token's md5, parsed via
    * ascii arithmetic (the cross-engine-identical primitive).
    */
  def tok16(t: Column): Column = {
    val hex = md5(t)
    (0 until 4).map { k =>
      val a = ascii(substring(hex, k + 1, 1))
      (when(a <= 57, a - 48).otherwise(a - 87)) * (1 << (4 * (3 - k)))
    }.reduce(_ + _)
  }

  private def t16s(c: Column): Column = transform(tokens(c), t => tok16(t))

  private def rollOf(list: Column): Column =
    aggregate(list, lit(0L), (h, t) => (h * RollBase + t) % RollMod)

  /** Rolling (Rabin-Karp) document fingerprint over the token stream:
    * h ← (h·65599 + tok16) mod 2^31-1, left to right. Order-SENSITIVE,
    * unlike [[fingerprint]]'s normalized-content md5 — token reorderings
    * produce distinct fingerprints. Empty text → 0. Backed by the native
    * [[graft.functions.expressions.RollingFp]] expression (one md5 per
    * token, primitive loops); [[rollingFingerprintFold]] is the
    * column-algebra reference.
    */
  def rollingFingerprint(c: Column): Column =
    nativeRoll(c, 3).getField("fp_roll")

  /** Winnowing-style minimum shingle fingerprint: the smallest rolling
    * hash over all `w`-token shingles (sequence positions clamp at the
    * end; texts shorter than `w` tokens collapse to one degenerate
    * shingle). Two documents sharing any low-hash shingle collide here —
    * the classic cheap near-dup / containment signal that needs only a
    * per-row expression plus a groupBy at scale. Native-backed; see
    * [[minShingleFingerprintFold]] for the reference formulation.
    */
  def minShingleFingerprint(c: Column, w: Int = 3): Column =
    nativeRoll(c, w).getField("min_shingle")

  private def nativeRoll(c: Column, w: Int): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      graft.functions.expressions.RollingFp(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(tokens(c)), w))

  /** Column-algebra reference of [[rollingFingerprint]] (A/B testing). */
  def rollingFingerprintFold(c: Column): Column = rollOf(t16s(c))

  /** Column-algebra reference of [[minShingleFingerprint]] (A/B testing). */
  def minShingleFingerprintFold(c: Column, w: Int = 3): Column = {
    val hs = t16s(c)
    array_min(
      transform(
        sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
        i => rollOf(slice(hs, i, lit(w)))))
  }

  // ---- DuckDB oracle mirrors of the rolling-hash surface ---------------

  /** DuckDB rendering of [[tok16]] over a lambda variable `t`. */
  def sqlTok16(t: String): String = {
    def nib(k: Int) =
      s"(CASE WHEN ascii(substr(md5($t), ${k + 1}, 1)) <= 57 THEN ascii(substr(md5($t), ${k + 1}, 1)) - 48 ELSE ascii(substr(md5($t), ${k + 1}, 1)) - 87 END)"
    (0 until 4).map(k => s"${nib(k)} * ${1 << (4 * (3 - k))}").mkString(" + ")
  }

  /** DuckDB rendering of [[rollOf]] over a list expression (prepends the
    * zero seed because DuckDB's list_reduce has no initial accumulator).
    */
  def sqlRoll(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $listExpr), (a, b) -> (a * $RollBase + b) % $RollMod)"
}
