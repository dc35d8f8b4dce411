package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{lit, when, concat}
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, document fingerprinting, n-gram
  * language ID, quality scoring. All pure Column expressions —
  * whole-stage codegen'd, no UDFs, no shuffles; at 100 TB these run at
  * parquet-scan speed.
  *
  * Everything is engine-deterministic (md5-based hashing, replace-based
  * counting) so results are reproducible across runs, partitionings and
  * engines.
  */
object TextAnalysis {

  /** 60-bit integer hash from md5 — deterministic and portable
    * (same value in any engine with md5 + hex parsing).
    */
  def h60(c: Column): Column =
    F.conv(F.substring(F.md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = F.split(F.trim(text), "\\s+")

  /** Token count; empty/blank text → 0. */
  def tokenCount(text: Column): Column =
    when(F.trim(text) === "", lit(0)).otherwise(F.size(tokens(text)))

  /** BPE-ish pre-tokenization pattern: word pieces (leading space
    * merges into the token, as BPE vocabularies do), 1-3 digit number
    * chunks, and punctuation runs. Restricted to constructs with
    * identical semantics in Java regex and RE2, so the count is
    * reproducible in any engine — whitespace is spelled as an
    * EXPLICIT set because `\s` itself diverges (Java includes
    * vertical tab \x0B, RE2 does not).
    */
  val subwordPattern: String =
    " ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9 \\t\\n\\f\\r\\x0B]+"

  /** Subword-token count estimate — the budget-planning twin of
    * `tokenCount` (whitespace words under-count what a BPE tokenizer
    * bills for punctuation/number-heavy text). Pure codegen'd regexp
    * count, scan-speed.
    */
  def subwordCount(text: Column): Column =
    F.regexp_count(text, lit(subwordPattern))

  /** Document fingerprint: md5 over the text normalized to
    * [a-z0-9] — catches whitespace/punctuation-only variants.
    */
  def fingerprint(text: Column): Column =
    F.md5(F.regexp_replace(F.lower(text), "[^a-z0-9]+", ""))

  /** Count non-overlapping occurrences of `needle` via replace-length
    * arithmetic (portable across engines, unlike regexp counts).
    */
  def occurrences(haystack: Column, needle: String): Column =
    (F.length(haystack) - F.length(F.replace(haystack, lit(needle), lit("")))) /
      lit(needle.length)

  private def padded(text: Column): Column =
    concat(lit(" "), F.lower(text), lit(" "))

  /** Stopword lists per language for the n-gram language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " de ", " y "),
    "de" -> Seq(" der ", " die ", " und ", " das ")
  )

  def langScore(text: Column, lang: String): Column =
    langMarkers.toMap.apply(lang)
      .map(m => occurrences(padded(text), m))
      .reduce(_ + _).cast(LongType)

  /** Language-ID heuristic: argmax of stopword-hit counts, 'und'
    * (undetermined) when all scores are 0. Ties break by the
    * declaration order in `langMarkers`.
    */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, _) => l -> langScore(text, l) }
    val best = scores.map(_._2).reduce((a, b) => F.greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, s), els) =>
      when(s === best && best > 0, lit(l)).otherwise(els)
    }
  }

  /** Quality features + a composite score in [0,1]:
    * token count, mean token length, alphanumeric ratio. The score is
    * a fixed arithmetic formula (deterministic IEEE ops).
    */
  def nAlnum(text: Column): Column =
    F.length(F.regexp_replace(F.lower(text), "[^a-z0-9]+", ""))

  def meanTokenLen(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(F.length(F.regexp_replace(text, "\\s+", "")).cast(DoubleType) /
        tokenCount(text).cast(DoubleType))

  def alnumRatio(text: Column): Column =
    when(F.length(text) === 0, lit(0.0))
      .otherwise(nAlnum(text).cast(DoubleType) / F.length(text).cast(DoubleType))

  /** PII patterns, restricted to constructs with identical semantics
    * in Java regex and RE2 (same discipline as `subwordPattern`) so
    * redaction counts and outputs reproduce in any engine: explicit
    * character classes, bounded/unbounded repetition, `\b` word
    * boundaries (same definition in both). Order matters: emails are
    * matched before bare digit runs so an address is one `<EMAIL>`,
    * not an email plus a phone; IPv4 dots keep them out of the
    * digit-run pattern naturally.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "\\b[0-9]{9,}\\b" -> "<PHONE>")

  /** Redact emails / IPv4 addresses / long digit runs. A chain of
    * codegen'd regexp_replace calls — pure per-row expression,
    * scan-speed, no shuffle; the 100 TB cost is the regex engine, not
    * the plan.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (pat, rep)) =>
      F.regexp_replace(acc, pat, rep)
    }

  /** How many PII spans `redactPii` would replace. Counted
    * sequentially on the partially-redacted text (matching the
    * replacement chain), so overlapping patterns are not
    * double-counted.
    */
  def piiCount(text: Column): Column = {
    val (counts, _) = piiPatterns.foldLeft((Seq.empty[Column], text)) {
      case ((cs, t), (pat, rep)) =>
        (cs :+ F.regexp_count(t, lit(pat)), F.regexp_replace(t, pat, rep))
    }
    counts.reduce(_ + _).cast(LongType)
  }

  // ---- Gopher-rule lexical signals (Rae et al. 2021 §A1.1) --------------
  /** Type-token ratio: distinct tokens / tokens — near 0 means the
    * document is a handful of words repeated (keyword-stuffing spam).
    * Single IEEE division of two exact ints; blank text → 0.
    */
  def typeTokenRatio(text: Column): Column =
    when(F.trim(text) === "", lit(0.0))
      .otherwise(F.size(F.array_distinct(tokens(text))).cast(DoubleType) /
        F.size(tokens(text)))

  /** Gopher's stop-word gate vocabulary ("the, be, to, of, and, that,
    * have, with"): natural prose contains them; machine lists, menus
    * and code mostly don't.
    */
  val stopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Fraction of tokens (lowercased) that are Gopher stop words; the
    * paper's rule keeps docs with >= 2 distinct hits — expose the
    * fraction and the distinct-hit count composes from it cheaply.
    */
  def stopwordFraction(text: Column): Column = {
    val hits = F.size(F.filter(tokens(text),
      t => F.lower(t).isInCollection(stopWords)))
    when(F.trim(text) === "", lit(0.0))
      .otherwise(hits.cast(DoubleType) / F.size(tokens(text)))
  }

  /** Fraction of tokens containing at least one alphabetic character
    * (Gopher keeps docs with >= 80%): tables of numbers and symbol
    * runs fail this where prose passes.
    */
  def alphaWordFraction(text: Column): Column = {
    val hits = F.size(F.filter(tokens(text),
      t => t.rlike("[A-Za-z]")))
    when(F.trim(text) === "", lit(0.0))
      .otherwise(hits.cast(DoubleType) / F.size(tokens(text)))
  }

  // ---- script detection -------------------------------------------------
  /** Unicode-script character classes as EXPLICIT code-point ranges —
    * `\p{Script=Han}` spells differently under Java regex and RE2,
    * `\x{...}` ranges parse identically in both, so the fractions
    * reproduce in any engine. Coarse blocks (the routing signal needs
    * "which writing system", not full Unicode property fidelity).
    */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z\\x{00c0}-\\x{024f}]",
    "cyrillic" -> "[\\x{0400}-\\x{04ff}]",
    "greek" -> "[\\x{0370}-\\x{03ff}]",
    "arabic" -> "[\\x{0600}-\\x{06ff}]",
    "devanagari" -> "[\\x{0900}-\\x{097f}]",
    // Hiragana/Katakana + unified CJK + Hangul syllables
    "cjk" -> "[\\x{3040}-\\x{30ff}\\x{4e00}-\\x{9fff}\\x{ac00}-\\x{d7af}]")

  private def countMatching(text: Column, cls: String): Column =
    F.length(text) - F.length(F.regexp_replace(text, cls, ""))

  /** Fraction of non-whitespace characters in a script class — crawls
    * route by writing system BEFORE word-level language ID (langId's
    * n-gram tables are per-script; a CJK page scored against Latin
    * trigrams is noise). Pure scan expression; blank text → 0.
    */
  def scriptFraction(text: Column, script: String): Column = {
    val cls = scriptRanges.toMap.getOrElse(script,
      throw new IllegalArgumentException(
        s"unknown script '$script' (have ${scriptRanges.map(_._1).mkString(", ")})"))
    val nonWs = F.length(F.regexp_replace(text, "[ \\t\\n\\f\\r]+", ""))
    when(nonWs === 0, lit(0.0))
      .otherwise(countMatching(text, cls).cast(DoubleType) / nonWs)
  }

  /** Dominant script name by character count ("unknown" when no
    * class matches); ties break in `scriptRanges` order — the same
    * deterministic ladder the oracle mirrors.
    */
  def dominantScript(text: Column): Column = {
    val counts = scriptRanges.map { case (n, cls) =>
      n -> countMatching(text, cls) }
    val top = F.greatest(counts.map(_._2): _*)
    counts.foldRight(lit("unknown"): Column) { case ((n, c), acc) =>
      when(c === top && top > 0, lit(n)).otherwise(acc)
    }
  }

  /** Composite quality: prefers 50..1000 tokens, mean token length
    * 3..10, high alnum ratio. Clamped linear pieces, all portable.
    */
  def qualityScore(text: Column): Column = {
    val tc = tokenCount(text).cast(DoubleType)
    val lenScore = F.least(tc / lit(50.0), lit(1.0)) *
      F.least(lit(1.0), lit(1000.0) / F.greatest(tc, lit(1.0)))
    val mtl = meanTokenLen(text)
    val mtlScore = when(mtl < 3.0 || mtl > 10.0, lit(0.5)).otherwise(lit(1.0))
    (lenScore * mtlScore * alnumRatio(text))
  }

  /** Mojibake / broken-encoding signal: fraction of characters that
    * are control codes (excluding tab/newline/CR) or the Unicode
    * replacement character U+FFFD — the classic residue of a bad
    * decode. Pure scan expression; the character class embeds the
    * literal replacement char (not an engine-specific \\u escape) so
    * the same pattern runs under Java regex and RE2 alike.
    */
  def garbageRatio(text: Column): Column = {
    // C0 controls minus tab/LF/CR, DEL, and the literal replacement
    // char (substituted at build time below -- both Java regex and
    // RE2 read a plain character, unlike engine-specific \\u or
    // \\x{..} escapes); two-digit \\xNN escapes parse in both engines
    val pattern =
      "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f" + '\uFFFD' + "]"
    val bad = F.length(text) -
      F.length(F.regexp_replace(text, pattern, ""))
    when(F.length(text) === 0, lit(0.0))
      .otherwise(bad.cast(DoubleType) / F.length(text))
  }


  // ---- model-based quality scoring (fastText-style hashed linear) -------
  /** Driver-side mirror of `h60` (first 60 bits of md5) for plan-build-
    * time constants — bit-identical to the engine/oracle derivation.
    */
  private[graft] def h60Value(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Hashed bag-of-words feature ids: md5-hash(token) mod nFeatures —
    * the fastText / Vowpal-Wabbit hashing trick, portable across
    * engines. Pure per-row expression.
    */
  def hashedFeatures(text: Column, nFeatures: Int): Column =
    F.transform(tokens(text), t => h60(t) % nFeatures.toLong)

  /** Linear classifier MARGIN over hashed token features: bias +
    * Σ weights(h(token)). The standard model-based quality filter
    * (CCNet/LLaMA-style fastText quality classifiers) with the weight
    * vector supplied by the caller (trained offline). Keeping the
    * margin (not the sigmoid) makes thresholding decisions exactly
    * portable: +,*,/ are IEEE-deterministic across engines while
    * libm's exp differs in final ulps.
    *
    * The weight vector embeds into the plan as one array literal —
    * computed ONCE at plan-build time (never per row/element), shipped
    * once per stage. Fine to ~1M features; above that use
    * `linearScoreJoined`, which broadcasts the weights as a table.
    * Scale shape: pure scan-level expression, whole-stage codegen'd,
    * zero shuffles.
    */
  def linearMargin(text: Column, weights: Array[Double],
                   bias: Double): Column = {
    val warr = F.typedlit(weights)
    F.when(F.trim(text) === "", lit(bias)).otherwise(
      F.aggregate(hashedFeatures(text, weights.length), lit(bias),
        (acc, fid) => acc + F.element_at(warr, fid.cast("int") + 1)))
  }

  /** `linearMargin` for models too large to inline: weights as a
    * (fid, w) table. Explode features → broadcast hash join on fid →
    * per-document sum. Shuffle ∝ tokens (the groupBy), model ships
    * once per executor as a broadcast — the right shape when the
    * vocabulary is tens of millions of buckets.
    *
    * Summation note: the distributed sum is order-insensitive only up
    * to double rounding; for cross-engine hash checks round the
    * result (the margin's sign — the filtering decision — is stable
    * far beyond that).
    */
  def linearMarginJoined(df: DataFrame, idCol: String, textCol: String,
                         weights: DataFrame, nFeatures: Int,
                         bias: Double): DataFrame = {
    // blank text must contribute no features (mirror linearMargin's
    // guard — a bare split("") would hash "" as a feature)
    val fcol = F.when(F.trim(F.col(textCol)) === "",
        F.array().cast("array<bigint>"))
      .otherwise(hashedFeatures(F.col(textCol), nFeatures))
    val feats = df.select(F.col(idCol), F.explode_outer(fcol).as("fid"))
    feats.join(F.broadcast(weights), Seq("fid"), "left")
      .groupBy(idCol)
      .agg((F.coalesce(F.sum(F.col("w")), lit(0.0)) + bias).as("margin"))
  }

  // ---- unicode canonicalization -----------------------------------------
  /** Unicode normalization (default NFC) via the native codegen'd
    * UnicodeNorm expression. The canonicalization step BEFORE any
    * hashing/dedup: real crawls carry the same text precomposed and
    * decomposed, and without NFC those hash apart and every
    * fingerprint/minhash silently misses the duplicate. UAX#15 fully
    * specifies the result, so DuckDB's nfc_normalize (and any ICU)
    * byte-agrees.
    */
  def normalizeText(text: Column, form: String = "NFC"): Column =
    graft.plans.UnicodeNorm(text, form)

  /** Accent folding: NFD then strip combining marks (\\p{Mn}) —
    * "Café" → "Cafe". Same result as DuckDB/ICU strip_accents on
    * alphabetic scripts (both decompose per UAX#15 and drop marks),
    * which is what the oracle checks. Pure scan expression.
    */
  def foldAccents(text: Column): Column =
    F.regexp_replace(normalizeText(text, "NFD"), "\\p{Mn}", "")

  // ---- HTML text extraction ---------------------------------------------
  /** Strip-order for HTML visible-text extraction. Every pattern is
    * restricted to Java/RE2-shared semantics (inline (?is) flags,
    * non-greedy repetition, explicit classes — no lookaround, no
    * backreferences) so an oracle engine reproduces the bytes:
    *  1. comments (dotall — comments span lines);
    *  2. script/style ELEMENTS including their content (their text is
    *     code, not prose — tag-stripping alone would leak it);
    *  3. remaining tags → a space ("a<br>b" must read "a b", not
    *     "ab"). The tag must open with a letter, `/` or `!` so stray
    *     prose like "a < b and c > d" is not eaten;
    *  4. entity decode AFTER tag removal (so "&lt;b&gt;" in prose
    *     decodes to the visible "<b>" instead of becoming a tag),
    *     with `&amp;` LAST (so "&amp;lt;" decodes to the literal
    *     "&lt;" the author wrote);
    *  5. whitespace-run collapse with an EXPLICIT class (`\s` itself
    *     diverges between Java and RE2 over \x0B) + trim.
    */
  private val htmlBlockPatterns: Seq[String] = Seq(
    "(?s)<!--.*?-->",
    "(?is)<script\\b[^>]*>.*?</script\\s*>",
    "(?is)<style\\b[^>]*>.*?</style\\s*>")

  private val htmlTagPattern: String = "</?[A-Za-z!][^>]*>"

  /** (entity, replacement) decode table — `&amp;` deliberately last. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
    "&amp;" -> "&")

  /** Visible-text extraction from HTML/markup — the first transform a
    * web-crawl corpus runs. A chain of codegen'd regexp_replace /
    * replace calls: pure per-row scan expression, no shuffle, no UDF;
    * at 100 TB the cost is the regex engine at scan speed. (This is a
    * markup STRIPPER, not a DOM parser — malformed nesting degrades
    * to extra whitespace, never to an error.)
    */
  def stripHtml(text: Column): Column = {
    val noBlocks = htmlBlockPatterns.foldLeft(text)(
      (acc, p) => F.regexp_replace(acc, p, " "))
    val noTags = F.regexp_replace(noBlocks, htmlTagPattern, " ")
    val decoded = htmlEntities.foldLeft(noTags) {
      case (acc, (ent, rep)) => F.replace(acc, lit(ent), lit(rep))
    }
    F.trim(F.regexp_replace(decoded, "[ \\t\\n\\f\\r]+", " "))
  }

  /** URL domain mentions. Restricted to Java/RE2-identical constructs
    * (explicit classes, no lookaround) so extraction reproduces in
    * any engine; capture group 1 is the host.
    */
  val urlDomainPattern: String = "https?://([A-Za-z0-9.-]+)"

  def urlDomains(text: Column): Column =
    F.regexp_extract_all(text, lit(urlDomainPattern), lit(1))

  /** Deterministic pseudo-model for tests/oracles: weight(i) ∈
    * [-1000/1024, 1000/1024] derived from md5("w:" + i) — any engine
    * reproduces it exactly. The 1024 denominator is deliberate: each
    * weight is a dyadic rational (k/2^10, |k| ≤ 1000), so every
    * partial sum of document-scale margins is EXACTLY representable in
    * a double — summation order cannot change the result by even an
    * ulp, and cross-engine hash checks need no rounding. Real
    * deployments pass their trained vector instead (and round margins
    * if they need cross-engine bit equality).
    */
  def md5Weights(nFeatures: Int): Array[Double] =
    Array.tabulate(nFeatures)(i =>
      (h60Value(s"w:$i") % 2001L - 1000L).toDouble / 1024.0)
}
