package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis expressions for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting.
  * All built from codegen'd `functions._` — they stay inside whole-stage
  * codegen and scale linearly with no shuffle.
  */
object TextFunctions {

  /** Stopword list used by the language/quality heuristics. Deliberately
    * tiny and hard-coded so the DuckDB oracle can replicate it verbatim. */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Whitespace tokenization (literal single space — matches the oracle's
    * string_split semantics; the synthetic corpus is single-spaced). */
  def tokens(text: Column): Column = split(text, " ", -1)

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(text)

  /** Count of stopword tokens (higher-order filter, no UDF). */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isInCollection(StopWords)))

  /** Stopword ratio in [0,1]; deterministic double (int/int division). */
  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast("double") / tokenCount(text)

  /** Mean token length: non-space chars over token count. */
  def avgTokenLength(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") / tokenCount(text)

  /** Composite quality score in [0,1]: length band + stopword presence +
    * mean-word-length band (mirrors the reference's weighted quality
    * dimensions, ops/data_quality_ops.py:60-139, recast for raw text). */
  def qualityScore(text: Column): Column = {
    val lengthOk   = (charCount(text) >= 100 && charCount(text) <= 20000).cast("int")
    val stopOk     = (stopwordRatio(text) >= 0.01).cast("int")
    val wordLenOk  = (avgTokenLength(text) >= 3.0 && avgTokenLength(text) <= 10.0).cast("int")
    (lengthOk * 0.4) + (stopOk * 0.3) + (wordLenOk * 0.3)
  }

  /** N-gram-free language-ID heuristic: English stopword density. The
    * corpus is synthetic word-soup, so this is a deterministic stand-in
    * for a real char-n-gram model (swap-in point for fastText-style LID). */
  def langIdHeuristic(text: Column): Column =
    when(stopwordRatio(text) >= 0.02, "en").otherwise("unk")

  /** Canonical document fingerprint: md5 of case/space-normalized text.
    * Exact-dedup key; the rolling-hash variant lives in Dedup.simHash. */
  def fingerprint(text: Column): Column =
    md5(lower(trim(text)))

  /** Word-level shingles (n-grams) as an array column, distinct, for
    * Jaccard / MinHash. A native codegen'd expression
    * (plans/TextExpressions): one boundary scan + byte-range slices, not a
    * higher-order `transform` — HOFs can't enter whole-stage codegen and
    * their interpreted eval re-splits the text per shingle position, which
    * made this hot loop 50-100× slower under JIT pressure. */
  def wordShingles(text: Column, n: Int): Column =
    graft.plans.WordShingles.word_shingles(text, n)

  /** Every shingle occurrence (no dedup) — repetition statistics need the
    * multiplicity that the distinct variant erases. Same codegen'd scan. */
  def wordShinglesAll(text: Column, n: Int): Column =
    graft.plans.WordShingles.word_shingles_all(text, n)

  /** Unicode canonicalization (normalize form + lowercase + whitespace
    * collapse) — native codegen'd expression, see plans/NormalizeText. */
  def normalizeText(text: Column, form: String = "NFKC",
      lowercase: Boolean = true, collapseWs: Boolean = true): Column =
    graft.plans.NormalizeText.normalize_text(text, form, lowercase, collapseWs)

  /** GPT-2-style pre-tokenizer pieces: contractions, space-prefixed letter
    * runs, digit runs, punctuation runs. The regex subset is chosen to
    * behave identically under Java regex and RE2-ish engines, so a DuckDB
    * oracle can replicate it. Piece count is the standard proxy for BPE
    * token budgets (each piece is further split subword by a real BPE —
    * piece count lower-bounds and tracks token count linearly). */
  val BpePieceRegex: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def bpePieces(text: Column): Column =
    regexp_extract_all(text, lit(BpePieceRegex), lit(0))

  def bpePieceCount(text: Column): Column = size(bpePieces(text))

  /** Gopher-rule required stopwords (Rae et al. 2021 §A1.1) — distinct
    * from [[StopWords]], which feeds the language/quality heuristics.
    * Note: the synthetic corpus's vocabulary contains only "the" of the
    * eight, so the ≥2-hits rule rejects every synthetic doc — kept
    * faithful to the paper rather than tuned to the fixture (the metric
    * columns and the t18 repetition rules carry the discrimination). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Composed Gopher keep/drop document filter (Rae et al. 2021 §A1.1):
    * word-count bounds, mean word length, alphabetic-word fraction and
    * required-stopword hits fold into one verdict. A pure higher-order-
    * function projection — zero shuffles, fully codegen'd — so the same
    * Columns run identically over a batch scan or a readStream (st14).
    * Input needs (doc_id, text). */
  def gopherFilter(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val nWords = size(words)
    val charSum = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val meanLen = charSum.cast("double") / nWords
    val alphaFrac = size(filter(words, w => w.rlike("[a-z]"))).cast("double") / nWords
    val reqStops = GopherStopWords
      .map(sw => when(array_contains(words, sw), 1).otherwise(0))
      .reduce(_ + _)
    docs.select(
      col("doc_id"),
      nWords.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_word_frac"),
      reqStops.cast("int").as("req_stopword_hits"),
      (nWords.between(50, 100000) && meanLen.between(3.0, 10.0) &&
        alphaFrac >= 0.8 && reqStops >= 2).as("keep"))
  }

  /** PII patterns for the pre-training scrub (t22): kept in the
    * RE2∩Java dialect subset (\d and \b are ASCII-equivalent in both on
    * ASCII corpora — t11 precedent) so a SQL-engine oracle can replay
    * them verbatim. Ordered for [[scrubPii]]'s redaction chain: email
    * first ('@'-anchored, can contain digit runs the later patterns
    * would otherwise see), then NANP phone, then IPv4. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
    "phone" -> """\b\d{3}-\d{3}-\d{4}\b""",
    "ip" -> """\b(?:\d{1,3}\.){3}\d{1,3}\b""")

  /** Keyed view of [[PiiPatterns]] (single shared map — lookup sites
    * should not each re-derive it). */
  val PiiPatternMap: Map[String, String] = PiiPatterns.toMap

  /** Per-class PII match count over the raw text (taken BEFORE any
    * redaction — callers chaining [[scrubPii]] should count first). */
  def piiCount(text: Column, kind: String): Column = {
    val pat = PiiPatternMap.getOrElse(kind,
      throw new IllegalArgumentException(
        s"unknown PII class '$kind' (have ${PiiPatterns.map(_._1).mkString(", ")})"))
    size(regexp_extract_all(text, lit(pat), lit(0)))
  }

  /** Redact all PII classes, leftmost-non-overlapping per class, in
    * [[PiiPatterns]] order — '<EMAIL>'/'<PHONE>'/'<IP>' placeholders.
    * A pure codegen'd regexp_replace chain: zero shuffles, linear scan,
    * identical Columns batch or streaming. */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (kind, pat)) =>
      // Locale.ROOT: a tr/az default locale would fold "ip" -> "<İP>"
      regexp_replace(c, pat, s"<${kind.toUpperCase(java.util.Locale.ROOT)}>")
    }

  /** Invisible/hostile character classes for the pre-training unicode
    * scrub (t27) — the C4/Dolma cleanup pass that runs BEFORE tokenizing
    * or dedup-keying: control characters break tokenizers, zero-width
    * characters and soft hyphens split dedup keys for visually-identical
    * text, and NBSP masquerades as a space without matching one. All
    * three patterns use the `\x{hhhh}` code-point syntax — the ONE
    * escape form Java regex and RE2 share for non-ASCII classes (Java's
    * `\uhhhh` is not RE2; RE2's bare `\C` is not Java), keeping the
    * oracle replay verbatim. Tab/newline/CR are NOT control here — they
    * are whitespace, handled by the collapse step. */
  val ControlCharPattern: String =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]"

  /** Zero-width space/non-joiner/joiner, BOM/ZWNBSP, soft hyphen. */
  val ZeroWidthPattern: String = "[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]"

  /** Whitespace run — EXPLICIT class, not \s: Java's \s includes \x0B
    * where RE2's does not, so \s is outside the shared dialect. */
  val WhitespaceRunPattern: String = "[ \\t\\n\\r]+"

  /** Count of control + zero-width characters in the raw text (audit
    * column for [[unicodeScrub]]): code-point length delta after
    * removing the class — both engines count code points. */
  def invisibleCount(text: Column, pattern: String): Column =
    (length(text) - length(regexp_replace(text, pattern, ""))).cast("int")

  /** The unicode scrub itself, in a FIXED order the oracle replays
    * step-for-step: drop control chars, drop zero-width chars, NBSP →
    * space, collapse whitespace runs to one space, trim. A pure
    * codegen'd regexp_replace chain — zero shuffles, linear scan. */
  def unicodeScrub(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, ControlCharPattern, ""),
          ZeroWidthPattern, ""),
        "\\x{00A0}", " "),
      WhitespaceRunPattern, " "))

  /** Normalized dedup key (d19): the standard "near-exact" duplicate key
    * — [[unicodeScrub]], case-fold, strip everything but [a-z0-9 ],
    * re-collapse, md5. Two documents that differ only in case,
    * punctuation, invisible characters or whitespace share a key; both
    * engines' md5() agree byte-for-byte on the same normalized string. */
  def normalizedDedupKey(text: Column): Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(unicodeScrub(text)), "[^a-z0-9 ]", ""),
      WhitespaceRunPattern, " ")))

  /** 16-digit payment-card candidates in the text (the PII class the
    * email/phone/IP patterns don't cover; \b guards keep longer digit
    * runs out). Pattern stays in the RE2∩Java subset. */
  def ccCandidates(text: Column): Column =
    regexp_extract_all(text, lit("\\b\\d{16}\\b"), lit(0))

  /** Luhn checksum over a 16-digit string: from the left at even length,
    * odd positions double (9-fold back), sum ≡ 0 (mod 10). Unrolled into
    * 16 fixed substring terms — fully codegen'd, zero allocations, and
    * REPLAYABLE VERBATIM in an ANSI oracle (an aggregate-over-array form
    * would pull in engine-specific lambda dialects). A mere \d{16} match
    * is ~10% random-digit false positives; Luhn cuts those 10× — the
    * difference between flagging card numbers and flagging timestamps.
    * Null / short / any non-all-digit input → null (no match to judge) —
    * the anchored rlike guard matters under ANSI mode, where a bare
    * digit-cast of a 16-char token like "ABCD..." would THROW in the
    * executor instead of returning a verdict. */
  def luhnValid16(cc: Column): Column = {
    val terms = (1 to 16).map { i =>
      val d = substring(cc, i, 1).cast("int")
      if (i % 2 == 1) when(d * 2 > 9, d * 2 - 9).otherwise(d * 2) else d
    }
    when(cc.rlike("^\\d{16}$"), terms.reduce(_ + _) % 10 === 0)
  }
}
