package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFunctions._
import graft.functions.UrlFunctions
import graft.operators.HeavyHitters

/** Text-analysis operators over the `documents` table: token stats, quality
  * scoring, language-ID heuristic, fingerprinting, multimodal (binary)
  * column metadata. All scale linearly (pure projections / one groupBy) and
  * every one is DuckDB-oracle-checked.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    "t1_token_stats" -> ((s, d) => {
      Tables(s, d).documents.select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        charCount(col("text")).as("n_chars_obs"),
        stopwordCount(col("text")).as("stop_cnt"),
        avgTokenLength(col("text")).as("avg_tok_len")
      )
    }),
    "t2_quality_score" -> ((s, d) => {
      Tables(s, d).documents.select(
        col("doc_id"),
        col("lang"),
        qualityScore(col("text")).as("quality")
      )
    }),
    "t3_lang_id" -> ((s, d) => {
      Tables(s, d).documents.select(
        col("doc_id"),
        col("lang"),
        langIdHeuristic(col("text")).as("pred_lang"),
        (langIdHeuristic(col("text")) === col("lang")).as("agree")
      )
    }),
    "t4_fingerprint_shingles" -> ((s, d) => {
      Tables(s, d).documents.select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        size(wordShingles(col("text"), 3)).as("shingle3_cnt")
      )
    }),
    "t5_rolling_fingerprint" -> ((s, d) => {
      // Rabin-Karp rolling 16-byte fingerprint (native Catalyst expr)
      Tables(s, d).documents.select(
        col("doc_id"),
        graft.plans.VectorExpressions.rolling_fingerprint(col("text"), 16).as("roll_fp")
      )
    }),
    "t6_bpe_pieces" -> ((s, d) => {
      // GPT-2-style pre-tokenizer piece count — the BPE token-budget proxy
      Tables(s, d).documents.select(
        col("doc_id"),
        bpePieceCount(col("text")).as("piece_cnt"),
        element_at(bpePieces(col("text")), 1).as("first_piece")
      )
    }),
    "t10_unigram_lm" -> ((s, d) => {
      // corpus-typicality stats (inverted-index token df + top-1000 vocab
      // OOV rate) — integer-exact columns so the oracle hash-checks; the
      // float log-perplexity twin is spec-tested in Operators2Spec
      graft.operators.LanguageModel.corpusTypicality(
        Tables(s, d).documents, "doc_id", "text", topK = 1000)
    }),
    "t16_bigram_lm" -> ((s, d) => {
      // conditional-probability corpus typicality: avg log p(w2|w1) per
      // doc under the corpus's own bigram counts — t10's signal with
      // context. Self-training makes every bigram observed (no smoothing),
      // so the whole score replays as SQL.
      graft.operators.LanguageModel.bigramTypicality(
        Tables(s, d).documents, "doc_id", "text")
    }),
    "t19_lm_quality_filter" -> ((s, d) => {
      // CCNet-style LM-quality filtering (Wenzek et al. 2020 §4.3): score
      // every doc by corpus typicality (t16's bigram avg log-prob), set
      // the cut at the corpus 10th percentile, drop below-cut docs. The
      // cut comes from ONE percentile aggregate over the per-doc SCORE
      // table (n_docs rows, not corpus bytes) broadcast back map-side —
      // x7's cut-point pattern — so there is NO global sort of the corpus
      // anywhere in the plan.
      val scored = graft.operators.LanguageModel.bigramTypicality(
        Tables(s, d).documents, "doc_id", "text")
      val cut = scored.agg(expr("percentile(avg_logp, 0.1)").as("cut"))
      scored.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
          (col("avg_logp") > col("cut")).as("keep"))
    }),
    "t20_token_entropy" -> ((s, d) => {
      // token-diversity quality signal: Shannon entropy of the per-doc
      // token histogram (H = ln n − Σ c·ln c / n), type count, and
      // top-token mass. Complements t11, which measures n-gram REPETITION
      // — entropy catches low-diversity spam whose top gram is still
      // unremarkable. Same plan shape as t11 (ONE (doc,token) exchange,
      // then a per-doc rollup), linear in tokens; 6-dp rounding absorbs
      // summation-order drift in the Σ c·ln c term (t16 precedent).
      val tok = Tables(s, d).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_types"),
          max(col("c")).as("top_cnt"),
          sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
        .select(
          col("doc_id"),
          col("n_tok"),
          col("n_types"),
          round(col("top_cnt").cast("double") / col("n_tok"), 6).as("top_frac"),
          round(log(col("n_tok").cast("double")) - col("clc") / col("n_tok"), 6).as("entropy"))
    }),
    "t21_heavy_hitters" -> ((s, d) => {
      // corpus-level frequent bigrams via the CMS candidate plan
      // (operators/HeavyHitters): sketch shuffle bounded at depth×width
      // rows per task, candidates probed map-side against the broadcast
      // sketch, exact recount only of candidates — the n-gram long tail
      // (94% of this corpus's bigram universe, billions of keys at
      // 100 TB) never reaches a key-keyed exchange. Output is EXACTLY
      // the naive groupBy-count ≥ 40 set, which is what the oracle runs.
      val grams = Tables(s, d).documents
        .select(explode(wordShinglesAll(col("text"), 2)).as("gram"))
      HeavyHitters.frequentKeys(grams, "gram", minCount = 40L)
    }),
    "t12_normalize" -> ((s, d) => {
      // Unicode canonicalization (native codegen NormalizeText): NFC config
      // here because DuckDB's nfc_normalize can replay it — the NFKC default
      // (ligature/fullwidth folding) is spec-tested in Wave3Spec against
      // java.text.Normalizer ground truth
      val norm = normalizeText(col("text"), form = "NFC")
      Tables(s, d).documents.select(
        col("doc_id"),
        norm.as("norm_text"),
        length(norm).as("norm_len"))
    }),
    "t11_repetition" -> ((s, d) => {
      // Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
      // fraction of 2-gram occurrences in the most frequent 2-gram and in
      // any repeated 2-gram — boilerplate/spam detectors that need shingle
      // MULTIPLICITY, so this uses wordShinglesAll (no dedup). One shuffle
      // (groupBy doc_id, g), then a per-doc rollup.
      val g2 = Tables(s, d).documents.select(
        col("doc_id"), explode(wordShinglesAll(col("text"), 2)).as("g"))
      g2.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(col("c")).as("n_2grams"),
          max(col("c")).as("top_cnt"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_cnt"))
        .select(
          col("doc_id"),
          col("n_2grams"),
          (col("top_cnt").cast("double") / col("n_2grams")).as("top2_frac"),
          (col("dup_cnt").cast("double") / col("n_2grams")).as("dup_frac"))
    }),
    "m1_multimodal_meta" -> ((s, d) => {
      // binary-column plumbing: text treated as an opaque payload column;
      // byte length + content hash are the metadata a decode stage keys on
      Tables(s, d).documents.select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        md5(col("text")).as("content_md5")
      )
    }),
    "m2_image_decode" -> ((s, d) => {
      // REAL image decode (javax.imageio): synthetic PNGs whose ground
      // truth is arithmetic on doc_id, decoded back to true dimensions +
      // per-channel means — the oracle recomputes the formulas in SQL, so
      // the decode stage is hash-checked against ground truth
      val imgs = graft.operators.Multimodal.syntheticPngs(
        Tables(s, d).documents.select("doc_id"), "doc_id")
      graft.operators.Multimodal.extractFeatures(imgs, "doc_id", "payload")
        .select(
          col("doc_id"),
          col("format_guess"),
          col("width"),
          col("height"),
          col("decoded"),
          round(element_at(col("features"), 1) * 255).cast("int").as("mean_r"),
          round(element_at(col("features"), 2) * 255).cast("int").as("mean_g"),
          round(element_at(col("features"), 3) * 255).cast("int").as("mean_b")
        )
    }),
    "m3_frame_sample" -> ((s, d) => {
      // video-ish frame sampling plan: payload rides as an opaque binary
      // column, frame count derives from container metadata (bytes/1k
      // here), and every-2nd-frame indices are emitted via sequence +
      // explode — declarative 1:N, no per-doc loops, scales as a pure
      // projection. The decode of each sampled frame is the swap-in
      // codec stage (same seam as m2's ImageIO decode).
      graft.operators.Multimodal.sampleFrames(
        Tables(s, d).documents.select(col("doc_id"), col("text")),
        "doc_id", "text", everyNth = 2)
    }),
    "m4_audio_decode" -> ((s, d) => {
      // REAL audio decode (javax.sound.sampled): synthetic 8 kHz square-
      // wave WAVs whose ground truth is arithmetic on doc_id, decoded back
      // through the JDK codec to header fields + exact integer PCM stats —
      // the oracle recomputes the closed forms in SQL, so the decode stage
      // is hash-checked against ground truth (the audio twin of m2)
      val wavs = graft.operators.Multimodal.syntheticWavs(
        Tables(s, d).documents.select("doc_id"), "doc_id")
      graft.operators.Multimodal.extractAudioFeatures(wavs, "doc_id", "payload")
    }),
    "m5_image_resize" -> ((s, d) => {
      // REAL resize stage (completes decode/feature/resize/frame-sample):
      // gradient PNGs whose per-pixel value is a closed form of
      // (doc_id,x,y), decoded with ImageIO and nearest-neighbor-resampled
      // to 8×8; integer channel sums over the thumbnail hash-check the
      // decode+resample path against the closed form replayed in SQL
      // over a generated 8×8 grid.
      val imgs = graft.operators.Multimodal.syntheticGradientPngs(
        Tables(s, d).documents.select("doc_id"), "doc_id")
      graft.operators.Multimodal.resizeThumbnail(imgs, "doc_id", "payload", 8, 8)
    }),
    "t17_gopher_filter" -> ((s, d) => {
      // Gopher-rule document filter (Rae et al. 2021 §A1.1): per-doc word
      // count, mean word length, alphabetic-word fraction and required-
      // stopword hits compose into a keep/drop verdict. Pure higher-order-
      // function projection (codegen'd, zero UDFs, zero shuffles) — the
      // whole filter is a map over the corpus scan, which is exactly what
      // a 100 TB quality pass has to be. Shared with the st14 ingest gate.
      graft.functions.TextFunctions.gopherFilter(Tables(s, d).documents)
    }),
    "t18_repetition_filter" -> ((s, d) => {
      // Gopher REPETITION rules (Rae et al. 2021 §A1.1 Table A1): fraction
      // of a document's characters contained in occurrences of its single
      // most frequent word 2-gram / 3-gram; drop when top-2gram > 0.20 or
      // top-3gram > 0.18 of chars. (Line-level dup rules are degenerate on
      // this corpus — no newlines — so the n-gram family is the active
      // half of the table.) Shape: a ZERO-SHUFFLE map — per-document gram
      // counting needs no cross-row state, so the native
      // plans/TopRepeatedGram expression (one boundary scan + hash count +
      // max scan per doc, O(bytes)) replaces the round-12 explode → wide
      // (doc_id, n, gram) exchange → two keyed reductions → join-back
      // skeleton, whose shuffle of ~2 rows per corpus word was the whole
      // ×10 cost (BASELINE.md "Round 13: t18 repetition filter"). Tie-break
      // = max count then max gram, identical on both engines (struct-max
      // semantics inside the expression / ORDER BY cnt DESC, g DESC).
      // The PAIR form tokenizes once for both widths (the boundary scan
      // is byte-identical across the 2-/3-gram calls).
      val tg = graft.plans.TopRepeatedGram.top_repeated_gram_pair(col("text"), 2, 3)
      Tables(s, d).documents
        .select(col("doc_id"), col("n_chars"), tg.as("t"))
        .select(col("doc_id"), col("n_chars"),
          col("t.a").as("t2"), col("t.b").as("t3"))
        .select(col("doc_id"),
          col("t2.g").as("top_2gram"),
          (col("t2.cnt") * length(col("t2.g")).cast("double") / col("n_chars"))
            .as("top_2gram_char_frac"),
          col("t3.g").as("top_3gram"),
          (col("t3.cnt") * length(col("t3.g")).cast("double") / col("n_chars"))
            .as("top_3gram_char_frac"))
        .select(col("doc_id"), col("top_2gram"), col("top_2gram_char_frac"),
          col("top_3gram"), col("top_3gram_char_frac"),
          (coalesce(col("top_2gram_char_frac") <= 0.20, lit(true)) &&
            coalesce(col("top_3gram_char_frac") <= 0.18, lit(true))).as("keep"))
    }),
    "t14_compression_ratio" -> ((s, d) => {
      // compression-ratio quality signal (model-free redundancy detector:
      // templated/boilerplate text deflates far below natural prose, noise
      // barely deflates); ordering + determinism are spec-asserted in
      // Wave3Spec.
      val csize = graft.plans.DeflateSize.deflate_size(col("text"))
      Tables(s, d).documents.select(
        col("doc_id"),
        col("n_chars"),
        csize.as("deflate_bytes"),
        (csize.cast("double") / greatest(col("n_chars"), lit(1))).as("compression_ratio"))
    }),
    "t15_chunking" -> ((s, d) => {
      // RAG/embedding-pipeline document chunking: fixed 64-token windows
      // on a 48-token stride (16-token overlap), purely declarative —
      // sequence() of chunk starts + posexplode + slice, all codegen'd
      // array ops, no per-doc loops. One row per (doc, chunk); the last
      // chunk is the natural remainder, and a chunk only exists if it
      // contributes tokens beyond the overlap (start <= n - overlap - 1),
      // so no chunk is fully contained in its predecessor.
      val chunkLen = 64
      val stride = 48 // overlap = chunkLen - stride = 16
      val toks = split(col("text"), " ", -1)
      Tables(s, d).documents
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"),
          posexplode(sequence(lit(0),
            greatest(size(col("w")) - (chunkLen - stride) - 1, lit(0)), lit(stride)))
            .as(Seq("chunk_idx", "start")),
          col("w"))
        .select(
          col("doc_id"),
          col("chunk_idx"),
          size(slice(col("w"), col("start") + 1, lit(chunkLen))).as("n_chunk_tokens"),
          concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunkLen))).as("chunk_text"))
    }),
    "t13_bpe_learned" -> ((s, d) => {
      // BPE with merges LEARNED from this corpus (operators/Bpe): one
      // distributed word-histogram job trains 200 merges on the top-5000
      // words; encoding is the codegen'd BpeEncode expression carrying the
      // merge table as one reference object. The merge learner is
      // verified against the classic Sennrich ground truth + partitioning
      // independence in Wave3Spec.
      val docs = Tables(s, d).documents
      val merges = graft.operators.Bpe.learnMerges(
        docs, "text", numMerges = 200, vocabWords = 5000,
        cacheKey = Some(s"bpe|$d|m200|v5000"))
      docs.select(
        col("doc_id"),
        size(graft.operators.Bpe.encode(col("text"), merges)).as("n_pieces"),
        col("n_chars"))
        .withColumn("chars_per_piece",
          col("n_chars").cast("double") / col("n_pieces"))
    }),
    "t5b_rolling_fingerprint_portable" -> ((s, d) => {
      // t5's rolling-window document fingerprint in PORTABLE arithmetic:
      // per 8-byte window a polynomial hash folded mod 2^31-1 (no 64-bit
      // wraparound, so DuckDB replays it exactly), XOR-combined per doc —
      // the same shared-substring detection shape as the native
      // RollingFingerprint (which stays rows-only: its Java-long wraparound
      // multiply has no overflow-safe SQL twin). Same portable-sibling
      // pattern as d2b/d3b/x1b.
      // Round-4: re-expressed as the O(n) Rabin-Karp RECURRENCE (drop the
      // leaving char's 257^7 term, shift, add the entering char) instead
      // of re-hashing all 8 chars per window — bit-identical mod-2^31-1
      // values, but the explode + 8x substring + groupBy shuffle collapse
      // into ONE exchange-free projection (10.6 s -> O(n) at sf0.1).
      val M = 2147483647L
      val P7 = (1 to 7).foldLeft(1L)((a, _) => a * 257 % M) // 257^7 mod M
      Tables(s, d).documents
        .filter(length(col("text")) >= 8)
        .select(col("doc_id"),
          expr("transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))").as("ch"))
        .select(col("doc_id"),
          expr(
            s"""aggregate(
               |  CASE WHEN size(ch) >= 9 THEN sequence(2, size(ch) - 7)
               |       ELSE CAST(array() AS ARRAY<INT>) END,
               |  named_struct(
               |    'h', aggregate(slice(ch, 1, 8), CAST(0 AS BIGINT), (acc, c) -> (acc * 257 + c) % $M),
               |    'x', aggregate(slice(ch, 1, 8), CAST(0 AS BIGINT), (acc, c) -> (acc * 257 + c) % $M)),
               |  (acc, p) -> named_struct(
               |    'h', (((acc.h - element_at(ch, p - 1) * $P7) % $M + $M) * 257
               |          + element_at(ch, p + 7)) % $M,
               |    'x', acc.x ^ ((((acc.h - element_at(ch, p - 1) * $P7) % $M + $M) * 257
               |          + element_at(ch, p + 7)) % $M)),
               |  acc -> acc.x)""".stripMargin).as("fingerprint"),
          (size(col("ch")) - 7).cast("long").as("n_windows"))
    }),
    "t13b_bpe_encode_sample" -> ((s, d) => {
      // t13's encode path hash-checked end-to-end on a doc sample: the
      // learned merge table is deterministic, so after this query runs the
      // merges are inlined into a DuckDB replay (recursive CTE applying
      // merges in rank order — equivalent to the greedy lowest-rank-first
      // encoder because BPE training only learns a pair containing a fused
      // symbol AFTER the merge that fuses it, so sequential rank order
      // never misses a lower-rank pair). Full-corpus t13 stays rows-only.
      val docs = Tables(s, d).documents
      val merges = graft.operators.Bpe.learnMerges(
        docs, "text", numMerges = 200, vocabWords = 5000,
        cacheKey = Some(s"bpe|$d|m200|v5000"))
      bpeMergesForOracle = Some(merges)
      docs.filter(col("doc_id") % 25 === 0)
        .select(
          col("doc_id"),
          concat_ws(" ", graft.operators.Bpe.encode(col("text"), merges)).as("pieces"))
    }),
    "t22_pii_scrub" -> ((s, d) => {
      // PII redaction pass (emails, NANP phones, IPv4) — the standard
      // pre-training scrub (CCNet/Dolma-style). The fixture text is
      // digit-free word salad, so the entry PLANTS one deterministic
      // doc_id-derived span of each PII class (identical construction in
      // the oracle) and is graded on counting and redacting exactly those:
      // a pattern that over- or under-matches breaks the hash. Map-only
      // (zero exchanges, inside WholeStageCodegen); all three patterns sit
      // in the RE2∩Java subset — \d and \b are ASCII-equivalent in both
      // dialects on this corpus (t11 precedent). Counts are taken on the
      // pre-redaction text; the planted classes cannot overlap (email
      // requires '@', phone requires hyphens, IPv4 requires dots between
      // digit runs), so count-then-chain-redact is order-independent here
      // while the redaction chain itself runs email -> phone -> IP.
      val doc = Tables(s, d).documents
      val id = col("doc_id")
      val planted = concat(col("text"),
        lit(" contact user"), id.cast("string"),
        lit("@mail.example.org or 303-555-"),
        lpad((id % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (id % 256).cast("string"), lit("."),
        (id % 100).cast("string"))
      doc.select(id, planted.as("t"))
        .select(
          col("doc_id"),
          piiCount(col("t"), "email").as("n_email"),
          piiCount(col("t"), "phone").as("n_phone"),
          piiCount(col("t"), "ip").as("n_ip"),
          scrubPii(col("t")).as("scrubbed"))
    }),
    "t23_url_canonicalize" -> ((s, d) => {
      // URL canonicalization (functions/UrlFunctions) — the dedup key for
      // a crawled corpus. The fixture has no url column, so one is planted
      // deterministically from doc_id (t22/t7b recipe, identical in the
      // oracle), covering every canonicalization rule at once: mixed-case
      // scheme+host, optional WWW., scheme-default port (:443 stripped) vs
      // explicit non-default (:8080 kept), utm_* params around a real one,
      // and a fragment. Hash-graded end-to-end: a rule that over- or
      // under-normalizes breaks canon_url for the affected doc_id residue
      // class. Map-only, zero exchanges.
      val id = col("doc_id")
      Tables(s, d).documents.select(id, plantedUrl(id).as("url"))
        .select(
          col("doc_id"),
          col("url"),
          UrlFunctions.canonicalizeUrl(col("url")).as("canon_url"),
          UrlFunctions.urlHost(col("url")).as("host"),
          UrlFunctions.registrableDomain(col("url")).as("domain"),
          UrlFunctions.trackingParamCount(col("url")).as("n_tracking_params"))
    }),
    "t24_registrable_domain" -> ((s, d) => {
      // PSL-aware registrable domain (functions/PublicSuffixes snapshot +
      // UrlFunctions.withRegistrableDomain): t23's planted hosts all sit
      // under one bare TLD, so this entry plants a SECOND url surface
      // cycling through suffix classes — bare TLDs (com/org/net) and
      // 2-label public suffixes (co.uk/com.au/co.jp), with and without
      // www and a deeper subdomain — where the 2-label fallback and the
      // PSL answer genuinely diverge (emitted side by side). Plan: the
      // scale-correct form — one broadcast LEFT join of the host's
      // last-2-labels key against the suffix seed; the corpus side never
      // shuffles (map-only + broadcast, zero exchanges). The host regexp
      // chain is evaluated ONCE (projected, then fed to the FromHost
      // variant and the 2-label extract) — not re-derived from the url
      // on each output column.
      val id = col("doc_id")
      ensurePslRules(s)
      UrlFunctions.withRegistrableDomainFromHost(
        Tables(s, d).documents.select(id, pslUrl(id).as("url"))
          .withColumn("host", UrlFunctions.urlHost(col("url"))),
        col("host"), "domain")
        .select(col("doc_id"), col("url"), col("host"), col("domain"),
          regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1).as("domain_2label"))
    }),
    "t25_url_blocklist" -> ((s, d) => {
      // Domain-blocklist scrub (UrlFunctions.filterBlockedDomains) — the
      // C4/Dolma curation rule that completes the url family: t23
      // canonicalizes, t24 keys the registrable domain, x18/x18b quota
      // it, t25 drops listed domains outright. Match is on the PSL
      // registrable domain (blocklists name SITES — a host-level match
      // would let evil.example.com through when example.com is listed);
      // the blocklist includes one domain the planted universe never
      // produces, proving dead entries are harmless. Plan: map + two
      // broadcast joins (PSL promote, anti-join drop), zero exchanges —
      // at 100 TB survivors stream through map-side.
      val id = col("doc_id")
      ensurePslRules(s)
      val base = Tables(s, d).documents.select(id, pslUrl(id).as("url"))
        .withColumn("host", UrlFunctions.urlHost(col("url")))
      UrlFunctions.filterBlockedDomains(
        UrlFunctions.withRegistrableDomainFromHost(base, col("host"), "domain"),
        col("domain"), BlockedDomains)
        .select(col("doc_id"), col("url"), col("domain"))
    }),
    "t26_cc_luhn" -> ((s, d) => {
      // Payment-card PII (TextFunctions.{ccCandidates, luhnValid16}) —
      // the PII class t7/t22's email/phone/IP patterns don't cover, and
      // the one where a bare \d{16} match is ~10% random-digit false
      // positives. Division of labor: the SCRUB is conservative (every
      // 16-digit candidate is redacted — for privacy, over-scrubbing a
      // timestamp beats leaking a card), while cc_valid is the AUDIT
      // column separating true card hits from digit-run noise, the
      // precision signal a curation report keys on. Planted per residue
      // class from PUBLIC test-card literals (identical literals in the
      // oracle): three Luhn-valid, two invalid, one class with no
      // candidate at all (null verdict).
      // The 16-term unrolled checksum is pure codegen'd arithmetic,
      // map-only, zero exchanges, replayed term-for-term in the oracle.
      val id = col("doc_id")
      val cands = ccCandidates(col("t"))
      Tables(s, d).documents.select(id, t26Planted.col.as("t"))
        .select(col("doc_id"),
          size(cands).as("n_cc"),
          // try_element_at: ANSI mode makes bare element_at THROW on the
          // empty candidate array of the no-card class
          luhnValid16(try_element_at(cands, lit(1))).as("cc_valid"),
          regexp_replace(col("t"), "\\b\\d{16}\\b", "<CC>").as("scrubbed"))
    }),
    "t27_unicode_scrub" -> ((s, d) => {
      // Invisible-character curation pass (TextFunctions.unicodeScrub) —
      // the C4/Dolma cleanup that runs BEFORE tokenizing or dedup-keying:
      // control chars break tokenizers, zero-width chars / soft hyphens
      // split dedup keys for visually-identical text, NBSP fakes a space.
      // Planted per residue class (ZWSP+ZWJ, BEL+DEL control pair,
      // NBSP+space-run, BOM prefix, clean control group) with the
      // IDENTICAL construction in the oracle via chr(); the scrub chain
      // and both audit counts replay verbatim — the patterns use the
      // \x{hhhh} code-point syntax Java regex and RE2 share. Map-only,
      // zero exchanges, fully codegen'd.
      val id = col("doc_id")
      Tables(s, d).documents.select(id, t27Planted.col.as("t"))
        .select(col("doc_id"),
          unicodeScrub(col("t")).as("scrubbed"),
          invisibleCount(col("t"), ControlCharPattern).as("n_control"),
          invisibleCount(col("t"), ZeroWidthPattern).as("n_zero_width"),
          (unicodeScrub(col("t")) =!= col("t")).as("changed"))
    })
  )

  /** t25's blocklist: registrable domains from the pslUrl universe (plus
    * one that never occurs). brandN's suffix class is pinned to N%8 (40
    * is a multiple of 8), so each entry below names its brand's one real
    * suffix (and, since 40 is also a multiple of 5, the sub. prefix:
    * brandN carries sub. iff N%5==0); brand14.act.edu.au exercises the
    * 3-label tier and sub.brand15.ck the wildcard tier — under `*.ck`,
    * `brand15.ck` is itself a public suffix and the SITE key is one
    * label deeper, exactly what a blocklist would name. Planted fixture
    * data — the oracle inlines the SAME Seq as VALUES. */
  private[graft] val BlockedDomains: Seq[String] = Seq(
    "brand9.co.uk", "brand12.co.jp", "brand3.org",
    "brand14.act.edu.au", "sub.brand15.ck", "brand20.co.jp",
    "brand5.com" // brand5's class is 5%8 -> net, never com: a dead entry
  )

  /** The deterministic doc_id-derived url planted by t23 (and reused by
    * x18's domain quota): mixed-case scheme+host, optional stacked-case
    * WWW., scheme-default vs explicit port, utm_* params around a real
    * one, and a fragment — one residue class per canonicalization rule.
    * Any oracle using it must inline the IDENTICAL construction in SQL. */
  private[queries] def plantedUrl(id: Column): Column = concat(
    when(id % 2 === 0, "https").otherwise("http"), lit("://"),
    when(id % 3 === 0, "WWW.").otherwise(""),
    lit("Site"), (id % 50).cast("string"), lit(".Example.COM"),
    when(id % 2 === 0, ":443")
      .when(id % 5 === 0, ":8080").otherwise(""),
    lit("/docs/"), id.cast("string"), lit("/page?utm_source=feed&id="),
    id.cast("string"), lit("&utm_campaign=c"), (id % 7).cast("string"),
    lit("#sec"), (id % 4).cast("string"))

  /** t24's deterministic url: cycles bare TLDs, 2-label public suffixes,
    * a 3-label suffix (`act.edu.au`) and a wildcard TLD (`ck`), with
    * optional (mixed-case) www and a deeper subdomain — one residue
    * class per (suffix class × subdomain depth) combination, so every
    * snapshot tier's promotion genuinely diverges from the 2-label
    * fallback somewhere in the universe. Note 40 ≡ 0 (mod 8): the brand
    * number pins the suffix class (brandN pairs with class N%8), which
    * [[BlockedDomains]] relies on. Any oracle using it must inline the
    * IDENTICAL construction in SQL. */
  private[queries] def pslUrl(id: Column): Column = concat(
    lit("https://"),
    when(id % 2 === 0, "WWW.").otherwise(""),
    when(id % 5 === 0, "sub.").otherwise(""),
    lit("Brand"), (id % 40).cast("string"), lit("."),
    when(id % 8 === 0, "com")
      .when(id % 8 === 1, "co.uk")
      .when(id % 8 === 2, "com.au")
      .when(id % 8 === 3, "org")
      .when(id % 8 === 4, "co.jp")
      .when(id % 8 === 5, "net")
      .when(id % 8 === 6, "act.edu.au")
      .otherwise("ck"),
    lit("/p/"), id.cast("string"))

  /** t26's planted card surface — ONE construction site for both engines
    * ([[Planted]] shared-builder rule): three Luhn-valid PUBLIC test-card
    * literals, two invalid, one residue class with no candidate at all. */
  private[queries] val t26Planted: Planted = {
    import Planted._
    lit("order note ") || idStr ||
      whenMod(6, 5)(
        empty,
        lit(" card ") || caseMod(6)(
          0 -> lit("4111111111111111"),
          1 -> lit("5555555555554444"),
          2 -> lit("4111111111111112"),
          3 -> lit("1234567890123456")
        )(lit("4012888888881881")) || lit(" on file"))
  }

  /** t27's planted invisibles — ONE construction site for both engines:
    * the Spark side plants code points as `\u` literals, the SQL side
    * renders the same points via chr() (BOM 65279, ZWSP 8203, ZWJ 8205,
    * BEL 7, DEL 127, NBSP 160). One residue class per invisible family
    * (ZWSP+ZWJ, BEL+DEL control pair, NBSP+space-run, BOM prefix, clean
    * control group). */
  private[queries] val t27Planted: Planted = {
    import Planted._
    whenMod(5, 3)(chr(0xFEFF), empty) ||
      lit("doc ") || idStr || lit(" alpha") ||
      whenMod(5, 0)(chr(0x200B) || lit("be") || chr(0x200D) || lit("ta"), lit(" beta")) ||
      whenMod(5, 1)(lit(" ga") || chr(7) || lit("mma") || chr(127), lit(" gamma")) ||
      whenMod(5, 2)(chr(0xA0) || lit("delta   end"), lit(" delta end"))
  }

  /** Merge table captured by the t13b query run (Verify runs queries before
    * dumping oracle_sql.json — same process), so the oracle below can
    * inline the learned merges as literals. Absent -> entry omitted
    * (rows-only), mirroring DedupQueries' x6b capture. */
  @volatile private var bpeMergesForOracle: Option[Seq[(String, String)]] = None

  /** BPE encode replayed in SQL: each word becomes '|c1||c2||...||</w>|'
    * (every symbol wrapped in '|', legal because the corpus vocabulary is
    * lowercase alphanumeric), then a recursive CTE applies the learned
    * merges in rank order via plain string replace — non-overlapping
    * left-to-right, exactly BpeEncode.mergeAll's scan. */
  private def t13bOracleSql(merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val rows = merges.zipWithIndex.map { case ((a, b), r) =>
      s"($r, '|${esc(a)}||${esc(b)}|', '|${esc(a + b)}|')"
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |m(r, pat, rep) AS (VALUES
       |$rows),
       |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 25 = 0),
       |words AS (SELECT DISTINCT unnest(w) AS word FROM d),
       |init AS (
       |  SELECT word,
       |    '|' || array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), '||')
       |      || '||</w>|' AS s
       |  FROM words WHERE word <> ''),
       |enc AS (
       |  SELECT word, s, 0 AS r FROM init
       |  UNION ALL
       |  SELECT e.word, replace(e.s, m.pat, m.rep), e.r + 1
       |  FROM enc e JOIN m ON m.r = e.r),
       |fin AS (SELECT word, s FROM enc WHERE r = ${merges.length}),
       |pieces AS (
       |  SELECT word, array_to_string(string_split(trim(s, '|'), '||'), ' ') AS ptext
       |  FROM fin),
       |tok AS (
       |  SELECT doc_id, t.i AS i, w[t.i] AS word
       |  FROM d, unnest(range(1, len(w) + 1)) AS t(i))
       |SELECT tok.doc_id, string_agg(p.ptext, ' ' ORDER BY tok.i) AS pieces
       |FROM tok JOIN pieces p ON p.word = tok.word
       |GROUP BY 1""".stripMargin
  }

  def oracle: Map[String, String] =
    baseOracle ++
      bpeMergesForOracle.map(m => "t13b_bpe_encode_sample" -> t13bOracleSql(m)).toMap

  /** t16's oracle, shared verbatim: the t16 board entry runs it directly
    * and t19 composes it as the doc_scores subquery (one source of truth
    * for the bigram-LM score in SQL). */
  private val T16OracleSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(w) - 1, 1) + 1),
      |    i -> concat_ws(' ', w[i], w[i+1]))) AS g
      |  FROM d),
      |bg AS (SELECT g, count(*) AS c12 FROM bi GROUP BY 1),
      |bg2 AS (
      |  SELECT g, c12,
      |    sum(c12) OVER (PARTITION BY string_split(g, ' ')[1]) AS c1
      |  FROM bg)
      |SELECT doc_id,
      |  count(*) AS n_bigrams,
      |  round(avg(ln(CAST(c12 AS DOUBLE) / c1)), 6) AS avg_logp
      |FROM bi JOIN bg2 USING (g) GROUP BY 1""".stripMargin

  private def baseOracle: Map[String, String] = Map(
    // list_reduce seeds with the first element (= byte0, exactly Spark's
    // fold from 0: 0*257+byte0); window positions p in [1, len-7]
    "t5b_rolling_fingerprint_portable" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |w AS (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS p FROM d),
        |h AS (
        |  SELECT doc_id, list_reduce(
        |    list_transform(range(0, 8),
        |      i -> CAST(ascii(substring(text, CAST(p + i AS INTEGER), 1)) AS BIGINT)),
        |    (acc, b) -> (acc * 257 + b) % 2147483647) AS h
        |  FROM w)
        |SELECT doc_id, bit_xor(h) AS fingerprint, count(*) AS n_windows
        |FROM h GROUP BY 1""".stripMargin,
    "t1_token_stats" ->
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |CAST(length(text) AS INTEGER) AS n_chars_obs,
        |CAST(len(list_filter(string_split(text, ' '),
        |     x -> list_contains(['the','a','of','and','to','in','is'], x))) AS INTEGER) AS stop_cnt,
        |CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |  / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_tok_len
        |FROM documents""".stripMargin,
    "t2_quality_score" ->
      """SELECT doc_id, lang,
        |(CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END) * CAST(0.4 AS DOUBLE)
        |+ (CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |       x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE) >= CAST(0.01 AS DOUBLE)
        |   THEN 1 ELSE 0 END) * CAST(0.3 AS DOUBLE)
        |+ (CASE WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |            / CAST(len(string_split(text, ' ')) AS DOUBLE)
        |            BETWEEN CAST(3 AS DOUBLE) AND CAST(10 AS DOUBLE)
        |   THEN 1 ELSE 0 END) * CAST(0.3 AS DOUBLE) AS quality
        |FROM documents""".stripMargin,
    "t3_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sr
        |  FROM documents)
        |SELECT doc_id, lang,
        |CASE WHEN sr >= CAST(0.02 AS DOUBLE) THEN 'en' ELSE 'unk' END AS pred_lang,
        |(CASE WHEN sr >= CAST(0.02 AS DOUBLE) THEN 'en' ELSE 'unk' END) = lang AS agree
        |FROM t""".stripMargin,
    "t4_fingerprint_shingles" ->
      """WITH t AS (SELECT doc_id, lower(trim(text)) AS norm, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, md5(norm) AS fp,
        |CAST(len(list_distinct(list_transform(
        |  range(1, greatest(len(w) - 2, 1) + 1),
        |  i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS INTEGER) AS shingle3_cnt
        |FROM t""".stripMargin,
    "t6_bpe_pieces" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS INTEGER) AS piece_cnt,
        |regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')[1] AS first_piece
        |FROM documents""".stripMargin,
    "t10_unigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |df AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        |vocab AS (SELECT tok, 1 AS in_v FROM df ORDER BY cnt DESC, tok LIMIT 1000),
        |j AS (
        |  SELECT t.doc_id, d.cnt, CASE WHEN v.in_v IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t JOIN df d USING (tok) LEFT JOIN vocab v USING (tok))
        |SELECT doc_id,
        |  count(*) AS n_tokens,
        |  CAST(sum(cnt) AS BIGINT) AS sum_df,
        |  CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) / count(*) AS avg_df,
        |  CAST(sum(oov) AS BIGINT) AS oov_cnt,
        |  CAST(CAST(sum(oov) AS BIGINT) AS DOUBLE) / count(*) AS oov_rate
        |FROM j GROUP BY 1""".stripMargin,
    "t16_bigram_lm" -> T16OracleSql,
    // composes t16's oracle as a named subquery; percentile_cont and
    // Spark's percentile() share the p·(n−1) linear-interpolation
    // definition over the SAME 6-dp-rounded scores, and the cut is
    // compared, never emitted
    "t19_lm_quality_filter" ->
      s"""WITH doc_scores AS (
         |$T16OracleSql
         |),
         |cut AS (SELECT percentile_cont(0.1) WITHIN GROUP (ORDER BY avg_logp) AS cut
         |        FROM doc_scores)
         |SELECT doc_id, n_bigrams, avg_logp, avg_logp > cut AS keep
         |FROM doc_scores, cut""".stripMargin,
    "t12_normalize" ->
      // Collapse whitespace runs FIRST, then trim: boundary tabs/newlines
      // become a single ASCII space which trim() removes, matching
      // NormalizeText's trim-and-collapse. RE2's \s is ASCII-only while the
      // Spark expression accepts Character.isWhitespace; the driver corpus
      // carries no Unicode whitespace, so the classes agree on this data.
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, CAST(length(norm_text) AS INTEGER) AS norm_len FROM n""".stripMargin,
    "t20_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |hist AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tok,
        |  count(*) AS n_types,
        |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6) AS top_frac,
        |  round(ln(CAST(sum(c) AS DOUBLE)) -
        |        sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS BIGINT), 6) AS entropy
        |FROM hist GROUP BY 1""".stripMargin,
    "t11_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 1) + 1),
        |    i -> concat_ws(' ', w[i], w[i+1]))) AS g
        |  FROM d),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_2grams,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top2_frac,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS dup_frac
        |FROM c GROUP BY 1""".stripMargin,
    "t21_heavy_hitters" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT unnest(list_transform(
        |    range(1, greatest(len(w) - 1, 1) + 1),
        |    i -> concat_ws(' ', w[i], w[i+1]))) AS gram
        |  FROM d)
        |SELECT gram, count(*) AS cnt FROM g GROUP BY 1 HAVING count(*) >= 40""".stripMargin,
    "t15_chunking" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w, unnest(list_transform(
        |    range(0, greatest(len(w) - 16, 1), 48),
        |    st -> struct_pack(idx := st // 48, s := st))) AS ch
        |  FROM d)
        |SELECT doc_id,
        |  CAST(ch.idx AS INTEGER) AS chunk_idx,
        |  CAST(least(ch.s + 64, len(w)) - ch.s AS INTEGER) AS n_chunk_tokens,
        |  array_to_string(w[ch.s + 1 : least(ch.s + 64, len(w))], ' ') AS chunk_text
        |FROM c""".stripMargin,
    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |md5(text) AS content_md5
        |FROM documents""".stripMargin,
    "m3_frame_sample" ->
      // Spark sequence(0, stop, 2) is stop-INCLUSIVE; range() here is
      // exclusive -> stop+1. int/1000 in Spark is a double divide then
      // int-cast (truncation), identical to // for non-negative lengths.
      """WITH d AS (
        |  SELECT doc_id,
        |    octet_length(encode(text)) // 1000 AS frame_cnt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(unnest(range(0, greatest(frame_cnt - 1, 0) + 1, 2)) AS INTEGER) AS frame_idx
        |FROM d""".stripMargin,
    "m2_image_decode" ->
      """SELECT doc_id,
        |'png' AS format_guess,
        |CAST(8 + doc_id % 32 AS INTEGER) AS width,
        |CAST(8 + doc_id % 16 AS INTEGER) AS height,
        |TRUE AS decoded,
        |CAST(doc_id % 256 AS INTEGER) AS mean_r,
        |CAST((7 * doc_id) % 256 AS INTEGER) AS mean_g,
        |CAST((13 * doc_id) % 256 AS INTEGER) AS mean_b
        |FROM documents""".stripMargin,
    // closed forms of the synthetic square wave: n = 256 + 4(id%256),
    // half-period hp = 8 + id%16, amplitude A = 1000 + 100(id%100);
    // |sample| == A everywhere -> sum_abs = nA; the sign flips exactly at
    // half-period boundaries -> crossings = floor((n-1)/hp)
    "m4_audio_decode" ->
      """SELECT doc_id,
        |'wav' AS codec,
        |CAST(8000 AS INTEGER) AS sample_rate,
        |CAST(1 AS INTEGER) AS channels,
        |CAST(256 + (doc_id % 256) * 4 AS BIGINT) AS n_samples,
        |CAST((256 + (doc_id % 256) * 4) * 1000 // 8000 AS BIGINT) AS duration_ms,
        |CAST((256 + (doc_id % 256) * 4) * (1000 + (doc_id % 100) * 100) AS BIGINT) AS sum_abs,
        |CAST((256 + (doc_id % 256) * 4 - 1) // (8 + doc_id % 16) AS BIGINT) AS zero_crossings,
        |TRUE AS decoded
        |FROM documents""".stripMargin,
    "m5_image_resize" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |         8 + d.doc_id % 32 AS w,
        |         8 + d.doc_id % 16 AS h,
        |         i.range AS i, j.range AS j
        |  FROM documents d, range(8) i, range(8) j),
        |c AS (
        |  SELECT doc_id, w, h,
        |    (doc_id + 3 * ((i * w) // 8) + 5 * ((j * h) // 8)) % 256 AS r,
        |    (2 * doc_id + 7 * ((i * w) // 8) + 11 * ((j * h) // 8)) % 256 AS g,
        |    (3 * doc_id + 13 * ((i * w) // 8) + 17 * ((j * h) // 8)) % 256 AS b
        |  FROM px)
        |SELECT doc_id,
        |  CAST(max(w) AS INTEGER) AS width, CAST(max(h) AS INTEGER) AS height,
        |  CAST(8 AS INTEGER) AS thumb_w, CAST(8 AS INTEGER) AS thumb_h,
        |  CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
        |  CAST(sum(b) AS BIGINT) AS sum_b, TRUE AS decoded
        |FROM c GROUP BY doc_id""".stripMargin,
    "t17_gopher_filter" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (SELECT doc_id,
        |  len(w) AS n_words,
        |  list_sum(list_transform(w, x -> length(x))) AS char_sum,
        |  len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS alpha_n,
        |  (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END
        |   + CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END) AS req
        |  FROM d)
        |SELECT doc_id,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(char_sum AS DOUBLE) / n_words AS mean_word_len,
        |  CAST(alpha_n AS DOUBLE) / n_words AS alpha_word_frac,
        |  CAST(req AS INTEGER) AS req_stopword_hits,
        |  (n_words BETWEEN 50 AND 100000
        |   AND CAST(char_sum AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
        |   AND CAST(alpha_n AS DOUBLE) / n_words >= 0.8
        |   AND req >= 2) AS keep
        |FROM m""".stripMargin,
    "t18_repetition_filter" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, n_chars, 2 AS n,
        |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM d WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT doc_id, n_chars, 3 AS n,
        |    unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |  FROM d WHERE len(w) >= 3),
        |c AS (SELECT doc_id, n_chars, n, g, count(*) AS cnt FROM g GROUP BY ALL),
        |t AS (SELECT doc_id, n, g, CAST(cnt * length(g) AS DOUBLE) / n_chars AS frac,
        |        row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, g DESC) AS rn
        |      FROM c),
        |p AS (SELECT doc_id,
        |        max(CASE WHEN n = 2 THEN g END) AS top_2gram,
        |        max(CASE WHEN n = 2 THEN frac END) AS top_2gram_char_frac,
        |        max(CASE WHEN n = 3 THEN g END) AS top_3gram,
        |        max(CASE WHEN n = 3 THEN frac END) AS top_3gram_char_frac
        |      FROM t WHERE rn = 1 GROUP BY doc_id)
        |SELECT doc.doc_id, top_2gram, top_2gram_char_frac, top_3gram, top_3gram_char_frac,
        |  (coalesce(top_2gram_char_frac <= 0.20, true)
        |   AND coalesce(top_3gram_char_frac <= 0.18, true)) AS keep
        |FROM documents doc LEFT JOIN p USING (doc_id)""".stripMargin,
    "t22_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.org or 303-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST(doc_id % 100 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phone,
        |  CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ip,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM p""".stripMargin,
    "t23_url_canonicalize" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://'
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
        |    || 'Site' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM'
        |    || (CASE WHEN doc_id % 2 = 0 THEN ':443'
        |             WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
        |    || '/docs/' || CAST(doc_id AS VARCHAR) || '/page?utm_source=feed&id='
        |    || CAST(doc_id AS VARCHAR) || '&utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
        |    || '#sec' || CAST(doc_id % 4 AS VARCHAR) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    $hostPortExtractSql AS hostport,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |    regexp_extract(url, '^[^#]*?\\?([^#]*)', 1) AS query
        |  FROM p),
        |parts1 AS (
        |  SELECT doc_id, url, scheme, path, hostport, query,
        |    lower(regexp_replace(hostport, ':\\d+$$', '')) AS hostnp
        |  FROM parts),
        |parts2 AS (
        |  SELECT doc_id, url, scheme, path,
        |    ${wwwStripCaseSql("hostnp")} AS host,
        |    regexp_extract(hostport, ':(\\d+)$$', 1) AS port,
        |    array_to_string(list_filter(string_split(query, '&'),
        |      x -> NOT starts_with(x, 'utm_')), '&') AS q2,
        |    len(list_filter(string_split(query, '&'),
        |      x -> starts_with(x, 'utm_'))) AS n_dropped
        |  FROM parts1)
        |SELECT doc_id, url,
        |  scheme || '://' || host
        |  || (CASE WHEN port <> '' AND NOT ((scheme = 'https' AND port = '443')
        |                                OR (scheme = 'http' AND port = '80'))
        |           THEN ':' || port ELSE '' END)
        |  || path
        |  || (CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END) AS canon_url,
        |  host,
        |  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
        |  CAST(n_dropped AS INTEGER) AS n_tracking_params
        |FROM parts2""".stripMargin,
    "t24_registrable_domain" -> t24OracleSql,
    "t25_url_blocklist" -> t25OracleSql,
    "t26_cc_luhn" -> t26OracleSql,
    "t27_unicode_scrub" -> t27OracleSql
  )

  /** Canonical SQL replica of [[UrlFunctions.urlHost]]'s bounded
    * www-strip (the 3-branch CASE) over an already-lowered,
    * port-stripped host expression — ONE source for every inlined
    * oracle that extracts a host (t23/t24/t25 here, x18/x18b in
    * AdvancedQueries splice it too), so a future urlHost semantics
    * change cannot silently diverge a subset of oracles. */
  private[queries] def wwwStripCaseSql(hostnp: String): String =
    s"""CASE WHEN contains(regexp_replace($hostnp, '^(www\\.)+', ''), '.')
       |         THEN regexp_replace($hostnp, '^(www\\.)+', '')
       |         WHEN starts_with($hostnp, 'www.')
       |         THEN 'www.' || regexp_replace($hostnp, '^(www\\.)+', '')
       |         ELSE $hostnp END""".stripMargin

  /** SQL replica of [[UrlFunctions]]' userinfo-dropping authority
    * extraction over a column named `url` (single source, same
    * rationale). */
  private[queries] val hostPortExtractSql: String =
    "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1)"

  /** Shared CTE prefix for the pslUrl-planted oracles (t24/t25): the
    * planted url, the lowered/port-stripped authority, and the
    * www-stripped host. One construction, spliced into both. */
  private def pslUrlHostCtesSql: String =
    // NOTE trailing-|| line style: this fragment is spliced into outer
    // stripMargin strings, whose margin pass would eat one pipe from any
    // line STARTING with '||'
    s"""p AS (
       |  SELECT doc_id,
       |    'https://' || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN 'sub.' ELSE '' END) ||
       |    'Brand' || CAST(doc_id % 40 AS VARCHAR) || '.' ||
       |    (CASE doc_id % 8 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
       |        WHEN 2 THEN 'com.au' WHEN 3 THEN 'org' WHEN 4 THEN 'co.jp'
       |        WHEN 5 THEN 'net' WHEN 6 THEN 'act.edu.au'
       |        ELSE 'ck' END) ||
       |    '/p/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |h0 AS (
       |  SELECT doc_id, url,
       |    lower(regexp_replace($hostPortExtractSql, ':\\d+$$', '')) AS hostnp
       |  FROM p),
       |h AS (
       |  SELECT doc_id, url,
       |    ${wwwStripCaseSql("hostnp")} AS host
       |  FROM h0)""".stripMargin

  /** The snapshot both PSL sides derive from — the committed FULL
    * publicsuffix.org resource (round 14; the Spark side's
    * withRegistrableDomainFromHost default). */
  private def pslSnap = graft.functions.PublicSuffixes.fromResource

  /** Rules-dump fixture shared with the DuckDB oracle (the em-fixtures
    * pattern): the parsed resource tiers written ONCE per JVM as
    * (kind, depth, rule) parquet, so the oracle's per-depth joins read
    * the EXACT rule set the engine broadcasts — ~9.5k rules would bloat
    * oracle_sql.json as VALUES splices, and two hand-kept copies are the
    * desync bug the one-construction-site rule exists to prevent.
    * Written during t24/t25 query execution (Verify runs queries before
    * dumping oracle_sql.json — the em FixtureDir precedent). */
  private[queries] val PslRulesDir = "/tmp/graft_psl_rules"

  /** Canonical (kind, depth, rule) rows of the snapshot — ONE rendering
    * feeds both the dump and the fingerprint, so they cannot diverge. */
  private def pslRuleRows(snap: graft.functions.PublicSuffixes.Snapshot): Seq[(String, Int, String)] = {
    def rows(kind: String, m: Map[Int, Seq[String]]) =
      m.toSeq.sortBy(_._1).flatMap { case (depth, rules) =>
        rules.sorted.map(r => (kind, depth, r)) }
    rows("sfx", snap.suffixesByDepth) ++ rows("wc", snap.wildcardBasesByDepth) ++
      rows("exc", snap.exceptionsByDepth)
  }

  /** Content fingerprint of the parsed resource, baked into the dump
    * PATH (and hence into the generated oracle SQL): a dump left behind
    * by an OLDER resource lives at a different path, so a newer oracle
    * can never silently join stale rules — it either reads the dump its
    * own snapshot produced or fails loudly on a missing file. */
  private lazy val pslRulesPath: String = {
    val canon = pslRuleRows(pslSnap).map { case (k, d, r) => s"$k:$d:$r" }.mkString("\n")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"$PslRulesDir/rules_$fp.parquet"
  }

  @volatile private var pslRulesWritten = false
  private def ensurePslRules(s: SparkSession): Unit = synchronized {
    if (!pslRulesWritten) {
      // The dump path is content-addressed (the MD5 of the rendered rules
      // is baked into the directory name), so an existing directory already
      // holds exactly these bytes — and a second JVM (bench concurrent with
      // verify) must never overwrite a dump another process's DuckDB oracle
      // may be mid-read. Skip if present; otherwise write to a
      // process-unique temp dir and atomically rename in. Losing the rename
      // race means the winner's identical dump is already at the target.
      // Stale rules_* siblings from older snapshots are left alone: an
      // older JVM's oracle may still be reading its own fingerprint dir.
      val target = new java.io.File(pslRulesPath)
      if (!target.exists()) {
        import s.implicits._
        val tmp = s"$PslRulesDir/.tmp_${ProcessHandle.current().pid()}_${System.nanoTime()}"
        pslRuleRows(pslSnap)
          .toDF("kind", "depth", "rule")
          .coalesce(1) // single file: deterministic oracle read, fixture-size data
          .write.mode("overwrite").parquet(tmp)
        if (!new java.io.File(tmp).renameTo(target)) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
          }
          rm(new java.io.File(tmp))
          require(target.exists(),
            s"PSL rules dump rename to $pslRulesPath failed with no winner present")
        }
      }
      pslRulesWritten = true
    }
  }

  /** Shared tier CTEs for the PSL oracles (t24/t25), generated from
    * [[pslSnap]]'s ACTUAL depth keys: per-host lastK label extracts up
    * to the snapshot's deepest registrable form, one LEFT JOIN per
    * populated literal depth (`sfx<k>` marks) and wildcard-base depth
    * (`wc<b>` marks) against the [[ensurePslRules]] parquet. Emits CTEs
    * `pslr/e/j`; `j` carries doc_id, url, host, last1..lastM and the
    * hit marks. Assumes `h(doc_id, url, host)` exists (spliced after
    * [[pslUrlHostCtesSql]]). */
  private def pslTierCtesSql: String = {
    val snap = pslSnap
    val maxL = snap.maxRegistrableLabels
    val lastExtracts = (1 to maxL).map { k =>
      val pat = Seq.fill(k)("[^.]+").mkString("\\.")
      s"regexp_extract(host, '($pat)$$', 1) AS last$k"
    }.mkString(",\n    ")
    val litDepths = snap.suffixesByDepth.collect { case (k, v) if v.nonEmpty => k }.toSeq.sorted
    val wcDepths = snap.wildcardBasesByDepth.collect { case (b, v) if v.nonEmpty => b }.toSeq.sorted
    val marks = (litDepths.map(k => s"s$k.rule IS NOT NULL AS sfx$k") ++
      wcDepths.map(b => s"w$b.rule IS NOT NULL AS wc$b")).mkString(", ")
    val joins = (litDepths.map(k =>
      s"LEFT JOIN (SELECT rule FROM pslr WHERE kind = 'sfx' AND depth = $k) s$k ON e.last$k = s$k.rule") ++
      wcDepths.map(b =>
        s"LEFT JOIN (SELECT rule FROM pslr WHERE kind = 'wc' AND depth = $b) w$b ON e.last$b = w$b.rule"))
      .mkString("\n       ")
    s"""pslr AS (
       |  SELECT kind, depth, rule
       |  FROM read_parquet('$pslRulesPath/*.parquet')),
       |e AS (
       |  SELECT doc_id, url, host,
       |    $lastExtracts
       |  FROM h),
       |j AS (
       |  SELECT e.*, $marks
       |  FROM e $joins)""".stripMargin
  }

  /** The longest-match CASE over `j`'s columns — the SQL twin of
    * [[graft.functions.UrlFunctions.withRegistrableDomainFromHost]]'s
    * verdict fold, generated from the same snapshot: exceptions deepest
    * first (absolute precedence), then tier L from the deepest rule
    * down (literal L-label hit OR wildcard base at L−1; `lastL <> ''`
    * guards a host that merely IS a wildcard base; a hit with no deeper
    * label self-keys — the host IS the public suffix), then the last-2
    * fallback. Exceptions stay inline IN lists (single digits even on
    * the full list). */
  private def pslDomainCaseSql: String = {
    val snap = pslSnap
    val excArms = snap.exceptionsByDepth.toSeq.sortBy(-_._1).collect {
      case (k, names) if names.nonEmpty =>
        s"WHEN last$k IN (${names.map(n => s"'$n'").mkString(", ")}) THEN last$k"
    }
    val litDepths = snap.suffixesByDepth.collect { case (k, v) if v.nonEmpty => k }.toSet
    val wcDepths = snap.wildcardBasesByDepth.collect { case (b, v) if v.nonEmpty => b }.toSet
    val maxRuleDepth = (litDepths ++ wcDepths.map(_ + 1) + 2).max
    val tierArms = (maxRuleDepth to 2 by -1).flatMap { l =>
      val hits = (if (litDepths.contains(l)) Seq(s"sfx$l") else Nil) ++
        (if (wcDepths.contains(l - 1)) Seq(s"wc${l - 1}") else Nil)
      if (hits.isEmpty) None
      else Some(s"WHEN (${hits.mkString(" OR ")}) AND last$l <> '' THEN " +
        s"(CASE WHEN last${l + 1} <> '' THEN last${l + 1} ELSE last$l END)")
    }
    (excArms ++ tierArms).mkString("CASE ", "\n       ", "\n       ELSE last2 END")
  }

  /** t24's oracle replays the ALGORITHM (host extraction + broadcast-join
    * longest-suffix promotion across all four snapshot tiers). */
  private def t24OracleSql: String =
    s"""WITH $pslUrlHostCtesSql,
       |$pslTierCtesSql
       |SELECT doc_id, url, host,
       |  $pslDomainCaseSql AS domain,
       |  last2 AS domain_2label
       |FROM j""".stripMargin

  /** t25's oracle: t24's promotion pipeline, then the anti-join as a
    * NOT IN over the SAME blocklist Seq (no NULL hazard: the domain
    * expression never yields NULL, at worst ''). */
  private def t25OracleSql: String = {
    val block = BlockedDomains.map(s => s"'$s'").mkString(", ")
    s"""WITH $pslUrlHostCtesSql,
       |$pslTierCtesSql,
       |dom AS (
       |  SELECT doc_id, url,
       |    $pslDomainCaseSql AS domain
       |  FROM j)
       |SELECT doc_id, url, domain
       |FROM dom WHERE domain NOT IN ($block)""".stripMargin
  }

  /** t26's oracle: same planted literals, the Luhn sum replayed
    * term-for-term from the same unrolled construction as
    * [[graft.functions.TextFunctions.luhnValid16]]. */
  private def t26OracleSql: String = {
    val terms = (1 to 16).map { i =>
      val d = s"CAST(substr(cc, $i, 1) AS INTEGER)"
      if (i % 2 == 1) s"(CASE WHEN $d * 2 > 9 THEN $d * 2 - 9 ELSE $d * 2 END)"
      else d
    }.mkString(" + ")
    s"""WITH p AS (
       |  SELECT doc_id,
       |    ${t26Planted.sql} AS t
       |  FROM documents),
       |e AS (SELECT doc_id, t, regexp_extract_all(t, '\\b\\d{16}\\b') AS ccs FROM p),
       |c AS (SELECT doc_id, t, CAST(len(ccs) AS INTEGER) AS n_cc,
       |  CASE WHEN len(ccs) >= 1 THEN ccs[1] END AS cc FROM e)
       |SELECT doc_id, n_cc,
       |  CASE WHEN cc IS NULL THEN NULL
       |       ELSE ($terms) % 10 = 0 END AS cc_valid,
       |  regexp_replace(t, '\\b\\d{16}\\b', '<CC>', 'g') AS scrubbed
       |FROM c""".stripMargin
  }

  /** t27's oracle: the planted invisibles rebuilt via chr() (BOM 65279,
    * ZWSP 8203, ZWJ 8205, BEL 7, DEL 127, NBSP 160 — the same code
    * points the Scala \u literals plant), then the scrub chain replayed
    * step-for-step with the SAME pattern vals spliced from
    * [[graft.functions.TextFunctions]] (single source; `\x{hhhh}` is the
    * Java∩RE2 code-point syntax) — DuckDB's regexp_replace needs the 'g'
    * flag to match Spark's replace-all. */
  /** SQL twin of [[graft.functions.TextFunctions.unicodeScrub]] over an
    * arbitrary inner expression — the SINGLE SOURCE for every oracle that
    * replays the scrub chain (t27 here, d19 in DedupQueries splices it
    * too), pattern vals spliced from the same TextFunctions constants. */
  private[queries] def unicodeScrubSql(inner: String): String = {
    val ctrl = graft.functions.TextFunctions.ControlCharPattern
    val zw = graft.functions.TextFunctions.ZeroWidthPattern
    val ws = graft.functions.TextFunctions.WhitespaceRunPattern
    val nbsp = "\\x{00A0}"
    s"""trim(regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace($inner, '$ctrl', '', 'g'),
       |          '$zw', '', 'g'),
       |        '$nbsp', ' ', 'g'),
       |      '$ws', ' ', 'g'))""".stripMargin
  }

  private def t27OracleSql: String = {
    val ctrl = graft.functions.TextFunctions.ControlCharPattern
    val zw = graft.functions.TextFunctions.ZeroWidthPattern
    s"""WITH p AS (
       |  SELECT doc_id,
       |    ${t27Planted.sql} AS t
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, t,
       |    ${unicodeScrubSql("t")} AS scrubbed
       |  FROM p)
       |SELECT doc_id, scrubbed,
       |  CAST(length(t) - length(regexp_replace(t, '$ctrl', '', 'g')) AS INTEGER) AS n_control,
       |  CAST(length(t) - length(regexp_replace(t, '$zw', '', 'g')) AS INTEGER) AS n_zero_width,
       |  scrubbed <> t AS changed
       |FROM s""".stripMargin
  }
}
