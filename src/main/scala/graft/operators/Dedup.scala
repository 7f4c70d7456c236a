package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All implemented as shuffled DataFrame
  * plans (explode → equi-join → agg) — no driver-side loops, no cross
  * joins — so they scale with cluster size. Hashes are Spark's xxhash64
  * (seeded, deterministic across runs/partitionings).
  */
object Dedup {

  /** Exact dedup by normalized-content fingerprint: deterministic keeper =
    * min(id) per fingerprint (the reference's drop_duplicates,
    * ops/data_ingestion_ops.py:197, made order-independent). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Distinct word-n-gram shingles, one row per (doc, shingle).
    * The exploded frame shuffles on the shingle key downstream. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int, extraCols: Seq[String] = Nil): DataFrame = {
    val cols = (col(idCol).as("doc_id") +: extraCols.map(col)) :+
      explode(TextFunctions.wordShingles(col(textCol), n)).as("sh")
    docs.select(cols: _*)
  }

  /** All pairs within the same blocking key whose shingle-set Jaccard ≥
    * threshold. Inverted-index join on the shingle (standard MapReduce
    * similarity-join shape): pair candidates are generated only where they
    * share ≥1 shingle, then scored exactly. Cap document frequency per
    * shingle (`maxDf`) to bound the quadratic blow-up from stop-shingles
    * (skew guard — SkewBench measured ×305 candidate blowup uncapped; the
    * board entries run capped at 100, with the identical cap replayed in
    * the DuckDB oracle so the compare stays bit-for-bit). */
  /** The shared candidate-pair statistics frame every n-gram set-overlap
    * measure scores FROM: (id_a, id_b, inter, n_a, n_b) — intersection
    * count and the two shingle-set sizes per blocked candidate pair.
    * This is the whole expensive DAG (shingle explode → df-cap semi join
    * → inverted-index self-join → pair reduce → two size joins); Jaccard
    * (d1), containment (d12) and the near-dup cluster builder are pure
    * PROJECTIONS over it, so a serving stack materializes this frame
    * once per corpus snapshot and derives every measure from it (round
    * 15: DedupQueries memoizes it per (session, dir) — the FrameMemo
    * posture; [[ngramJaccardPairs]]/[[containmentPairs]] stay the
    * self-contained compositions). */
  def pairShingleStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      maxDf: Option[Int] = None
  ): DataFrame = {
    val sh0 = shingles(docs, idCol, textCol, n, Seq(blockCol)).withColumnRenamed(blockCol, "block")
    val sh = maxDf match {
      case Some(cap) =>
        // df-cap as a WINDOW count over the join-key partitioning (round
        // 16 — the embeddingNearDupPairs maxBucketSize device): ONE
        // exchange on (block, sh) both caps the stop-shingles and leaves
        // the admitted index partitioned exactly as the inverted-index
        // self-join below needs it, so the join reads both sides in
        // place. The former shape (df aggregate + left-semi join) paid
        // the same exchange plus a join stage and then re-exchanged both
        // self-join sides. Admitted row set is IDENTICAL (shingles whose
        // (block, sh) group count ≤ cap) — the oracle's GROUP BY/HAVING
        // replay is unchanged.
        val wB = org.apache.spark.sql.expressions.Window.partitionBy("block", "sh")
        sh0
          .withColumn("__df", count(lit(1)).over(wB))
          .filter(col("__df") <= cap)
          .drop("__df")
      case None => sh0
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("block"), col("doc_id").as("id_a"), col("sh"))
    val b = sh.select(col("block"), col("doc_id").as("id_b"), col("sh"))
    // SHUFFLE_HASH: both shingle sides exchange on (block, sh) — at corpus
    // scale neither side is broadcastable, and at toy scale the broadcast
    // plan Catalyst picks from the file-size estimate serializes the whole
    // candidate-pair scoring into one task; the shuffled hash join is the
    // plan that's right at every scale (hash lookup, no sort).
    val inter = a
      .join(b.hint("shuffle_hash"), Seq("block", "sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"))
  }

  /** Jaccard scoring over a [[pairShingleStats]] frame — map-only. */
  def jaccardFromStats(stats: DataFrame, threshold: Double): DataFrame =
    stats
      .select(
        col("id_a"),
        col("id_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)

  /** Containment scoring over a [[pairShingleStats]] frame — map-only.
    * Keeps pairs whose LARGER direction clears `threshold`. */
  def containmentFromStats(stats: DataFrame, threshold: Double): DataFrame =
    stats
      .select(
        col("id_a"),
        col("id_b"),
        (col("inter").cast("double") / col("n_a")).as("cont_a_in_b"),
        (col("inter").cast("double") / col("n_b")).as("cont_b_in_a")
      )
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)

  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double,
      maxDf: Option[Int] = None
  ): DataFrame =
    jaccardFromStats(pairShingleStats(docs, idCol, textCol, blockCol, n, maxDf), threshold)

  /** Asymmetric n-gram containment: for each candidate pair,
    * C(A in B) = |S(A)∩S(B)| / |S(A)| and the mirror C(B in A) (Broder
    * 1997's containment measure). Catches subset documents — a quoted or
    * embedded doc has containment ≈1 even when the host doc's extra text
    * dilutes Jaccard below any dedup threshold — the criterion
    * crawl-pipeline "contained document" filters need and Jaccard can't
    * express. Same inverted-index single-exchange shape (and `maxDf` skew
    * cap) as [[ngramJaccardPairs]]: candidates only where a shingle is
    * shared, exact scoring from one (pair → intersection-count) agg.
    * Keeps pairs whose LARGER direction clears `threshold`. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double,
      maxDf: Option[Int] = None
  ): DataFrame =
    containmentFromStats(pairShingleStats(docs, idCol, textCol, blockCol, n, maxDf), threshold)

  /** Corpus-pair overlap report — the dataset-level "how much do these
    * sources share" card a curator reads BEFORE any doc-grain dedup run:
    * one MinHash signature per SOURCE (union of its distinct shingles),
    * every source pair scored by signature agreement (Broder's estimator,
    * E[agree/k] = Jaccard of the shingle sets). No doc-pair join anywhere —
    * the shape is k hashes per distinct shingle, a k-column min-agg down to
    * n_sources rows, and an O(n_sources²) scoring frame. This md5 form is
    * the ORACLE twin (portable hashes ⇒ replays as plain SQL) but the k
    * 128-bit digests per shingle dominate its runtime at scale; production
    * runs [[corpusOverlapFast]], the seeded-xxhash64 twin of the same
    * estimator. */
  def corpusOverlap(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32
  ): DataFrame = {
    val sh = docs
      .select(col(sourceCol).as("source"),
        explode(TextFunctions.wordShingles(col(textCol), n)).as("sh"))
      .distinct()
    val hashTable = sh.select("sh").distinct()
      .select(col("sh") +: (0 until k).map(i => md5(concat(lit(s"$i|"), col("sh"))).as(s"h$i")): _*)
    val aggs = (0 until k).map(i => min(col(s"h$i")).as(s"h$i"))
    val sigs = sh.join(hashTable.hint("shuffle_hash"), Seq("sh"))
      .groupBy("source").agg(aggs.head, aggs.tail: _*)
    scoreSignatures(sigs, k)
  }

  /** Shared scoring half of both corpus-overlap twins: per source-pair
    * signature agreement = Broder's Jaccard estimate. One place, so the
    * md5 oracle twin and the xxhash64 production twin cannot drift. */
  private def scoreSignatures(sigs: DataFrame, k: Int): DataFrame = {
    val agree = (0 until k)
      .map(i => (col(s"a.h$i") === col(s"b.h$i")).cast("int")).reduce(_ + _)
    sigs.as("a")
      .join(broadcast(sigs.as("b")), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("src_a"),
        col("b.source").as("src_b"),
        agree.cast("int").as("n_agree"),
        (agree.cast("double") / k).as("est_jaccard"))
  }

  /** Production twin of [[corpusOverlap]]: identical signature→agreement
    * pipeline, but the k permutation hashes are seeded xxhash64 (native
    * codegen'd long hashing) instead of md5 hex strings. That removes BOTH
    * costs of the portable form — no 128-bit digest per (seed, shingle)
    * and no distinct-shingle hash-table join (xxhash64 is cheap enough to
    * compute inline per row) — leaving one exchange: the k-column min-agg
    * down to n_sources rows. The md5 twin stays as the DuckDB-replayable
    * oracle; both are k-permutation Broder estimators of the same shingle
    * sets, so their est_jaccard agree within minhash sampling error
    * (checked in Dedup2Spec). */
  def corpusOverlapFast(
      docs: DataFrame,
      sourceCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32
  ): DataFrame = {
    val sh = docs
      .select(col(sourceCol).as("source"),
        explode(TextFunctions.wordShingles(col(textCol), n)).as("sh"))
      .distinct()
    val aggs = (0 until k).map(i => min(xxhash64(col("sh"), lit(i))).as(s"h$i"))
    val sigs = sh.groupBy("source").agg(aggs.head, aggs.tail: _*)
    scoreSignatures(sigs, k)
  }

  /** MinHash signatures: k permutations simulated as seeded xxhash64 of the
    * shingle, min-aggregated per doc. One shuffle (groupBy doc). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String, n: Int, k: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val aggs = (0 until k).map(i => min(xxhash64(col("sh"), lit(i))).as(s"h$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: signatures split into `bands` bands of k/bands
    * rows; docs colliding on any banded hash become candidate pairs; pairs
    * are scored by estimated Jaccard = fraction of agreeing signature
    * positions. Candidate generation is an equi-join on (band, bandHash) —
    * never a cross join. */
  def minHashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5
  ): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val sigs = minHashSignatures(docs, idCol, textCol, n, k)
    val bandCols = (0 until bands).map { bIdx =>
      struct(lit(bIdx).as("band"), xxhash64((bIdx * rows until (bIdx + 1) * rows).map(i => col(s"h$i")): _*).as("bh"))
    }
    val banded = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = banded
      .as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val simExpr = (0 until k).map(i => (col("a." + s"h$i") === col("b." + s"h$i")).cast("int")).reduce(_ + _).cast("double") / k
    cand
      .join(sigs.as("a"), col("id_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"), simExpr.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Oracle-portable MinHash signatures: the k "permutations" are md5 hex
    * digests of `"<seed>|<shingle>"` min-selected LEXICOGRAPHICALLY. Each
    * DISTINCT shingle is hashed once (k md5s per distinct shingle, not per
    * (doc, shingle) occurrence — on corpora with shared vocabulary that is
    * orders of magnitude less md5 work; this was the board's most
    * expensive leg before), then the k-column hash table joins back on the
    * shingle key. Both sides exchange on sh; SHUFFLE_HASH for the same
    * reason as ngramJaccardPairs — the derived distinct frame's size
    * estimate would otherwise tempt a corpus-sized broadcast at scale.
    * Results are bit-identical to hashing per occurrence: same
    * per-shingle hashes, same per-doc minima. Returns (doc_id, h0..h{k-1})
    * — the persistable signature-index row shape. */
  def portableSignatures(docs: DataFrame, idCol: String, textCol: String, n: Int, k: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val hashTable = sh.select("sh").distinct()
      .select(col("sh") +: (0 until k).map(i => md5(concat(lit(s"$i|"), col("sh"))).as(s"h$i")): _*)
    val aggs = (0 until k).map(i => min(col(s"h$i")).as(s"h$i"))
    sh.join(hashTable.hint("shuffle_hash"), Seq("sh"))
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The band hash of rows-per-band signature columns `hs` — md5-over-
    * concat when portable (SQL-replayable, string bh), native xxhash64
    * otherwise (the fast-twin banding). Cast to string either way so the
    * two variants share the probe-key schema. */
  private def bandHash(hs: Seq[Column], portable: Boolean): Column =
    if (portable) md5(concat_ws("|", hs: _*)).cast("string")
    else xxhash64(hs: _*).cast("string")

  /** Column-name prefix of the pre-banded hash columns. The VARIANT AND
    * PARAMETERS are part of the name (`bh_md5_32_8_0`, not `bh0`): a
    * pre-banded index probed with a different `portable` flag, k or
    * bands must NOT be detected as pre-banded — stored hashes from a
    * different scheme would never collide with the probe side's and the
    * join would return zero matches silently (every duplicate admitted,
    * no error). With the parameters in the name a mismatch simply fails
    * the [[isPreBanded]] probe and [[bandRows]] recomputes from the
    * always-present h-columns: correct results, one re-band of cost. */
  private def bandColPrefix(k: Int, bands: Int, portable: Boolean): String =
    s"bh_${if (portable) "md5" else "xxh"}_${k}_${bands}_"

  /** Attach the per-band hash columns (`bh_<variant>_<k>_<bands>_0..`)
    * to a signature frame — the PRE-BANDED index row shape (round 13,
    * st22 probe trim). Banding costs `bands` hashes per document; an
    * index stored as bare signatures pays that for its ENTIRE history on
    * EVERY probe batch (B batches re-band the whole index B times),
    * while an index stored pre-banded pays it once per document at
    * admit time and the probe unpivots stored columns. Pure projection,
    * no shuffle; [[bandRows]] detects the matching columns and skips
    * recomputation. */
  def withBandHashCols(
      sigs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      portable: Boolean = true): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    // idempotent on an already-banded frame: a second application would
    // append DUPLICATE bh columns, turning every later col() reference
    // into an AnalysisException (internal callers are guarded; the
    // public API must be too)
    if (isPreBanded(sigs, k, bands, portable)) return sigs
    val rows = k / bands
    val prefix = bandColPrefix(k, bands, portable)
    val bhCols = (0 until bands).map { bIdx =>
      val hs = (bIdx * rows until (bIdx + 1) * rows).map(i => col(s"h$i"))
      bandHash(hs, portable).as(s"$prefix$bIdx")
    }
    sigs.select(sigs.columns.map(col).toSeq ++ bhCols: _*)
  }

  /** True when a signature frame already carries [[withBandHashCols]]'s
    * pre-banded columns FOR EXACTLY this (k, bands, portable) scheme. */
  private def isPreBanded(sigs: DataFrame, k: Int, bands: Int, portable: Boolean): Boolean = {
    val prefix = bandColPrefix(k, bands, portable)
    (0 until bands).forall(b => sigs.columns.contains(s"$prefix$b"))
  }

  /** Band rows (doc_id, band, bh) of a signature frame — the probe key
    * layout of the LSH index. A frame pre-banded with the SAME
    * (k, bands, portable) scheme ([[withBandHashCols]]) unpivots its
    * stored columns instead of re-hashing; any other frame (bare
    * signatures, or banded under a different scheme) recomputes inline
    * from the h-columns, so a scheme mismatch can cost a re-band but
    * never a wrong probe. */
  private def bandRows(sigs: DataFrame, k: Int, bands: Int, portable: Boolean): DataFrame = {
    val rows = k / bands
    val pre = isPreBanded(sigs, k, bands, portable)
    val prefix = bandColPrefix(k, bands, portable)
    val bandCols = (0 until bands).map { bIdx =>
      val bh =
        if (pre) col(s"$prefix$bIdx")
        else bandHash((bIdx * rows until (bIdx + 1) * rows).map(i => col(s"h$i")), portable)
      struct(lit(bIdx).as("band"), bh.as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Oracle-portable MinHash + LSH: identical banding pipeline to
    * [[minHashLshPairs]], but the k "permutations" are md5 hex digests of
    * `"<seed>|<shingle>"` min-selected LEXICOGRAPHICALLY — md5 and string
    * min/compare behave identically in Spark and in ANSI-SQL engines, so
    * the full signature → band → candidate → estimate pipeline is
    * replayable as plain SQL and the driver can hash-check it end to end
    * (xxhash64, used by the fast variant, exists only in Spark).
    * ~2× the hash cost of the xxhash64 variant — the portability tax; use
    * minHashLshPairs in production, this one to validate it. */
  def minHashLshPairsPortable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5
  ): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val sigs = portableSignatures(docs, idCol, textCol, n, k)
    val banded = bandRows(sigs, k, bands, portable = true)
    val cand = banded
      .as("x")
      .join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    val simExpr = (0 until k).map(i => (col("a." + s"h$i") === col("b." + s"h$i")).cast("int")).reduce(_ + _).cast("double") / k
    cand
      .join(sigs.as("a"), col("id_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"), simExpr.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Incremental near-dup dedup of a NEW batch against a PERSISTED
    * signature index — the daily-ingest shape at 100 TB: yesterday's
    * corpus is represented ONLY by its (doc_id, h0..h{k-1}) signature
    * table (plain parquet, [[portableSignatures]] row shape, ~k·33 bytes
    * per historical document), so deduplicating today's batch never
    * re-reads or re-shingles historical TEXT. Cost per run:
    * signature-compute over the NEW batch only, a map-only band explode
    * of both sides, one (band, bh) equi join — candidate generation
    * shuffles signatures, never documents — and a signature join to
    * estimate Jaccard on candidates.
    *
    * Returns (matches, admitted):
    *  - matches: (new_id, idx_id, est_jaccard ≥ threshold) — every new
    *    doc paired with the indexed docs it near-duplicates
    *  - admitted: signature rows of new docs with NO match — the keep-
    *    first dedup policy's index delta; append to the index parquet and
    *    tomorrow's run sees today's survivors. (Callers wanting to index
    *    everything regardless of matches can append `newSigs` instead —
    *    recompute via [[portableSignatures]].)
    *
    * Incremental ≡ batch: signatures are per-document (md5 of
    * seed|shingle, min per doc), so index-then-probe produces exactly the
    * cross-batch subset of [[minHashLshPairsPortable]] over the union —
    * Wave8Spec pins the equivalence and the parquet round-trip.
    */
  def incrementalNearDup(
      index: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5
  ): (DataFrame, DataFrame) =
    incrementalNearDupFromSigs(
      index, portableSignatures(newDocs, idCol, textCol, n, k), k, bands, threshold)

  /** [[incrementalNearDup]] with the new batch's signatures ALREADY
    * computed — the entry point when the caller has materialized them
    * (e.g. st22 writes each micro-batch's signatures to parquet once, so
    * the signature pipeline — the expensive md5-per-shingle stage — runs
    * once per batch instead of once per downstream action). */
  def incrementalNearDupFromSigs(
      index: DataFrame,
      newSigs: DataFrame,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      portable: Boolean = true
  ): (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into bands")
    val bNew = bandRows(newSigs, k, bands, portable)
      .select(col("doc_id").as("new_id"), col("band"), col("bh"))
    val bIdx = bandRows(index, k, bands, portable)
      .select(col("doc_id").as("idx_id"), col("band"), col("bh"))
    val cand = bNew.join(bIdx, Seq("band", "bh"))
      .select(col("new_id"), col("idx_id"))
      .distinct()
    val simExpr = (0 until k)
      .map(i => (col("a." + s"h$i") === col("b." + s"h$i")).cast("int"))
      .reduce(_ + _).cast("double") / k
    val matches = cand
      .join(newSigs.as("a"), col("new_id") === col("a.doc_id"))
      .join(index.as("b"), col("idx_id") === col("b.doc_id"))
      .select(col("new_id"), col("idx_id"), simExpr.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    // a pre-banded index stays uniformly pre-banded: admitted rows carry
    // the same bh columns so the caller's append preserves the schema
    // (and tomorrow's probe keeps skipping the re-band)
    val admitBase =
      if (isPreBanded(index, k, bands, portable) && !isPreBanded(newSigs, k, bands, portable))
        withBandHashCols(newSigs, k, bands, portable)
      else newSigs
    val admitted = admitBase.join(
      matches.select(col("new_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    (matches, admitted)
  }

  /** Compaction pass for a persisted signature index (the [[incrementalNearDup]]
    * / st22 parquet table): every admitted batch file-moves one delta file
    * in, so thousands of micro-batches leave thousands of small files —
    * the classic streaming-table ailment (footer-per-file opens dominate
    * the probe scan long before data volume does). When the directory
    * holds more than `maxFiles` parquet files, rewrite it to
    * ceil(bytes / targetBytes) files via the S16 writer's temp-dir +
    * atomic-rename device ([[graft.sources.Writers.compact]]); below the
    * threshold it is a metadata-only no-op, so callers can run it every N
    * batches (or on a timer) without thinking. Signature rows are
    * key-unique and order-free, so a rewrite is probe-identical by
    * construction — Wave9Spec pins N deltas compacting to one file with
    * byte-identical match results. Returns true when a rewrite happened.
    *
    * Cadence guidance: compact OUTSIDE the foreachBatch loop (the index
    * path must not be rewritten while a probe job is reading it — the
    * same never-append-to-a-read-path rule the delta file-move exists
    * for); for AvailableNow/batch ingest, after the stream drains; for a
    * continuous stream, between micro-batches from the driver thread,
    * e.g. every ~64 admitted deltas. */
  def compactSignatureIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      maxFiles: Int = 16,
      targetBytes: Long = 128L * 1024 * 1024
  ): Boolean = {
    val files = Option(new java.io.File(indexDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    if (files.length <= maxFiles) false
    else {
      val nOut = math.max(1, math.ceil(files.map(_.length).sum.toDouble / targetBytes).toInt)
      graft.sources.Writers.compact(spark, indexDir, nOut)
      true
    }
  }

  /** 64-bit SimHash per document: token hashes vote per bit position.
    * Single shuffle (groupBy doc over exploded tokens); bit assembly is a
    * pure expression fold. Also emits 4×16-bit block keys — near-dup pairs
    * (hamming ≤ 3 per Manku et al.'s pigeonhole argument with 4 blocks)
    * must agree on at least one block, so candidate generation is an
    * equi-join on a block key. */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val h = toks.withColumn("th", xxhash64(col("tok")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftrightunsigned(col("th"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i")
    }
    val voted = h.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sim = (0 until 64)
      .map(i => shiftleft(when(col(s"v$i") > 0, 1L).otherwise(0L), i))
      .reduce((a, b) => a.bitwiseOR(b))
    voted
      .select(col("doc_id"), sim.as("simhash"))
      .select(
        col("doc_id"),
        col("simhash"),
        shiftrightunsigned(col("simhash"), 0).bitwiseAND(0xffffL).as("block0"),
        shiftrightunsigned(col("simhash"), 16).bitwiseAND(0xffffL).as("block1"),
        shiftrightunsigned(col("simhash"), 32).bitwiseAND(0xffffL).as("block2"),
        shiftrightunsigned(col("simhash"), 48).bitwiseAND(0xffffL).as("block3")
      )
  }

  /** Oracle-portable SimHash twin: same votes-per-bit construction as
    * [[simHash]] but 60-bit (not 64) and built on md5 — the token hash is
    * the first 15 hex chars of md5(token) parsed as an integer, which both
    * Spark (`conv(hex,16,10)`) and ANSI engines (`('0x'||hex)::BIGINT`)
    * compute identically (15 chars = 60 bits keeps the value inside a
    * signed 64-bit integer in both). Emits 4×15-bit block keys (same
    * pigeonhole banding as the fast variant). Production path is
    * [[simHash]] (one xxhash64, no string math); this twin exists so the
    * whole vote → bit → block pipeline is SQL-replayable and hash-checked. */
  def simHashPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val h = toks.withColumn("th", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map { i =>
      sum(when(shiftrightunsigned(col("th"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$i")
    }
    val voted = h.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val sim = (0 until 60)
      .map(i => shiftleft(when(col(s"v$i") > 0, 1L).otherwise(0L), i))
      .reduce((a, b) => a.bitwiseOR(b))
    voted
      .select(col("doc_id"), sim.as("simhash"))
      .select(
        col("doc_id"),
        col("simhash"),
        shiftrightunsigned(col("simhash"), 0).bitwiseAND(0x7fffL).as("block0"),
        shiftrightunsigned(col("simhash"), 15).bitwiseAND(0x7fffL).as("block1"),
        shiftrightunsigned(col("simhash"), 30).bitwiseAND(0x7fffL).as("block2"),
        shiftrightunsigned(col("simhash"), 45).bitwiseAND(0x7fffL).as("block3")
      )
  }

  /** Benchmark decontamination (training-data hygiene): score every
    * training document by the fraction of its distinct word-n-gram
    * shingles that appear anywhere in a held-out benchmark/eval corpus —
    * the standard n-gram-overlap contamination check run before LLM
    * training. Eval sets are small by construction, so the benchmark
    * shingle set is collapsed to a distinct-set and broadcast: the
    * 100 TB train side streams map-side against it (no shuffle for the
    * membership probe; the per-doc counts partial-aggregate before the
    * one groupBy exchange). Set `broadcastBench=false` for an
    * unusually large eval corpus to fall back to a shuffled join. */
  def contaminationScores(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      broadcastBench: Boolean = true
  ): DataFrame = {
    val tSh = shingles(train, idCol, textCol, n)
    // distinct bench shingles tagged for the conditional count; a left join
    // against a distinct set never multiplies rows, so total + hit counts
    // come out of ONE pass over the exploded train side (one scan, one
    // aggregate exchange — vs the naive two-scan sizes⟗hits plan)
    val bSet0 = shingles(bench, idCol, textCol, n).select("sh").distinct()
      .withColumn("__hit", lit(1))
    val bSet = if (broadcastBench) broadcast(bSet0) else bSet0
    tSh
      .join(bSet, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("hits"))
      .select(
        col("doc_id"),
        col("n_sh"),
        col("hits"),
        (col("hits").cast("double") / col("n_sh")).as("contamination")
      )
  }

  /** Leaked-span report: the concrete benchmark n-grams found in each
    * training document — what a decontamination audit actually reviews
    * (which eval spans leaked, where). Production screens at n=8–13,
    * where a match is near-certain verbatim leakage rather than idiom.
    * Same broadcast-membership shape as contaminationScores: the train
    * side probes the distinct benchmark shingle set map-side (left_semi
    * against a broadcast — no shuffle, no row multiplication), so the
    * report costs one scan of the exploded train side. */
  def contaminationSpans(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      broadcastBench: Boolean = true
  ): DataFrame = {
    val tSh = shingles(train, idCol, textCol, n)
    val bSet0 = shingles(bench, idCol, textCol, n).select("sh").distinct()
    val bSet = if (broadcastBench) broadcast(bSet0) else bSet0
    tSh.join(bSet, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("sh").as("span"))
  }

  /** Bloom-filter contamination screen — the 100 TB shape of
    * [[contaminationScores]] when the eval corpus is too large to
    * broadcast as an exact distinct set: the benchmark shingles fold into
    * a FIXED-SIZE Bloom filter (built distributed via treeAggregate
    * inside `stat.bloomFilter`, a few MB at fpp=1% regardless of corpus
    * size), and the train side probes it map-side through a plan-side
    * reference object — no join at all, just a filterless scan + one
    * aggregation exchange. One-sided error: a leaked span is NEVER
    * missed; over-flagging is bounded by fpp and cleaned up by an exact
    * second pass over the (tiny) flagged subset if needed. The d7c query
    * is rows-only (Bloom hashes have no SQL twin); the no-false-negative
    * and bounded-FPR properties are differentially spec-asserted against
    * the exact screen. */
  def contaminationScoresBloom(
      train: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      fpp: Double = 0.01
  ): DataFrame = {
    val bSh = shingles(bench, idCol, textCol, n).select("sh")
    val expected = math.max(bSh.count(), 1L)
    val bf = bSh.stat.bloomFilter("sh", expected, fpp)
    val hit = graft.plans.SketchExpressions.might_contain(col("sh"), bf)
    shingles(train, idCol, textCol, n)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_sh"),
        sum(when(hit, 1L).otherwise(0L)).as("hits"))
      .select(
        col("doc_id"),
        col("n_sh"),
        col("hits"),
        (col("hits").cast("double") / col("n_sh")).as("contamination"))
  }

  /** Cross-document repeated-substring coverage — the exact-substring
    * duplication signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), re-expressed Spark-first: instead of
    * a monolithic suffix array, every k-token window (with multiplicity)
    * becomes a row, windows reduce to per-(doc, gram) counts, and a gram
    * is "repeated" when it occurs in ≥ `minDocs` distinct documents. The
    * per-doc output is the fraction of windows covered by cross-document
    * repeats — the score a curation pipeline thresholds on.
    *
    * Scale shape: the per-(doc, gram) reduce happens BEFORE any gram-wide
    * work, and the gram-level document count is a count-over-window on
    * that already-distinct-per-doc frame — NOT a self-join (which would
    * compute the explode+aggregate twice unless exchange reuse happens to
    * fire, and would tempt the planner into broadcasting a corpus-sized
    * gram aggregate). One scan, three exchanges ((doc,gram) → gram →
    * doc), each over aggregated rows, never over raw window explosions.
    * Stop-gram skew (a boilerplate k-gram in millions of docs) stays
    * bounded: the window partition holds one row per (doc, gram), not
    * per occurrence.
    */
  def repeatedSpanCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      minDocs: Int = 2
  ): DataFrame = {
    val wins = docs.select(
      col(idCol).as("doc_id"),
      explode(TextFunctions.wordShinglesAll(col(textCol), k)).as("gram"))
    val dg = wins.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    dg.withColumn("nd", count(lit(1)).over(byGram))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_windows"),
        sum(when(col("nd") >= minDocs, col("c")).otherwise(0L)).as("dup_windows"))
      .select(
        col("doc_id"),
        col("n_windows"),
        col("dup_windows"),
        (col("dup_windows").cast("double") / col("n_windows")).as("dup_frac"))
  }

  /** Longest cross-document repeated span per document — the criterion
    * Lee et al. 2022 actually CUT on (remove/trim spans of ≥ N tokens
    * that appear verbatim elsewhere), computed without a suffix array:
    * mark each k-token window whose gram occurs in ≥ `minDocs` docs,
    * then a gaps-and-islands window (pos − row_number over pos) turns
    * consecutive dup windows into runs; a run of r windows is a repeated
    * span of r + k − 1 tokens. Docs with no dup windows report 0.
    *
    * Scale shape: gram-level doc counts come from the distinct
    * (doc, gram) aggregate; the occurrence frame exchanges once on gram
    * to pick up the dup flag (inner join against the REDUCED gram
    * aggregate — at 100 TB this is sort-merge over co-partitioned
    * aggregates, never a corpus broadcast), once on doc for the run
    * window. Every window sees one row per window occurrence; no
    * all-pairs structure anywhere. */
  def longestDupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      minDocs: Int = 2
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one explicit exchange on gram shared by the dup-gram branch and the
    // scoring join (ReusedExchange) — the window explosion is scanned once
    val wins = docs.select(
      col(idCol).as("doc_id"),
      posexplode(TextFunctions.wordShinglesAll(col(textCol), k)).as(Seq("pos", "gram")))
      .repartition(col("gram"))
    val g = wins.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")
    val dup = wins.join(g, Seq("gram"))
    val byDocPos = Window.partitionBy("doc_id").orderBy("pos")
    val runs = dup
      .withColumn("grp", col("pos") - row_number().over(byDocPos))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
      .groupBy("doc_id").agg(max("run_len").as("max_run"))
    docs.select(col(idCol).as("doc_id"))
      .join(runs, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("max_run") + (k - 1), lit(0L)).as("longest_dup_span_tokens"))
  }

  /** Paragraph-granularity cross-document dedup (the CCNet/MassiveText
    * operation: remove a paragraph wherever it reappears in another
    * document, keeping the first occurrence). Documents are segmented
    * into fixed non-overlapping `chunkLen`-token chunks (the synthetic
    * corpus has no newlines; with real text, segment on '\n\n' and the
    * rest of the plan is unchanged), each chunk keyed by its md5 — a
    * portable fingerprint an oracle replays verbatim. Keeper = min
    * doc_id per fingerprint; a chunk INSTANCE is dropped iff its doc is
    * not the keeper AND the chunk has at least `minChunkTokens` tokens
    * (CCNet's minimum-paragraph-length rule — a short remainder chunk
    * colliding across docs is noise, not duplication; within-doc repeats
    * are d10's concern, not this op's).
    *
    * Scale: explode is map-side; the fingerprint reduce is one
    * partial-aggregated shuffle on the chunk hash; the keeper frame
    * joins back on the same hash key (AQE skew-join absorbs hot
    * boilerplate chunks); the per-doc card is one final reduce on
    * doc_id. Nothing is pairwise, nothing is broadcast-unbounded.
    *
    * Output per doc: (doc_id, n_chunks, dropped_chunks, kept_tokens,
    * dropped_tokens) — all integers, so the oracle compare is exact. */
  def paragraphDedupStats(docs: DataFrame, idCol: String, textCol: String,
      chunkLen: Int = 16, minChunkTokens: Int = 4): DataFrame = {
    val toks = split(col(textCol), " ", -1)
    val chunks = docs
      .select(col(idCol).as("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(chunkLen)))
          .as(Seq("chunk_idx", "start")),
        col("w"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(slice(col("w"), col("start") + 1, lit(chunkLen))).as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunkLen)))).as("fp"))
    val keepers = chunks
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keeper"))
    val flagged = chunks
      .join(keepers, Seq("fp"))
      .withColumn("dropped",
        col("doc_id") =!= col("keeper") && col("n_chunk_tokens") >= minChunkTokens)
    flagged
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("dropped_chunks"),
        sum(when(col("dropped"), 0L).otherwise(col("n_chunk_tokens"))).as("kept_tokens"),
        sum(when(col("dropped"), col("n_chunk_tokens")).otherwise(0L)).as("dropped_tokens"))
  }

  /** Boilerplate-chunk removal card — the CCNet/RefinedWeb "shared
    * paragraph" filter: a chunk whose fingerprint appears in at least
    * `docFreqThreshold` DISTINCT documents is boilerplate (nav bars,
    * license headers, cookie banners) and is removed from EVERY document
    * — including the first — which is exactly what distinguishes it from
    * [[paragraphDedupStats]]'s keep-first dedup: dedup preserves one
    * copy of repeated content, boilerplate removal decides the content
    * itself is worthless. Chunks under `minChunkTokens` tokens are never
    * removed (tail-fragment guard, same floor as d15).
    *
    * Same execution shape as paragraphDedupStats: map-side chunking, one
    * partial-aggregated shuffle on the chunk hash for the distinct-doc
    * frequency, a hash-key join back (AQE absorbs hot boilerplate
    * fingerprints), one per-doc reduce. The doc-frequency aggregate uses
    * count(DISTINCT doc_id) — two-phase, never a per-key set collect.
    *
    * Output per doc: (doc_id, n_chunks, boilerplate_chunks, kept_tokens,
    * removed_tokens) — all integers, exact oracle compare. */
  def boilerplateChunkStats(docs: DataFrame, idCol: String, textCol: String,
      chunkLen: Int = 16, minChunkTokens: Int = 4,
      docFreqThreshold: Int = 3): DataFrame = {
    val toks = split(col(textCol), " ", -1)
    val chunks = docs
      .select(col(idCol).as("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(chunkLen)))
          .as(Seq("chunk_idx", "start")),
        col("w"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(slice(col("w"), col("start") + 1, lit(chunkLen))).as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("w"), col("start") + 1, lit(chunkLen)))).as("fp"))
    val docFreq = chunks
      .groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("docfreq"))
    val flagged = chunks
      .join(docFreq, Seq("fp"))
      .withColumn("removed",
        col("docfreq") >= docFreqThreshold && col("n_chunk_tokens") >= minChunkTokens)
    flagged
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("boilerplate_chunks"),
        sum(when(col("removed"), 0L).otherwise(col("n_chunk_tokens"))).as("kept_tokens"),
        sum(when(col("removed"), col("n_chunk_tokens")).otherwise(0L)).as("removed_tokens"))
  }
}
