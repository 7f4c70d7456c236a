package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, IntervalJoin, Similarity, Upsert, Validation}

/** Differential + invariant tests for the operator layer. */
class OperatorsSpec extends SparkSpecBase {
  import spark.implicits._

  test("interval join: date-bucketed plan aggregates identically to naive BNLJ") {
    val t = Tables(spark, Sf0001)
    val intervals = t.orders
      .filter(col("o_orderkey") % 499 === 0)
      .select(
        col("o_orderkey").as("interval_id"),
        to_date(col("o_orderdate")).as("start_d"),
        date_add(to_date(col("o_orderdate")), 14).as("end_d")
      )
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("interval_id")
        .agg(count(col("l_orderkey")).as("cnt"), sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    val fast = agg(IntervalJoin.byDay(intervals, col("start_d"), col("end_d"), t.lineitem, to_date(col("l_shipdate"))))
    val slow = agg(IntervalJoin.naive(intervals, col("start_d"), col("end_d"), t.lineitem, to_date(col("l_shipdate"))))
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("exact dedup groups: every keeper is the min doc_id of its fingerprint group") {
    val docs = Seq((5L, "x y z"), (3L, "x y z"), (9L, "a b"), (1L, "q")).toDF("doc_id", "text")
    val got = Dedup.exactGroups(docs, "doc_id", "text").collect()
    val byCnt = got.map(r => (r.getLong(1), r.getLong(2))).toMap // keep_id -> cnt
    assert(byCnt == Map(3L -> 2L, 9L -> 1L, 1L -> 1L))
  }

  test("ngram jaccard maxDf cap drops stop-shingle candidates only") {
    // "common common common" shingle shared by ALL docs would pair everything;
    // with maxDf=2 only the genuinely similar pair survives
    val docs = Seq(
      (1L, "common x1 y1 z1 common tail tail tail"),
      (2L, "common x1 y1 z1 common tail tail tail"),
      (3L, "common a b c common d e f"),
      (4L, "common g h i common j k l")
    ).toDF("doc_id", "text").withColumn("src", lit("s"))
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "src", 3, 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "src", 3, 0.05, maxDf = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && capped.contains((1L, 2L)))
    assert(uncapped.size >= capped.size)
    assert(!capped.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).nonEmpty && Set(a, b) != Set(3L, 4L) } ||
      capped((1L, 2L))) // stop-shingle-only pairs pruned under the cap
  }

  test("contamination scores: benchmark-overlapping docs flagged, clean docs zero") {
    val bench = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "quiz answer the capital of france is paris obviously"), // leaks the phrase
      (2L, "completely unrelated text about weather stations today"),
      (3L, "the capital of france") // 2 shingles, fully contained in bench
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationScores(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: 7 shingles, 4 of them ("the capital of" ... "france is paris") in bench
    assert(got(1L) == ((7L, 4L, 4.0 / 7)))
    assert(got(2L)._2 == 0L && got(2L)._3 == 0.0)
    assert(got(3L) == ((2L, 2L, 1.0)))
    // bench side never appears in the output
    assert(!got.contains(100L))
  }

  test("contamination spans: reports exactly the leaked benchmark n-grams per training doc") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro alpha beta gamma delta epsilon zeta eta theta iota"), // leaks both bench 8-grams
      (2L, "no overlap with the benchmark text here at all whatsoever")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(train, bench, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "beta gamma delta epsilon zeta eta theta iota")
    ), s"got $got")
  }

  test("embedding near-dup maxBucketSize cap drops degenerate-bucket pairs only") {
    // 10 identical vectors flood every LSH bucket they touch (the skew
    // shape: one hot bucket goes quadratic); an unrelated duplicate pair
    // (opposite sign -> complementary bucket bits in every table) must
    // survive the cap untouched
    val hot = (1L to 10L).map(i => (i, Array.fill(8)(0f).updated(0, 1f).toSeq))
    val cold = Seq((100L, Array.fill(8)(0f).updated(0, -1f).toSeq), (101L, Array.fill(8)(0f).updated(0, -1f).toSeq))
    val vecs = (hot ++ cold).toDF("vec_id", "embedding")
    def pairs(cap: Option[Int]) =
      Similarity.embeddingNearDupPairs(vecs, "vec_id", "embedding",
          threshold = 0.9, dim = 8, numTables = 4, planesPerTable = 6, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((100L, 101L)))
    assert(uncapped.size == 45 + 1) // C(10,2) hot pairs + the cold pair
    val capped = pairs(Some(5))
    assert(capped == Set((100L, 101L)), s"capped=$capped")
  }

  test("minhash estimated jaccard tracks exact jaccard for near-dup docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"tok$i").mkString(" ") + " zzz aaa bbb"
    val distinctDoc = (100 to 160).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinctDoc)).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3, k = 32, bands = 8, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)), s"near-dup pair not found: $pairs")
    assert(pairs((1L, 2L)) > 0.5)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash: identical docs hash identically; near-dups within small hamming distance") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val tweaked = base.replace("w40", "w40x")
    val docs = Seq((1L, base), (2L, base), (3L, tweaked)).toDF("doc_id", "text")
    val h = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) <= 12)
  }

  test("LSH ANN recalls a decent fraction of brute-force neighbors") {
    val e = Tables(spark, Sf0001).embeddings
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(e, q, "vec_id", "embedding", 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.15, s"recall=$recall")
    // and ANN never invents a better-than-rank-1 neighbor missing from brute's pool:
    assert(ann.nonEmpty)
  }

  test("IVF ANN with full probing equals brute force; nprobe<nlist keeps high recall") {
    val e = Tables(spark, Sf0001).embeddings
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe == nlist probes every cell -> exhaustive search, exact match
    val full = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, "full-probe IVF must equal brute force")
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("PQ with exactly-representable subvectors reproduces brute force; real embeddings keep recall") {
    // 4 distinct 4-dim vectors, m=2 subspaces: ksub=4 codebooks can represent
    // every subvector exactly -> ADC scoring degenerates to the exact dot
    // product and PQ top-k == brute-force top-k
    val vecs = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f)), (1L, Array(0f, 1.0f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)), (3L, Array(0f, 0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 2)
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pq = Similarity.pqTopK(vecs, q, "vec_id", "embedding", k = 2, dim = 4, m = 2, ksub = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pq == brute, s"exact-codebook PQ must equal brute force: $pq vs $brute")

    // real embeddings: 64-dim -> m=8 bytes per vector (32x compression).
    // Near-random synthetic embeddings are PQ's adversarial case (no
    // subspace structure to quantize), so raw ADC ranking is noisy; the
    // production answer is ADC shortlist + exact re-rank (refine), which
    // must recall most true neighbors
    val e = Tables(spark, Sf0001).embeddings
    val qs = e.filter(col("vec_id") < 20)
    val b2 = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.pqTopK(e, qs, "vec_id", "embedding", k = 5, dim = 64, m = 8, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = (b2 & adc).size.toDouble / b2.size
    assert(adcRecall >= 0.1, s"adcRecall=$adcRecall")
    val p2 = Similarity.pqTopK(e, qs, "vec_id", "embedding", k = 5, dim = 64, m = 8, ksub = 32,
      refine = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (b2 & p2).size.toDouble / b2.size
    info(s"PQ recall: adc-only=$adcRecall refined=$recall")
    assert(recall >= 0.6, s"refined recall=$recall (adc-only $adcRecall)")
  }

  test("PQ training is deterministic: two fits yield identical codebooks") {
    // k-means float aggregation follows row order; deterministicTrainOrder
    // (repartition(1) + sort) must make the codebooks a pure function of
    // (data, seed) so recall bounds hold on any machine/partitioning
    val e = Tables(spark, Sf0001).embeddings
    val c1 = Similarity.pqTrain(e, "embedding", dim = 64, m = 4, ksub = 16)
    val c2 = Similarity.pqTrain(e.repartition(7), "embedding", dim = 64, m = 4, ksub = 16)
    assert(c1 == c2, "codebooks must not depend on input partitioning")
  }

  test("IVF at nlist=256: packed-centroid expression plans, runs, and full probe is still exact") {
    // the literal struct-ladder formulation embedded nlist×dim expression
    // nodes and stopped compiling around nlist≈10³ — the packed-matrix
    // NearestCentroids expression must make large-nlist quantizers routine
    val e = Tables(spark, Sf0001).embeddings
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5, nlist = 256, nprobe = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, "full-probe IVF at nlist=256 must equal brute force")
    val probed = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5, nlist = 256, nprobe = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed.nonEmpty && probed.subsetOf(probed ++ brute))
    val recall = (brute & probed).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("upsert latestByKey is deterministic and keeps the newest version") {
    val df = Seq((1L, "a", 1L, 10.0), (1L, "a", 3L, 30.0), (1L, "a", 2L, 20.0), (2L, "b", 1L, 1.0))
      .toDF("k1", "k2", "version", "v")
    val got = Upsert.latestByKey(df, Seq("k1", "k2"), "version", "version")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((1L, 3L, 30.0), (2L, 1L, 1.0)))
  }

  test("upsertParquet: re-running the same batch is idempotent; newer versions replace") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/t"
    val b1 = Seq((1L, 1L, "v1"), (2L, 1L, "v1")).toDF("id", "version", "payload")
    Upsert.upsertParquet(spark, b1, dir, Seq("id"), "version", "id")
    Upsert.upsertParquet(spark, b1, dir, Seq("id"), "version", "id")
    assert(spark.read.parquet(dir).count() == 2)
    val b2 = Seq((2L, 2L, "v2"), (3L, 1L, "v1")).toDF("id", "version", "payload")
    Upsert.upsertParquet(spark, b2, dir, Seq("id"), "version", "id")
    val rows = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(rows == Map(1L -> "v1", 2L -> "v2", 3L -> "v1"))
  }

  test("upsertPartitioned rewrites only the batch's partitions and leaves the session conf as it was") {
    val dir = java.nio.file.Files.createTempDirectory("upsert_part").toString + "/t"
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    def files(day: String) =
      new java.io.File(s"$dir/day=$day").listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    val b1 = Seq((1L, 1L, "v1", "d1"), (2L, 1L, "v1", "d2")).toDF("id", "version", "payload", "day")
    Upsert.upsertPartitioned(spark, b1, dir, "day", Seq("id"), "version", "id")
    val d1Before = files("d1")
    val b2 = Seq((2L, 2L, "v2", "d2"), (3L, 1L, "v1", "d2")).toDF("id", "version", "payload", "day")
    Upsert.upsertPartitioned(spark, b2, dir, "day", Seq("id"), "version", "id")
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"), r.getAs[String]("day"))).toSet
    assert(rows == Set((1L, "v1", "d1"), (2L, "v2", "d2"), (3L, "v1", "d2")))
    assert(files("d1") == d1Before, "a partition the batch does not touch was rewritten")
    assert(spark.conf.getOption(modeKey) == modeBefore,
      "the upsert changed the session's partition overwrite mode")
  }

  test("validation: pii scan, accepted values, ranges, broken references") {
    val df = Seq(
      ("ok row", "CO", 5.0),
      ("ssn 123-45-6789 leak", "CO", 20.0),
      ("mail a@b.com", "XX", -1.0)
    ).toDF("note", "state", "score")
    val res = Validation.run(df, Seq(
      Validation.piiScan("note"),
      Validation.acceptedValues("state", Seq("CO", "TX")),
      Validation.inRange("score", 0.0, 10.0)
    )).head()
    assert(res.getLong(res.fieldIndex("total_rows")) == 3)
    assert(res.getLong(res.fieldIndex("pii_note")) == 2)
    assert(res.getLong(res.fieldIndex("accepted_values_state")) == 1)
    assert(res.getLong(res.fieldIndex("range_score")) == 2)

    val dim = Seq("CO", "TX").toDF("state")
    assert(Validation.brokenReferences(df, "state", dim, "state").count() == 1)
    assert(Validation.duplicates(df.unionAll(df), Seq("note")).count() == 3)
  }

  test("lshPlanesFor keeps bucket occupancy ~constant as the corpus grows") {
    import graft.operators.Similarity.lshPlanesFor
    // graded SFs sit at the floor — board results unchanged by the knob
    assert(lshPlanesFor(500L) == 8)
    assert(lshPlanesFor(2000L) == 8)
    // 10x corpus: depth grows by log2(10) ~ 3-4 planes, occupancy ~flat
    assert(lshPlanesFor(20000L) == 12)
    assert(lshPlanesFor(200000L) == 15)
    // expected occupancy n / 2^planes stays within [4, 16) while uncapped
    Seq(20000L, 200000L, 2000000L, 20000000L).foreach { n =>
      val occ = n.toDouble / (1L << lshPlanesFor(n))
      assert(occ >= 4.0 && occ < 16.0, s"occupancy $occ at n=$n")
    }
    // cap bounds the int fold (occupancy then grows again — deliberate
    // trade at extreme N; numTables/maxBucketSize pick up from there)
    assert(lshPlanesFor(Long.MaxValue) == 24)
  }
}
