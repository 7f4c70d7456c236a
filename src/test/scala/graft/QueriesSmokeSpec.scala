package graft

import graft.core.FrameMemo

/** Every declared query must run at sf0.001 and (where a result is
  * guaranteed) return rows; true value-correctness is covered by the
  * driver's DuckDB-oracle gate, locally emulated via
  * tools/check_oracle.py. */
class QueriesSmokeSpec extends SparkSpecBase {

  // queries whose correct result CAN be empty at this scale
  private val mayBeEmpty = Set("j5_anti_join", "d4_embedding_neardup", "d1_ngram_jaccard",
    "d2_minhash_lsh", "u7_except")

  test("all queries execute at sf0.001") {
    // memo gets (hits + recomputes) per memo, read around each entry: the
    // memos an entry really reads, to hold against its declared `memos`
    def gets(): Map[String, Long] = FrameMemo.allStats.map { case (m, h, r) => m -> (h + r) }.toMap
    val observed = SparkEntry.board.map { q =>
      val before = gets()
      val failure = try {
        val n = q.run(spark, Sf0001).count()
        if (n == 0 && !mayBeEmpty(q.name)) Some(s"${q.name}: 0 rows") else None
      } catch {
        case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(120)}")
      }
      val read = gets().collect { case (m, n) if n > before.getOrElse(m, 0L) => m }.toSet
      (q, failure, read)
    }
    val failures = observed.flatMap(_._2)
    assert(failures.isEmpty, failures.mkString("; "))
    // every memo an entry reads is declared for that entry ...
    val undeclared = observed.flatMap { case (q, _, read) =>
      (read -- q.memos).map(m => s"${q.name} reads $m")
    }
    assert(undeclared.isEmpty,
      s"undeclared memo reads (declare them in SparkEntry.board): ${undeclared.mkString("; ")}")
    // ... and every memo the board reads is declared by some entry, and
    // read by some entry (the registry also holds the specs' own memos,
    // so production memos are the ones board entries read)
    val read = observed.flatMap(_._3).toSet
    val declared = SparkEntry.board.flatMap(_.memos).toSet
    assert(read == declared,
      s"read but never declared: ${read -- declared}; declared but never read: ${declared -- read}")
  }

  test("every oracle key refers to a declared query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle entries without queries: $unknown")
  }

  test("rows-only entries are exactly the documented sketch/seeded set") {
    // every board entry must carry a DuckDB oracle EXCEPT the board's
    // RowsOnly entries (each pinned by a hash-green twin or ground-truth
    // spec) and its CapturedOracle entries, whose oracles appear AFTER
    // their models train. Read live, after the entries above have run: an
    // oracle going missing fails here instead of surfacing as a
    // driver-side rows-only downgrade next round.
    val documented = SparkEntry.board.collect { case q if q.check.isInstanceOf[QuerySpec.RowsOnly] => q.name }.toSet
    val captured = SparkEntry.board.collect { case q if q.check == QuerySpec.CapturedOracle => q.name }.toSet
    val missing = SparkEntry.board.map(_.name).toSet -- SparkEntry.oracleSql.keySet
    assert((missing -- captured) == documented,
      s"undocumented rows-only entries: ${(missing -- captured) -- documented}; " +
        s"documented-but-now-oracled (update SparkEntry.board): ${documented -- missing}")
  }

  test("committed ROWS_ONLY.json mirrors SparkEntry.rowsOnly byte-for-byte") {
    // the machine-readable companion to the driver's correctness artifact
    // (Verify also drops the same content into its outDir): regenerate
    // with  sbt "Test/runMain graft.RowsOnlyGen"  after editing the board
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("ROWS_ONLY.json"))
    assert(committed == SparkEntry.rowsOnlyJson,
      "ROWS_ONLY.json is stale — run: sbt \"Test/runMain graft.RowsOnlyGen\"")
  }

  test("every rows-only pin that names a board twin names a REAL board entry") {
    // "twin <name>" references inside the pin strings must stay valid as
    // the board evolves — a renamed twin would otherwise leave a dangling
    // pointer in the artifact
    val names = SparkEntry.board.map(_.name).toSet
    val pins = SparkEntry.board.collect { case QuerySpec(k, _, QuerySpec.RowsOnly(_, pin), _, _) => (k, pin) }
    pins.foreach { case (k, pin) =>
      "twin ([A-Za-z0-9_]+)".r.findAllMatchIn(pin).foreach { m =>
        assert(names.contains(m.group(1)),
          s"$k: pin references unknown twin '${m.group(1)}'")
      }
    }
  }

  test("flagship entry returns enriched rows") {
    assert(SparkEntry.entry(spark).count() == 25) // 25 nations
  }

  test("approx distinct tracks exact within the configured error") {
    val exact = SparkEntry.queries("a5_count_distinct")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("a5b_approx_distinct")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e).toDouble / e < 0.1, s"$k: exact=$e approx=${approx(k)}")
    }
  }
}
