package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Scd2

/** SCD2 snapshot-merge semantics (dbt timestamp strategy +
  * invalidate_hard_deletes). */
class Scd2Spec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("merge: changed rows close + reopen, new keys append, unchanged pass through") {
    val b1 = Seq(
      ("d1", "Flood", ts("2024-01-01 00:00:00")),
      ("d2", "Fire", ts("2024-01-01 00:00:00"))
    ).toDF("id", "kind", "updated_at")
    val h1 = Scd2.init(b1, "updated_at")

    val b2 = Seq(
      ("d1", "Major Flood", ts("2024-02-01 00:00:00")), // changed
      ("d2", "Fire", ts("2024-01-01 00:00:00")),        // unchanged
      ("d3", "Storm", ts("2024-02-01 00:00:00"))        // new
    ).toDF("id", "kind", "updated_at")
    val h2 = Scd2.merge(h1, b2, Seq("id"), "updated_at")

    val open = h2.filter(col("is_current")).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(open == Map("d1" -> "Major Flood", "d2" -> "Fire", "d3" -> "Storm"))
    val closed = h2.filter(!col("is_current")).collect()
    assert(closed.length == 1)
    assert(closed(0).getString(1) == "Flood")
    assert(closed(0).getAs[Timestamp]("valid_to") == ts("2024-02-01 00:00:00"))

    // idempotence: merging the same batch again changes nothing
    val h3 = Scd2.merge(h2, b2, Seq("id"), "updated_at")
    assert(h3.count() == h2.count())
    assert(h3.exceptAll(h2).isEmpty)
  }

  test("merge with invalidate_hard_deletes closes vanished keys") {
    val b1 = Seq(("a", 1, ts("2024-01-01 00:00:00")), ("b", 2, ts("2024-01-01 00:00:00")))
      .toDF("id", "v", "updated_at")
    val h1 = Scd2.init(b1, "updated_at")
    val b2 = Seq(("a", 1, ts("2024-01-01 00:00:00"))).toDF("id", "v", "updated_at")
    val h2 = Scd2.merge(h1, b2, Seq("id"), "updated_at",
      invalidateHardDeletes = true, deleteTs = Some(ts("2024-03-01 00:00:00")))
    val b = h2.filter(col("id") === "b").collect()
    assert(b.length == 1 && !b(0).getAs[Boolean]("is_current"))
    assert(b(0).getAs[Timestamp]("valid_to") == ts("2024-03-01 00:00:00"))
    val a = h2.filter(col("id") === "a").collect()
    assert(a.length == 1 && a(0).getAs[Boolean]("is_current"))
  }

  test("merge on a composite key (agricultural_risk_snapshot's 4-column unique_key)") {
    // reference: snapshots/agricultural_risk_snapshot.sql — unique_key is
    // program_year||state_code||county_code||commodity_name
    val keys = Seq("program_year", "state_code", "county_code", "commodity_name")
    val b1 = Seq(
      (2024, "CO", "001", "CORN", "NO_LOSS", ts("2024-01-01 00:00:00")),
      (2024, "CO", "001", "WHEAT", "LOW_LOSS", ts("2024-01-01 00:00:00")),
      (2023, "CO", "001", "CORN", "HIGH_LOSS", ts("2024-01-01 00:00:00"))
    ).toDF("program_year", "state_code", "county_code", "commodity_name", "loss_category", "updated_at")
    val h1 = Scd2.init(b1, "updated_at")
    val b2 = Seq(
      // same year+state+commodity, DIFFERENT county -> a distinct key, appended not merged
      (2024, "CO", "002", "CORN", "NO_LOSS", ts("2024-02-01 00:00:00")),
      // full composite match, newer -> close + reopen
      (2024, "CO", "001", "CORN", "MODERATE_LOSS", ts("2024-02-01 00:00:00")),
      // full composite match, not newer -> untouched
      (2024, "CO", "001", "WHEAT", "LOW_LOSS", ts("2024-01-01 00:00:00"))
    ).toDF("program_year", "state_code", "county_code", "commodity_name", "loss_category", "updated_at")
    val h2 = Scd2.merge(h1, b2, keys, "updated_at",
      invalidateHardDeletes = true, deleteTs = Some(ts("2024-03-01 00:00:00")))

    val byKey = h2.collect().map { r =>
      (keys.map(k => String.valueOf(r.getAs[Any](k))).mkString("|"),
        r.getAs[String]("loss_category"), r.getAs[Boolean]("is_current"),
        Option(r.getAs[Timestamp]("valid_to")))
    }.toSeq
    // 2024|CO|001|CORN: one closed (NO_LOSS, valid_to=feb) + one open (MODERATE_LOSS)
    val cornA = byKey.filter(_._1 == "2024|CO|001|CORN")
    assert(cornA.toSet == Set(
      ("2024|CO|001|CORN", "NO_LOSS", false, Some(ts("2024-02-01 00:00:00"))),
      ("2024|CO|001|CORN", "MODERATE_LOSS", true, None)))
    // county 002 appended as its own key (composite NOT collapsed to 3 cols)
    assert(byKey.count(_._1 == "2024|CO|002|CORN") == 1)
    // wheat untouched; 2023 CORN vanished from the batch -> hard-closed at deleteTs
    assert(byKey.filter(_._1 == "2024|CO|001|WHEAT").head._3)
    val gone = byKey.filter(_._1 == "2023|CO|001|CORN").head
    assert(!gone._3 && gone._4.contains(ts("2024-03-01 00:00:00")))
  }

  test("mergeCheckCols: dbt check strategy — change detection by column diff, run-ts validity") {
    val runTs1 = ts("2024-01-01 12:00:00")
    val runTs2 = ts("2024-02-01 12:00:00")
    val b1 = Seq(
      ("a1", "Severe", "Immediate"),
      ("a2", "Moderate", "Expected"),
      ("a3", "Minor", "Future")
    ).toDF("alert_id", "severity", "urgency")
    val h1 = Scd2.initAt(b1, runTs1)
    val b2 = Seq(
      ("a1", "Extreme", "Immediate"), // severity changed -> close + reopen
      ("a2", "Moderate", "Expected") // identical on both check cols -> untouched
      // a3 absent -> hard delete
    ).toDF("alert_id", "severity", "urgency")
    val h2 = Scd2.mergeCheckCols(h1, b2, Seq("alert_id"),
      checkCols = Seq("severity", "urgency"), runTs = runTs2, invalidateHardDeletes = true)

    val rows = h2.collect().map { r =>
      (r.getAs[String]("alert_id"), r.getAs[String]("severity"),
        r.getAs[Boolean]("is_current"), r.getAs[Timestamp]("valid_from"),
        Option(r.getAs[Timestamp]("valid_to")))
    }.toSet
    assert(rows == Set(
      ("a1", "Severe", false, runTs1, Some(runTs2)),
      ("a1", "Extreme", true, runTs2, None),
      ("a2", "Moderate", true, runTs1, None),
      ("a3", "Minor", false, runTs1, Some(runTs2))))

    // idempotence: same batch at a later run changes nothing (check cols all match)
    val h3 = Scd2.mergeCheckCols(h2, b2, Seq("alert_id"),
      Seq("severity", "urgency"), ts("2024-03-01 12:00:00"), invalidateHardDeletes = false)
    assert(h3.count() == h2.count() && h3.exceptAll(h2).isEmpty)
  }

  test("null keys violate the contract observably: they churn (hard-close + reopen) every merge") {
    // documents (rather than guesses at) the failure mode the key
    // contract in the scaladoc warns about: a null key never equi-joins,
    // so its history version is unreachable — under hard deletes the row
    // closes and reopens on every merge instead of staying open
    val b = Seq((null.asInstanceOf[String], "x", ts("2024-01-01 00:00:00")))
      .toDF("id", "v", "updated_at")
    val h1 = Scd2.init(b, "updated_at")
    val h2 = Scd2.merge(h1, b, Seq("id"), "updated_at",
      invalidateHardDeletes = true, deleteTs = Some(ts("2024-02-01 00:00:00")))
    // same single-row batch re-merged: a non-null key would be a no-op
    // (one open row); the null key yields one closed + one open row
    assert(h2.count() == 2)
    assert(h2.filter(col("is_current")).count() == 1)
    assert(h2.filter(!col("is_current") &&
      col("valid_to") === ts("2024-02-01 00:00:00")).count() == 1)
  }

  test("merge fails loudly on a null updatedAt in the batch or the open history") {
    // presence in the full-outer join is read from updatedAt; a null there
    // used to hard-close (batch side) or slip past the hard-delete path
    // (history side) silently
    val nullTs = null.asInstanceOf[Timestamp]
    val clean = Seq(("a", 1, ts("2024-01-01 00:00:00"))).toDF("id", "v", "updated_at")
    def failure(h: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): String = {
      val err = intercept[Exception] {
        Scd2.merge(h, b, Seq("id"), "updated_at",
          invalidateHardDeletes = true, deleteTs = Some(ts("2024-03-01 00:00:00"))).collect()
      }
      Option(err.getMessage).getOrElse("") +
        Option(err.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    }
    val nullBatch = Seq(("a", 2, nullTs)).toDF("id", "v", "updated_at")
    val batchMsg = failure(Scd2.init(clean, "updated_at"), nullBatch)
    assert(batchMsg.contains("batch row for key (a) has a null `updated_at`"), batchMsg)
    val nullHistory = Scd2.init(Seq(("b", 1, nullTs)).toDF("id", "v", "updated_at"), "updated_at")
    val historyMsg = failure(nullHistory, clean)
    assert(historyMsg.contains("open history row for key (b) has a null `updated_at`"), historyMsg)
  }

  test("mergeCheckCols treats null -> value and value -> null as changes (null-safe diff)") {
    val b1 = Seq(("k1", null.asInstanceOf[String]), ("k2", "x")).toDF("id", "v")
    val h1 = Scd2.initAt(b1, ts("2024-01-01 00:00:00"))
    val b2 = Seq(("k1", "now-set"), ("k2", null.asInstanceOf[String])).toDF("id", "v")
    val h2 = Scd2.mergeCheckCols(h1, b2, Seq("id"), Seq("v"), ts("2024-02-01 00:00:00"))
    val open = h2.filter(col("is_current")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(open == Map("k1" -> Some("now-set"), "k2" -> None))
    assert(h2.filter(!col("is_current")).count() == 2)
  }
}
