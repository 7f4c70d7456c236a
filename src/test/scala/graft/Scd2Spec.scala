package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty

import graft.operators.{Scd2, Upsert}

/** SCD2 snapshot-merge semantics (dbt timestamp and check strategies +
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

  test("mergeCheckCols without invalidateHardDeletes keeps a key absent from the batch open") {
    // dbt's check strategy leaves absent keys untouched unless
    // invalidate_hard_deletes is set — as merge() does
    val runTs1 = ts("2024-01-01 00:00:00")
    val h1 = Scd2.initAt(Seq(("k1", "a"), ("k2", "b")).toDF("id", "v"), runTs1)
    val h2 = Scd2.mergeCheckCols(h1, Seq(("k1", "a")).toDF("id", "v"), Seq("id"), Seq("v"),
      ts("2024-02-01 00:00:00"))
    val rows = h2.collect().map(r => (r.getString(0), r.getString(1),
      r.getAs[Timestamp]("valid_from"), Option(r.getAs[Timestamp]("valid_to")), r.getBoolean(4))).toSet
    assert(rows == Set(("k1", "a", runTs1, None, true), ("k2", "b", runTs1, None, true)))
  }

  // ---- both strategies against a plain-Scala model of the four SCD2 cases ----

  // one history/batch row: composite key (g, k), one payload v (null
  // allowed: the check strategy diffs null-safely), a version day
  private case class Version(g: Int, k: String, v: Option[String], day: Int)
  // a history row; `at` is the timestamp strategy's updatedAt column
  private case class Hist(g: Int, k: String, v: Option[String], at: Int,
      from: Int, to: Option[Int], current: Boolean)
  private case class Scenario(open: Seq[Hist], closed: Seq[Hist], batch: Seq[Version])

  private def day(d: Int) = ts(f"2024-01-$d%02d 00:00:00")
  private val RunDay = 20 // check strategy's run time and the hard-delete time

  private val scenarioGen: Gen[Scenario] = {
    val payload = Gen.oneOf(Some("a"), Some("b"), None)
    val perKey = for {
      open <- Gen.option(Gen.zip(payload, Gen.choose(2, 4)))
      closed <- Gen.option(Gen.zip(payload, Gen.choose(1, 2)))
      // 0-2 batch versions with distinct days: a version may repeat the
      // open row exactly (re-delivered), be older, or be newer
      days <- Gen.choose(0, 2).flatMap(n => Gen.pick(n, 1 to 5))
      vs <- Gen.listOfN(days.size, payload)
    } yield (open, closed, days.zip(vs))
    Gen.listOfN(12, perKey).map { keys =>
      val perKeyRows = keys.zipWithIndex.map { case ((open, closed, batch), i) =>
        val (g, k) = (i % 2, s"k${i / 2}")
        (open.map { case (v, d) => Hist(g, k, v, d, d, None, current = true) },
          closed.map { case (v, d) => Hist(g, k, v, d, d, Some(d + 1), current = false) },
          batch.map { case (d, v) => Version(g, k, v, d) })
      }
      Scenario(perKeyRows.flatMap(_._1), perKeyRows.flatMap(_._2), perKeyRows.flatMap(_._3))
    }
  }

  /** The four SCD2 cases per key. Timestamp strategy: the batch's latest
    * version is newer than the open row's. Check strategy (one batch row
    * per key: the latest): the payloads differ. */
  private def model(s: Scenario, checkStrategy: Boolean, hardDeletes: Boolean): Seq[Hist] = {
    val latest = s.batch.groupBy(b => (b.g, b.k)).map { case (key, vs) => key -> vs.maxBy(_.day) }
    val open = s.open.map(o => (o.g, o.k) -> o).toMap
    def opened(n: Version) =
      Hist(n.g, n.k, n.v, n.day, if (checkStrategy) RunDay else n.day, None, current = true)
    val reconciled = (open.keySet ++ latest.keySet).toSeq.flatMap { key =>
      (open.get(key), latest.get(key)) match {
        case (Some(o), Some(n)) if (if (checkStrategy) o.v != n.v else n.day > o.at) =>
          Seq(o.copy(to = Some(if (checkStrategy) RunDay else n.day), current = false), opened(n))
        case (Some(o), None) if hardDeletes => Seq(o.copy(to = Some(RunDay), current = false))
        case (Some(o), _) => Seq(o)
        case (None, Some(n)) => Seq(opened(n))
        case (None, None) => Nil
      }
    }
    s.closed ++ reconciled
  }

  test("both strategies match a plain-Scala SCD2 model over random histories and batches") {
    def histDf(rows: Seq[Hist]) = rows.map(h => (h.g, h.k, h.v, day(h.at), day(h.from),
        h.to.map(day), h.current))
      .toDF("g", "k", "v", "updated_at", "valid_from", "valid_to", "is_current")
    def sorted(rows: Seq[Hist]) = rows.map(_.toString).sorted
    val prop = Prop.forAll(scenarioGen) { s =>
      val history = histDf(s.open ++ s.closed)
      val batch = s.batch.map(b => (b.g, b.k, b.v, day(b.day))).toDF("g", "k", "v", "updated_at")
      // the check strategy's batch is one row per key: the latest version
      val checkBatch = Upsert.latestByKey(batch, Seq("g", "k"), "updated_at", "updated_at")
      Prop.all(Seq(false, true).flatMap { hardDeletes =>
        val byTimestamp = Scd2.merge(history, batch, Seq("g", "k"), "updated_at",
          invalidateHardDeletes = hardDeletes, deleteTs = Some(day(RunDay)))
        val byCheck = Scd2.mergeCheckCols(history, checkBatch, Seq("g", "k"), Seq("v"),
          day(RunDay), invalidateHardDeletes = hardDeletes)
        Seq(
          (s"timestamp, hardDeletes=$hardDeletes", byTimestamp, false),
          (s"check, hardDeletes=$hardDeletes", byCheck, true)).map { case (label, df, check) =>
          val got = df.select("g", "k", "v", "updated_at", "valid_from", "valid_to", "is_current")
            .collect().toSeq.map { r =>
              def d(i: Int) = r.getTimestamp(i).toLocalDateTime.getDayOfMonth
              Hist(r.getInt(0), r.getString(1), Option(r.getString(2)), d(3), d(4),
                if (r.isNullAt(5)) None else Some(d(5)), r.getBoolean(6))
            }
          (sorted(got) == sorted(model(s, check, hardDeletes))) :| label
        }
      }: _*)
    }
    val result = Check.check(Check.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result))
  }
}
