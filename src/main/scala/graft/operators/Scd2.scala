package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 snapshots over parquet — dbt snapshot semantics (reference:
  * snapshots/disaster_declarations_snapshot.sql:2-37 and the three
  * sibling configs, all `strategy='timestamp'` with
  * `invalidate_hard_deletes=True`; `agricultural_risk_snapshot.sql`
  * uses the 4-column composite `unique_key`) without a MERGE-capable
  * table format. Both dbt strategies are provided: [[merge]] =
  * `strategy='timestamp'` (change when `updated_at` advances),
  * [[mergeCheckCols]] = `strategy='check'` (change when any
  * `check_cols` value differs; validity stamped with the snapshot run
  * time, dbt's current_timestamp).
  *
  * History table columns: business columns + `valid_from`, `valid_to`
  * (null = open), `is_current`. The merge is a deterministic full-outer
  * reconciliation of current-open rows vs the incoming batch, suitable for
  * partition-overwrite rewrite; idempotent when re-run with the same batch.
  */
object Scd2 {

  /** Initialize a history table from a first batch. */
  def init(batch: DataFrame, updatedAt: String): DataFrame =
    batch
      .withColumn("valid_from", col(updatedAt))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))

  /** Merge an incoming batch into an existing SCD2 history.
    *
    * - changed rows (same key, newer updatedAt): old open row closes at the
    *   new row's updatedAt; a new open row is appended
    * - new keys: appended open
    * - keys absent from the batch: closed at `deleteTs` when
    *   `invalidateHardDeletes` (dbt's invalidate_hard_deletes=True);
    *   `deleteTs` is REQUIRED with that flag — stamping a hard-closed row
    *   `valid_to = NULL` would make it indistinguishable from an open row
    *   under the "null = open" history contract
    * - already-closed history rows pass through untouched
    *
    * KEY CONTRACT (both strategies): key columns must be NON-NULL and the
    * batch unique per (keys, updatedAt) — dbt's unique_key contract. A
    * null key never equi-joins, so a null-keyed row can't be matched to
    * its history version: under invalidateHardDeletes it would hard-close
    * and re-open on EVERY merge (Scd2Spec pins this churn), and same-key
    * same-ts duplicates make the keep-latest pick arbitrary. Collapse
    * upstream first (the agricultural_risk_snapshot device).
    *
    * UPDATED-AT CONTRACT: `updatedAt` must be NON-NULL on the batch and on
    * the open history rows — the merge reads each side's presence in the
    * full-outer join from it. Enforced in-plan: the first violating row
    * fails the action with the side and key in the message, instead of
    * being hard-closed or kept open silently.
    */
  def merge(
      history: DataFrame,
      batch: DataFrame,
      keys: Seq[String],
      updatedAt: String,
      invalidateHardDeletes: Boolean = false,
      deleteTs: Option[java.sql.Timestamp] = None
  ): DataFrame = {
    require(!invalidateHardDeletes || deleteTs.nonEmpty,
      "invalidateHardDeletes requires deleteTs: a hard-closed row with valid_to = NULL " +
        "is indistinguishable from an open row (null = open is the history contract); " +
        "pass the snapshot run time")
    val bizCols = history.columns.filterNot(Seq("valid_from", "valid_to", "is_current").contains)

    // assert_true yields null on every clean row (the filter keeps them
    // all) and raises on the first null updatedAt — no extra action, the
    // check rides the merge plan (the IntervalJoin device)
    def nonNullUpdatedAt(df: DataFrame, side: String): DataFrame =
      df.filter(assert_true(col(updatedAt).isNotNull,
        concat(lit(s"Scd2.merge: $side row for key ("),
          concat_ws(", ", keys.map(k => col(k).cast("string")): _*),
          lit(s") has a null `$updatedAt`; side presence is read from it — fill or drop it upstream")))
        .isNull)

    // latest record per key within the batch (idempotent re-ingest, S15)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(updatedAt).desc)
    val latest = nonNullUpdatedAt(batch, "batch")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")

    val closed = history.filter(!col("is_current"))
    val open = nonNullUpdatedAt(history.filter(col("is_current")), "open history")

    val joined = open
      .as("o")
      .join(latest.as("n"), keys, "full_outer")

    // with a using-columns join the key columns are coalesced; detect side
    // presence via the (asserted non-null) updatedAt column of each side
    val hasOld = col(s"o.$updatedAt").isNotNull
    val changed = col(s"n.$updatedAt").isNotNull && hasOld && col(s"n.$updatedAt") > col(s"o.$updatedAt")

    val hasNew = col(s"n.$updatedAt").isNotNull

    // open rows that stay open (unchanged, or no newer version). Under
    // invalidateHardDeletes a key absent from the batch does NOT stay
    // open — it hard-closes below — so presence in the batch joins the
    // predicate; without the flag absent keys pass through open. Both
    // conditions read the ONE full-outer join (round 16, guide §2.4 —
    // this used to be a separate left_semi join re-shuffling both sides,
    // and hard deletes a third left_anti join; the full-outer row set
    // already distinguishes all four cases by side presence, the same
    // device mergeCheckCols always used).
    val stillOpen = joined
      .filter(hasOld && (if (invalidateHardDeletes) hasNew && col(s"n.$updatedAt") <= col(s"o.$updatedAt")
                         else col(s"n.$updatedAt").isNull || col(s"n.$updatedAt") <= col(s"o.$updatedAt")))
      .select(keys.map(col) ++ bizCols.filterNot(keys.contains).map(c => col(s"o.$c")) :+
        col("o.valid_from") :+ col("o.valid_to") :+ col("o.is_current"): _*)

    // open rows superseded by the batch -> closed
    val nowClosed = joined
      .filter(changed)
      .select(keys.map(col) ++ bizCols.filterNot(keys.contains).map(c => col(s"o.$c")) :+
        col("o.valid_from") :+ col(s"n.$updatedAt").as("valid_to") :+ lit(false).as("is_current"): _*)

    // hard deletes: open rows whose key vanished from the batch —
    // old-side-only rows of the same full-outer join
    val hardClosed =
      if (!invalidateHardDeletes) open.limit(0)
      else joined
        .filter(hasOld && !hasNew)
        .select(keys.map(col) ++ bizCols.filterNot(keys.contains).map(c => col(s"o.$c")) :+
          col("o.valid_from") :+ lit(deleteTs.orNull).cast("timestamp").as("valid_to") :+
          lit(false).as("is_current"): _*)
    val openKept = stillOpen

    // new versions and brand-new keys -> open rows
    val newOpen = joined
      .filter(changed || !hasOld)
      .select(keys.map(col) ++ bizCols.filterNot(keys.contains).map(c => col(s"n.$c")) :+
        col(s"n.$updatedAt").as("valid_from") :+ lit(null).cast("timestamp").as("valid_to") :+ lit(true).as("is_current"): _*)

    closed
      .unionByName(openKept)
      .unionByName(nowClosed)
      .unionByName(hardClosed)
      .unionByName(newOpen)
  }

  /** Initialize a history table stamped at a snapshot run time (the
    * check-cols companion of [[init]], which reads validity from a data
    * column). */
  def initAt(batch: DataFrame, runTs: java.sql.Timestamp): DataFrame =
    batch
      .withColumn("valid_from", lit(runTs).cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))

  /** dbt `strategy='check'` merge: a key is CHANGED when any of
    * `checkCols` differs (null-safe) between its open history row and the
    * batch row — no reliance on a source-updated timestamp, the strategy
    * for feeds that mutate in place without bumping one. Validity edges
    * are stamped with `runTs` (dbt uses the snapshot's
    * current_timestamp): changed keys close at `runTs` and reopen at
    * `runTs` with the batch's values; unchanged keys keep their open row
    * untouched; new keys open at `runTs`; keys absent from the batch
    * close at `runTs` when `invalidateHardDeletes`. Idempotent: re-running
    * with the same batch changes nothing (every checkCol then matches).
    *
    * The batch must be one row per key (pre-collapse upstream — there is
    * no updated_at to pick "latest" by, so this operator refuses to guess
    * and instead keys the full-outer join directly). NOTE the contract is
    * the caller's to uphold by default: a duplicate-keyed batch fans out
    * through the full-outer join into duplicate open/closed history rows.
    * `requireUniqueKeys = true` adds a lazy in-plan assertion (one window
    * count over the batch keys — an extra exchange, hence opt-in) that
    * fails the job on the first duplicate instead.
    */
  def mergeCheckCols(
      history: DataFrame,
      batch: DataFrame,
      keys: Seq[String],
      checkCols: Seq[String],
      runTs: java.sql.Timestamp,
      invalidateHardDeletes: Boolean = false,
      requireUniqueKeys: Boolean = false
  ): DataFrame = {
    require(checkCols.nonEmpty, "check strategy needs at least one check column")
    val checkedBatch =
      if (!requireUniqueKeys) batch
      else {
        // assert_true returns null when the predicate holds, so the filter
        // keeps every row of a well-formed batch and throws on the first
        // key seen twice — no extra action, the check rides the merge plan
        val msg = concat(lit("mergeCheckCols: batch has multiple rows for key ("),
          concat_ws(", ", keys.map(k => col(k).cast("string")): _*),
          lit(") — check strategy has no updated_at to pick a latest by; collapse upstream"))
        batch
          .withColumn("__kc", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
          .filter(assert_true(col("__kc") === 1, msg).isNull)
          .drop("__kc")
      }
    val bizCols = history.columns.filterNot(Seq("valid_from", "valid_to", "is_current").contains)

    val closed = history.filter(!col("is_current"))
    val open = history.filter(col("is_current"))

    // presence flags survive the coalescing using-join (the merge()
    // device uses updatedAt; check strategy has none, so tag explicitly)
    val joined = open.withColumn("__has_old", lit(true)).as("o")
      .join(checkedBatch.withColumn("__has_new", lit(true)).as("n"), keys, "full_outer")
    val hasOld = col("o.__has_old").isNotNull
    val hasNew = col("n.__has_new").isNotNull
    // null-safe inequality on any check column = dbt's row-changed test
    val differs = checkCols.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _)

    def oRow(extra: Seq[org.apache.spark.sql.Column]) =
      keys.map(col) ++ bizCols.filterNot(keys.contains).map(c => col(s"o.$c")) ++ extra
    def nRow(extra: Seq[org.apache.spark.sql.Column]) =
      keys.map(col) ++ bizCols.filterNot(keys.contains).map(c => col(s"n.$c")) ++ extra

    val stillOpen = joined
      .filter(hasOld && hasNew && !differs)
      .select(oRow(Seq(col("o.valid_from"), col("o.valid_to"), col("o.is_current"))): _*)
    val nowClosed = joined
      .filter(hasOld && hasNew && differs)
      .select(oRow(Seq(col("o.valid_from"), lit(runTs).cast("timestamp").as("valid_to"),
        lit(false).as("is_current"))): _*)
    val hardClosed =
      if (!invalidateHardDeletes) open.limit(0)
      else joined
        .filter(hasOld && !hasNew)
        .select(oRow(Seq(col("o.valid_from"), lit(runTs).cast("timestamp").as("valid_to"),
          lit(false).as("is_current"))): _*)
    val newOpen = joined
      .filter(hasNew && (!hasOld || differs))
      .select(nRow(Seq(lit(runTs).cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"), lit(true).as("is_current"))): _*)

    // oRow/nRow define the exact output schema — the presence flags never
    // reach any branch's select list
    closed
      .unionByName(stillOpen)
      .unionByName(nowClosed)
      .unionByName(hardClosed)
      .unionByName(newOpen)
  }
}
