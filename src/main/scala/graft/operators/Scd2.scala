package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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
  * Both strategies share one physical shape: ONE sort-merge join of the
  * open rows to the batch, each joined row expanded into its outcomes by
  * one generator, unioned with the already-closed rows. With AQE off that
  * is two shuffle exchanges (one per side; a keep-latest window on the
  * batch already partitions it by key, so the join reuses it) and no
  * broadcast (PlanAuditSpec pins it).
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

    // assert_true yields null on every clean row (the filter keeps them
    // all) and raises on the first null updatedAt — no extra action, the
    // check rides the merge plan (the IntervalJoin device)
    def nonNullUpdatedAt(df: DataFrame, side: String): DataFrame =
      df.filter(assert_true(col(updatedAt).isNotNull,
        concat(lit(s"Scd2.merge: $side row for key ("),
          concat_ws(", ", keys.map(k => col(k).cast("string")): _*),
          lit(s") has a null `$updatedAt`; side presence is read from it — fill or drop it upstream")))
        .isNull)

    // latest record per key within the batch (idempotent re-ingest, S15);
    // the window's key partitioning is the join's batch-side exchange
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(updatedAt).desc)
    val latest = nonNullUpdatedAt(batch, "batch")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")

    reconcile(history, nonNullUpdatedAt(history.filter(col("is_current")), "open history"),
      latest, keys, present = updatedAt,
      changed = col(s"n.$updatedAt") > col(s"o.$updatedAt"),
      versionTs = col(s"n.$updatedAt"),
      deleteTs = if (invalidateHardDeletes) deleteTs else None)
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
    * close at `runTs` when `invalidateHardDeletes` and otherwise keep
    * their open row. Idempotent: re-running with the same batch changes
    * nothing (every checkCol then matches).
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

    // the check strategy has no column known non-null on both sides, so
    // each side carries a literal presence flag into the join
    reconcile(history, history.filter(col("is_current")).withColumn("__p", lit(true)),
      checkedBatch.withColumn("__p", lit(true)), keys, present = "__p",
      // null-safe inequality on any check column = dbt's row-changed test
      changed = checkCols.map(c => !(col(s"o.$c") <=> col(s"n.$c"))).reduce(_ || _),
      versionTs = lit(runTs).cast("timestamp"),
      deleteTs = if (invalidateHardDeletes) Some(runTs) else None)
  }

  // the outcomes of one joined row: at most one for its old (open
  // history) side, at most one for its new (batch) side
  private val Stays = 0
  private val Closes = 1
  private val HardCloses = 2
  private val Opens = 3

  /** The step both strategies share. `open` (aliased `o`) is joined to
    * `batch` (aliased `n`) ONCE, full outer on `keys`; `present` names a
    * column non-null on every row of both sides, so a null there means the
    * side is absent. An old-side row closes at `versionTs` when `changed`
    * holds, hard-closes at `deleteTs` when absent from the batch (None =
    * absent keys stay open), and otherwise stays open; a batch row opens at
    * `versionTs` when its key is new or `changed`. One explode over the
    * two-slot outcome array (nulls dropped) and one projection emit the
    * rows. No filter reads side presence above the join — such a filter
    * would let Catalyst's outer-join elimination plan a different join per
    * branch.
    */
  private def reconcile(
      history: DataFrame,
      open: DataFrame,
      batch: DataFrame,
      keys: Seq[String],
      present: String,
      changed: Column,
      versionTs: Column,
      deleteTs: Option[java.sql.Timestamp]
  ): DataFrame = {
    val hasOld = col(s"o.$present").isNotNull
    val hasNew = col(s"n.$present").isNotNull
    val superseded = hasOld && hasNew && changed
    val oldOutcome = when(superseded, Closes)
      .when(hasOld && !hasNew && lit(deleteTs.nonEmpty), HardCloses)
      .when(hasOld, Stays)
    val newOutcome = when(hasNew && (!hasOld || superseded), Opens)

    val outcome = col("__t")
    val opens = outcome === Opens
    val bizCols = history.columns.filterNot(Seq("valid_from", "valid_to", "is_current").contains)
    val rows = open.as("o").join(batch.as("n"), keys, "full_outer")
      .withColumn("__t", explode(array_compact(array(oldOutcome, newOutcome))))
      .select(bizCols.map(c =>
          if (keys.contains(c)) col(c) else when(opens, col(s"n.$c")).otherwise(col(s"o.$c")).as(c)) :+
        when(opens, versionTs).otherwise(col("o.valid_from")).as("valid_from") :+
        when(outcome === Closes, versionTs)
          .when(outcome === HardCloses, lit(deleteTs.orNull).cast("timestamp"))
          .when(outcome === Stays, col("o.valid_to")).as("valid_to") :+
        (outcome === Stays || opens).as("is_current"): _*)
    history.filter(!col("is_current")).unionByName(rows)
  }
}
