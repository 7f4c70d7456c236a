package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column a thin wrapper over ColumnNode and gated the
  * Expression conversions behind `private[sql]` ExpressionUtils. This
  * bridge (compiled into the sql package namespace) re-exposes the two
  * conversions so graft's custom Catalyst expressions can offer a Column
  * API — the supported extension seam for library-defined expressions.
  */
object ColumnBridge {
  def toCol(e: Expression): Column = ExpressionUtils.column(e)
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
}

/** SparkContext's listener bus is `private[spark]`: `drain` waits until
  * every event posted so far has reached every listener (a read after it
  * sees the events of the jobs that already returned, where a sleep would
  * race the bus), and `post` puts an application event on the bus. */
object ListenerBusBridge {
  import org.apache.spark.SparkContext
  import org.apache.spark.scheduler.SparkListenerEvent

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
}

/** Handle to the persisted RDD backing a `localCheckpoint`ed Dataset, so
  * iterative operators (graft.operators.Graph) can release intermediate
  * checkpoints deterministically instead of waiting for the
  * ContextCleaner to notice the Dataset was garbage collected. Returns
  * None for non-checkpointed plans — callers must then skip the
  * unpersist (never unpersist blindly: a locally-checkpointed RDD has a
  * truncated lineage and cannot be recomputed once its blocks are gone).
  */
object CheckpointBridge {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.classic.Dataset
  import org.apache.spark.sql.execution.LogicalRDD

  def backingRdd(df: org.apache.spark.sql.DataFrame): Option[RDD[_]] =
    df match {
      case ds: Dataset[_] => ds.queryExecution.analyzed match {
        case l: LogicalRDD => Some(l.rdd)
        case _ => None
      }
      case _ => None
    }

  /** Scale-adaptive partition count for frames co-partitioned around an
    * already-materialized checkpoint: the checkpoint's REAL persisted
    * bytes divided by the session's advisory partition size (the same
    * target AQE coalesces toward), clamped to [1, session shuffle
    * partitions]. A tiny frame then runs its whole iterative recurrence
    * in single-wave tasks (what AQE's coalescing achieved per exchange,
    * achieved here once for every downstream stage), while a 100 TB
    * frame saturates the configured parallelism — no constant tuned to
    * either scale. The bytes are read from the block manager master,
    * which every block put reports to before its task ends, so the size
    * of a checkpoint whose job has returned is exact on every call. (The
    * `getRDDStorageInfo` view is fed by the listener bus instead and can
    * lag the job that wrote the blocks; the graph operators pick a
    * one-task or a distributed path on this count, so a lagging read
    * would pick the path by timing.) When the checkpoint has no block
    * left (blocks dropped) the count falls back to its own partition
    * count, under the same clamp: the layout the data already has, never
    * a silent single partition. The miss adds 1 to the `sizing_misses`
    * counter of the calling thread's [[graft.core.QueryMetrics]] scope. */
  def sizedPartitionsFor(checkpointed: org.apache.spark.sql.DataFrame): Int = {
    val conf = checkpointed.sparkSession.sessionState.conf
    val maxP = conf.numShufflePartitions
    val advisory = math.max(1L,
      conf.getConf(org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val wanted = backingRdd(checkpointed) match {
      case Some(rdd) =>
        val sc = checkpointed.sparkSession.sparkContext
        val blocks = sc.env.blockManager.master.getStorageStatus.toSeq
          .flatMap(_.rddBlocks.collect { case (org.apache.spark.storage.RDDBlockId(id, _), s) if id == rdd.id => s })
        if (blocks.nonEmpty) (blocks.map(s => s.memSize + s.diskSize).sum + advisory - 1) / advisory
        else {
          graft.core.QueryMetrics.count(sc, "sizing_misses")
          rdd.getNumPartitions.toLong
        }
      case None => 0L
    }
    math.max(1, math.min(maxP.toLong, wanted)).toInt
  }

  /** A DataFrame over rows already in Catalyst's internal form — the
    * output of a solver that read a checkpoint's `queryExecution.toRdd`
    * (graft.operators.Graph's one-task path). `internalCreateDataFrame`
    * skips the external-Row encoder both ways; `schema` must describe the
    * rows exactly, as for any LogicalRDD. */
  def fromInternalRows(
      spark: org.apache.spark.sql.SparkSession,
      rows: RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Eager `localCheckpoint` that KEEPS a usable hash partitioning.
    *
    * `Dataset.localCheckpoint` wraps the materialized RDD in a
    * `LogicalRDD` whose outputPartitioning is `UnknownPartitioning(0)`
    * under AQE (the adaptive plan's runtime partitioning — possibly
    * coalesced — does not translate to a logical one), so EVERY later
    * join/aggregate on the checkpointed frame pays a fresh Exchange even
    * when the data is already laid out on the key. For an iterative
    * operator that re-joins the same checkpointed frame once per round
    * (graph recurrences), that is one avoidable shuffle of the SAME bytes
    * per round — guide §2.4's "two operations keyed the same way can
    * share one exchange", defeated only by the lost metadata.
    *
    * This helper restores the metadata truthfully: it hash-repartitions
    * `df` into EXACTLY `numPartitions` by `cols` (an explicit
    * numPartitions repartition is never AQE-coalesced — asserted below
    * against the materialized RDD), checkpoints eagerly, and rebuilds the
    * `LogicalRDD` declaring `HashPartitioning(cols, numPartitions)` —
    * which is physically exact: the rows ARE placed by
    * pmod(murmur3(cols), numPartitions), the same function
    * EnsureRequirements assumes. Joins and aggregates keyed on `cols`
    * (with matching partition counts) then skip their Exchange.
    *
    * The declared partitioning is load-bearing for correctness: callers
    * must not re-wrap an RDD that was not produced by this helper's own
    * repartition. PartitionedCheckpointSpec pins rows-equality and the
    * no-exchange plan shape against a misdeclaration canary. */
  def localCheckpointHashPartitioned(
      df: org.apache.spark.sql.DataFrame,
      numPartitions: Int,
      cols: String*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    require(cols.nonEmpty, "localCheckpointHashPartitioned needs at least one column")
    val cp = df.repartition(numPartitions, cols.map(df(_)): _*).localCheckpoint(true)
    cp match {
      case ds: Dataset[_] => ds.queryExecution.analyzed match {
        case l: LogicalRDD =>
          require(l.rdd.getNumPartitions == numPartitions,
            s"checkpointed RDD has ${l.rdd.getNumPartitions} partitions, expected " +
              s"$numPartitions — explicit repartition(n, cols) must never be coalesced")
          val attrs = cols.map { c =>
            l.output.find(_.name == c).getOrElse(throw new IllegalStateException(
              s"column $c missing from checkpointed output ${l.output.map(_.name)}"))
          }
          val declared = LogicalRDD(
            l.output, l.rdd, HashPartitioning(attrs, numPartitions),
            Nil, l.isStreaming)(
            ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
          Dataset.ofRows(
            ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], declared)
        case _ => cp // non-LogicalRDD checkpoint: plain (still correct, just unkeyed)
      }
      case _ => cp
    }
  }
}
