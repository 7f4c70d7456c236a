package graft

import org.apache.spark.sql.functions._

/** Pins the round-16 CheckpointBridge.localCheckpointHashPartitioned
  * contract the graph recurrences lean on: the wrapped frame holds the
  * SAME rows as the input, keyed operations on the declared column
  * produce the SAME results as on the unwrapped frame, and the declared
  * layout actually elides the Exchange (the point of the helper). The
  * results assertions are the safety net for the declaration being
  * truthful — a misdeclared layout would let a no-exchange aggregate
  * emit duplicate groups and a no-exchange join drop matches, which is
  * exactly what these compare-against-unwrapped checks would catch. */
class PartitionedCheckpointSpec extends SparkSpecBase {
  import org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpointHashPartitioned

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("declared hash partitioning: same rows, same keyed results, exchange elided") {
    val base = spark.range(0, 1000)
      .select((col("id") % 37).as("k"), col("id").as("v"))
    val n = spark.sessionState.conf.numShufflePartitions
    val wrapped = localCheckpointHashPartitioned(base, n, "k")

    // same rows
    assert(rows(wrapped) === rows(base))

    // keyed aggregate: same result as the unwrapped frame
    val agg = wrapped.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
    val aggExpected = base.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
    assert(rows(agg) === rows(aggExpected))

    // keyed self-join through a second keyed frame: same result
    val other = base.groupBy("k").agg(max("v").as("mx"))
    val joined = wrapped.join(other, Seq("k")).select(col("k"), col("v"), col("mx"))
    val joinedExpected = base.join(other, Seq("k")).select(col("k"), col("v"), col("mx"))
    assert(rows(joined) === rows(joinedExpected))

    // the declared layout is visible to the planner. Both checkpoints are
    // created UNDER AQE (the production conf — where a plain localCheckpoint
    // comes back UnknownPartitioning; with AQE off Spark already preserves
    // the layout and the helper would be moot); the consumer plans are then
    // audited with AQE off per the PlanAudit convention: the keyed aggregate
    // over the wrapped frame plans ZERO exchanges, over the plain checkpoint
    // of the SAME repartitioned data it pays one.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val plain = base.repartition(n, col("k")).localCheckpoint(true)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      assert(PlanAudit.shuffleCount(wrapped.groupBy("k").agg(sum("v"))) === 0)
      assert(PlanAudit.shuffleCount(plain.groupBy("k").agg(sum("v"))) === 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a bad key column is rejected loudly") {
    val base = spark.range(0, 100).select((col("id") % 7).as("k"))
    // df("nope") fails at the repartition — the helper never wraps a
    // frame whose declared key it could not resolve
    intercept[org.apache.spark.sql.AnalysisException] {
      localCheckpointHashPartitioned(base, 4, "nope")
    }
  }

  test("sizedPartitionsFor falls back to the checkpoint's own partition count on a lookup miss") {
    import org.apache.spark.sql.graftbridge.CheckpointBridge.{backingRdd, sizedPartitionsFor}
    import graft.core.QueryMetrics
    assert(spark.sessionState.conf.numShufflePartitions >= 8)
    val sc = spark.sparkContext
    val scope = s"sizing-${java.util.UUID.randomUUID()}"
    val metrics = QueryMetrics.attach(sc)
    try {
      val cp = spark.range(0, 1000, 1, 8).toDF("x").localCheckpoint(true)
      // a hit sizes by the persisted bytes: a few KB is one advisory partition
      assert(QueryMetrics.scoped(sc, scope)(sizedPartitionsFor(cp)) === 1)
      assert(metrics.take(scope)("sizing_misses") === 0)
      // with the blocks gone the block lookup misses; the count is the
      // layout the checkpoint has, not a silent single partition, and the
      // miss shows in the scope's counters
      backingRdd(cp).get.unpersist(blocking = true)
      assert(QueryMetrics.scoped(sc, scope)(sizedPartitionsFor(cp)) === 8)
      assert(metrics.take(scope)("sizing_misses") === 1)
    } finally metrics.detach()
  }

  test("sizedPartitionsFor reads the blocks a returned job wrote even while the status store lags") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.CheckpointBridge.{backingRdd, sizedPartitionsFor}
    import org.apache.spark.sql.graftbridge.StatusQueueBridge
    val sc = spark.sparkContext
    // a listener that holds up the status queue at every job start, the
    // lag of a busy host: the block updates of the checkpoint job queue
    // behind it, so getRDDStorageInfo has no entry for the checkpoint when
    // its job has returned
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(1000)
    }
    StatusQueueBridge.add(sc, slow)
    try {
      val cp = spark.range(0, 1000, 1, 8).toDF("x").localCheckpoint(true)
      val id = backingRdd(cp).get.id
      assert(!sc.getRDDStorageInfo.exists(_.id == id))
      // a few KB: one advisory partition, not the 8 of a lookup miss
      assert(sizedPartitionsFor(cp) === 1)
    } finally StatusQueueBridge.remove(sc, slow)
  }
}
