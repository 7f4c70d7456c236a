package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo of an expensive-to-build, reused DataFrame — the
  * generalization of the graph block's trade-pairs memo (round 11; the
  * round-13 verdict asked for the same posture on the EM mart frames and
  * the retrieval postings index). A bench/verify session that runs many
  * board entries over the same inputs builds the shared frame ONCE per
  * (session, key); every other consumer reuses the eagerly
  * localCheckpoint'd result. This is the single-process analog of the
  * production posture at 100 TB: marts and indexes are MATERIALIZED
  * tables consumers read, not DAGs every query replays from staging.
  *
  * Correctness contract: the memoized value must be a pure function of
  * the key (callers key by input dir + any parameters), and consumers
  * must be order-free over it — results are bit-identical whether the
  * frame came from the build or the memo, because it is the same rows.
  * A lone oracle replay (fresh session) simply recomputes.
  *
  * Lifecycle (bounded, not until-JVM-death), ported unchanged from the
  * proven trade-pairs implementation:
  *   - each entry carries the checkpointed RDD handle so its blocks are
  *     releasable — [[release]] frees one session's entries (call to
  *     free a live session's memo blocks; eager unpersist, so no returned
  *     frame may still be in flight);
  *   - every access purges entries whose session has stopped (their
  *     blocks died with the executors; the map reference was the leak);
  *   - insertion beyond [[maxEntries]] drops the oldest entry —
  *     reference-drop only, no eager unpersist, so an in-flight caller
  *     holding the evicted DataFrame keeps its blocks (the
  *     ContextCleaner reclaims them once unreferenced). Eviction only
  *     costs the next caller a recompute — results are unaffected.
  *
  * Every instance self-registers so Bench can emit one hits/recomputes
  * block per memo (round 12/13): the observable that separates "legs
  * drifted because the memo thrashed" from host noise.
  */
final class FrameMemo private (val name: String, val maxEntries: Int) {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), (DataFrame, org.apache.spark.rdd.RDD[_])]()
  /** Insertion order for the max-entries eviction (oldest first). */
  private val order =
    new java.util.concurrent.ConcurrentLinkedQueue[(SparkSession, String)]()
  private val accessCount = new java.util.concurrent.atomic.AtomicLong
  private val recomputeCount = new java.util.concurrent.atomic.AtomicLong
  /** Exclusive wall seconds spent in recompute builds (including the
    * eager localCheckpoint), JVM-lifetime — the cost the memo's hits
    * amortize. Bench charges it to the timed board as a `build:<name>`
    * entry. Exclusive: a memo built inside this memo's build on the same
    * thread (em_events inside em_analytics) is charged to that memo only,
    * so the `build:*` entries add up to the builds' wall time once.
    * LongAdder in nanos: cheap, race-free under the rare concurrent
    * duplicate build (both builds genuinely ran). */
  private val buildNanos = new java.util.concurrent.atomic.LongAdder

  /** The persisted RDD behind an eagerly localCheckpoint'd Dataset — the
    * handle unpersist needs (Dataset.unpersist only covers CacheManager
    * entries, not checkpoint blocks). Fails loudly if the plan shape ever
    * stops being a LogicalRDD: a silently un-releasable entry would
    * reintroduce the unbounded-growth bug the entry cap exists to close. */
  private def checkpointedRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    org.apache.spark.sql.graftbridge.CheckpointBridge.backingRdd(df).getOrElse(
      throw new IllegalStateException(
        s"expected LogicalRDD behind localCheckpoint for the '$name' memo"))

  /** The memoized frame for (session, key), building (and eagerly
    * localCheckpoint'ing) it on first access. `build` must be a pure
    * function of the key. */
  def get(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    // purge dead sessions first: their blocks died with the executors,
    // the map/queue references were the remaining leak
    cache.keySet().forEach { k =>
      if (k._1.sparkContext.isStopped) {
        order.remove(k): Unit
        cache.remove(k): Unit
      }
    }
    accessCount.incrementAndGet(): Unit
    val k = (s, key)
    val hit = cache.get(k)
    val (df, _) = if (hit != null) hit else {
      // Build OUTSIDE any map lock: the build runs whole Spark jobs plus an
      // eager localCheckpoint (potentially seconds) — under computeIfAbsent
      // that work would hold the CHM bin lock, stalling a concurrent get
      // for any other key hashing to the same bin, and a reentrant get on
      // this memo during a build would violate CHM's no-recursive-update
      // rule. check-get / build / putIfAbsent / re-read instead: a
      // concurrent duplicate build of the same key is possible and benign —
      // the loser's frame was never handed out, so its checkpoint blocks
      // are released eagerly and the winner's entry is returned.
      recomputeCount.incrementAndGet(): Unit
      // the build's jobs count under its own metrics scope, also when it
      // runs inside a consumer's scope or another memo's build
      val cp = FrameMemo.buildClock(ns => buildNanos.add(ns(0))) {
        QueryMetrics.scoped(s.sparkContext, s"build:$name")(build.localCheckpoint(true))
      }
      val entry = (cp, checkpointedRdd(cp))
      val prev = cache.putIfAbsent(k, entry)
      if (prev == null) { order.add(k): Unit; entry }
      else { entry._2.unpersist(blocking = false): Unit; prev }
    }
    // bounded footprint: beyond the cap, the oldest live entry goes.
    // The attempt bound makes the loop total even if queue/map desync
    // (the only re-added key is the one being served).
    var attempts = order.size
    while (cache.size > maxEntries && attempts > 0) {
      attempts -= 1
      val oldest = order.poll()
      if (oldest == null) attempts = 0
      else if (oldest != ((s, key))) {
        // drop the entry WITHOUT an explicit unpersist: a DataFrame handed
        // out before the eviction may still reference these blocks, and a
        // localCheckpoint's truncated lineage cannot recompute them — an
        // eager unpersist would crash that in-flight caller, not slow it.
        // Dropping the map's strong reference is enough: the ContextCleaner
        // (localCheckpoint persists, so the RDD is registered for cleanup)
        // unpersists the blocks once no live handle references them.
        cache.remove(oldest): Unit
      } else order.add(oldest): Unit // never evict the entry being served
    }
    df
  }

  /** Release hook: frees the checkpoint blocks and map entries of one
    * session — or, with the None default, of EVERY entry, live sessions
    * included. Call to free a session's memo blocks while it lives on, and
    * only when no previously-returned DataFrame is still in flight: the
    * blocks are unpersisted EAGERLY here (the release contract — Wave11Spec
    * pins it)
    * and a localCheckpoint's truncated lineage cannot recompute them for
    * a concurrent reader. The next access recomputes from source; results
    * are unaffected. */
  def release(session: Option[SparkSession] = None): Unit = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val s = e.getKey._1
      if (session.forall(_ eq s)) {
        if (!s.sparkContext.isStopped) e.getValue._2.unpersist(blocking = false): Unit
        order.remove(e.getKey): Unit
        it.remove()
      }
    }
  }

  /** Test hook: ids of the currently-memoized checkpoint RDDs. */
  private[graft] def rddIds: Set[Int] = {
    val b = Set.newBuilder[Int]
    cache.values().forEach(v => b += v._2.id)
    b.result()
  }

  /** Memo traffic, JVM-lifetime: (hits, recomputes). Every [[get]] is one
    * or the other; Bench emits both per memo so a per-round artifact
    * shows whether a block recomputed its shared frame more than once per
    * (session, key). */
  def stats: (Long, Long) = {
    val r = recomputeCount.get()
    (accessCount.get() - r, r)
  }

  /** Accumulated exclusive recompute-build wall seconds (see buildNanos). */
  def buildSeconds: Double = buildNanos.sum() / 1e9
}

object FrameMemo {
  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[FrameMemo]()

  /** Wall nanos of builds, less those of the builds nested in them. */
  private val buildClock = new Exclusive(() => Array(System.nanoTime()))

  /** A new registered memo. `name` keys the Bench stats block — one
    * instance per shared frame family, created at object-init time. */
  def apply(name: String, maxEntries: Int = 8): FrameMemo = {
    val m = new FrameMemo(name, maxEntries)
    registry.add(m): Unit
    m
  }

  /** (name, hits, recomputes) for every registered memo, name-sorted —
    * the Bench artifact's frame_memo block. */
  def allStats: Seq[(String, Long, Long)] = {
    val b = Seq.newBuilder[(String, Long, Long)]
    registry.forEach { m =>
      val (h, r) = m.stats
      b += ((m.name, h, r))
    }
    b.result().sortBy(_._1)
  }

  /** (name, hits, recomputes, buildSeconds), name-sorted — the charged
    * form of [[allStats]]: Bench emits buildSeconds both in the
    * frame_memo block and as a timed `build:<name>` board entry. */
  def allStatsWithBuild: Seq[(String, Long, Long, Double)] = {
    val b = Seq.newBuilder[(String, Long, Long, Double)]
    registry.forEach { m =>
      val (h, r) = m.stats
      b += ((m.name, h, r, m.buildSeconds))
    }
    b.result().sortBy(_._1)
  }
}
