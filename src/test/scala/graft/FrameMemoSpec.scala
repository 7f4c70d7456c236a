package graft

import org.apache.spark.sql.functions._

import graft.core.FrameMemo

/** Direct contract spec for [[graft.core.FrameMemo]] — the round-14
  * factoring of the trade-pairs memo, now shared by the graph block, the
  * EM mart frames and the BM25 score frame. Wave11Spec covers the
  * lifecycle through the graph delegation; this suite pins the generic
  * API's own contract: build-once identity, key isolation, stats
  * accounting, eager release, the bounded-entries eviction, and the
  * allStats registry Bench emits.
  */
class FrameMemoSpec extends SparkSpecBase {

  import spark.implicits._

  private def frame(tag: Int) =
    Seq((tag.toLong, s"v$tag")).toDF("id", "v")

  test("get builds once per (session, key), returns the identical checkpointed frame, and counts") {
    val memo = FrameMemo("spec_identity")
    var builds = 0
    def build() = { builds += 1; frame(1) }
    val a = memo.get(spark, "k1")(build())
    val b = memo.get(spark, "k1")(build())
    assert(builds == 1, "second access must not rebuild")
    assert(a eq b, "hit must return the SAME memoized DataFrame handle")
    assert(a.collect().map(_.toString).toSeq == frame(1).collect().map(_.toString).toSeq,
      "memoized rows must equal a fresh build's rows")
    // a different key builds independently
    val c = memo.get(spark, "k2")(build())
    assert(builds == 2 && !(c eq a), "distinct keys must not share entries")
    assert(memo.stats == ((1L, 2L)), s"(hits, recomputes) miscounted: ${memo.stats}")
    memo.release()
  }

  test("a memo built inside another memo's build is charged to the inner memo only") {
    val (outer, inner) = (FrameMemo("spec_charge_outer"), FrameMemo("spec_charge_inner"))
    val t0 = System.nanoTime()
    outer.get(spark, "k") {
      Thread.sleep(200)
      inner.get(spark, "k") { Thread.sleep(600); frame(1) }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(inner.buildSeconds >= 0.6 && outer.buildSeconds >= 0.2, (outer.buildSeconds, inner.buildSeconds))
    // charged once: the two charges add up to no more than the outer call took
    assert(outer.buildSeconds + inner.buildSeconds <= wall,
      s"outer ${outer.buildSeconds} + inner ${inner.buildSeconds} > wall $wall")
    outer.release()
    inner.release()
  }

  test("release frees the checkpoint blocks; the next access recomputes identically") {
    val memo = FrameMemo("spec_release")
    val a = memo.get(spark, "k")(frame(7))
    val rows1 = a.collect().map(_.toString).sorted
    val ids = memo.rddIds
    assert(ids.nonEmpty && ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      "memoized checkpoint RDDs should be persisted while cached")
    memo.release()
    assert(memo.rddIds.isEmpty, "release must empty the memo")
    assert(ids.forall(id => !spark.sparkContext.getPersistentRDDs.contains(id)),
      "release must unpersist the checkpoint blocks")
    val rows2 = memo.get(spark, "k")(frame(7)).collect().map(_.toString).sorted
    assert(rows1.sameElements(rows2), "recompute after release must be bit-identical")
    memo.release()
  }

  test("insertion beyond maxEntries evicts the oldest entry, never the one being served") {
    val memo = FrameMemo("spec_evict", maxEntries = 2)
    memo.get(spark, "a")(frame(1))
    memo.get(spark, "b")(frame(2))
    memo.get(spark, "c")(frame(3)) // over the cap: "a" (oldest) goes
    var builds = 0
    memo.get(spark, "b")({ builds += 1; frame(2) })
    memo.get(spark, "c")({ builds += 1; frame(3) })
    assert(builds == 0, "the two newest entries must have survived the eviction")
    memo.get(spark, "a")({ builds += 1; frame(1) })
    assert(builds == 1, "the evicted oldest entry must rebuild on next access")
    memo.release()
  }

  test("allStats registry carries every instance with name-sorted hit/recompute counts") {
    val before = FrameMemo.allStats.map(_._1)
    val memo = FrameMemo("spec_registry_probe")
    memo.get(spark, "k")(frame(4))
    memo.get(spark, "k")(frame(4))
    val all = FrameMemo.allStats
    assert(all.map(_._1) == all.map(_._1).sorted, "allStats must be name-sorted")
    assert(!before.contains("spec_registry_probe") &&
      all.exists { case (n, h, r) => n == "spec_registry_probe" && h == 1 && r == 1 },
      s"registry must expose the new instance's counts: $all")
    // the production instances Bench reports are registered once loaded
    SparkEntry.queries("g1_pagerank")(spark, Sf0001).queryExecution.toRdd.count(): Unit
    assert(FrameMemo.allStats.exists(_._1 == "trade_pairs"),
      "the graph trade-pairs memo must ride the registry Bench emits")
    memo.release()
  }

  test("a new session rebuilds its own entry; releasing the old one keeps it") {
    // Specs and perfbench run several sessions in one JVM: a get on a NEW
    // session must be an independent recompute with identical rows — never
    // a missing-block read of the old session's checkpoint. A genuinely
    // stopped second context is untestable in one JVM (Wave11Spec
    // precedent); the stopped-session purge shares per-session release's
    // removal path, which this pins with two live sessions.
    val memo = FrameMemo("spec_new_session")
    val oldS = spark.newSession()
    val rowsOld = memo.get(oldS, "k")(frame(5)).collect().map(_.toString).sorted
    val newS = spark.newSession()
    var rebuilt = false
    val onNew = memo.get(newS, "k")({ rebuilt = true; frame(5) })
    assert(rebuilt, "a new session must rebuild — entries are (session, key)-scoped")
    assert(memo.rddIds.size == 2, "both sessions' entries coexist until release/purge")
    memo.release(Some(oldS)) // drop the old session's entry
    assert(memo.rddIds.size == 1, "releasing the old session must keep the new entry")
    assert(onNew.collect().map(_.toString).sorted.sameElements(rowsOld),
      "the recomputed frame must be row-identical after the old session's blocks are gone")
    memo.release()
  }

  test("a slow build never blocks a get for another key (compute happens outside the map lock)") {
    // regression pin for the round-14 ADVICE: under computeIfAbsent a
    // multi-second build held the CHM bin lock, stalling unrelated keys
    // in the same bin and forbidding reentrant gets. Both are legal now.
    val memo = FrameMemo("spec_lockfree")
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val slow = new Thread(() => {
      memo.get(spark, "slow")({
        slowStarted.countDown()
        Thread.sleep(1500)
        slowDone.set(true)
        frame(1)
      }): Unit
    })
    slow.start()
    slowStarted.await()
    // while the slow build is in flight, a different key must complete
    val t0 = System.nanoTime()
    memo.get(spark, "fast")(frame(2)).collect(): Unit
    val fastSec = (System.nanoTime() - t0) / 1e9
    assert(!slowDone.get() || fastSec < 1.0,
      f"fast-key get took $fastSec%.2fs — it waited out the slow build's lock")
    slow.join()
    // and a build may reentrantly consult the same memo for another key
    val nested = memo.get(spark, "outer")({
      val inner = memo.get(spark, "inner")(frame(3))
      inner.withColumn("v2", upper(col("v")))
    })
    assert(nested.collect().length == 1)
    memo.release()
  }

  test("concurrent gets for one key all serve row-identical frames and converge to one entry") {
    val memo = FrameMemo("spec_racers")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        val df = memo.get(spark, "k")(frame(9))
        results.add(df.collect().map(_.toString).sorted.mkString("|")): Unit
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val distinct = results.toArray(Array.empty[String]).toSet
    assert(distinct.size == 1, s"racing readers saw different rows: $distinct")
    assert(memo.rddIds.size == 1,
      "a putIfAbsent race must leave exactly one winning entry (losers release their blocks)")
    val (hits, recomputes) = memo.stats
    assert(hits + recomputes == 4 && recomputes >= 1,
      s"4 accesses must split into hits + >=1 recompute: ${memo.stats}")
    memo.release()
  }
}
