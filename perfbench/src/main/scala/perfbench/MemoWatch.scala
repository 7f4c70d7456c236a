package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.core.FrameMemo

/** One shared-frame memo build. `start` and `end` are System.nanoTime
  * values; `exclusive` is the build's duration less the builds nested in it
  * (a memo whose build reads another memo, as `em_analytics` reads
  * `em_events`), so exclusive times add up to the time spent building. */
final case class MemoBuild(memo: String, start: Long, end: Long, exclusive: Long)

/** Dates `FrameMemo` builds from a polling thread. A memo's build time grows
  * by exactly the build's duration when the build returns, so the first poll
  * that sees it grow dates the build's end to within one poll interval, and
  * its start is that end less the duration. Builds run on the single client
  * thread, so they nest properly: a build lying within another's interval
  * (give or take the poll lag) is nested in it. */
final class MemoWatch(pollNanos: Long = MemoWatch.PollNanos) {
  private val seen = mutable.ArrayBuffer.empty[(String, Long, Long)] // (memo, start, end)
  @volatile private var running = true

  private def buildNanos(): Map[String, Long] =
    FrameMemo.allStatsWithBuild.map { case (n, _, _, b) => n -> math.round(b * 1e9) }.toMap

  private val thread = new Thread(() => {
    var last = buildNanos()
    def poll(): Unit = {
      val now = System.nanoTime()
      val cur = buildNanos()
      cur.foreach { case (m, ns) =>
        val d = ns - last.getOrElse(m, 0L)
        if (d > 0) seen += ((m, now - d, now))
      }
      last = cur
    }
    while (running) {
      LockSupport.parkNanos(pollNanos)
      poll()
    }
    poll()
  }, "perfbench-memo-watch")
  thread.setDaemon(true)
  thread.start()

  /** Stops watching; the builds seen, each with its exclusive time. */
  def stop(): Seq[MemoBuild] = {
    running = false
    thread.join()
    MemoWatch.nest(seen.toSeq, 2 * pollNanos)
  }
}

object MemoWatch {
  val PollNanos = 1000000L

  /** True when [start, end] lies within `outer`, give or take `tol`. */
  def within(start: Long, end: Long, outerStart: Long, outerEnd: Long, tol: Long): Boolean =
    start >= outerStart - tol && end <= outerEnd + tol

  /** Each build's exclusive time: its duration less that of the builds
    * whose innermost enclosing build it is. */
  def nest(builds: Seq[(String, Long, Long)], tol: Long): Seq[MemoBuild] = {
    val dur = builds.map { case (_, s, e) => e - s }
    val inner = Array.fill(builds.length)(0L)
    builds.indices.foreach { i =>
      val (_, s, e) = builds(i)
      val enclosing = builds.indices.filter { j =>
        j != i && dur(j) > dur(i) && within(s, e, builds(j)._2, builds(j)._3, tol)
      }
      if (enclosing.nonEmpty) inner(enclosing.minBy(dur)) += dur(i)
    }
    builds.indices.map { i =>
      val (m, s, e) = builds(i)
      MemoBuild(m, s, e, math.max(0L, dur(i) - inner(i)))
    }
  }
}
