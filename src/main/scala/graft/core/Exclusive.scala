package graft.core

/** Exclusive deltas of monotone readings (wall nanos, JVM-wide codegen
  * counters) over intervals that nest on one thread. An interval's
  * exclusive delta is its own delta less the deltas of the intervals
  * opened inside it on the same thread, so work inside a nested interval
  * (a memo build inside a board entry or inside another memo's build) is
  * charged once, to the innermost interval. Intervals on other threads
  * are not subtracted: a JVM-wide reading charges everything that ran in
  * the window, executor threads included. */
private[core] final class Exclusive(read: () => Array[Long]) {
  /** Inclusive deltas of the intervals closed inside the innermost open
    * interval of this thread. */
  private val inner = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](read().length))

  /** Runs `body` and hands `charge` its exclusive deltas, also when `body`
    * throws. */
  def apply[T](charge: Array[Long] => Unit)(body: => T): T = {
    val enclosing = inner.get
    val nested = new Array[Long](enclosing.length)
    inner.set(nested)
    val start = read()
    try body
    finally {
      val delta = read().lazyZip(start).map(_ - _)
      inner.set(enclosing)
      delta.indices.foreach(i => enclosing(i) += delta(i))
      charge(delta.lazyZip(nested).map(_ - _))
    }
  }
}
