package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed interval at a call boundary. `op` is the id of the operation
  * span the interval belongs to; `parent` is 0 for an operation. Times are
  * System.nanoTime values. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String, start: Long, end: Long)

/** In-memory span recorder for the single client thread. Disabled, it
  * records nothing and only runs the body. While a span is open its id rides
  * the SparkContext local properties, so the jobs it submits (including those
  * of streaming queries it starts) can be attributed to it. */
final class Tracer(val enabled: Boolean) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int, String, String, Long)] = Nil // (id, op, layer, name, start)
  private var nextId = 1
  private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = sc = Some(context)

  def spans: Seq[Span] = closed.toSeq

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      val op = stack.lastOption.map(_._1).getOrElse(id)
      stack = (id, op, layer, name, System.nanoTime()) :: stack
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      try body
      finally {
        val (_, _, _, _, start) = stack.head
        stack = stack.tail
        closed += Span(id, parent, op, layer, name, start, System.nanoTime())
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_._1.toString).orNull))
      }
    }

  /** Adds an interval measured elsewhere (a Spark job, a memo build) under
    * the deepest span that is `parent` or a descendant of it accepted by
    * `into` and holding the interval give or take `tol`, clamped into that
    * span's interval. */
  def addChild(
      parent: Int, layer: String, name: String, start: Long, end: Long,
      into: Span => Boolean = _ => false, tol: Long = 0L
  ): Unit =
    closed.find(_.id == parent).foreach { top =>
      var p = top
      var deeper = true
      while (deeper)
        closed.find(c => c.parent == p.id && into(c) && MemoWatch.within(start, end, c.start, c.end, tol)) match {
          case Some(c) => p = c
          case None => deeper = false
        }
      val s = math.min(math.max(start, p.start), p.end)
      val e = math.max(math.min(end, p.end), s)
      closed += Span(nextId, p.id, p.op, layer, name, s, e)
      nextId += 1
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Self time per layer for one operation's spans: every instant of the
    * operation is charged to the deepest span open at that instant (the
    * latest-started one on a tie), so the self times add up to the
    * operation's wall time. */
  def selfTimes(opSpans: Seq[Span]): Map[String, Long] = {
    val byId = opSpans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent == 0 || !byId.contains(s.parent)) 0 else 1 + depth(byId(s.parent))
    val withDepth = opSpans.map(s => (s, depth(s)))
    val bounds = opSpans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    bounds.zip(bounds.drop(1)).foreach { case (a, b) =>
      val open = withDepth.filter { case (s, _) => s.start <= a && s.end >= b }
      if (open.nonEmpty) {
        val (owner, _) = open.maxBy { case (s, d) => (d, s.start) }
        out(owner.layer) += b - a
      }
    }
    out.toMap
  }
}
