package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is one call
  * into a layer, timed from the harness: layer, name, start, end, the
  * enclosing span on the same thread, and the workload iteration it
  * belongs to. Nothing is recorded while tracing is off, so the
  * untraced run pays one branch per call. Spans are written out once,
  * when the run ends. */
object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        iteration: Int, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var enabled = false
  @volatile var iteration = 0
  private val spans = ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, parent, layer, name, iteration, t0, t1) }
      }
    }

  /** Id of the innermost open span on this thread (0 = none). */
  def currentSpan: Int = stack.get.headOption.getOrElse(0)

  /** Run `body` with `parent` as the enclosing span: for work another
    * thread does on behalf of a span, such as a streaming query's
    * micro-batches. */
  def under[T](parent: Int)(body: => T): T = {
    val saved = stack.get
    stack.set(List(parent))
    try body finally stack.set(saved)
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span: its duration minus the time its direct
    * children cover (the children of a span run one after another, so
    * their durations do not overlap). */
  def selfNs(ss: Seq[Span]): Map[Int, Long] = {
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    ss.map(s => s.id -> math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Sum of self time per layer, in seconds. */
  def layerSelfSeconds(ss: Seq[Span]): Map[String, Double] = {
    val self = selfNs(ss)
    ss.groupBy(_.layer).map { case (l, xs) => l -> xs.map(s => self(s.id)).sum / 1e9 }
  }

  def toJson(ss: Seq[Span], originNs: Long): Seq[Map[String, Any]] =
    ss.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "iteration" -> s.iteration,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9))
}
