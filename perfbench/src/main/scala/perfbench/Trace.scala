package perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable.ArrayBuffer

/** One timed region of a benchmark iteration. `parent` is -1 for the
  * iteration's root span.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records spans around the benchmark's calls into the library, in
  * memory, and tags every Spark job started inside a span with the
  * span's key (the local property [[SpanRecorder.Property]]), so a
  * listener can charge the jobs' tasks to the span.
  *
  * The key is a local property of its own rather than the job group:
  * the library may set job groups itself, and a span must keep its
  * jobs whatever the code inside it does.
  *
  * With `enabled = false` only the root span (depth 0) is recorded:
  * the untraced run still needs per-iteration task time, but pays for
  * no per-layer spans.
  */
final class SpanRecorder(sc: SparkContext, val enabled: Boolean, prefix: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def key(id: Int): String = s"$prefix/$id"

  def span[A](name: String)(body: => A): A =
    if (!enabled && stack.nonEmpty) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val outer = sc.getLocalProperty(SpanRecorder.Property)
      sc.setLocalProperty(SpanRecorder.Property, key(id))
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanRecorder.Property, outer)
        done += Span(id, parent, name, t0, t1)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object SpanRecorder {
  val Property = "perfbench.span"
}

object SelfTime {

  /** Nanoseconds of `[start, end)` covered by the union of `intervals`,
    * each clipped to `[start, end)`.
    */
  def coveredNs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover.
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - coveredNs(s.startNs, s.endNs, kids))
    }.toMap
  }
}
