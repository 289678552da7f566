package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * (fractional), so spans from the client thread (nanoTime based) and from
  * listener events (millisecond clocks) share one axis. `trace` is the id of
  * the op the span belongs to; `parent` is -1 for a root. `ref` links a
  * Spark job span and its stage spans (the job id), -1 elsewhere.
  */
final case class Span(
    id: Int, parent: Int, trace: String, layer: String, name: String,
    start: Double, end: Double, ref: Long = -1L) {
  def dur: Double = end - start
  def contains(t: Double): Boolean = start <= t && t <= end
}

/** Spans of one run, kept in memory. Client-thread spans nest through a
  * stack; spans reported by listeners (jobs, stages, triggers, GC pauses)
  * are attached afterwards by [[Trace.attach]].
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  private val baseEpochMs: Double = System.currentTimeMillis().toDouble
  private val baseNano: Long = System.nanoTime()

  /** Epoch milliseconds at nanoTime resolution. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def span[T](trace: String, layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = nowMs()
      try body
      finally {
        stack = stack.tail
        val end = nowMs()
        spans.synchronized(spans += Span(id, parent, trace, layer, name, start, end))
      }
    }

  /** Adds finished spans whose parents are still to be resolved. */
  def addDetached(ss: Seq[Span]): Unit = spans.synchronized {
    ss.foreach { s => nextId += 1; spans += s.copy(id = nextId, parent = -2) }
  }

  def replace(ss: Seq[Span]): Unit = spans.synchronized { spans.clear(); spans ++= ss }
}

object Trace {

  /** Resolves detached spans (parent -2), batch by batch in `order` of
    * their names. A stage takes its job (same `ref`) as parent; any other
    * span takes the innermost already-resolved span of another name that
    * contains its start. A detached span nothing contains becomes a root.
    */
  def attach(spans: Seq[Span], order: Seq[String]): Seq[Span] = {
    val (fixed, detached) = spans.partition(_.parent != -2)
    val resolved = ArrayBuffer.from(fixed)
    order.foreach { name =>
      val batch = detached.filter(_.name == name)
      val containers = resolved.toList
      batch.foreach { s =>
        val host =
          if (name == "stage") containers.find(c => c.name == "job" && c.ref == s.ref)
          else containers.filter(c => c.name != name && c.contains(s.start))
            .sortBy(_.dur).headOption
        resolved += s.copy(
          parent = host.fold(-1)(_.id), trace = host.fold(s.trace)(_.trace))
      }
    }
    resolved.toList ++ detached.filterNot(s => order.contains(s.name))
      .map(_.copy(parent = -1))
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed over the spans of a layer.
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        Stats.uncovered(s.start, s.end,
          children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }.sum
    }
  }

  private val mapper = new ObjectMapper()

  def toJsonLine(s: Span): String = {
    val o = mapper.createObjectNode()
    o.put("id", s.id).put("parent", s.parent).put("trace", s.trace).put("layer", s.layer)
      .put("name", s.name).put("start_ms", s.start).put("end_ms", s.end)
    mapper.writeValueAsString(o)
  }
}
