package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans form the trees
  * run → pass → entry → {build, exec} → job → stage and
  * run → trigger → phase; each has an id, a parent id, a name and
  * start/end times in epoch milliseconds. Nothing is written until
  * [[json]] is rendered at exit, which also derives each span's self
  * time (its duration minus its children's). When disabled every call
  * is a no-op returning id 0. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Map.empty[Int, (Int, String, Double)]
  private var nextId = 1
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val root: Int = begin("run", 0)

  def begin(name: String, parent: Int, at: Double = Double.NaN): Int = synchronized {
    if (!enabled) return 0
    val id = nextId
    nextId += 1
    open(id) = (parent, name, if (at.isNaN) now() else at)
    id
  }

  def end(id: Int, at: Double = Double.NaN): Unit = synchronized {
    if (enabled) open.remove(id).foreach { case (p, n, s) =>
      spans += Span(id, p, n, s, if (at.isNaN) now() else at)
    }
  }

  def add(name: String, parent: Int, start: Double, end: Double): Int = synchronized {
    if (!enabled) return 0
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, start, end)
    id
  }

  def span[A](name: String, parent: Int)(body: Int => A): A = {
    val id = begin(name, parent)
    try body(id) finally end(id)
  }

  def json: String = synchronized {
    end(root)
    open.keys.toSeq.foreach(end(_))
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    Json.arr(spans.sortBy(_.id).map { s =>
      val dur = s.end - s.start
      Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "self_ms" -> Json.num(dur - childMs.getOrElse(s.id, 0.0)))
    }.toSeq)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
}
