package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded span: a call into one layer, with the span that caused it
  * (`parent`, -1 at the root) and the op it belongs to. Times are
  * System.nanoTime.
  */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
  /** Layer = the name up to the first dot (`sources.decode` → `sources`). */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the single client thread. While disabled,
  * `apply` only runs its body.
  */
final class Tracer(var enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = 0L

  /** The spans that follow belong to a new op. */
  def beginOp(): Unit = op += 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Total seconds of spans named `name`. */
  def total(name: String): Double = done.iterator.filter(_.name == name).map(_.seconds).sum

  /** Self time per layer: each span's duration minus the time its direct
    * children cover (children of one span never overlap — one thread).
    */
  def selfTimeByLayer: Map[String, Double] = {
    val childTime = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def json: String = done.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}""").mkString("[", ",\n", "]")
}
