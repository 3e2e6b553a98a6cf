package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

final case class Span(id: Int, name: String, layer: String,
    startNs: Long, endNs: Long, parent: Int, request: Long)

/** In-memory span recorder for the traced run.
  *
  * A span is (name, layer, start, end, parent, request id); spans of one
  * benchmark operation share the request id. The benchmark's single client
  * thread opens and closes spans strictly nested, so the parent is the top
  * of a plain stack. With `enabled = false` a span is just the call, so the
  * untraced run pays nothing for it.
  */
final class Trace(val enabled: Boolean) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var request = 0L

  def newRequest(): Unit = request += 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, layer, t0, t1, parent, request)
      }
    }

  /** Self time per layer in ms: each span's duration minus the time its
    * child spans cover (children never overlap: one client thread).
    */
  def selfMsByLayer: Map[String, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.groupMapReduce(_.layer)(s =>
      s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))(_ + _)
      .map { case (k, ns) => k -> ns / 1e6 }
  }

  /** Total ms and call count of the spans with this name. */
  def totalMs(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e6
  def count(name: String): Int = spans.count(_.name == name)

  def requests: Long = request

  /** One JSON object per span, written once when the run ends. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"request":${s.request}}""")
      sb.append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
