package perfbench

import scala.collection.mutable

import Stats.Span

/** In-memory span recorder for the traced run: each span has a name, a
  * start and end, the span that opened it, and the run id shared by all
  * spans of the run. Spans nest by call structure on one thread. */
final class Tracer(val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val wallStart = mutable.Map.empty[Int, Long] // span id → epoch ms
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption
    open = id :: open
    wallStart(id) = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def named(name: String): Span =
    done.find(_.name == name).getOrElse(sys.error(s"no span named $name"))

  /** The span's wall-clock interval in epoch ms, for charging listener work. */
  def wallMs(s: Span): (Long, Long) = {
    val from = wallStart(s.id)
    (from, from + s.durNs / 1000000)
  }

  def seconds(name: String): Double = named(name).durNs / 1e9

  def selfSeconds(name: String): Double = Stats.selfTimeNs(named(name), spans) / 1e9

  /** JSON lines, one span per line, for writing out when the run ends. */
  def toJsonLines: String = spans.map { s =>
    Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent.getOrElse(-1),
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> Stats.selfTimeNs(s, spans)))
  }.mkString("", "\n", "\n")
}
