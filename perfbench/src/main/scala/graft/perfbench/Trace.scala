package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span and count recorder. Spans nest by call order; counts
  * attach to the innermost open span. Everything is written out as
  * JSON lines once the run ends. */
final class Tracer(val run: String) {
  val spans = ArrayBuffer.empty[Span]
  val counts = ArrayBuffer.empty[(Int, String, Double)]
  private var nextId = 1
  private var stack: List[Int] = Nil

  def current: Int = stack.headOption.getOrElse(0)

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = current
    val t0 = System.nanoTime()
    stack = id :: stack
    try f
    finally {
      stack = stack.tail
      spans += Span(id, name, t0, System.nanoTime(), parent, run)
    }
  }

  /** A span reconstructed after the fact (e.g. one Spark job inside a
    * layer with no public entry point). */
  def addSpan(name: String, start: Long, end: Long, parent: Int): Unit = {
    spans += Span(nextId, name, start, end, parent, run)
    nextId += 1
  }

  def count(name: String, value: Double): Unit = counts += ((current, name, value))

  def childrenOf(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def selfTime(s: Span): Long = Span.selfTime(s, childrenOf(s.id))

  def jsonLines: Seq[String] =
    spans.sortBy(_.start).map { s =>
      Json.obj("type" -> "span", "run" -> s.run, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> selfTime(s))
    }.toSeq ++ counts.map { case (sp, n, v) =>
      Json.obj("type" -> "count", "run" -> run, "span" -> sp, "name" -> n, "value" -> v)
    }
}

/** Minimal JSON encoder for flat records (no dependency). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => require(!d.isNaN && !d.isInfinite, s"non-finite $d"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(j) => j
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Already-encoded JSON, embedded verbatim. */
  final case class Raw(json: String)
}
