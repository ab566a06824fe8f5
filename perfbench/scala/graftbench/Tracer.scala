package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** Spans around the benchmark's calls into each layer. A span sets the
  * driver thread's Spark job group, so every job it launches (and every
  * task of those jobs) lands in the span's group; a streaming span also
  * claims its query's run id, the group Spark gives micro-batch jobs.
  * Jobs belong to the innermost open span. Disabled, a span is a plain
  * call. */
final class Tracer(sc: SparkContext, val on: Boolean) {

  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    var end = 0L
    val counts = mutable.LinkedHashMap[String, Double]()
    val groups = mutable.ArrayBuffer[String](s"span-$id")
  }

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.groups.head, name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.groups.head, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Add to a count of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  /** Add to a count of the latest span named `name` (open or closed). */
  def countOn(name: String, key: String, v: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == name)
      .foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  def claim(group: String): Unit =
    if (on) stack.headOption.foreach(_.groups += group)

  /** Per-layer totals over all spans: wall, self, job counters, counts. */
  def layers(probe: Probe, cores: Int): Map[String, Map[String, Double]] = {
    val childTime = mutable.HashMap[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (name, ss) =>
      val wall = ss.map(s => s.end - s.start).sum / 1e9
      val self = ss.map(s => s.end - s.start - childTime(s.id)).sum / 1e9
      val a = probe.groupAgg(ss.flatMap(_.groups))
      val counts = ss.flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _)
      name -> (Map(
        "wall_s" -> wall, "self_s" -> self, "cpu_s" -> a.cpuNs / 1e9,
        "core_util" -> (if (self > 0) a.runMs / 1e3 / (self * cores) else 0.0),
        "jobs" -> a.jobs.toDouble,
        "shuffle_mb" -> a.shuffleBytes / 1048576.0,
        "spill_mb" -> a.spillBytes / 1048576.0) ++ counts)
    }
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end, "groups" -> s.groups.toSeq,
      "counts" -> s.counts.toMap)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
