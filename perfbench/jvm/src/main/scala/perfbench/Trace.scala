package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.SparkSession

/** One traced interval: a workload, pass, op or layer call. */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs = 0L
  val plan = new PlanStats
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written as JSON lines at exit. When enabled,
  * each span runs its Spark jobs under a job group named after its id,
  * and the listener bus is drained before the span closes, so its task
  * and plan metrics are complete. When disabled, `apply` only runs the
  * body. */
final class Tracer(var enabled: Boolean, spark: SparkSession, meter: TaskMeter) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  /** Plan stats of every open span (the walker adds to all of them, so a
    * span's stats include its children's). */
  def openPlans: Seq[PlanStats] = synchronized(stack.map(_.plan))

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val s = synchronized {
        val sp = new Span(spans.length + 1, stack.headOption.map(_.id).getOrElse(0),
          name, System.nanoTime())
        spans += sp; stack = sp :: stack; sp
      }
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        PerfbenchShim.drain(sc)
        s.endNs = System.nanoTime()
        val self = meter.synchronized(meter.byGroup.remove(s"span-${s.id}"))
        self.foreach { c =>
          s.attrs("self_cpu_s") = c.cpuNs / 1e9
          s.attrs("self_tasks") = c.tasks.toDouble
          s.attrs("self_shuffle_write_bytes") = c.shuffleWrite.toDouble
        }
        synchronized { stack = stack.tail }
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** CPU seconds of a closed span and all spans below it. */
  def cpuOf(s: Span): Double =
    s.attrs.getOrElse("self_cpu_s", 0.0) +
      spans.iterator.filter(_.parent == s.id).map(cpuOf).sum

  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val fields = Seq[(String, Any)]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
        s.attrs.toSeq ++ s.plan.values.toSeq.sortBy(_._1).map { case (k, v) => s"plan.$k" -> v }
      sb.append(Json.obj(fields: _*)).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON writer for the flat records the benchmark emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
