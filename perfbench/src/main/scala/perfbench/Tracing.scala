package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.length - 1, math.ceil(p / 100 * s.length).toInt - 1)))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** Minimal JSON rendering for the result lines and the artifact. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** One traced call into a layer. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    thread: String, startNs: Long) {
  var endNs: Long = startNs
  def key: String = s"span$id"
  def fullName: String = s"$layer.$name"
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around calls into each layer for the calling thread. Each
  * span sets the `perfbench.key` local property so [[Telemetry]] attributes
  * the Spark jobs it starts to it. Spans stay in memory until [[take]].
  */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  def span[T](layer: String, name: String)(f: => T): T = {
    val s = Span(Tracer.ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(-1),
      layer, name, Thread.currentThread.getName, System.nanoTime())
    spans += s
    stack = s :: stack
    try Telemetry.keyed(spark, s.key)(f)
    finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  def take(): Seq[Span] = { val r = spans.toList; spans.clear(); r }
}

object Tracer {
  private val ids = new AtomicInteger

  /** Self time per layer: each span's duration minus its children's. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Inclusive seconds of all spans with this full name. */
  def seconds(spans: Seq[Span], fullName: String): Double =
    spans.filter(_.fullName == fullName).map(_.seconds).sum

  /** Counters of all spans with this full name (leaf attribution). */
  def counters(tel: Telemetry, spans: Seq[Span], fullName: String): Counters = {
    val c = new Counters
    spans.filter(_.fullName == fullName).foreach(s => c += tel.of(s.key))
    c
  }

  def toJson(spans: Seq[Span]): Seq[Map[String, Any]] = spans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
