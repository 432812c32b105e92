package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch milliseconds with sub-millisecond resolution.
  * Spark listener events carry epoch-millisecond stamps, so spans the
  * harness records itself use the same time base. */
object Clock {
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def ms: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One named measurement with its unit and the number of samples it
  * summarises (printed in the run summary; the result line keeps only
  * value and unit). */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** What one workload run hands back to Main. */
final case class Outcome(attempted: Long, failed: Long,
                         endToEnd: Seq[Metric], layers: Seq[Metric],
                         notes: Seq[String])

/** A traced interval. `parent` is -1 for a root. Spans of one query or
  * one trigger share the root's id as `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, String] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private var next = 0L
  def newId(): Long = synchronized { next += 1; next }
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  /** Self time: a span's duration minus the union of the intervals its
    * direct children cover (clipped to the span). */
  def selfMs: Map[Long, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durMs - Spans.unionMs(iv))
    }.toMap
  }

  def writeJson(path: java.nio.file.Path, header: String): Unit = {
    val self = selfMs
    val sb = new StringBuilder
    sb.append("{").append(header).append(",\"spans\":[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString(",")
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${self(s.id)}%.3f,"attrs":{$attrs}}""")
    }
    sb.append("\n]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Spans {
  /** Total length covered by a set of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  /** Full-precision number; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
