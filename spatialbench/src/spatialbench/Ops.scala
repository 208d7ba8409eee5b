package spatialbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile of the sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples strictly above the p-th percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** One attempted operation. A failed op keeps no timing. */
final class OpRec(val kind: String, val ms: Double) {
  @volatile var error: String = null
  /** Set when the failure is a documented defect of the library. */
  @volatile var knownDefect: String = null
  def ok: Boolean = error == null
}

/** Records every attempted op, its timing if it succeeded, and why it failed
  * if it did. A call that throws, or whose result fails its check, is failed
  * and its time is dropped. */
final class Ops(tracer: Tracer) {
  private val recs = new ConcurrentLinkedQueue[OpRec]()
  /** Wall seconds of the measurement windows these ops ran in, checks included. */
  @volatile var windowS = 0.0

  /** Time one call in a span named `span`. Returns the result and its record,
    * or None if the call threw. */
  def run[T](kind: String, span: String)(call: => T): Option[(T, OpRec)] =
    try {
      val (r, ms) = tracer.timed(span)(call)
      val rec = new OpRec(kind, ms)
      recs.add(rec)
      Some((r, rec))
    } catch {
      case NonFatal(e) =>
        val rec = new OpRec(kind, Double.NaN)
        fail(rec, s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        recs.add(rec)
        None
    }

  def fail(rec: OpRec, why: String, knownDefect: String = null): Unit = {
    rec.error = why
    rec.knownDefect = knownDefect
    val tag = if (knownDefect != null) s" [known defect: $knownDefect]" else ""
    System.err.println(s"FAILED ${rec.kind}: $why$tag")
  }

  /** Apply a check result: Some(message) fails the op. */
  def check(rec: OpRec, result: Option[String]): Unit = result.foreach(fail(rec, _))

  def all: Seq[OpRec] = recs.asScala.toSeq
  def ok(kind: String => Boolean): Seq[Double] = all.filter(r => r.ok && kind(r.kind)).map(_.ms)
  def attempted: Int = all.size
  def failed: Int = all.count(!_.ok)
  def unexpected: Seq[OpRec] = all.filter(r => !r.ok && r.knownDefect == null)
}

/** A metric as printed: name, value, unit, and an optional note. */
final case class Metric(name: String, value: Double, unit: String, note: String = "")
