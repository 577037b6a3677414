package graftbench

import scala.collection.mutable

/** Latency samples and failure counts per operation class.
  *
  * An operation is timed only when it succeeded and its output checked
  * out: a throw, an ERR packet, a socket error, a timeout or a wrong
  * result is counted as failed and never enters a latency sample.
  * One recorder per client thread; `merge` combines them afterwards.
  */
final class Recorder {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val attemptedBy = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val failedBy = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val failures = mutable.ArrayBuffer.empty[String]

  /** Runs `op`, which returns None when its output is correct or
    * Some(reason) when it is not; records its wall in ms only on success.
    * Returns whether it succeeded.
    */
  def time(cls: String)(op: => Option[String]): Boolean = {
    attemptedBy(cls) += 1
    val t0 = System.nanoTime()
    val verdict =
      try op
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    verdict match {
      case None =>
        samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms
        true
      case Some(why) =>
        failedBy(cls) += 1
        if (failures.size < 20) failures += s"$cls: $why"
        false
    }
  }

  def merge(other: Recorder): Unit = synchronized {
    other.samples.foreach { case (k, v) =>
      samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    other.attemptedBy.foreach { case (k, v) => attemptedBy(k) += v }
    other.failedBy.foreach { case (k, v) => failedBy(k) += v }
    failures ++= other.failures.take(20 - failures.size max 0)
  }

  def of(cls: String): Seq[Double] = samples.getOrElse(cls, Nil).toSeq
  def attempted: Long = attemptedBy.values.sum
  def failed: Long = failedBy.values.sum
  def attempted(cls: String): Long = attemptedBy(cls)
  def failed(cls: String): Long = failedBy(cls)
  def completed: Long = samples.values.map(_.size.toLong).sum
}

object Stats {
  /** Linear-interpolated quantile (q in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** A tail percentile is reported only with at least ten samples
    * beyond it.
    */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.size * (1 - q) + 1e-9 >= 10) Some(quantile(xs, q)) else None

  /** The highest of p99/p95/p90/p75 that has ten samples beyond it. */
  def highestTail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(0.99 -> "p99", 0.95 -> "p95", 0.90 -> "p90", 0.75 -> "p75")
      .collectFirst { case (q, n) if tail(xs, q).isDefined => n -> quantile(xs, q) }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case o: Option[_] => o.map(render).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
