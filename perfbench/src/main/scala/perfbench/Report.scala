package perfbench

import scala.collection.mutable

/** What one run found: operations attempted and failed, the failures by
  * name, and the metrics in the order they are printed.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Lines printed beside the metrics, such as a percentile left out. */
  val notes = mutable.ArrayBuffer.empty[String]
  /** Metrics by name → (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Runs one operation; an exception marks it failed and the run goes
    * on. Returns its result when it did not throw.
    */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** The checks of an operation that returned: any false one marks the
    * operation failed, once.
    */
  def verify(what: String, checks: Seq[(Boolean, String)]): Unit = {
    val bad = checks.collect { case (false, msg) => msg }
    if (bad.nonEmpty) fail(s"$what: ${bad.mkString("; ")}")
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg
  }

  def errorRate: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
}

object Report {
  /** JSON number with all its digits; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
