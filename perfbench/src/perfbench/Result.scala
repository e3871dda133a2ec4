package perfbench

import scala.collection.mutable

/** What a run reports: correctness counts plus named metrics with units. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  /** Paths handed to the Python side (results to check, oracle SQL). */
  val extra = mutable.LinkedHashMap[String, String]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** One correctness check: counts it, and a failure with its reason. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"MISMATCH $what" }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
}
