package graftbench

import scala.collection.mutable.ArrayBuffer

/** Closed-loop bookkeeping: one client issues a cycle of entry-point calls,
  * each after the previous returns. A cycle's timings count only when every
  * call returned and the cycle's output check passed; a call that throws, or
  * a cycle whose check fails, counts its calls as failed instead. With a
  * tracer, each call runs inside a span named after its kind.
  */
final class Recorder(trace: Option[Tracer] = None) {
  var attempted = 0L
  var failed = 0L
  val main = ArrayBuffer.empty[Double]   // the workload's main call, seconds
  val cycles = ArrayBuffer.empty[Double] // every timed call of a cycle, seconds
  var rows = 0L                          // rows committed by main calls
  var rowSeconds = 0.0                   // time of the calls that committed them
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  /** One cycle in the making: timed calls are buffered until its verdict. */
  final class Cycle {
    private[Recorder] val timed = ArrayBuffer.empty[(String, Double)]

    /** Time `body` as a call of kind `kind`. A throw is recorded as a failed
      * attempt and rethrown, so the cycle stops there. */
    def call[T](kind: String)(body: => T): T = {
      attempted += 1
      val t0 = System.nanoTime()
      val r =
        try trace.fold(body)(_.span(kind)(body))
        catch { case e: Throwable => failed += 1; throw e }
      timed += kind -> (System.nanoTime() - t0) / 1e9
      r
    }

    def seconds(kind: String): Double = timed.filter(_._1 == kind).map(_._2).sum
  }

  /** Run one cycle. `body` makes the calls and returns the check verdict
    * (None = outputs correct) with the rows committed and the call kinds
    * that committed them. Returns whether the cycle counted. */
  def cycle(mainKind: String)(body: Cycle => (Option[String], Long, Seq[String])): Boolean = {
    val c = new Cycle
    val verdict =
      try body(c) catch { case e: Exception => (Some(s"threw: $e"), 0L, Nil) }
    verdict match {
      case (None, rowsCommitted, rowKinds) =>
        main ++= c.timed.filter(_._1 == mainKind).map(_._2)
        c.timed.filterNot(_._1 == mainKind).foreach { case (k, s) =>
          extra.getOrElseUpdate(k, ArrayBuffer.empty) += s }
        cycles += c.timed.map(_._2).sum
        rows += rowsCommitted
        rowSeconds += rowKinds.map(c.seconds).sum
        true
      case (Some(why), _, _) =>
        System.err.println(s"[perfbench] cycle failed: $why")
        // a call that threw counted itself; the cycle's completed calls
        // produced output that is wrong or unchecked
        failed += c.timed.size
        false
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as a
    * (percent, value) pair; None below twenty samples. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    val p = ((1.0 - 10.0 / n) * 100).floor.toInt
    if (n < 20 || p < 50) None
    else {
      val s = xs.sorted
      Some(p -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }
}
