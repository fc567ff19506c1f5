package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Pure summary arithmetic of the harness (self-tested, no Spark). */
object Stats {

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it, as (percentile, value, n). Nearest rank: the k-th
    * smallest of n samples is the 100·k/n-th percentile and has n − k
    * samples beyond it, so k = n − beyond. None below beyond + 1
    * samples — no percentile is backed by enough tail samples. */
  def tail(xs: Iterable[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val n = xs.size
    if (n < beyond + 1) None
    else {
      val k = n - beyond
      Some((100.0 * k / n, xs.toIndexedSeq.sorted.apply(k - 1), n))
    }
  }

  /** Median of the last third of a series over the median of its
    * first third (1.0 = flat; > 1 = later items slower); a third is
    * at least one item. */
  def growth(xs: Iterable[Double]): Double = {
    require(xs.size >= 2, "growth needs at least two samples")
    val third = math.max(1, xs.size / 3)
    median(xs.takeRight(third)) / median(xs.take(third))
  }
}

/** Attempts and failures of one run. A failure is an exception, a
  * timeout or an output-check mismatch; each attempt is counted once
  * however many of those it hit. */
final class Tally {
  private var attempted0 = 0
  private var failed0 = 0
  def record(ok: Boolean): Unit = { attempted0 += 1; if (!ok) failed0 += 1 }
  def attempted: Int = attempted0
  def failed: Int = failed0
  def failedFrac: Double =
    if (attempted0 == 0) 1.0 else failed0.toDouble / attempted0
}

/** Order-independent digest of a result: row count plus SHA-256 over
  * the sorted row encodings. */
object Digest {
  def of(rows: Iterable[String]): String = {
    val sorted = rows.toArray.sorted
    val md = MessageDigest.getInstance("SHA-256")
    sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    s"${sorted.length}:${md.digest().map(b => f"$b%02x").mkString.take(32)}"
  }
}

/** One traced interval; times are nanoseconds on one monotonic clock. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, run: String) {
  def duration: Long = end - start
}

object Span {
  /** Self time: the span's duration minus the part of its interval
    * that its children cover. Overlapping children count once, and a
    * child reaching outside the parent is clipped to it. */
  def selfTime(span: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    span.duration - covered
  }
}
