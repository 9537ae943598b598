package perfbench

/** Latency summaries and failure accounting. */
object Stats {

  /** Samples a nearest-rank percentile `p` (whole percent) leaves beyond it. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(p * n / 100.0).toInt

  /** The highest whole percentile (50 at least) with at least ten samples
    * beyond it, or None when even the median has fewer than ten. p90
    * therefore needs 100 samples. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => beyond(n, p) >= 10)

  /** Nearest-rank percentile of `xs` (need not be sorted). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size / 100.0).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Why a request failed; every attempted request ends as exactly one of
  * success or one of these. */
sealed trait Failure { def label: String }
object Failure {
  final case class Status(code: Int) extends Failure { def label = s"http_$code" }
  case object WrongAnswer extends Failure { def label = "wrong_answer" }
  /** A read of an acknowledged slice that did not return all its rows. */
  case object StaleRead extends Failure { def label = "stale_read" }
  case object Timeout extends Failure { def label = "timeout" }
  case object Transport extends Failure { def label = "transport" }
}

/** Failure accounting: failed over attempted, by cause. A request is
  * attempted when it is sent; one that fails counts as missing every
  * latency limit, so its latency is not among the successes'. */
final class Tally {
  private var attempted0 = 0
  private val failures = scala.collection.mutable.LinkedHashMap[String, Int]()

  def attempt(): Unit = synchronized { attempted0 += 1 }
  def fail(f: Failure): Unit = synchronized {
    failures(f.label) = failures.getOrElse(f.label, 0) + 1
  }
  def attempted: Int = synchronized(attempted0)
  def failed: Int = synchronized(failures.values.sum)
  def byCause: Map[String, Int] = synchronized(failures.toMap)
  def errorFrac: Double = synchronized {
    if (attempted0 == 0) 0.0 else failures.values.sum.toDouble / attempted0
  }
}
