package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(100, 91) == 9)
    assert(Stats.tailPercentile(99).contains(89))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs.reverse, 90) == 90.0)
    assert(Stats.percentile(xs, 89) == 89.0)
    assert(Stats.median(xs) == 50.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("failures count against attempts, by cause") {
    val t = new Tally
    (1 to 8).foreach(_ => t.attempt())
    t.fail(Failure.Status(400))
    t.fail(Failure.WrongAnswer)
    t.fail(Failure.Timeout)
    t.fail(Failure.WrongAnswer)
    assert(t.attempted == 8)
    assert(t.failed == 4)
    assert(t.errorFrac == 0.5)
    assert(t.byCause == Map("http_400" -> 1, "wrong_answer" -> 2, "timeout" -> 1))
    assert(new Tally().errorFrac == 0.0)
  }
}
