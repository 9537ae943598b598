package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Ports the reference's time-extraction unit tests
 * (/root/reference/querier/queryClient_test.go:8-76, FIXTURES.md A1):
 * every WHERE form must yield start=2023-01-01T00:00:00Z,
 * end=2023-01-02T00:00:00Z (ns), equality start=end.
 */
class TimeRangeExtractSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  private val T0 = 1672531200000000000L // 2023-01-01T00:00:00Z ns
  private val T1 = 1672617600000000000L // 2023-01-02T00:00:00Z ns

  private def range(where: String) = {
    val plan = TimeRangeExtract.parse(spark,
      s"SELECT COUNT(*) AS value FROM hep.hep_1 WHERE $where")
    TimeRangeExtract.extract(plan)
  }

  test("bare literals") {
    val r = range("time >= '2023-01-01T00:00:00Z' AND time <= '2023-01-02T00:00:00Z'")
    assert(r.start.contains(T0) && r.end.contains(T1))
  }

  test("cast as timestamp") {
    val r = range("time >= cast('2023-01-01T00:00:00Z' as timestamp) " +
      "AND time <= cast('2023-01-02T00:00:00Z' as timestamp)")
    assert(r.start.contains(T0) && r.end.contains(T1))
  }

  test("epoch_ns(::TIMESTAMP)") {
    val r = range("time >= epoch_ns('2023-01-01T00:00:00'::TIMESTAMP) " +
      "AND time <= epoch_ns('2023-01-02T00:00:00'::TIMESTAMP)")
    assert(r.start.contains(T0) && r.end.contains(T1))
  }

  test("epoch_ns(cast(...)::TIMESTAMP)") {
    val r = range("time >= epoch_ns(cast('2023-01-01T00:00:00' as timestamp)::TIMESTAMP) " +
      "AND time <= epoch_ns(cast('2023-01-02T00:00:00' as timestamp)::TIMESTAMP)")
    assert(r.start.contains(T0) && r.end.contains(T1))
  }

  test("equality") {
    val r = range("time = '2023-01-01T00:00:00Z'")
    assert(r.start.contains(T0) && r.end.contains(T0))
  }

  test("BETWEEN") {
    val r = range("time BETWEEN '2023-01-01T00:00:00Z' AND '2023-01-02T00:00:00Z'")
    assert(r.start.contains(T0) && r.end.contains(T1))
  }

  test("mirrored operands + strict bounds") {
    val r = range("'2023-01-01T00:00:00Z' <= time AND time < '2023-01-02T00:00:00Z'")
    assert(r.start.contains(T0) && r.end.contains(T1 - 1))
  }

  test("no time predicate → unbounded") {
    assert(range("location = 'x'").isEmpty)
  }

  test("time literal formats (reference queryClient.go:241-293)") {
    import TimeRangeExtract.parseTimeLiteral
    assert(parseTimeLiteral("2023-01-01T00:00:00Z").contains(T0))
    assert(parseTimeLiteral("2023-01-01T00:00:00").contains(T0)) // naive UTC
    assert(parseTimeLiteral("2023-01-01 00:00:00").contains(T0)) // space form
    assert(parseTimeLiteral("2023-01-01").contains(T0)) // date only
    assert(parseTimeLiteral("2023-01-01T00:00:00.000000001Z").contains(T0 + 1))
    assert(parseTimeLiteral("garbage").isEmpty)
  }
}
