package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pins [[graft.plans.NsTimeFilterPushdown]]: int64-ns range predicates
 * over a normalized timestamp `ts` must (a) reach the parquet scan as
 * native pushed filters, and (b) keep EXACTLY the ns comparison
 * semantics across every operator and both rounding directions —
 * including bounds that are not µs-aligned, where the ÷1000 rewrite
 * must round toward the correct side.
 */
class TsPushdownSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  // µs-aligned instants 1 ms apart around an aligned pivot
  private val baseNs = 1704844800000000000L // 2024-01-10T00:00:00Z
  private val tsNs: Seq[Long] = (0 until 50).map(i => baseNs + i * 1000000L)

  private def writeEncoded(cast: String): String = {
    Tables.configure(spark)
    val dir = tempDir(s"push-$cast").toString
    import spark.implicits._
    tsNs.zipWithIndex.toDF("ts", "event_id")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(cast))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val ltzDir = writeEncoded("timestamp")
  private lazy val ntzDir = writeEncoded("timestamp_ntz")

  test("ns range predicate is pushed to the parquet scan (LTZ and NTZ)") {
    Seq(ltzDir, ntzDir).foreach { dir =>
      val df = Tables.load(spark, dir, "events")
        .filter(col("ts") >= baseNs && col("ts") < baseNs + 10000000L)
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("GreaterThanOrEqual(ts,"), s"$dir:\n$scan")
      assert(scan.contains("LessThan(ts,"), s"$dir:\n$scan")
      assert(df.count() == 10, dir)
    }
  }

  test("non-aligned equality keeps NULL semantics (never rewritten to false)") {
    import spark.implicits._
    // a NULL ts must stay NULL through `ts === <non-µs-aligned ns>`:
    // a false-literal rewrite would flip NOT(NULL)=NULL (row excluded)
    // into NOT(false)=true (row wrongly returned)
    val df = Tables.normalizeTs(Seq(
      Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704844800L))),
      None).toDF("ts"))
    val nonAligned = baseNs + 1 // not µs-representable
    assert(df.filter(!(col("ts") === nonAligned)).count() == 1)
    val flags = df.select((col("ts") === nonAligned).as("f")).collect()
    assert(flags.count(_.isNullAt(0)) == 1, "NULL input must yield NULL, not false")
  }

  test("rewrite preserves exact ns semantics at non-aligned bounds") {
    // oracle: the same predicate evaluated on the raw ns longs
    def expected(p: Long => Boolean): Set[Long] = tsNs.filter(p).toSet
    def got(df: DataFrame, cond: org.apache.spark.sql.Column): Set[Long] =
      df.filter(cond).select("ts").collect().map(_.getLong(0)).toSet
    Seq(ltzDir, ntzDir).foreach { dir =>
      val ev = Tables.load(spark, dir, "events")
      val t = col("ts")
      val mid = baseNs + 25 * 1000000L
      // aligned, just-below-aligned, just-above-aligned bounds × operators
      Seq(mid, mid - 1, mid + 1, mid - 999999, mid + 999999).foreach { b =>
        assert(got(ev, t >= b) == expected(_ >= b), s"$dir >= $b")
        assert(got(ev, t > b) == expected(_ > b), s"$dir > $b")
        assert(got(ev, t < b) == expected(_ < b), s"$dir < $b")
        assert(got(ev, t <= b) == expected(_ <= b), s"$dir <= $b")
        assert(got(ev, t === b) == expected(_ == b), s"$dir === $b")
        // mirrored literal-first forms
        assert(got(ev, lit(b) <= t) == expected(b <= _), s"$dir lit<= $b")
        assert(got(ev, lit(b) < t) == expected(b < _), s"$dir lit< $b")
        assert(got(ev, lit(b) >= t) == expected(b >= _), s"$dir lit>= $b")
        assert(got(ev, lit(b) > t) == expected(b > _), s"$dir lit> $b")
      }
    }
  }
}
