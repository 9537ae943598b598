package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * Pruning is invisible: `Engine.query(sql)` returns the same rows as
 * the same SQL shape run by `spark.sql` over an unpruned
 * `spark.read.parquet` view of the same lake. Time predicates and the
 * wrappers around them are generated. Bounds reach the engine as a
 * string, `epoch_ns(…)` or long literal and the unpruned side as ns
 * longs (ANSI casts reject date strings against `bigint`).
 * (Hand-rolled sampling as in PropertySpecs: Gen + fixed seeds.)
 */
class PruneDifferentialSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val HourNs = 3600L * 1000000000L
  private val DayNs = 24 * HourNs
  private val T0 = 1672531200000000000L // 2023-01-01T00:00:00Z
  private val RefView = "prune_diff_unpruned"

  /** Three days of hourly rows, one file per day with its zone map; row
    * times carry a few ns past the hour so strict and inclusive bounds
    * differ. */
  private lazy val engine: Engine = {
    val root = tempDir("prunediff").getAbsolutePath
    val rows = spark.range(72).select(
      (lit(T0) + col("id") * HourNs + col("id") % 5).as("time"),
      concat(lit("loc"), (col("id") / 24).cast("int").cast("string")).as("location"),
      (col("id") % 24 * 1.5).as("temperature"))
    LakeWriter.write(root, "mydb", "meas", rows.coalesce(1))
    val catalog = new Catalog(root)
    val files = catalog.prunedPaths("mydb", "meas", None)
    assert(files.size == 3)
    spark.read.parquet(files: _*).select("time", "location", "temperature")
      .createOrReplaceTempView(RefView)
    new Engine(spark, catalog)
  }

  /** A time bound: its ns value, rendered for the engine in one of three
    * literal forms and for the unpruned side as a long. */
  private case class Lit(ns: Long, form: Int) {
    def show(gateway: Boolean): String =
      if (!gateway || form == 0) ns.toString
      else if (form == 1) s"'${Instant.ofEpochSecond(0L, ns)}'"
      else s"epoch_ns('${LocalDateTime.ofEpochSecond(ns / 1000000000L, 0, ZoneOffset.UTC)
        .format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))}'::TIMESTAMP)"
  }

  private sealed trait Pred { def sql(c: String, gateway: Boolean): String }
  private case class Cmp(op: String, v: Lit, mirrored: Boolean) extends Pred {
    def sql(c: String, gateway: Boolean): String = {
      val mirror = Map(">=" -> "<=", ">" -> "<", "<=" -> ">=", "<" -> ">", "=" -> "=")
      if (mirrored) s"${v.show(gateway)} ${mirror(op)} $c" else s"$c $op ${v.show(gateway)}"
    }
  }
  private case class Btw(lo: Lit, hi: Lit) extends Pred {
    def sql(c: String, gateway: Boolean) = s"$c BETWEEN ${lo.show(gateway)} AND ${hi.show(gateway)}"
  }
  private case class Bool(op: String, l: Pred, r: Pred) extends Pred {
    def sql(c: String, gateway: Boolean) = s"(${l.sql(c, gateway)} $op ${r.sql(c, gateway)})"
  }
  private case class Not(p: Pred) extends Pred {
    def sql(c: String, gateway: Boolean) = s"NOT (${p.sql(c, gateway)})"
  }

  private val litGen: Gen[Lit] = for {
    ns <- Gen.oneOf(
      Gen.choose(0L, 71L).map(h => T0 + h * HourNs + h % 5), // a row's exact time
      for { // a file's first or last row, ±1 ns: the zone-map edges
        h <- Gen.oneOf(0L, 23L, 24L, 47L, 48L, 71L)
        d <- Gen.choose(-1L, 1L)
      } yield T0 + h * HourNs + h % 5 + d,
      Gen.choose(0L, 72L).map(h => T0 + h * HourNs),         // on the hour
      Gen.choose(-DayNs, 4 * DayNs).map(T0 + _))              // anywhere near the lake
    form <- Gen.choose(0, 2)
  } yield Lit(if (form == 2) ns - Math.floorMod(ns, 1000000000L) else ns, form)

  private def predGen(depth: Int): Gen[Pred] = {
    val cmp = for {
      op <- Gen.oneOf(">=", ">", "<=", "<", "=")
      v <- litGen
      m <- Gen.oneOf(false, true)
    } yield Cmp(op, v, m)
    val btw = for { a <- litGen; b <- litGen } yield Btw(a, b)
    if (depth == 0) Gen.frequency(4 -> cmp, 1 -> btw)
    else Gen.frequency(4 -> cmp, 1 -> btw,
      2 -> Gen.zip(Gen.oneOf("AND", "OR"), predGen(depth - 1), predGen(depth - 1))
        .map { case (op, l, r) => Bool(op, l, r) },
      1 -> predGen(depth - 1).map(Not))
  }

  /** One generated query: a wrapper around two predicates, rendered over
    * a table name for either side. */
  private case class Case(wrapper: Int, p1: Pred, p2: Pred, join: String) {
    def sql(t: String, gateway: Boolean): String = {
      def p(x: Pred, c: String) = x.sql(c, gateway)
      wrapper match {
        case 0 => s"SELECT time, location, temperature FROM $t WHERE ${p(p1, "time")}"
        case 1 => s"SELECT m.time, m.location FROM $t m WHERE ${p(p1, "m.time")}"
        case 2 => s"SELECT time, location FROM (SELECT * FROM $t) WHERE ${p(p1, "time")}"
        case 3 => s"SELECT s.time, s.temperature FROM (SELECT time, temperature FROM $t " +
          s"ORDER BY time) s WHERE ${p(p1, "s.time")}"
        // the same hour of day on any two days: each side's window
        // decides which of the other side's rows pair up
        case 4 => s"SELECT a.time, b.time AS tb FROM $t a $join $t b " +
          s"ON a.temperature = b.temperature WHERE ${p(p1, "a.time")} AND ${p(p2, "b.time")}"
        case 5 => s"SELECT time, location FROM $t WHERE ${p(p1, "time")} " +
          s"UNION ALL SELECT time, location FROM $t WHERE ${p(p2, "time")}"
        case 6 => s"WITH c AS (SELECT * FROM $t WHERE ${p(p1, "time")}) " +
          s"SELECT time, location FROM c WHERE ${p(p2, "time")}"
        case 7 => s"SELECT time, location FROM $t WHERE location IN " +
          s"(SELECT location FROM $t WHERE ${p(p1, "time")}) AND ${p(p2, "time")}"
        case 8 => s"SELECT s.time, s.rn FROM (SELECT time, " +
          s"row_number() OVER (ORDER BY time) AS rn FROM $t) s WHERE ${p(p1, "s.time")}"
        // rows with no later row at the same hour of day: the filter on
        // the output must not reach the anti side
        case _ => s"SELECT s.time, s.location FROM (SELECT * FROM $t a LEFT ANTI JOIN $t b " +
          s"ON a.temperature = b.temperature AND b.time > a.time) s WHERE ${p(p1, "s.time")}"
      }
    }
  }

  private val caseGen: Gen[Case] = for {
    w <- Gen.choose(0, 9)
    p1 <- predGen(1)
    p2 <- predGen(1)
    join <- Gen.oneOf("JOIN", "LEFT JOIN", "FULL JOIN")
  } yield Case(w, p1, p2, join)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** Asserts the engine's rows equal the unpruned scan's; returns
    * whether some spliced scan of the engine's plan skipped a file. */
  private def assertSame(gatewaySql: String, referenceSql: String): Boolean = {
    val df = engine.query(gatewaySql, "")
    val got = rows(df)
    val want = rows(spark.sql(referenceSql))
    assert(got == want, s"\n$gatewaySql\nengine: ${got.size} rows, unpruned scan: " +
      s"${want.size} rows; engine only: ${got.diff(want).take(3)}, " +
      s"scan only: ${want.diff(got).take(3)}")
    df.queryExecution.analyzed.exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length < 3
      case _: org.apache.spark.sql.execution.LogicalRDD => true // no file overlaps
      case _ => false
    }
  }

  test("generated time predicates under generated wrappers match an unpruned scan") {
    val cases = samples(caseGen, 64)
    assert(cases.map(_.wrapper).distinct.size == 10) // every wrapper is drawn
    val pruned = cases.count(c =>
      assertSame(c.sql("mydb.meas", gateway = true), c.sql(RefView, gateway = false)))
    // the property is about pruned plans: most cases must skip a file
    assert(pruned >= cases.size / 2, s"only $pruned of ${cases.size} cases pruned")
  }

  test("a time column the subquery computes, aggregates or limits is not pruned by") {
    val day2 = Lit(T0 + DayNs, 1)
    val day3 = Lit(T0 + 2 * DayNs, 1)
    def shape(t: String, gateway: Boolean): Seq[String] = Seq(
      s"SELECT count(*) AS n FROM (SELECT time + $DayNs AS time FROM $t) " +
        s"WHERE time >= ${day3.show(gateway)}",
      s"SELECT count(*) AS n FROM (SELECT time + $DayNs AS time FROM $t) s " +
        s"WHERE s.time >= ${day3.show(gateway)}",
      s"SELECT count(*) AS n FROM (SELECT min(time) AS time FROM $t) " +
        s"WHERE time >= ${day2.show(gateway)}",
      s"SELECT count(*) AS n FROM (SELECT * FROM $t ORDER BY time LIMIT 10) " +
        s"WHERE time >= ${day2.show(gateway)}")
    shape("mydb.meas", gateway = true).zip(shape(RefView, gateway = false)).foreach {
      case (g, r) => assertSame(g, r)
    }
  }
}
