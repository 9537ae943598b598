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
 * string, `epoch_ns(…)`, `TIMESTAMP '…'` or long literal and the
 * unpruned side as ns longs (ANSI casts reject date strings against
 * `bigint`). The lake is far under one file's open cost, so the engine
 * runs every case in its small-request profile; the cases run once more
 * with the threshold lowered to 1 byte, through the engine session's own.
 * (Hand-rolled sampling as in PropertySpecs: Gen + fixed seeds.)
 */
class PruneDifferentialSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val HourNs = 3600L * 1000000000L
  private val DayNs = 24 * HourNs
  private val T0 = 1672531200000000000L // 2023-01-01T00:00:00Z
  private val RefView = "prune_diff_unpruned"
  private val RefViewTs = "prune_diff_unpruned_ts"

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
    // the same hours with `time` stored as a µs TIMESTAMP, a few µs past
    // the hour, one file per day with its zone map in ns
    (0 until 3).foreach { d =>
      val dir = new java.io.File(root, f"mydb/meas_ts/date=2023-01-${d + 1}%02d")
      val stage = new java.io.File(dir, "stage")
      spark.range(24L * d, 24L * (d + 1)).select(
        timestamp_micros(lit(T0 / 1000) + col("id") * (HourNs / 1000) + col("id") % 5).as("time"),
        concat(lit("loc"), lit(d.toString)).as("location"),
        (col("id") % 24 * 1.5).as("temperature"))
        .coalesce(1).write.parquet(stage.getAbsolutePath)
      stage.listFiles().find(_.getName.endsWith(".parquet")).get
        .renameTo(new java.io.File(dir, "part0.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
      val (mn, mx) = (T0 + 24 * d * HourNs, T0 + (24 * d + 23) * HourNs + 4000)
      java.nio.file.Files.writeString(new java.io.File(dir, "metadata.json").toPath,
        s"""{"type":"parquet","row_count":24,"min_time":$mn,"max_time":$mx,""" +
          s""""files":[{"path":"part0.parquet","row_count":24,"min_time":$mn,"max_time":$mx}]}""")
    }
    val catalog = new Catalog(root)
    val files = catalog.prunedPaths("mydb", "meas", None)
    assert(files.size == 3)
    spark.read.parquet(files: _*).select("time", "location", "temperature")
      .createOrReplaceTempView(RefView)
    val tsFiles = catalog.prunedPaths("mydb", "meas_ts", None)
    assert(tsFiles.size == 3)
    spark.read.parquet(tsFiles: _*)
      .select((unix_micros(col("time")) * 1000L).as("time"), col("location"), col("temperature"))
      .createOrReplaceTempView(RefViewTs)
    new Engine(spark, catalog)
  }

  /** A time bound: its ns value, rendered for the engine in one of four
    * literal forms and for the unpruned side as a long. */
  private case class Lit(ns: Long, form: Int) {
    private def local(pattern: String) = LocalDateTime.ofEpochSecond(
      Math.floorDiv(ns, 1000000000L), Math.floorMod(ns, 1000000000L).toInt, ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern(pattern))
    def show(gateway: Boolean): String =
      if (!gateway || form == 0) ns.toString
      else if (form == 1) s"'${Instant.ofEpochSecond(0L, ns)}'"
      else if (form == 2) s"epoch_ns('${local("yyyy-MM-dd'T'HH:mm:ss")}'::TIMESTAMP)"
      else s"TIMESTAMP '${local("yyyy-MM-dd HH:mm:ss.SSSSSS")}'"
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

  /** A bound in one of the first `forms` literal forms. */
  private def litGen(forms: Int): Gen[Lit] = for {
    ns <- Gen.oneOf(
      Gen.choose(0L, 71L).map(h => T0 + h * HourNs + h % 5), // a row's exact time
      for { // a file's first or last row, ±1 ns: the zone-map edges
        h <- Gen.oneOf(0L, 23L, 24L, 47L, 48L, 71L)
        d <- Gen.choose(-1L, 1L)
      } yield T0 + h * HourNs + h % 5 + d,
      Gen.choose(0L, 72L).map(h => T0 + h * HourNs),         // on the hour
      Gen.choose(-DayNs, 4 * DayNs).map(T0 + _))              // anywhere near the lake
    form <- Gen.choose(0, forms - 1)
  } yield Lit(
    if (form == 2) ns - Math.floorMod(ns, 1000000000L)
    else if (form == 3) ns - Math.floorMod(ns, 1000L) // a timestamp holds µs
    else ns, form)

  private def predGen(depth: Int, forms: Int): Gen[Pred] = {
    val cmp = for {
      op <- Gen.oneOf(">=", ">", "<=", "<", "=")
      v <- litGen(forms)
      m <- Gen.oneOf(false, true)
    } yield Cmp(op, v, m)
    val btw = for { a <- litGen(forms); b <- litGen(forms) } yield Btw(a, b)
    if (depth == 0) Gen.frequency(4 -> cmp, 1 -> btw)
    else Gen.frequency(4 -> cmp, 1 -> btw,
      2 -> Gen.zip(Gen.oneOf("AND", "OR"), predGen(depth - 1, forms), predGen(depth - 1, forms))
        .map { case (op, l, r) => Bool(op, l, r) },
      1 -> predGen(depth - 1, forms).map(Not))
  }

  /** One generated query: a wrapper around two predicates, rendered over
    * a table name for either side. */
  private case class Case(wrapper: Int, p1: Pred, p2: Pred, join: String) {
    def sql(t: String, gateway: Boolean): String = {
      def p(x: Pred, c: String) = x.sql(c, gateway)
      val ts = if (gateway) "mydb.meas_ts" else RefViewTs
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
        case 9 => s"SELECT s.time, s.location FROM (SELECT * FROM $t a LEFT ANTI JOIN $t b " +
          s"ON a.temperature = b.temperature AND b.time > a.time) s WHERE ${p(p1, "s.time")}"
        // a CTE named like the lake table: its definition reads the lake
        // table (a non-recursive CTE does not see itself), the outer
        // query reads the CTE, whose rows p1 already filtered
        case 10 => s"WITH meas AS (SELECT * FROM ${if (gateway) "meas" else t} " +
          s"WHERE ${p(p1, "time")}) SELECT time, location FROM meas WHERE ${p(p2, "time")}"
        // an int64-ns `time` joined to one stored as a µs TIMESTAMP
        case _ => s"SELECT a.time, b.time AS tb FROM $t a $join $ts b " +
          s"ON a.temperature = b.temperature WHERE ${p(p1, "a.time")} AND ${p(p2, "b.time")}"
      }
    }
  }

  private def caseGen(wrappers: Gen[Int], forms: Int): Gen[Case] = for {
    w <- wrappers
    p1 <- predGen(1, forms)
    p2 <- predGen(1, forms)
    join <- Gen.oneOf("JOIN", "LEFT JOIN", "FULL JOIN")
  } yield Case(w, p1, p2, join)

  /** Wrappers 0–9 over the string, `epoch_ns` and long literal forms. */
  private val wrapperCases = samples(caseGen(Gen.choose(0, 9), forms = 3), 64)
  /** The CTE-shadowing and mixed-time wrappers, and a bare filter, with
    * `TIMESTAMP '…'` literals among the forms. */
  private val shadowMixedCases = samples(caseGen(Gen.oneOf(0, 10, 11), forms = 4), 36)

  /** Negated bounds: `NOT` around a comparison or BETWEEN, alone or
    * AND-ed with another predicate, under every wrapper, with all four
    * literal forms. */
  private val negatedCases = {
    val negated = predGen(0, forms = 4).map(Not)
    val pred = Gen.frequency(3 -> negated,
      1 -> Gen.zip(negated, predGen(0, forms = 4)).map { case (n, p) => Bool("AND", n, p) })
    samples(for {
      c <- caseGen(Gen.choose(0, 11), forms = 4)
      p1 <- pred
      p2 <- pred
    } yield c.copy(p1 = p1, p2 = p2), 48)
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** Asserts the engine's rows equal the unpruned scan's and that the
    * engine planned in its own session (`parentProfile`) or in the
    * small-request clone; returns whether some spliced scan of the
    * engine's plan skipped a file. */
  private def assertSame(gatewaySql: String, referenceSql: String,
                         parentProfile: Boolean = false): Boolean = {
    val df = engine.query(gatewaySql, "")
    // a plan that reads no file is under any threshold
    val readsFiles = Engine.inputBytes(df.queryExecution.analyzed) > 0
    assert((df.sparkSession eq spark) == (parentProfile && readsFiles), gatewaySql)
    val got = rows(df)
    val want = rows(spark.sql(referenceSql))
    assert(got == want, s"\n$gatewaySql\nengine: ${got.size} rows, unpruned scan: " +
      s"${want.size} rows; engine only: ${got.diff(want).take(3)}, " +
      s"scan only: ${want.diff(got).take(3)}")
    df.queryExecution.analyzed.exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length < 3
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty // no file overlaps
      case _ => false
    }
  }

  /** Runs each case on both sides; the cases whose engine plan pruned. */
  private def prunedCases(cases: Seq[Case], parentProfile: Boolean): Seq[Case] =
    cases.filter(c => assertSame(c.sql("mydb.meas", gateway = true),
      c.sql(RefView, gateway = false), parentProfile))

  private def checkWrapperCases(parentProfile: Boolean): Unit = {
    assert(wrapperCases.map(_.wrapper).distinct.size == 10) // every wrapper is drawn
    val pruned = prunedCases(wrapperCases, parentProfile).size
    // the property is about pruned plans: most cases must skip a file
    assert(pruned >= wrapperCases.size / 2, s"only $pruned of ${wrapperCases.size} cases pruned")
  }

  private def checkShadowMixedCases(parentProfile: Boolean): Unit = {
    val pruned = prunedCases(shadowMixedCases, parentProfile)
    // each shape, and a TIMESTAMP literal, is drawn and prunes somewhere
    assert(pruned.map(_.wrapper).toSet == Set(0, 10, 11), pruned.map(_.wrapper))
    assert(pruned.exists(_.sql("mydb.meas", gateway = true).contains("TIMESTAMP '")))
  }

  private def checkNegatedCases(parentProfile: Boolean): Unit = {
    val pruned = prunedCases(negatedCases, parentProfile)
    // a lone negated one-sided bound prunes by its flipped bound: in a
    // wrapper that reads one relation through p1 alone
    assert(pruned.exists(c => c.wrapper <= 3 && (c.p1 match {
      case Not(Cmp(op, _, _)) => op != "="
      case _ => false
    })), s"no lone negated bound pruned among ${pruned.size} pruned cases")
  }

  test("generated time predicates under generated wrappers match an unpruned scan") {
    checkWrapperCases(parentProfile = false)
  }

  test("generated CTE shadowing, mixed time types and TIMESTAMP literals match an unpruned scan") {
    checkShadowMixedCases(parentProfile = false)
  }

  test("generated negated time bounds prune and match an unpruned scan") {
    checkNegatedCases(parentProfile = false)
  }

  test("the generated cases match through the engine session's plan profile too") {
    GraftTestSession.withConf("spark.sql.files.openCostInBytes" -> "1") {
      checkWrapperCases(parentProfile = true)
      checkShadowMixedCases(parentProfile = true)
      checkNegatedCases(parentProfile = true)
    }
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
