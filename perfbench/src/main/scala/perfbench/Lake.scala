package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic lake tables, generated deterministically (the data never
  * depends on the workload seed; only the request sequences do).
  *
  * The shapes follow the scale-0.1 `events` and `lineitem` reference
  * tables (measured figures in the README, "Lake calibration"): the same
  * columns, value ranges, cardinalities and densities, with independent
  * uniform draws where the reference's columns are uniform. Deliberate
  * differences: time is the lake's int64-ns `time` column that
  * `LakeWriter` and `Catalog` prune on; `events` covers 7 of the
  * reference's 30 days; `value` is rounded to quarters instead of cents,
  * so every sum of it is exact in a double whatever order rows are added
  * in; `lineitem` gets a synthetic `time` that packs its rows into a few
  * large day files. */
object Lake {
  val Db = "mydb"
  val NsPerSec = 1000000000L
  val HourNs: Long = 3600L * NsPerSec
  val DayNs: Long = 24L * HourNs
  /** 2024-01-01T00:00:00Z, where the reference `events` starts. */
  val T0: Long = 1704067200L * NsPerSec

  /** `events`: 7 days at date/hour, one file per hour (168 files). The
    * reference holds 100,000 rows over 720 hours (138.9 per hour, 100 to
    * 175 in an hour) at uniform random times; this keeps its density.
    * Writing 720 files took 20-30 s of every run's set-up, 336 files
    * 13-17 s and 168 files 12-14 s; the run budget has to carry a
    * warm-up too. */
  val EventDays = 7
  val EventHours: Int = EventDays * 24
  val EventRows: Long = math.round(100000.0 * EventHours / 720)
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val EventUsers = 1500L
  /** Mean of the reference's exponentially distributed `value`. */
  val EventValueMean = 50.0
  val EventsEnd: Long = T0 + EventHours * HourNs

  /** `events_live`: the `events` history, then quarter-hour slices
    * appended one by one from `EventsEnd` on, at the same density. */
  val SliceNs: Long = HourNs / 4
  val SlicesPerHour = 4
  val SliceRows: Long = math.round(100000.0 / 720 / SlicesPerHour)

  /** `lineitem`: the reference's 600k rows over 6 days at date, one file
    * per day. */
  val LineDays = 6
  val LinesPerDay = 100000
  /** The reference `l_shipdate`: midnights from 1995-01-02 on, 2499 days. */
  val ShipStartSec = 789004800L
  val ShipDays = 2499L

  private def h(salt: Int): Column = xxhash64(col("id"), lit(salt))
  private def pick(values: Seq[String], salt: Int): Column =
    element_at(typedLit(values), (pmod(h(salt), lit(values.size.toLong)) + 1).cast("int"))

  def events(spark: SparkSession): DataFrame =
    eventRows(spark, 0L, EventRows, lit(T0) + pmod(h(1), lit(EventHours * 3600000000L)) * 1000L)

  /** Slices `from` until `until` of `events_live`; slice k holds
    * `SliceRows` rows at uniform random µs of its quarter hour. */
  def liveSlices(spark: SparkSession, from: Int, until: Int): DataFrame = {
    val first = EventRows + from * SliceRows
    eventRows(spark, first, until.toLong * SliceRows - from * SliceRows,
      lit(EventsEnd) + expr(s"(id - $EventRows) div $SliceRows") * SliceNs +
        pmod(h(1), lit(SliceNs / 1000)) * 1000L)
  }

  private def eventRows(spark: SparkSession, first: Long, rows: Long, time: Column): DataFrame =
    spark.range(first, first + rows, 1L, 4).select(
      time.as("time"),
      col("id").as("event_id"),
      pmod(h(2), lit(EventUsers)).as("user_id"),
      pick(EventTypes, 3).as("event_type"),
      // exponential: -mean * ln(u) for u uniform in (0, 1), in quarters
      (round(-log((pmod(h(4), lit(1L << 24)) + 0.5) / (1L << 24).toDouble) *
        (EventValueMean * 4)) / 4.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))

  def lineitem(spark: SparkSession): DataFrame =
    spark.range(0L, LineDays.toLong * LinesPerDay, 1L, 4).select(
      (lit(T0) + expr(s"id div $LinesPerDay") * DayNs +
        pmod(h(1), lit(86400000000L)) * 1000L).as("time"),
      pmod(h(2), lit(150000L)).as("l_orderkey"),
      pmod(h(3), lit(20000L)).as("l_partkey"),
      pmod(h(4), lit(1000L)).as("l_suppkey"),
      (pmod(h(5), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(6), lit(50L)) + 1).cast("double").as("l_quantity"),
      ((lit(90068L) + pmod(h(7), lit(10499991L - 90068L + 1))) / 100.0).as("l_extendedprice"),
      (pmod(h(8), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(9), lit(9L)) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), 10).as("l_returnflag"),
      pick(Seq("F", "O"), 11).as("l_linestatus"),
      timestamp_seconds(lit(ShipStartSec) + pmod(h(12), lit(ShipDays)) * 86400L).as("l_shipdate"))

  /** The generator of a lake table by name, with the first `slices`
    * slices of a live table appended. */
  def table(spark: SparkSession, name: String, slices: Int = 0): DataFrame = name match {
    case "events" => events(spark)
    case "events_live" => events(spark).unionByName(liveSlices(spark, 0, slices))
    case "lineitem" => lineitem(spark)
  }
}
