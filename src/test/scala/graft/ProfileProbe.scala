package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/**
 * Times `Engine.query`'s two plan profiles against each other on one
 * input file per size: the engine's own session, and the small-request
 * clone (one shuffle partition, no adaptive execution, no whole-stage
 * code generation, no broadcast join) over the plan it ships,
 * `Engine.SmallProfile.plan`, which reads each lake table as one
 * partition. Two request shapes of the gateway benchmark:
 *
 *  - breakdown: `event_type, count(*), sum(value) … GROUP BY event_type
 *    ORDER BY event_type` over an events-like file, every row in the window;
 *  - export: `SELECT *` of an eighth of a lineitem-like file's rows.
 *
 * Each request runs `Engine.splice`, plans its analyzed plan in the
 * profile under test and encodes the rows as JSON to a null writer, so
 * the time covers what the gateway does minus HTTP. Profiles alternate
 * request by request. A `new` window gives every request time literals
 * no earlier request had (a code-cache miss, as for a fresh dashboard
 * window); a `repeat` window sends the same literals every time. One
 * line per shape, size, window kind and profile: median and quartiles
 * in ms.
 *
 * {{{
 * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.ProfileProbe [sizes in MiB, comma-separated] [requests per profile]"
 * }}}
 */
object ProfileProbe {
  private val HourNs = 3600L * 1000000000L
  private val DayNs = 24 * HourNs
  private val T0 = 1704067200L * 1000000000L

  private def h(salt: Int) = xxhash64(col("id"), lit(salt))

  private def events(spark: SparkSession, rows: Long): DataFrame =
    spark.range(0L, rows, 1L, 4).select(
      (lit(T0) + pmod(h(1), lit(HourNs / 1000)) * 1000L).as("time"),
      col("id").as("event_id"),
      pmod(h(2), lit(1500L)).as("user_id"),
      element_at(typedLit(Seq("click", "error", "purchase", "signup", "view")),
        (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
      (round(-log((pmod(h(4), lit(1L << 24)) + 0.5) / (1L << 24).toDouble) * 200.0) / 4.0).as("value"))

  private def lineitem(spark: SparkSession, rows: Long): DataFrame =
    spark.range(0L, rows, 1L, 4).select(
      (lit(T0) + pmod(h(1), lit(DayNs / 1000)) * 1000L).as("time"),
      pmod(h(2), lit(150000L)).as("l_orderkey"),
      pmod(h(3), lit(20000L)).as("l_partkey"),
      pmod(h(4), lit(1000L)).as("l_suppkey"),
      (pmod(h(6), lit(50L)) + 1).cast("double").as("l_quantity"),
      ((lit(90068L) + pmod(h(7), lit(10409924L))) / 100.0).as("l_extendedprice"),
      (pmod(h(8), lit(11L)) / 100.0).as("l_discount"),
      element_at(typedLit(Seq("A", "N", "R")), (pmod(h(10), lit(3L)) + 1).cast("int")).as("l_returnflag"))

  private def writeOne(df: DataFrame, dir: File): Long = {
    df.coalesce(1).write.parquet(dir.getAbsolutePath)
    dir.listFiles().filterNot(_.getName.endsWith(".parquet")).foreach(_.delete())
    dir.listFiles().map(_.length).sum
  }

  private def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    def at(q: Double) = { val i = q * (s.size - 1); val lo = i.toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (i - lo) }
    (at(0.25), at(0.5), at(0.75))
  }

  def main(args: Array[String]): Unit = {
    val sizesMb = args.headOption.map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq(0.25, 1, 2, 4, 8, 16, 32, 64))
    val reps = args.lift(1).map(_.toInt).getOrElse(15)
    val cores = 4
    val spark = SparkSession.builder().master(s"local[$cores]").appName("profile-probe")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory(
      new File("target").toPath.toAbsolutePath, "profileprobe").toFile
    try {
      // rows per MiB from one calibration file per shape
      val shapes = Seq("breakdown" -> (events _), "export" -> (lineitem _)).map { case (name, gen) =>
        val bytes = writeOne(gen(spark, 200000L), new File(root, s"calib/$name"))
        (name, gen, 200000.0 * (1 << 20) / bytes)
      }
      val engine = new Engine(spark, new Catalog(root.getAbsolutePath))
      val profiles: Seq[(String, SparkSession, LogicalPlan => LogicalPlan)] = Seq(
        ("engine", spark, identity),
        ("small", new Engine.SmallProfile(spark).session(), Engine.SmallProfile.plan))
      var literal = 0L // a fresh offset for every `new` request
      for ((shape, gen, rowsPerMb) <- shapes; mb <- sizesMb) {
        val table = s"${shape}_${(mb * 1000).toLong}"
        val rows = math.round(rowsPerMb * mb)
        val bytes = writeOne(gen(spark, rows), new File(root, s"mydb/$table"))
        def sql(fresh: Boolean): String = {
          val k = if (fresh) { literal += 1; literal * 1000L } else 0L
          if (shape == "breakdown")
            s"SELECT event_type, count(*) AS n, sum(value) AS total FROM $table " +
              s"WHERE time >= ${T0 - k} AND time < ${T0 + HourNs + k} GROUP BY event_type ORDER BY event_type"
          else {
            val a = T0 + 3 * DayNs / 8 + k
            s"SELECT * FROM $table WHERE time >= $a AND time < ${a + DayNs / 8}"
          }
        }
        def run(session: SparkSession, plan: LogicalPlan => LogicalPlan, fresh: Boolean): Double = {
          val t = System.nanoTime()
          val spliced = engine.splice(sql(fresh), "mydb").toOption.get
          val df = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session,
            spliced.wrap(plan(spliced.analyzed)))
          graft.encoders.ResultEncoder.writeJson(df, java.io.OutputStream.nullOutputStream())
          (System.nanoTime() - t) / 1e6
        }
        // the first size of a shape also warms the JIT up, as a gateway's warm-up does
        val warmups = if (mb == sizesMb.head) 30 else 3
        for (fresh <- Seq(false, true)) {
          profiles.foreach { case (_, s, p) => (0 until warmups).foreach(_ => run(s, p, fresh)) }
          val times = (0 until reps).flatMap(_ => profiles.map { case (n, s, p) => n -> run(s, p, fresh) })
          profiles.foreach { case (n, _, _) =>
            val (q1, p50, q3) = quartiles(times.filter(_._1 == n).map(_._2))
            println(f"probe shape=$shape%-9s mb=${bytes / 1048576.0}%6.2f rows=$rows%9d " +
              f"window=${if (fresh) "new" else "repeat"}%-6s profile=$n%-6s " +
              f"p50=$p50%8.1f q1=$q1%8.1f q3=$q3%8.1f")
          }
        }
      }
    } finally {
      spark.stop()
      def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(root)
    }
  }
}
