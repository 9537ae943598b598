package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Schema-drift canary for the `ts` int64-ns contract.
 *
 * The test lake's `events.ts` physical annotation is not under our
 * control — it has shipped as TIMESTAMP(NANOS) in one regeneration and
 * plain timestamp[us] in the next, which silently broke every
 * time-series query once (round 7). This spec writes the SAME events
 * rows under every physical encoding the lake could plausibly ship:
 *
 *   - int64:  plain INT64 ns (what nanosAsLong yields for NANOS files)
 *   - us_ltz: µs TIMESTAMP, isAdjustedToUTC=true  → TimestampType
 *   - us_ntz: µs TIMESTAMP, isAdjustedToUTC=false → TimestampNTZType
 *   - nanos:  INT64 annotated TIMESTAMP(NANOS,true), written through
 *             parquet-hadoop directly (Spark cannot author this
 *             annotation itself; the lake's generator can and did)
 *
 * and asserts every TimeSeries query ANALYZES and returns identical
 * rows on all of them. If the driver regenerates testdata under yet
 * another annotation, this spec — not 16 production queries — fails.
 */
class TsEncodingSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  /** Baseline rows: the real lake file, normalized by Tables, then
    * truncated to µs-aligned ns ONCE — the µs encodings cannot carry
    * sub-µs digits, and the canary tests ENCODING equivalence, not
    * resolution (a future sub-µs lake must not false-alarm here). */
  private lazy val base: DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts", expr("ts - pmod(ts, 1000L)"))

  // each encoding lives in its own dir as <dir>/events.parquet so the
  // unmodified Tables.load path (cache, configure, normalizeTs) is on trial
  private lazy val dirs: Map[String, String] = {
    Tables.configure(spark)
    val int64 = tempDir("ts-int64")
    base.coalesce(1).write.mode("overwrite")
      .parquet(s"$int64/events.parquet")

    val usLtz = tempDir("ts-usltz")
    base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$usLtz/events.parquet")

    val usNtz = tempDir("ts-usntz")
    base.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$usNtz/events.parquet")

    val nanos = tempDir("ts-nanos")
    writeNanosAnnotated(s"$nanos/events.parquet")

    Map("int64" -> int64.toString, "us_ltz" -> usLtz.toString,
      "us_ntz" -> usNtz.toString, "nanos" -> nanos.toString)
  }

  /** Author a genuine TIMESTAMP(NANOS,true) parquet file — the one
    * annotation Spark can read (as long, via nanosAsLong) but never
    * write — so the pre-drift lake layout stays covered forever. */
  private def writeNanosAnnotated(path: String): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    try {
      base.collect().foreach { r => // 1000 rows — driver-side by design
        val g = factory.newGroup()
        g.append("event_id", r.getLong(0)).append("ts", r.getLong(1))
          .append("user_id", r.getLong(2)).append("event_type", r.getString(3))
          .append("value", r.getDouble(4)).append("props", r.getString(5))
        writer.write(g)
      }
    } finally writer.close()
  }

  test("every physical ts encoding surfaces as the int64-ns contract") {
    dirs.foreach { case (enc, dir) =>
      val df = Tables.load(spark, dir, "events")
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType, s"encoding $enc")
      assert(df.count() == 1000, s"encoding $enc")
    }
  }

  test("footer memo resolves every encoding exactly as Spark inference does") {
    dirs.foreach { case (enc, dir) =>
      // NANOS is a bare file; the Spark-written encodings are directories
      val table = s"$dir/events.parquet"
      val files = Seq(table) ++ Option(new java.io.File(table).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      files.foreach { p =>
        val inferred = spark.read.parquet(p).schema
        assert(spark.read.schema(Tables.footerSchema(spark, p)).parquet(p).schema == inferred,
          s"encoding $enc: $p")
        assert(Tables.footerSchema(spark, p).map(_.dataType) == inferred.map(_.dataType),
          s"encoding $enc: $p")
      }
    }
  }

  test("mixed annotations WITHIN one table read as the unified ns contract") {
    // the drift landing mid-table: one plain-int64 file + one µs file
    // in the same directory. readEvolving must normalize per schema
    // group BEFORE widening (widen(Long, Timestamp) is unwidenable)
    // and return the full union on the int64-ns contract.
    val d = tempDir("ts-mixed")
    base.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$d/part-int64")
    base.filter(col("event_id") % 2 === 1)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .coalesce(1).write.parquet(s"$d/part-us")
    val paths = Seq(s"$d/part-int64", s"$d/part-us").flatMap { p =>
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath)
    }
    val df = Tables.readEvolving(spark, paths)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(df.count() == 1000)
    val expected = base.select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(df.select("event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  /** Author a TIMESTAMP(NANOS,true) readings file on the engine's own
    * lake schema (time, kind, value) — the foreign-table face of the
    * same drift. */
  private def writeNanosReadings(path: String): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    val schema = Types.buildMessage()
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("time")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("kind")
      .optional(DOUBLE).named("value")
      .named("readings")
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    try {
      base.select("ts", "event_type", "value").collect().foreach { r =>
        val g = factory.newGroup()
        g.append("time", r.getLong(0)).append("kind", r.getString(1))
          .append("value", r.getDouble(2))
        writer.write(g)
      }
    } finally writer.close()
  }

  test("engine foreign-table time column agrees across physical encodings") {
    // the SAME canary on the engine's own lake contract: a foreign
    // table (not written by LakeWriter) whose `time` column ships under
    // any of the four plausible physical encodings must answer an
    // Engine time-range query with identical rows and the int64-ns
    // schema — this is where the next annotation flip of an
    // Engine-registered lake gets caught by a unit test.
    val readings = base.select(col("ts").as("time"),
      col("event_type").as("kind"), col("value"))
    def mkLake(enc: String): String = {
      val root = tempDir(s"lake-$enc").toString
      val dst = s"$root/extdb/readings"
      enc match {
        case "int64" => readings.coalesce(1).write.parquet(dst)
        case "us_ltz" => readings
          .withColumn("time", timestamp_micros(expr("time div 1000")))
          .coalesce(1).write.parquet(dst)
        case "us_ntz" => readings
          .withColumn("time",
            timestamp_micros(expr("time div 1000")).cast("timestamp_ntz"))
          .coalesce(1).write.parquet(dst)
        case "nanos" => writeNanosReadings(s"$dst/part0.parquet")
      }
      root
    }
    val sql = "SELECT time, kind, value FROM extdb.readings " +
      "WHERE time >= '2024-01-10T00:00:00Z' AND time < '2024-01-12T00:00:00Z'"
    val results = Seq("int64", "us_ltz", "us_ntz", "nanos").map { enc =>
      val engine = new Engine(spark, new Catalog(mkLake(enc)))
      val df = engine.query(sql, "")
      assert(df.schema("time").dataType ==
        org.apache.spark.sql.types.LongType, s"encoding $enc")
      enc -> df.collect().map(_.toString).sorted.toSeq
    }.toMap
    assert(results("int64").nonEmpty, "fixture range must match rows")
    Seq("us_ltz", "us_ntz", "nanos").foreach { enc =>
      assert(results(enc) == results("int64"),
        s"engine rows differ on $enc (${results(enc).size} vs ${results("int64").size})")
    }
  }

  test("all TimeSeries queries analyze and agree across ts encodings") {
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val failures = scala.collection.mutable.ListBuffer[String]()
    graft.queries.TimeSeries.queries.foreach { case (name, fn) =>
      try {
        // no nonEmpty assert: q99's 500 ms band legitimately matches no
        // pairs in the 1000-row fixture — agreement is the contract here
        val expected = canon(fn(spark, dirs("int64")))
        Seq("us_ltz", "us_ntz", "nanos").foreach { enc =>
          val got = canon(fn(spark, dirs(enc)))
          if (got != expected)
            failures += s"$name differs on $enc (${got.size} vs ${expected.size} rows)"
        }
      } catch {
        case e: Throwable =>
          failures += s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
