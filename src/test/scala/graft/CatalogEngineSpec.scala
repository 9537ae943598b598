package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Catalog zone-map pruning (FIXTURES.md A4) + Engine end-to-end on a
 * fixture lake with an int64-ns `time` column.
 */
class CatalogEngineSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val HOUR_NS = 3600L * 1000000000L
  private val T0 = 1672531200000000000L // 2023-01-01T00:00:00Z

  /** Lake: mydb/meas/date=d/part.parquet + metadata.json, plus tmp/ junk. */
  private lazy val root: String = {
    val dir = tempDir("lake")
    import spark.implicits._
    def writeDay(day: Int): Unit = {
      val d = new File(dir, f"mydb/meas/date=2023-01-${day}%02d")
      d.mkdirs()
      val t0 = T0 + (day - 1) * 24 * HOUR_NS
      val rows = (0 until 24).map(h => (t0 + h * HOUR_NS, s"loc$day", day * 100.0 + h))
      rows.toDF("time", "location", "temperature").coalesce(1)
        .write.mode("overwrite").parquet(d.getAbsolutePath)
      // rename part file + write folder metadata.json
      val part = d.listFiles().find(_.getName.endsWith(".parquet")).get
      val tgt = new File(d, "part0.parquet")
      part.renameTo(tgt)
      d.listFiles().filter(f => f.getName.startsWith("_") || f.getName.endsWith(".crc"))
        .foreach(_.delete())
      val (mn, mx) = (rows.map(_._1).min, rows.map(_._1).max)
      Files.writeString(new File(d, "metadata.json").toPath,
        s"""{"type":"parquet","row_count":24,"min_time":$mn,"max_time":$mx,
           |"files":[{"path":"part0.parquet","row_count":24,"min_time":$mn,"max_time":$mx}]}"""
          .stripMargin)
    }
    (1 to 3).foreach(writeDay)
    val tmp = new File(dir, "mydb/meas/tmp"); tmp.mkdirs()
    Files.writeString(new File(tmp, "half.parquet").toPath, "junk")
    dir.getAbsolutePath
  }

  private lazy val catalog = new Catalog(root)
  private lazy val engine = new Engine(spark, catalog)

  /** The files each spliced scan of `df` reads, in plan order. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }

  test("databases / tables discovery") {
    assert(catalog.databases == Seq("mydb"))
    assert(catalog.tables("mydb") == Seq("meas"))
  }

  test("tmp/ dirs are skipped; all real files listed without range") {
    val fs = catalog.files("mydb", "meas")
    assert(fs.size == 3)
    assert(fs.forall(!_.path.contains("/tmp/")))
  }

  test("zone-map pruning selects exactly overlapping files") {
    // range = day 2 only
    val lo = T0 + 24 * HOUR_NS
    val hi = T0 + 47 * HOUR_NS
    val fs = catalog.files("mydb", "meas", Some((lo, hi)))
    assert(fs.size == 1 && fs.head.path.contains("date=2023-01-02"))
    // range spanning day 2-3 boundary
    assert(catalog.files("mydb", "meas", Some((hi, hi + HOUR_NS))).size == 2)
    // disjoint range
    assert(catalog.files("mydb", "meas", Some((T0 + 100 * 24 * HOUR_NS, Long.MaxValue))).isEmpty)
  }

  test("engine: canonical time-range query (bare literal, O9 rewrite)") {
    val df = engine.query(
      "SELECT time, location, temperature FROM mydb.meas " +
        "WHERE time >= '2023-01-02T00:00:00Z' AND time < '2023-01-03T00:00:00Z' " +
        "ORDER BY time", "")
    val rows = df.collect()
    assert(rows.length == 24)
    assert(rows.forall(_.getString(1) == "loc2"))
    assert(rows.head.getLong(0) == T0 + 24 * HOUR_NS)
  }

  test("engine: epoch_ns literal form") {
    val df = engine.query(
      "SELECT count(*) AS cnt FROM meas WHERE time >= epoch_ns('2023-01-03T00:00:00'::TIMESTAMP)",
      "mydb")
    assert(df.collect().head.getLong(0) == 24L)
  }

  test("engine: aggregation over full table") {
    val df = engine.query(
      "SELECT location, count(*) AS n FROM mydb.meas GROUP BY location ORDER BY location", "")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("loc1", 24L), ("loc2", 24L), ("loc3", 24L)))
  }

  test("engine: empty pruned set → empty DataFrame with schema (quirk §2.3-6 fix)") {
    // the schema comes from memoized footers: no Spark job before execution
    val (df, jobs) = SparkJobCounter(spark)(engine.query(
      "SELECT * FROM mydb.meas WHERE time >= '2030-01-01T00:00:00Z'", ""))
    assert(jobs == 0, s"empty-window query launched $jobs Spark job(s) before execution")
    assert(df.schema.map(f => (f.name, f.dataType)) == Seq(
      "time" -> org.apache.spark.sql.types.LongType,
      "location" -> org.apache.spark.sql.types.StringType,
      "temperature" -> org.apache.spark.sql.types.DoubleType))
    assert(df.count() == 0)
  }

  test("engine: SHOW DATABASES / SHOW TABLES") {
    assert(engine.query("SHOW DATABASES", "").collect().map(_.getString(0)).toSeq == Seq("mydb"))
    assert(engine.query("show tables", "mydb").collect().map(_.getString(0)).toSeq == Seq("meas"))
    // SQL-level db selection, both keywords
    assert(engine.query("SHOW TABLES FROM mydb", "").collect()
      .map(_.getString(0)).toSeq == Seq("meas"))
    assert(engine.query("show tables in mydb;", "otherdb").collect()
      .map(_.getString(0)).toSeq == Seq("meas"))
  }

  test("engine: table-free fallback (SELECT 1, version())") {
    val r = engine.query("SELECT 1 AS one, version() AS v", "").collect().head
    assert(r.getInt(0) == 1)
    assert(r.getString(1).startsWith("4."))
  }

  test("engine: join across two lake tables (all relations registered)") {
    import spark.implicits._
    val d = new File(root, "mydb/locdim"); d.mkdirs()
    Seq(("loc1", "west"), ("loc2", "east"), ("loc3", "north"))
      .toDF("location", "zone").coalesce(1)
      .write.mode("overwrite").parquet(d.getAbsolutePath)
    val df = engine.query(
      "SELECT l.zone, count(*) AS n FROM mydb.meas m " +
        "JOIN mydb.locdim l ON m.location = l.location " +
        "WHERE m.time >= '2023-01-02T00:00:00Z' " +
        "GROUP BY l.zone ORDER BY l.zone", "")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("east", 24L), ("north", 24L)))
  }

  test("alias-aware per-relation time extraction") {
    val plan = TimeRangeExtract.parse(spark,
      "SELECT * FROM mydb.meas m JOIN mydb.other o ON m.location = o.location " +
        "WHERE m.time >= '2023-01-02T00:00:00Z' AND o.time >= '2023-01-03T00:00:00Z'")
    val per = TimeRangeExtract.extractPerRelation(plan)
    assert(per("meas").start.contains(T0 + 24 * HOUR_NS))
    assert(per("other").start.contains(T0 + 48 * HOUR_NS))
    // unqualified time with MULTIPLE relations attributes to neither
    val plan2 = TimeRangeExtract.parse(spark,
      "SELECT * FROM mydb.meas m JOIN mydb.other o ON m.location = o.location " +
        "WHERE time >= '2023-01-02T00:00:00Z'")
    val per2 = TimeRangeExtract.extractPerRelation(plan2)
    assert(per2("meas").isEmpty && per2("other").isEmpty)
    // unqualified with a single relation still attributes
    val plan3 = TimeRangeExtract.parse(spark,
      "SELECT * FROM mydb.meas WHERE time >= '2023-01-02T00:00:00Z'")
    assert(TimeRangeExtract.extractPerRelation(plan3)
      .apply("meas").start.contains(T0 + 24 * HOUR_NS))
  }

  test("engine: non-lake relation falls through to spark catalog") {
    import spark.implicits._
    Seq((1, "x")).toDF("a", "b").createOrReplaceTempView("sidecar_tbl")
    val r = engine.query("SELECT b FROM sidecar_tbl WHERE a = 1", "").collect()
    assert(r.head.getString(0) == "x")
  }

  test("engine: UNION ALL branches with disjoint time windows keep all rows") {
    // the same table occurs twice with disjoint windows — intersecting
    // them would prune the shared view to nothing and silently return 0
    val df = engine.query(
      "SELECT time FROM mydb.meas WHERE time < '2023-01-02T00:00:00Z' " +
        "UNION ALL " +
        "SELECT time FROM mydb.meas WHERE time >= '2023-01-03T00:00:00Z'", "")
    assert(df.count() == 48) // day 1 + day 3
  }

  test("engine: self-join with per-alias disjoint windows keeps rows") {
    val df = engine.query(
      "SELECT a.time, b.time AS tb FROM mydb.meas a JOIN mydb.meas b " +
        "ON a.location <> b.location " +
        "WHERE a.time < '2023-01-02T00:00:00Z' AND b.time >= '2023-01-03T00:00:00Z'", "")
    assert(df.count() == 24L * 24L) // day-1 rows × day-3 rows
    // AND each occurrence's scan is pruned by ITS OWN alias's window:
    // the a-side reads only day-1's file, the b-side only day-3's
    val scans = scannedFiles(df)
    assert(scans.size == 2)
    assert(scans.forall(_.size == 1), scans)
    assert(scans.flatten.exists(_.contains("date=2023-01-01")))
    assert(scans.flatten.exists(_.contains("date=2023-01-03")))
  }

  test("engine: bare-table UNION ALL branches each prune by their own window") {
    // each occurrence carries only the filter on its own path: the
    // first branch reads day 1's file, the second day 3's
    val df = engine.query(
      "SELECT time FROM mydb.meas WHERE time < '2023-01-02T00:00:00Z' " +
        "UNION ALL SELECT time FROM mydb.meas WHERE time >= '2023-01-03T00:00:00Z'", "")
    assert(df.count() == 48L)
    val scans = scannedFiles(df)
    assert(scans.map(_.size) == Seq(1, 1), scans)
    assert(scans(0).head.contains("date=2023-01-01") && scans(1).head.contains("date=2023-01-03"))
  }

  test("engine: a negated time bound prunes like the flipped bound") {
    // NOT (time >= day 3) is time < day 3: days 1 and 2 are read
    val day3 = "'2023-01-03T00:00:00Z'"
    val df = engine.query(s"SELECT time, location, temperature FROM mydb.meas WHERE NOT (time >= $day3)", "")
    val scans = scannedFiles(df)
    assert(scans.map(_.size) == Seq(2), scans)
    assert(!scans.flatten.exists(_.contains("date=2023-01-03")), scans)
    val unpruned = spark.read.parquet(catalog.prunedPaths("mydb", "meas", None): _*)
      .where(s"NOT (time >= ${T0 + 48 * HOUR_NS})")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(df).size == 48)
    assert(rows(df) == rows(unpruned.select("time", "location", "temperature")))
  }

  test("engine: a pass-through subquery prunes; a computed time column does not") {
    def run(sql: String) = {
      val df = engine.query(sql, "")
      (df.collect().head.getLong(0), scannedFiles(df).map(_.size))
    }
    // bare, starred and re-aliased pass-throughs read only day 3's file
    Seq("SELECT count(*) AS n FROM (SELECT * FROM mydb.meas) WHERE time >= '2023-01-03T00:00:00Z'",
        "SELECT count(*) AS n FROM (SELECT time, location FROM mydb.meas m) s " +
          "WHERE s.time >= '2023-01-03T00:00:00Z'",
        "SELECT count(*) AS n FROM (SELECT m.time AS time FROM mydb.meas m ORDER BY time) s " +
          "WHERE '2023-01-03T00:00:00Z' <= s.time").foreach { sql =>
      assert(run(sql) == ((24L, Seq(1))), sql)
    }
    // a shifted, aggregated or limited `time` is a different column:
    // the scan stays whole and the answers match an unpruned scan
    assert(run("SELECT count(*) AS n FROM (SELECT time + 86400000000000 AS time FROM mydb.meas) " +
      "WHERE time >= '2023-01-03T00:00:00Z'") == ((48L, Seq(3))))
    assert(run("SELECT count(*) AS n FROM (SELECT min(time) AS time FROM mydb.meas) " +
      "WHERE time >= '2023-01-02T00:00:00Z'") == ((0L, Seq(3))))
    assert(run("SELECT count(*) AS n FROM (SELECT * FROM mydb.meas ORDER BY time LIMIT 10) " +
      "WHERE time >= '2023-01-02T00:00:00Z'") == ((0L, Seq(3))))
  }

  test("engine: multi-occurrence table disables pruning (extract level)") {
    val plan = TimeRangeExtract.parse(spark,
      "SELECT * FROM mydb.meas WHERE time < '2023-01-02T00:00:00Z' " +
        "UNION ALL SELECT * FROM mydb.meas WHERE time >= '2023-01-03T00:00:00Z'")
    assert(TimeRangeExtract.extractPerRelation(plan)("meas").isEmpty)
  }

  test("engine: db.table inside a string literal is not rewritten") {
    val df = engine.query(
      "SELECT 'mydb.meas' AS lit_val, count(*) AS n FROM mydb.meas", "")
    val r = df.collect().head
    assert(r.getString(0) == "mydb.meas")
    assert(r.getLong(1) == 72L)
  }

  test("engine: lake table referenced only inside a subquery is registered") {
    val df = engine.query(
      "SELECT count(*) AS n FROM mydb.meas m WHERE m.location IN " +
        "(SELECT l.location FROM mydb.locdim l WHERE l.zone = 'east')", "")
    assert(df.collect().head.getLong(0) == 24L)
  }

  test("engine: same-named tables in different dbs read BOTH tables") {
    import spark.implicits._
    // a second db holding its own `meas` with different content — the
    // view name must carry the db or both references silently read one
    val d = new File(root, "otherdb/meas"); d.mkdirs()
    Seq((T0, "locX", 999.0), (T0 + HOUR_NS, "locY", 998.0))
      .toDF("time", "location", "temperature").coalesce(1)
      .write.mode("overwrite").parquet(d.getAbsolutePath)
    val counts = engine.query(
      "SELECT (SELECT count(*) FROM mydb.meas) AS a, " +
        "(SELECT count(*) FROM otherdb.meas) AS b", "").collect().head
    assert(counts.getLong(0) == 72L && counts.getLong(1) == 2L)
    // cross-db join between the same-named tables
    val j = engine.query(
      "SELECT count(*) AS n FROM mydb.meas m JOIN otherdb.meas o " +
        "ON m.location <> o.location", "")
    assert(j.collect().head.getLong(0) == 72L * 2L)
    // bare name still resolves through the default db
    assert(engine.query("SELECT count(*) AS n FROM meas", "otherdb")
      .collect().head.getLong(0) == 2L)
  }

  test("engine: literal rewrite is alias-scoped in mixed time-type joins") {
    import spark.implicits._
    // a lake table whose `time` is a native TIMESTAMP, not int64 ns —
    // its literals must NOT be rewritten to epoch-ns longs
    val d = new File(root, "tsdb/tsev"); d.mkdirs()
    Seq(("loc2", java.time.Instant.parse("2023-01-01T10:00:00Z")),
        ("loc2", java.time.Instant.parse("2023-01-01T20:00:00Z")),
        ("loc3", java.time.Instant.parse("2023-01-01T10:00:00Z")))
      .toDF("location", "time").coalesce(1)
      .write.mode("overwrite").parquet(d.getAbsolutePath)
    val df = engine.query(
      "SELECT count(*) AS n FROM mydb.meas m JOIN tsdb.tsev e " +
        "ON m.location = e.location " +
        "WHERE m.time >= '2023-01-02T00:00:00Z' " +   // long side: ns rewrite
        "AND e.time < '2023-01-01T12:00:00Z'", "")    // ts side: native semantics
    // e rows before noon: (loc2,10h),(loc3,10h); m rows from day 2 on:
    // 24×loc2 (day 2) + 24×loc3 (day 3)
    assert(df.collect().head.getLong(0) == 48L)
  }

  test("engine: metadata and SHOW answers run no Spark job, encoding included") {
    import graft.encoders.{ArrowEncoder, ResultEncoder}
    def encoded(df: org.apache.spark.sql.DataFrame): (String, String, Seq[Byte]) = {
      val arrow = new java.io.ByteArrayOutputStream()
      ArrowEncoder.writeStream(df, arrow)
      (ResultEncoder.toJsonString(df), ResultEncoder.toNdjsonString(df), arrow.toByteArray.toSeq)
    }
    val tables = catalog.tables("mydb").map(t => s"""{"table_name":"$t"}""")
    Seq("SELECT count(*) FROM mydb.meas" -> """{"results":[{"count(1)":"72"}]}""",
        "SHOW TABLES" -> tables.mkString("{\"results\":[", ",", "]}")).foreach {
      case (sql, json) =>
        val (out, jobs) = SparkJobCounter(spark)(encoded(engine.query(sql, "")))
        assert(jobs == 0, s"$sql: $jobs Spark job(s)")
        assert(out._1 == json)
        // the same rows from a frame that is not a local relation, so
        // streamed partition by partition: every encoding's bytes agree
        assert(out == encoded(engine.query(sql, "").coalesce(1)), sql)
    }
  }

  test("engine: unfiltered count(*) is answered from metadata, zero files read") {
    import spark.implicits._
    val dir = tempDir("metacount")
    val d = new File(dir, "mydb/mc"); d.mkdirs()
    Seq((T0, 1.0), (T0 + HOUR_NS, 2.0)).toDF("time", "v").coalesce(1)
      .write.mode("overwrite").parquet(d.getAbsolutePath)
    val part = d.listFiles().find(_.getName.endsWith(".parquet")).get
    val tgt = new File(d, "part0.parquet"); part.renameTo(tgt)
    Files.writeString(new File(d, "metadata.json").toPath,
      s"""{"type":"parquet","row_count":2,"min_time":$T0,"max_time":${T0 + HOUR_NS},
         |"files":[{"path":"part0.parquet","row_count":2,"min_time":$T0,"max_time":${T0 + HOUR_NS}}]}"""
        .stripMargin)
    val eng = new Engine(spark, new Catalog(dir.getAbsolutePath))
    // auto-name must match what a real scan produces
    assert(spark.range(1).selectExpr("count(*)").columns.head == "count(1)")
    // a metadata answer runs no Spark job end to end (query AND
    // collect) — no file is read; an unprovable shape must scan
    def run(sql: String) = SparkJobCounter(spark)(eng.query(sql, "").collect().head)
    def fromMeta(sql: String) = {
      val (row, jobs) = run(sql)
      assert(jobs == 0, s"$sql read files: $jobs Spark job(s)")
      row
    }
    def scanned(sql: String) = {
      val (row, jobs) = run(sql)
      assert(jobs > 0, s"$sql was answered without a scan")
      row
    }
    assert(eng.query("SELECT count(*) FROM mydb.mc", "").columns.toSeq == Seq("count(1)"))
    assert(fromMeta("SELECT count(*) FROM mydb.mc").getLong(0) == 2L)
    assert(fromMeta("SELECT count(*) AS n FROM mydb.mc").getLong(0) == 2L)
    // min/max(time) come from the zone maps in the same fast path,
    // mixed with count in one statement
    val stats = fromMeta("SELECT count(*) AS n, min(time) AS lo, max(time) AS hi FROM mydb.mc")
    assert(stats.getLong(0) == 2L && stats.getLong(1) == T0 &&
      stats.getLong(2) == T0 + HOUR_NS)
    assert(eng.query("SELECT min(time) FROM mydb.mc", "")
      .columns.toSeq == Seq("min(time)"))
    // a time range that FULLY COVERS the file's zone map is still
    // provable from metadata (day-bucketed dashboard counts)
    assert(fromMeta(
      s"SELECT count(*) AS n FROM mydb.mc WHERE time >= $T0 AND time <= ${T0 + HOUR_NS}")
      .getLong(0) == 2L)
    // a range that SPLITS the file (partial overlap) is unprovable and
    // must scan
    assert(scanned(s"SELECT count(*) FROM mydb.mc WHERE time > $T0").getLong(0) == 1L)
    // a non-time predicate must scan too
    assert(scanned(s"SELECT count(*) FROM mydb.mc WHERE time >= $T0 AND v > 0")
      .getLong(0) == 2L)
    // a non-metadata aggregate alongside count must scan
    assert(scanned("SELECT count(*), avg(v) FROM mydb.mc").getLong(0) == 2L)
  }

  test("engine: a sidecar entry whose file is gone is not counted") {
    val root = tempDir("stale").toString
    // 1000 rows over 5 days: one file per date folder
    val ev = spark.range(1000).select((lit(T0) + col("id") * (5 * 24 * HOUR_NS / 1000)).as("time"),
      col("id").cast("double").as("value"))
    LakeWriter.write(root, "mydb", "st", ev.coalesce(1))
    val files = new Catalog(root).files("mydb", "st")
    assert(files.size > 1)
    // delete one data file; its folder's metadata.json keeps the entry
    assert(new File(files.head.path).delete())
    import scala.jdk.CollectionConverters._
    val onDisk = org.apache.commons.io.FileUtils
      .listFiles(new File(root), Array("parquet"), true).asScala.map(_.getPath).toSeq
    val scan = spark.read.parquet(onDisk: _*).count()
    val (meta, jobs) = SparkJobCounter(spark)(
      new Engine(spark, new Catalog(root)).query("SELECT count(*) AS n FROM mydb.st", "")
        .collect().head.getLong(0))
    assert(jobs == 0, "the count must come from metadata")
    assert(meta == scan)
  }

  test("engine: count(*) falls back to a scan when any file lacks row_count") {
    import spark.implicits._
    val dir = tempDir("metacount2")
    val d = new File(dir, "mydb/mc2"); d.mkdirs()
    Seq((T0, 1.0), (T0 + HOUR_NS, 2.0), (T0 + 2 * HOUR_NS, 3.0))
      .toDF("time", "v").coalesce(1)
      .write.mode("overwrite").parquet(d.getAbsolutePath) // no metadata.json
    val eng = new Engine(spark, new Catalog(dir.getAbsolutePath))
    assert(new Catalog(dir.getAbsolutePath).metadataStats("mydb", "mc2")._1.isEmpty)
    assert(eng.query("SELECT count(*) AS n FROM mydb.mc2", "")
      .collect().head.getLong(0) == 3L) // real scan, correct answer
  }

  test("engine: DESCRIBE over a lake table resolves through the splice") {
    val rows = engine.query("DESCRIBE SELECT * FROM mydb.meas", "")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("time", "bigint"), ("location", "string"),
      ("temperature", "double")))
  }

  test("engine: EXPLAIN over a lake table resolves through the splice") {
    val text = engine.query(
      "EXPLAIN SELECT count(*) FROM mydb.meas WHERE time >= '2023-01-03T00:00:00Z'", "")
      .collect().map(_.getString(0)).mkString
    assert(text.contains("Scan parquet") || text.contains("Relation"), text)
    assert(!text.toLowerCase.contains("unresolved"), text)
  }

  test("engine: a command over a lake table runs in the engine's session") {
    // its query reads three small files, but the view it makes must be
    // registered where later queries look for it, not in the small clone
    val df = engine.query("CREATE OR REPLACE TEMP VIEW meas_day2 AS SELECT location " +
      "FROM mydb.meas WHERE time >= '2023-01-02T00:00:00Z' AND time < '2023-01-03T00:00:00Z'", "")
    try {
      assert(df.sparkSession eq spark)
      assert(spark.catalog.tableExists("meas_day2"))
    } finally spark.catalog.dropTempView("meas_day2")
  }

  test("engine: a temp view made over a lake table reads back through the engine") {
    val select = "SELECT location, temperature FROM mydb.meas " +
      "WHERE time >= '2023-01-02T00:00:00Z' AND time < '2023-01-03T00:00:00Z'"
    engine.query(s"CREATE OR REPLACE TEMP VIEW meas_day2_rows AS $select", "")
    try {
      val back = engine.query("SELECT * FROM meas_day2_rows ORDER BY temperature", "")
        .collect().toSeq
      assert(back.size == 24)
      assert(back == engine.query(s"$select ORDER BY temperature", "").collect().toSeq)
    } finally spark.catalog.dropTempView("meas_day2_rows")
  }

  test("engine: an input of unknown size plans in the engine's session") {
    import org.apache.spark.sql.types._
    val rows = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("loc2")), 1)
    spark.createDataFrame(rows, StructType(Seq(StructField("location", StringType))))
      .createOrReplaceTempView("rdd_locs")
    try {
      val lakeOnly = engine.query("SELECT count(*) FROM mydb.meas WHERE temperature > 0", "")
      assert(lakeOnly.sparkSession ne spark) // three small files: the small profile
      val joined = engine.query(
        "SELECT count(*) FROM mydb.meas m JOIN rdd_locs r ON m.location = r.location", "")
      assert(joined.sparkSession eq spark)
      assert(joined.collect().head.getLong(0) == 24L)
      // two unknown sizes add up past Long.MaxValue instead of wrapping
      val twice = engine.query("SELECT count(*) FROM mydb.meas m " +
        "JOIN rdd_locs a ON m.location = a.location JOIN rdd_locs b ON a.location = b.location", "")
      assert(Engine.inputBytes(twice.queryExecution.analyzed) > BigInt(Long.MaxValue))
      assert(twice.sparkSession eq spark)
    } finally spark.catalog.dropTempView("rdd_locs")
  }

  test("engine: CTE name shadows a same-named lake table") {
    val df = engine.query(
      "WITH meas AS (SELECT 42 AS v) SELECT v FROM meas", "mydb")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(42))
  }

  test("engine: non-recursive CTE reading its own name sees the LAKE table") {
    // standard SQL: without RECURSIVE, a definition's own name is not
    // in scope inside itself — `WITH meas AS (SELECT ... FROM meas)`
    // reads the base (lake) table
    val df = engine.query(
      "WITH meas AS (SELECT time FROM meas WHERE time < '2023-01-02T00:00:00Z') " +
        "SELECT count(*) AS n FROM meas", "mydb")
    assert(df.collect().head.getLong(0) == 24L) // day-1 rows of the lake table
  }

  test("engine: CTE visibility is sequential — an earlier def sees the lake table, not a later CTE") {
    // `WITH a AS (... FROM meas), meas AS (...)`: inside a's definition
    // the LATER sibling CTE `meas` is not yet visible (SQL-standard
    // sequential scoping), so `meas` must splice to the lake table
    val df = engine.query(
      "WITH a AS (SELECT count(*) AS n FROM meas), " +
        "meas AS (SELECT 1 AS one) " +
        "SELECT a.n, (SELECT count(*) FROM meas) AS m FROM a", "mydb")
    val row = df.collect().head
    assert(row.getLong(0) == 72L) // lake table, all 3 days
    assert(row.getLong(1) == 1L)  // the child scope sees the CTE
  }

  test("engine: CTE shadowing is scoped — a subquery's CTE does not hide the lake table outside it") {
    // a CTE named `meas` lives INSIDE a scalar subquery; the outer bare
    // `meas` must still resolve to the lake table. A statement-global
    // shadow set would leave the outer reference unregistered and fail.
    val df = engine.query(
      "SELECT (SELECT max(v) FROM (WITH meas AS (SELECT 42 AS v) " +
        "SELECT v FROM meas)) AS cte_v, count(*) AS n FROM meas", "mydb")
    val row = df.collect().head
    assert(row.getInt(0) == 42)
    assert(row.getLong(1) == 72L) // full lake table row count
    // and the converse still holds: inside the WITH scope the CTE wins
    val df2 = engine.query(
      "WITH meas AS (SELECT 42 AS v) SELECT (SELECT count(*) FROM meas) AS n", "mydb")
    assert(df2.collect().head.getLong(0) == 1L)
  }

  test("engine: outer window does not prune a subquery over the same table") {
    // outer restricts to day 3; subquery aggregates over ALL days — if the
    // outer window pruned the shared view, min(time) would be day-3's start
    val df = engine.query(
      "SELECT count(*) AS n FROM mydb.meas " +
        "WHERE time >= '2023-01-03T00:00:00Z' " +
        "AND time > (SELECT min(time) FROM mydb.meas)", "")
    assert(df.collect().head.getLong(0) == 24L)
  }

  /** `sql` through the engine and the JSON encoder, as the gateway runs
    * it, with what Spark ran for it; then its rows and executed plan. */
  private def encoded(eng: Engine, sql: String)
      : (SparkJobCounter.Counts, Seq[String], String) = {
    val (df, counts) = SparkJobCounter.counts(spark) {
      val df = eng.query(sql, "")
      graft.encoders.ResultEncoder.writeJson(df, java.io.OutputStream.nullOutputStream())
      df
    }
    (counts, df.collect().map(_.toSeq.mkString("|")).toSeq, df.queryExecution.executedPlan.toString)
  }

  private val OneTask = SparkJobCounter.Counts(jobs = 1, stages = 1, tasks = 1, shuffleBytes = 0)

  private def assertOneTask(eng: Engine, sql: String, want: Seq[String]): String = {
    val (counts, rows, plan) = encoded(eng, sql)
    assert(rows == want, plan)
    assert(counts == OneTask, plan)
    assert(!plan.contains("Exchange") && plan.contains("Coalesce 1"), plan)
    plan
  }

  private val Day2 = "time >= '2023-01-02T00:00:00Z' AND time < '2023-01-03T00:00:00Z'"

  test("small profile: a GROUP BY … ORDER BY breakdown runs as one task") {
    val plan = assertOneTask(engine, "SELECT location, count(*) AS n, sum(temperature) AS t " +
      s"FROM mydb.meas WHERE $Day2 GROUP BY location ORDER BY location", Seq("loc2|24|5076.0"))
    assert(plan.contains("PushedFilters: [IsNotNull(time), GreaterThanOrEqual(time,"), plan)
  }

  test("small profile: an ORDER BY … LIMIT runs as one task") {
    assertOneTask(engine, s"SELECT location, temperature FROM mydb.meas WHERE $Day2 " +
      "ORDER BY temperature DESC LIMIT 3", Seq("loc2|223.0", "loc2|222.0", "loc2|221.0"))
  }

  test("small profile: a window over three files runs as one task") {
    val sql = "SELECT location, count(*) AS n FROM mydb.meas WHERE time >= '2023-01-01T12:00:00Z' " +
      "AND time < '2023-01-03T12:00:00Z' GROUP BY location ORDER BY location"
    assert(scannedFiles(engine.query(sql, "")).map(_.size) == Seq(3))
    assertOneTask(engine, sql, Seq("loc1|12", "loc2|24", "loc3|12"))
  }

  test("small profile: a table with two footer schemas runs as one task") {
    val dir = tempDir("twoschemas")
    import spark.implicits._
    Seq((T0, "loc1", 1.0)).toDF("time", "location", "temperature").coalesce(1)
      .write.parquet(new File(dir, "mydb/evolve/date=2023-01-01").getAbsolutePath)
    Seq((T0 + 24 * HOUR_NS, "loc2", 2.0, 50L)).toDF("time", "location", "temperature", "humidity")
      .coalesce(1).write.parquet(new File(dir, "mydb/evolve/date=2023-01-02").getAbsolutePath)
    val plan = assertOneTask(new Engine(spark, new Catalog(dir.getAbsolutePath)),
      "SELECT location, count(*) AS n, sum(humidity) AS h FROM mydb.evolve " +
        "GROUP BY location ORDER BY location", Seq("loc1|1|null", "loc2|1|50"))
    assert(plan.contains("Union"), plan)
  }

  test("small profile: a self-join runs as one task, without a broadcast") {
    val plan = assertOneTask(engine, "SELECT a.location, count(*) AS pairs " +
      "FROM mydb.meas a JOIN mydb.meas b ON a.location = b.location " +
      "WHERE a.time < '2023-01-02T00:00:00Z' AND b.time >= '2023-01-01T12:00:00Z' " +
      "AND b.time < '2023-01-02T00:00:00Z' GROUP BY a.location ORDER BY a.location",
      Seq("loc1|288"))
    assert(plan.contains("SortMergeJoin") && !plan.contains("Broadcast"), plan)
  }

  test("small profile: EXPLAIN prints the plan the request runs") {
    val sql = s"SELECT location, count(*) AS n FROM mydb.meas WHERE $Day2 " +
      "GROUP BY location ORDER BY location"
    assertOneTask(engine, sql, Seq("loc2|24"))
    val text = engine.query(s"EXPLAIN $sql", "").collect().map(_.getString(0)).mkString
    assert(text.contains("Coalesce 1") && !text.contains("Exchange"), text)
  }

  test("engine session: the same breakdown still plans its exchange") {
    GraftTestSession.withConf("spark.sql.files.openCostInBytes" -> "1") {
      val (counts, rows, plan) = encoded(engine, "SELECT location, count(*) AS n, " +
        s"sum(temperature) AS t FROM mydb.meas WHERE $Day2 GROUP BY location ORDER BY location")
      assert(rows == Seq("loc2|24|5076.0"))
      assert(plan.contains("Exchange") && !plan.contains("Coalesce 1"), plan)
      assert(counts.shuffleBytes > 0, counts)
    }
  }
}
