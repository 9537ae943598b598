package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip: write a measurement through LakeWriter, read it back
  * through Catalog+Engine with zone-map pruning intact. */
class LakeWriterSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  test("write → catalog prune → engine query round-trip") {
    val root = tempDir("wlake").toString
    // events re-keyed to the reference contract (time as int64 ns)
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts").as("time"), col("event_type").as("location"),
        col("value").as("temperature"))
    LakeWriter.write(root, "mydb", "weather", ev)

    val catalog = new Catalog(root)
    assert(catalog.databases == Seq("mydb"))
    assert(catalog.tables("mydb") == Seq("weather"))
    val all = catalog.files("mydb", "weather")
    assert(all.nonEmpty && all.forall(f => f.minTime.isDefined && f.maxTime.isDefined))

    // zone maps actually prune: one specific day
    val lo = java.time.Instant.parse("2024-01-15T00:00:00Z")
    val loNs = lo.getEpochSecond * 1000000000L
    val hiNs = loNs + 24L * 3600 * 1000000000L
    val pruned = catalog.files("mydb", "weather", Some((loNs, hiNs - 1)))
    assert(pruned.size < all.size && pruned.nonEmpty)
    assert(pruned.forall(_.path.contains("date=2024-01-15")))

    // engine answers with correct counts vs direct source
    val engine = new Engine(spark, catalog)
    val n = engine.query(
      "SELECT count(*) AS cnt FROM mydb.weather " +
        "WHERE time >= '2024-01-15T00:00:00Z' AND time < '2024-01-16T00:00:00Z'", "")
      .collect().head.getLong(0)
    val expected = ev.filter(col("time") >= loNs && col("time") < hiNs).count()
    assert(n == expected && n > 0)
  }

  test("foreign table with timestamp-annotated time column still queries") {
    // a lake directory NOT written by LakeWriter: someone else's
    // parquet with `time` as a µs TIMESTAMP (the events-ts drift
    // scenario, but on the engine's own lake contract). readTable
    // normalizes it to int64 ns, so the epoch-ns literal rewrite
    // analyzes and returns the right rows.
    val root = tempDir("flake").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts").as("time"), col("event_type").as("kind"), col("value"))
    Tables.configure(spark)
    ev.withColumn("time", timestamp_micros(expr("time div 1000")))
      .coalesce(1).write.parquet(s"$root/extdb/readings")
    val engine = new Engine(spark, new Catalog(root))
    val lo = "2024-01-10T00:00:00Z"
    val hi = "2024-01-12T00:00:00Z"
    val n = engine.query(
      s"SELECT count(*) AS cnt FROM extdb.readings " +
        s"WHERE time >= '$lo' AND time < '$hi'", "")
      .collect().head.getLong(0)
    def ns(iso: String) = java.time.Instant.parse(iso).toEpochMilli * 1000000L
    val expected = ev.filter(col("time") >= ns(lo) && col("time") < ns(hi)).count()
    assert(n == expected && n > 0)
    // full projection carries the normalized int64-ns time column
    val row = engine.query(
      s"SELECT time FROM extdb.readings WHERE time >= '$lo' AND time < '$hi'", "")
    assert(row.schema("time").dataType == org.apache.spark.sql.types.LongType)
  }

  test("write publishes to a redis backend; engine round-trips through it") {
    val srv = new FakeRedisServer
    try {
      val root = tempDir("wlake4").toString
      val cat = new RedisCatalog(s"redis://localhost:${srv.port}")
      val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
        .select(col("ts").as("time"), col("event_type").as("location"),
          col("value").as("temperature"))
      LakeWriter.write(root, "mydb", "weather", ev, catalog = Some(cat))
      // discovery + stats came exclusively over the RESP wire
      assert(cat.databases == Seq("mydb"))
      assert(cat.tables("mydb") == Seq("weather"))
      val engine = new Engine(spark, cat)
      val loNs = java.time.Instant.parse("2024-01-15T00:00:00Z")
        .getEpochSecond * 1000000000L
      val hiNs = loNs + 24L * 3600 * 1000000000L
      val n = engine.query(
        "SELECT count(*) AS cnt FROM mydb.weather " +
          "WHERE time >= '2024-01-15T00:00:00Z' AND time < '2024-01-16T00:00:00Z'", "")
        .collect().head.getLong(0)
      assert(n == ev.filter(col("time") >= loNs && col("time") < hiNs).count() && n > 0)
      // pruning happened server-side: fewer files than the full set
      val all = cat.prunedPaths("mydb", "weather", None)
      val pruned = cat.prunedPaths("mydb", "weather", Some((loNs, hiNs - 1)))
      assert(pruned.nonEmpty && pruned.size < all.size)
      cat.close()
    } finally srv.stop()
  }

  test("all-null time values write without stats instead of failing") {
    import spark.implicits._
    val root = tempDir("wlake3").toString
    val df = Seq((Some(1705276800000000000L), 1.0),
      (None: Option[Long], 2.0), (None, 3.0)).toDF("time", "temperature")
    LakeWriter.write(root, "mydb", "m3", df) // must not NPE on null min/max
    val catalog = new Catalog(root)
    val all = catalog.files("mydb", "m3")
    assert(all.exists(_.minTime.isDefined) && all.exists(_.minTime.isEmpty))
    // the stat-less file survives ANY range (no stats → no pruning)
    val pruned = catalog.files("mydb", "m3", Some((0L, 1L)))
    assert(pruned.exists(_.minTime.isEmpty))
    assert(!pruned.exists(_.path.contains("date=2024-01-15")))
  }

  test("catalogPath preserves non-file URI scheme + authority") {
    assert(LakeWriter.catalogPath("s3a://bucket/db/t/date=2024-01-01/p.parquet")
      == "s3a://bucket/db/t/date=2024-01-01/p.parquet")
    assert(LakeWriter.catalogPath("file:///lake/db/t/p.parquet")
      == "/lake/db/t/p.parquet")
    assert(LakeWriter.catalogPath("/lake/db/t/p.parquet")
      == "/lake/db/t/p.parquet")
  }

  /** Records register/clear calls for delta/overwrite assertions. */
  private class RecordingCatalog extends CatalogBackend {
    val registered = scala.collection.mutable.Buffer[Seq[String]]()
    val cleared = scala.collection.mutable.Buffer[String]()
    override def databases: Seq[String] = Nil
    override def tables(db: String): Seq[String] = Nil
    override def prunedPaths(db: String, table: String,
                             range: Option[(Long, Long)]): Seq[String] = Nil
    override def tableExists(db: String, table: String): Boolean = false
    override def register(db: String, table: String,
        entries: Seq[CatalogBackend.FileStat]): Unit =
      registered += entries.map(_.path)
    override def clear(db: String, table: String): Unit = cleared += s"$db.$table"
  }

  test("append registers only the delta; overwrite clears first") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val root = tempDir("wlake5").toString
    val cat = new RecordingCatalog
    val day1 = Seq((1705276800000000000L, 1.0)).toDF("time", "v").coalesce(1)
    val day2 = Seq((1705363200000000000L, 2.0)).toDF("time", "v").coalesce(1)
    LakeWriter.write(root, "mydb", "m5", day1, catalog = Some(cat))
    assert(cat.cleared == Seq("mydb.m5")) // default mode is Overwrite
    val firstFiles = cat.registered.head.toSet
    assert(firstFiles.nonEmpty)
    LakeWriter.write(root, "mydb", "m5", day2, mode = SaveMode.Append,
      catalog = Some(cat))
    assert(cat.cleared.size == 1) // append does NOT clear
    val appended = cat.registered(1).toSet
    // the append's registration covers ONLY the new files
    assert(appended.nonEmpty && appended.intersect(firstFiles).isEmpty)
    // both days remain discoverable through the json catalog zone maps
    val c = new Catalog(root)
    assert(c.files("mydb", "m5").size == firstFiles.size + appended.size)
  }

  test("a file staged under tmp/ during an append stays out of the write's delta") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val root = tempDir("wlake9").toString
    val t0 = 1705276800000000000L // 2024-01-15
    LakeWriter.write(root, "mydb", "m9", Seq((t0, 1.0)).toDF("time", "v").coalesce(1))
    val folder = new File(s"$root/mydb/m9/date=2024-01-15")
    val part = folder.listFiles().find(CatalogBackend.isParquet).get
    val staging = new File(folder, "tmp/compact-x")
    val staged = new File(staging, "part-staged.parquet")
    // runs in the append's own job, between the write's listings: a
    // compaction staging a valid part file in the same folder meanwhile
    val stage = udf { (t: Long) =>
      if (!staged.exists()) {
        staging.mkdirs()
        Files.copy(part.toPath, staged.toPath)
      }
      t
    }
    val cat = new RecordingCatalog
    LakeWriter.write(root, "mydb", "m9",
      Seq((t0 + 3600L * 1000000000L, 2.0)).toDF("time", "v").coalesce(1)
        .withColumn("time", stage(col("time"))),
      mode = SaveMode.Append, catalog = Some(cat))
    assert(staged.isFile)
    assert(cat.registered.size == 1 && cat.registered.head.size == 1, cat.registered)
    assert(!cat.registered.head.exists(_.contains("part-staged")), cat.registered)
    assert(!new File(staging, "metadata.json").exists())
    val meta = new String(Files.readAllBytes(new File(folder, "metadata.json").toPath))
    assert(!meta.contains("part-staged") && meta.contains(""""row_count":2,"""), meta)
  }

  test("file:// root still produces zone maps and registrations") {
    import spark.implicits._
    val bare = tempDir("wlake7").toString
    val root = "file://" + bare
    val cat = new RecordingCatalog
    LakeWriter.write(root, "mydb", "m7",
      Seq((1705276800000000000L, 1.0)).toDF("time", "v").coalesce(1),
      catalog = Some(cat))
    assert(cat.registered.nonEmpty && cat.registered.head.nonEmpty)
    val c = new Catalog(bare)
    val files = c.files("mydb", "m7")
    assert(files.size == 1 && files.head.minTime.isDefined)
  }

  test("append into an existing date folder merges metadata.json") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val root = tempDir("wlake6").toString
    val t0 = 1705276800000000000L // both rows in the same date folder
    LakeWriter.write(root, "mydb", "m6",
      Seq((t0, 1.0)).toDF("time", "v").coalesce(1))
    LakeWriter.write(root, "mydb", "m6",
      Seq((t0 + 3600L * 1000000000L, 2.0)).toDF("time", "v").coalesce(1),
      mode = SaveMode.Append)
    val c = new Catalog(root)
    val files = c.files("mydb", "m6")
    assert(files.size == 2, files) // merged: first write's entry survived
    assert(files.forall(f => f.minTime.isDefined && f.maxTime.isDefined))
    // folder stats recomputed over the merged set: both hours covered
    val meta = new String(Files.readAllBytes(
      new File(s"$root/mydb/m6/date=2024-01-15/metadata.json").toPath))
    assert(meta.contains(s""""min_time":$t0"""))
    assert(meta.contains(s""""max_time":${t0 + 3600L * 1000000000L}"""))
    assert(meta.contains(""""row_count":2,"""))
  }

  test("metadata.json bytes: write, append and compact keep the sidecar format") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val root = tempDir("wlake8").toString
    val h = 3600L * 1000000000L
    val d15 = 1705276800000000000L // 2024-01-15
    LakeWriter.write(root, "mydb", "m8",
      Seq[(Option[Long], Double)]((Some(d15), 1.0), (Some(d15 + 2 * h), 2.0),
        (Some(d15 + 24 * h), 3.0)).toDF("time", "v").coalesce(1))
    // a second file in the 2024-01-15 folder, and an all-NULL-time file
    // (its entry carries no bounds)
    LakeWriter.write(root, "mydb", "m8",
      Seq[(Option[Long], Double)]((Some(d15 + h), 4.0), (None, 5.0))
        .toDF("time", "v").coalesce(1), mode = SaveMode.Append)

    /** The sidecar each folder must hold, in the exact byte format
      * (`type,row_count,min_time,max_time,files`, entries
      * `path,row_count,min_time,max_time`), entries in the file's order. */
    def checkSidecars(): Unit = {
      val folders = new File(s"$root/mydb/m8").listFiles().filter(_.isDirectory)
      assert(folders.length == 3)
      folders.foreach { folder =>
        val actual = new String(Files.readAllBytes(new File(folder, "metadata.json").toPath))
        val entries = folder.listFiles().filter(CatalogBackend.isParquet).toSeq.map { f =>
          val r = spark.read.parquet(f.getPath)
            .agg(min("time"), max("time"), count(lit(1))).head()
          val stats = if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
          val json = stats match {
            case Some((mn, mx)) =>
              s"""{"path":"${f.getName}","row_count":${r.getLong(2)},"min_time":$mn,"max_time":$mx}"""
            case None => s"""{"path":"${f.getName}","row_count":${r.getLong(2)}}"""
          }
          (json, stats, r.getLong(2))
        }.sortBy(e => actual.indexOf(e._1))
        val bounds = entries.flatMap(_._2)
        val folderStats =
          if (bounds.isEmpty) ""
          else s""""min_time":${bounds.map(_._1).min},"max_time":${bounds.map(_._2).max},"""
        assert(actual == s"""{"type":"parquet","row_count":${entries.map(_._3).sum},""" +
          s"""$folderStats"files":${entries.map(_._1).mkString("[", ",", "]")}}""")
      }
    }
    checkSidecars()
    assert(new File(s"$root/mydb/m8/date=2024-01-15").listFiles()
      .count(CatalogBackend.isParquet) == 2)
    assert(LakeCompactor.compact(spark, root, "mydb", "m8")._1 == 1)
    checkSidecars()
  }

  test("hour-level partitioning writes date=/hour= layout") {
    val root = tempDir("wlake2").toString
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts").as("time"), col("value")).limit(100)
    LakeWriter.write(root, "mydb", "m2", ev, hourPartitions = true,
      bloomFilterCols = Seq("value"), zorderCols = Seq("value", "time"))
    val dateDirs = new File(s"$root/mydb/m2").listFiles()
      .filter(_.getName.startsWith("date="))
    assert(dateDirs.nonEmpty)
    assert(dateDirs.exists(_.listFiles().exists(_.getName.startsWith("hour="))))
    // still queryable through the catalog with correct totals
    val engine = new Engine(spark, new Catalog(root))
    assert(engine.query("SELECT count(*) AS n FROM mydb.m2", "")
      .collect().head.getLong(0) == 100L)
  }
}
