package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The driver-side footer-schema memo behind `Tables.readEvolving`: it
 * must resolve exactly the schema Spark's own inference would, keep
 * conf-dependent conversions live, see lake writes and compactions on
 * the next query, and leave the engine with no Spark job before
 * execution.
 */
class FooterSchemaSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val HOUR_NS = 3600L * 1000000000L
  private val T0 = 1672531200000000000L // 2023-01-01T00:00:00Z

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  /** A parquet file with a BINARY column that carries no string
    * annotation: its Spark type depends on `binaryAsString`. */
  private def writePlainBinary(path: String): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.Types
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .optional(INT64).named("time")
      .optional(BINARY).named("tag")
      .named("m")
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("time", T0).append("tag", "a"))
    finally writer.close()
  }

  test("readEvolving resolves each schema group exactly as Spark inference does") {
    import spark.implicits._
    val dir = tmp("footer-evolve")
    Seq((1L, 20.5, 1)).toDF("time", "temperature", "sensor_id")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((2L, 21.5, 7L, 0.4)).toDF("time", "temperature", "sensor_id", "humidity")
      .coalesce(1).write.parquet(s"$dir/f2")
    val files = Seq("f1", "f2").map { d =>
      new File(s"$dir/$d").listFiles().find(_.getName.endsWith(".parquet")).get.getPath
    }
    // directories resolve through the file Spark's inference reads
    (files ++ Seq(s"$dir/f1", s"$dir/f2")).foreach { p =>
      assert(spark.read.schema(Tables.footerSchema(spark, p)).parquet(p).schema ==
        spark.read.parquet(p).schema, p)
    }
    // each group, read alone, has the schema an inferred read has
    files.foreach { p =>
      assert(Tables.readEvolving(spark, Seq(p)).schema == spark.read.parquet(p).schema, p)
    }
    val both = Tables.readEvolving(spark, files)
    assert(both.schema("sensor_id").dataType == LongType)
    assert(both.orderBy("time").collect().map(_.getAs[Long]("sensor_id")).toSeq == Seq(1L, 7L))
  }

  test("conf-dependent conversions are not frozen in the memo (binaryAsString)") {
    val p = s"${tmp("footer-binary")}/plain.parquet"
    writePlainBinary(p)
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.footerSchema(spark, p)("tag").dataType == BinaryType)
      assert(Tables.footerSchema(spark, p) == spark.read.parquet(p).schema)
      spark.conf.set(key, "true")
      assert(Tables.footerSchema(spark, p)("tag").dataType == StringType)
      assert(Tables.footerSchema(spark, p) == spark.read.parquet(p).schema)
      assert(Tables.readEvolving(spark, Seq(p)).collect().head.getAs[String]("tag") == "a")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a footer is read once per (file, length, mtime); a rewrite is read afresh") {
    val p = s"${tmp("footer-once")}/plain.parquet"
    writePlainBinary(p)
    val first = Tables.footerSchema(spark, p)
    val memoized = Tables.footerCount
    assert(Tables.footerSchema(spark, p) == first)
    assert(Tables.footerCount == memoized) // a hit: no new entry
    // rewrite in place with another schema (and so another length)
    import spark.implicits._
    val other = s"${tmp("footer-once")}/t"
    Seq((1L, 2.5)).toDF("time", "x").coalesce(1).write.parquet(other)
    val src = new File(other).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(src.toPath, new File(p).toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new File(new File(p).getParent, ".plain.parquet.crc").delete() // stale checksum
    assert(Tables.footerSchema(spark, p).fieldNames.toSeq == Seq("time", "x"))
    assert(Tables.footerCount == memoized + 1)
  }

  test("a missing file still fails with FileNotFoundException") {
    intercept[java.io.FileNotFoundException] {
      Tables.readEvolving(spark, Seq(s"${tmp("footer-missing")}/gone.parquet"))
    }
  }

  test("a schema-evolving append and a compaction are each seen by the next query") {
    import spark.implicits._
    val root = tmp("footer-lake")
    val day2 = T0 + 24 * HOUR_NS
    LakeWriter.write(root, "mydb", "m",
      Seq((T0, "a", 1)).toDF("time", "k", "v").coalesce(1))
    val engine = new Engine(spark, new Catalog(root))
    val q = "SELECT * FROM mydb.m ORDER BY time"
    val first = engine.query(q)
    assert(first.schema.fieldNames.toSeq == Seq("time", "k", "v"))
    assert(first.schema("v").dataType == IntegerType)

    // evolve: v widens to long and w appears, in a new day folder
    def appendDay2(i: Int): Unit = LakeWriter.write(root, "mydb", "m",
      Seq((day2 + i, s"b$i", 10L + i, 0.5 * i)).toDF("time", "k", "v", "w").coalesce(1),
      mode = SaveMode.Append)
    appendDay2(1)
    val evolved = engine.query(q)
    assert(evolved.schema.fieldNames.toSeq == Seq("time", "k", "v", "w"))
    assert(evolved.schema("v").dataType == LongType)
    assert(evolved.collect().map(r => (r.getAs[String]("k"), Option(r.getAs[Any]("w")))).toSeq ==
      Seq(("a", None), ("b1", Some(0.5))))

    appendDay2(2)
    val catalog = new Catalog(root)
    val beforeFiles = catalog.prunedPaths("mydb", "m", None)
    assert(beforeFiles.size == 3)
    LakeCompactor.compact(spark, root, "mydb", "m")
    val afterFiles = catalog.prunedPaths("mydb", "m", None)
    assert(afterFiles.size == 2 && afterFiles.diff(beforeFiles).size == 1)
    val compacted = engine.query(q).collect()
    assert(compacted.map(_.getAs[String]("k")).toSeq == Seq("a", "b1", "b2"))
    assert(compacted.map(_.getAs[Long]("v")).toSeq == Seq(1L, 11L, 12L))
  }

  test("8 threads resolving one new file at once get one consistent schema") {
    import spark.implicits._
    val dir = s"${tmp("footer-conc")}/t"
    Seq((1L, "x", 2.0)).toDF("time", "s", "d").coalesce(1).write.parquet(dir)
    val p = new File(dir).listFiles().find(_.getName.endsWith(".parquet")).get.getPath
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(() => { start.await(); Tables.footerSchema(spark, p) })
      }
      start.countDown()
      val schemas = futures.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).distinct
      assert(schemas.size == 1)
      assert(spark.read.schema(schemas.head).parquet(p).schema == spark.read.parquet(p).schema)
    } finally pool.shutdown()
  }

  test("a one-file query launches no Spark job before execution") {
    import spark.implicits._
    val root = tmp("footer-jobs")
    LakeWriter.write(root, "mydb", "m",
      Seq((T0, "a", 1.5), (T0 + 48 * HOUR_NS, "b", 2.5)).toDF("time", "k", "v").coalesce(1))
    val engine = new Engine(spark, new Catalog(root))
    val sql = "SELECT k, v FROM mydb.m WHERE time >= '2023-01-01T00:00:00Z' " +
      "AND time < '2023-01-01T01:00:00Z'"
    // first sight of the file: its footer is read on the driver
    val (df, jobs) = SparkJobCounter(spark)(engine.query(sql))
    assert(jobs == 0, s"Engine.query launched $jobs Spark job(s) before execution")
    assert(df.collect().map(_.getAs[String]("k")).toSeq == Seq("a"))
  }
}
