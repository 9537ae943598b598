package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * O7 end-to-end (as far as the image allows): an s3a://-addressed lake
 * driven through a scheme-registered FileSystem double
 * ([[FakeS3AFileSystem]]). Real S3 remains environment-blocked (no
 * hadoop-aws/aws-sdk jars), but this proves the engine stack is
 * scheme-agnostic end to end: parquet WRITE through the s3a committer,
 * catalog paths with bucket authority, time-pruned path selection, the
 * SQL plan splice, and `Layers.register`'s per-bucket credentials
 * reaching FileSystem initialization exactly as S3A propagates them.
 */
class S3LayerEndToEndSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val day = 86400L * 1000000000L
  private val t0 = 1672531200L * 1000000000L // 2023-01-01T00:00:00Z

  test("pruned SQL over an s3a lake through the registered scheme") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val root = tempDir("fake_s3").toString
    hc.set("graft.fake.s3.root", root)
    hc.set("fs.s3a.impl", classOf[FakeS3AFileSystem].getName)
    // no FS-cache entry survives this spec, and the impl keys are
    // restored at the end — a later suite touching s3a:// must fail
    // fast on the missing hadoop-aws jars, not resolve our double
    hc.set("fs.s3a.impl.disable.cache", "true")
    try {

    // reference-form layer URL → per-bucket scoped credentials
    val layer = Layers.parseS3("l1",
      "s3://TESTKEY:TESTSECRET@localhost:9000/test-bucket?url_style=path")
    assert(layer.bucket == "test-bucket" && layer.pathStyle)
    Layers.register(spark, layer)

    // two day-partitioned files written THROUGH the s3a scheme
    val p0 = Layers.resolve(layer, "mydb", "events_s3", "date=2023-01-01")
    val p1 = Layers.resolve(layer, "mydb", "events_s3", "date=2023-01-02")
    assert(p0.startsWith("s3a://test-bucket/"))
    (0 until 100).map(i => (t0 + i * 1000000000L, i.toLong))
      .toDF("time", "value").coalesce(1).write.mode("overwrite").parquet(p0)
    (0 until 100).map(i => (t0 + day + i * 1000000000L, i + 100L))
      .toDF("time", "value").coalesce(1).write.mode("overwrite").parquet(p1)

    // an index-server-style backend holding the s3a paths + zone maps
    val backend = new CatalogBackend {
      var lastRange: Option[(Long, Long)] = None
      val files = Seq(
        CatalogBackend.FileStat(p0, Some(t0), Some(t0 + 99 * 1000000000L)),
        CatalogBackend.FileStat(p1, Some(t0 + day), Some(t0 + day + 99 * 1000000000L)))
      def databases: Seq[String] = Seq("mydb")
      def tables(db: String): Seq[String] = Seq("events_s3")
      def tableExists(db: String, t: String): Boolean =
        db == "mydb" && t == "events_s3"
      def prunedPaths(db: String, table: String,
                      range: Option[(Long, Long)]): Seq[String] = {
        lastRange = range
        files.filter(f => range.forall { case (lo, hi) =>
          f.maxTime.forall(_ >= lo) && f.minTime.forall(_ <= hi)
        }).map(_.path)
      }
    }

    val engine = new Engine(spark, backend)
    // day-2 rows only: the time range must prune day 1's file entirely
    val out = engine.query(
      "SELECT count(*) AS n, min(value) AS lo, max(value) AS hi FROM events_s3 " +
        "WHERE time >= '2023-01-02T00:00:00Z' AND time < '2023-01-03T00:00:00Z'")
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) === ((100L, 100L, 199L)))
    // the catalog was asked with the extracted range and pruned to one file
    assert(backend.lastRange.isDefined)
    assert(backend.prunedPaths("mydb", "events_s3", backend.lastRange) === Seq(p1))

    // the per-bucket credentials Layers scoped were what the FS saw at
    // init — the CREATE SECRET analog actually reached the storage layer
    val (key, endpoint) = FakeS3AFileSystem.bucketCreds.get("test-bucket")
    assert(key === "TESTKEY")
    assert(endpoint === "localhost:9000")
    } finally {
      hc.unset("fs.s3a.impl")
      hc.unset("fs.s3a.impl.disable.cache")
      hc.unset("graft.fake.s3.root")
    }
  }
}
