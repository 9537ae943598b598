package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.server.QueryServer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Engine.query must be safe under concurrent use (the reference's
 * server handles requests concurrently, /root/reference/querier/server.go:142;
 * each DuckDB call gets self-contained SQL, so it is race-free — the
 * Spark engine must match by building a self-contained plan per query,
 * with no session-global temp-view state).
 *
 * The fixture gives every day a DIFFERENT file with zone-map stats and
 * a DIFFERENT row count, so a query that reads another in-flight
 * query's pruned file set returns a wrong count — exactly the failure
 * mode of session-global `createOrReplaceTempView`.
 */
class ConcurrencySpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val dayNs = 86400000000000L
  private val day0 = 1672531200000000000L // 2023-01-01T00:00:00Z
  private val nDays = 4
  private def rowsInDay(d: Int): Int = 40 + 10 * d

  private lazy val root: String = {
    import spark.implicits._
    val dir = tempDir("conclake")
    (0 until nDays).foreach { d =>
      val sub = new File(dir, f"mydb/events/date=2023-01-${d + 1}%02d")
      sub.mkdirs()
      val mn = day0 + d * dayNs
      val mx = mn + dayNs - 1
      val rows = (0 until rowsInDay(d)).map(i => (mn + i * 1000000L, s"k$i", d * 1.0 + i))
      rows.toDF("time", "k", "v").coalesce(1)
        .write.mode("overwrite").parquet(sub.getAbsolutePath + "/out")
      val part = new File(sub, "out").listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(sub, "part0.parquet")
      Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new File(sub, "out"))
      Files.writeString(new File(sub, "metadata.json").toPath,
        s"""{"type":"parquet","row_count":${rowsInDay(d)},"min_time":$mn,"max_time":$mx,
           |"files":[{"path":"part0.parquet","row_count":${rowsInDay(d)},"min_time":$mn,"max_time":$mx}]}""".stripMargin)
    }
    dir.getAbsolutePath
  }

  private def daySql(d: Int): String = {
    val start = day0 + d * dayNs
    val end = start + dayNs - 1
    // the `k IS NOT NULL` conjunct keeps these queries OFF the
    // metadata-count fast path — this spec exists to race the SCAN
    // path's pruned-plan splice, so the files must actually be read
    s"SELECT count(*) AS n FROM mydb.events " +
      s"WHERE time >= $start AND time <= $end AND k IS NOT NULL"
  }

  test("pruning is per-file: each day's query reads exactly one file") {
    val engine = new Engine(spark, new Catalog(root))
    (0 until nDays).foreach { d =>
      val df = engine.query(daySql(d), "")
      // the pruned scan must contain exactly one file (zone maps applied)
      val scanned = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }
      assert(df.collect().head.getLong(0) == rowsInDay(d))
      assert(scanned == Seq(1), scanned)
    }
  }

  test("splice path keeps pushdown: time bounds reach the parquet scan") {
    val engine = new Engine(spark, new Catalog(root))
    val plan = engine.query(daySql(1), "").queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") &&
      plan.contains(s"GreaterThanOrEqual(time,${day0 + dayNs})"), plan)
    assert(plan.contains("ReadSchema: struct<time:bigint,k:string>"), plan)
  }

  test("direct engine: concurrent disjoint-range queries never cross-read") {
    val engine = new Engine(spark, new Catalog(root))
    val pool = Executors.newFixedThreadPool(nDays * 2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (0 until nDays * 2).map { t =>
        val d = t % nDays
        Future {
          (0 until 15).map { _ =>
            engine.query(daySql(d), "").collect().head.getLong(0)
          }
        }
      }
      val results = Await.result(Future.sequence(futures), 5.minutes)
      results.zipWithIndex.foreach { case (counts, t) =>
        val expect = rowsInDay(t % nDays).toLong
        assert(counts.forall(_ == expect),
          s"thread $t expected $expect, got ${counts.distinct.mkString(",")}")
      }
    } finally pool.shutdown()
  }

  test("http server: concurrent disjoint-range queries return exact counts") {
    val engine = new Engine(spark, new Catalog(root))
    val srv = new QueryServer(engine, 0)
    srv.start()
    try {
      val port = srv.boundPort
      val client = HttpClient.newHttpClient()
      val pool = Executors.newFixedThreadPool(nDays)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futures = (0 until nDays).map { d =>
        Future {
          (0 until 10).map { _ =>
            val body = s"""{"query":"${daySql(d)}"}"""
            val r = client.send(
              HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
                .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
              HttpResponse.BodyHandlers.ofString())
            assert(r.statusCode() == 200, r.body())
            r.body()
          }
        }
      }
      val results = Await.result(Future.sequence(futures), 5.minutes)
      results.zipWithIndex.foreach { case (bodies, d) =>
        val expect = s"""{"results":[{"n":"${rowsInDay(d)}"}]}"""
        bodies.foreach(b => assert(b == expect, s"day $d: $b"))
      }
      pool.shutdown()
    } finally srv.stop()
  }

  /** A table whose one query reads more than one file's open cost: 7
    * groups of random doubles, which parquet cannot compress. */
  private val bigRows = 400000L
  private lazy val bigRoot: String = {
    val dir = tempDir("biglake")
    spark.range(bigRows).select(
      (col("id") * 1000L).as("time"), (col("id") % 7).as("g"),
      rand(1).as("a"), rand(2).as("b"))
      .coalesce(1).write.parquet(new File(dir, "mydb/big").getAbsolutePath)
    dir.getAbsolutePath
  }

  private def isAdaptive(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]

  test("a small and a large request at once each keep their own plan profile") {
    val small = new Engine(spark, new Catalog(root))
    val large = new Engine(spark, new Catalog(bigRoot))
    val bigSql = "SELECT g, count(*) AS n FROM mydb.big GROUP BY g"
    val bigDf = large.query(bigSql, "")
    assert(Engine.inputBytes(bigDf.queryExecution.analyzed) >
      spark.sessionState.conf.filesOpenCostInBytes)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val bigRun = Future((0 until 4).map { _ =>
        val df = large.query(bigSql, "")
        (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, isAdaptive(df))
      })
      val smallRun = Future((0 until 12).map { i =>
        val df = small.query(daySql(i % nDays), "")
        (i % nDays, df.collect().head.getLong(0), isAdaptive(df))
      })
      val want = (0L until 7L).map(g => g -> (bigRows / 7 + (if (g < bigRows % 7) 1 else 0))).toMap
      Await.result(bigRun, 5.minutes).foreach { case (counts, adaptive) =>
        assert(counts == want)
        assert(adaptive, "a large request must plan with adaptive execution")
      }
      Await.result(smallRun, 5.minutes).foreach { case (d, n, adaptive) =>
        assert(n == rowsInDay(d))
        assert(!adaptive, "a small request must plan without adaptive execution")
      }
    } finally pool.shutdown()
  }

  test("a conf set on the engine's session after the engine exists reaches small requests") {
    val engine = new Engine(spark, new Catalog(root))
    val (start, end) = (day0 + dayNs, day0 + 2 * dayNs - 1)
    def window(t: String) = s"$t >= $start AND $t <= $end"
    val joinSql = s"SELECT count(*) AS n FROM mydb.events a JOIN mydb.events b " +
      s"ON a.k = b.k WHERE ${window("a.time")} AND ${window("b.time")}"
    // a conf outside SmallProfile.Overrides, read from the session the join planned in
    def joinCaseSensitive() = {
      val df = engine.query(joinSql, "")
      assert(df.sparkSession ne spark) // the small profile
      assert(df.collect().head.getLong(0) == rowsInDay(1))
      df.sparkSession.sessionState.conf.caseSensitiveAnalysis
    }
    assert(!joinCaseSensitive()) // the clone exists from here on
    GraftTestSession.withConf(
      "spark.sql.ansi.enabled" -> "false", "spark.sql.caseSensitive" -> "true") {
      assert(engine.query(s"SELECT sum(v) / 0 AS x FROM mydb.events WHERE ${window("time")}", "")
        .collect().head.isNullAt(0))
      assert(joinCaseSensitive())
    }
    assert(!joinCaseSensitive()) // and an unset one is unset there
  }

  test("Tables.load: an in-place regeneration is seen by the next load") {
    val dir = tempDir("tabcache")
    import spark.implicits._
    def writeTable(rows: Seq[(Long, String)]): Unit = {
      val tmp = new File(dir, "stage")
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite")
        .parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(dir, "t.parquet")
      Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // a same-millisecond in-place rewrite is indistinguishable by
      // mtime alone; the footer memo also keys on the length, but make
      // the mtime move deterministically so the test never races it
      dst.setLastModified(dst.lastModified() + 2000)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }
    writeTable(Seq((1L, "a"), (2L, "b")))
    assert(Tables.load(spark, dir.getAbsolutePath, "t").count() == 2)

    // in-place regeneration: a fresh load must see the NEW file, not a
    // memoized plan or footer of the old one
    writeTable(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Tables.load(spark, dir.getAbsolutePath, "t").count() == 3)
  }
}
