package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.server.QueryServer
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
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark

  private val dayNs = 86400000000000L
  private val day0 = 1672531200000000000L // 2023-01-01T00:00:00Z
  private val nDays = 4
  private def rowsInDay(d: Int): Int = 40 + 10 * d

  private lazy val root: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(
      new File("target").toPath.toAbsolutePath, "conclake").toFile
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

  test("Tables.load: an in-place regeneration is seen by the next load") {
    val dir = Files.createTempDirectory(
      new File("target").toPath.toAbsolutePath, "tabcache").toFile
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
