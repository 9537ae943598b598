package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.server.QueryServer
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end HTTP protocol surface (reference server.go contract). */
class QueryServerSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private lazy val (server, port) = {
    import spark.implicits._
    val dir = tempDir("srvlake")
    val d = new File(dir, "mydb/weather"); d.mkdirs()
    Seq((1672531200000000000L, "sea", 11.5), (1672617600000000000L, "pdx", 7.25))
      .toDF("time", "location", "temperature")
      .coalesce(1).write.mode("overwrite").parquet(d.getAbsolutePath)
    val engine = new Engine(spark, new Catalog(dir.getAbsolutePath))
    val s = new QueryServer(engine, 0) // ephemeral port
    s.start()
    (s, s.boundPort)
  }

  private val client = HttpClient.newHttpClient()
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("health endpoint") {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:$port/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && r.body().contains("\"status\":\"ok\""))
  }

  test("a response is not held back by Nagle's algorithm") {
    // HttpURLConnection acknowledges the headers segment late (delayed
    // ACK); without TCP_NODELAY the body segment waits for that ACK,
    // about 40 ms per round trip
    def roundTripMs(): Double = {
      val t0 = System.nanoTime()
      val c = URI.create(s"http://localhost:$port/health").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(c.getResponseCode == 200)
      val in = c.getInputStream
      try in.readAllBytes() finally in.close()
      (System.nanoTime() - t0) / 1e6
    }
    (0 until 5).foreach(_ => roundTripMs()) // connection and JIT warm-up
    val ms = (0 until 20).map(_ => roundTripMs()).sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, s"median /health round trip $median ms: ${ms.mkString(", ")}")
  }

  test("query with db.table + time filter; int64 rendered as string") {
    val r = post("/query",
      """{"query":"SELECT time, location, temperature FROM mydb.weather WHERE time >= '2023-01-02T00:00:00Z' ORDER BY time"}""")
    assert(r.statusCode() == 200)
    assert(r.body() == """{"results":[{"time":"1672617600000000000","location":"pdx","temperature":7.25}]}""")
  }

  test("ndjson format + db param precedence") {
    val r = post("/query?db=mydb&format=ndjson",
      """{"query":"SELECT location FROM weather ORDER BY location","db":"ignored"}""")
    assert(r.statusCode() == 200)
    assert(r.body().trim.split("\n").toSeq ==
      Seq("""{"location":"pdx"}""", """{"location":"sea"}"""))
  }

  test("SHOW DATABASES and fallback SQL") {
    assert(post("/query", """{"query":"SHOW DATABASES"}""").body()
      .contains("\"database_name\":\"mydb\""))
    assert(post("/query", """{"query":"SELECT 1 AS one"}""").body() ==
      """{"results":[{"one":1}]}""")
  }

  test("pipeline kernels are callable over the HTTP SQL surface") {
    // the Compat-registered dedup/text kernels work through the same
    // /query endpoint a reference client uses — over a lake table,
    // with the int64-as-string JSON contract applying to the hash
    val r = post("/query",
      """{"query":"SELECT location, simhash64(token_grams(location, 1, true)) AS sh FROM mydb.weather ORDER BY location LIMIT 1"}""")
    assert(r.statusCode() == 200, r.body())
    val expected = spark
      .sql("SELECT simhash64(token_grams('pdx', 1, true)) AS sh")
      .collect()(0).getLong(0)
    assert(r.body() ==
      s"""{"results":[{"location":"pdx","sh":"$expected"}]}""")
    // a mistyped call fails at ANALYSIS with the error contract, not
    // as an executor-side ClassCastException
    val bad = post("/query",
      """{"query":"SELECT simhash64(location) FROM mydb.weather"}""")
    assert(bad.statusCode() == 400)
    assert(bad.body().contains("DATATYPE_MISMATCH"), bad.body())
    // the winnow selection kernel is registered on the same surface
    val winnowed = spark
      .sql("SELECT winnow_select(array(50L, 40L, 30L, 20L), 2) AS w")
      .collect()(0).getSeq[Long](0)
    assert(winnowed == Seq(40L, 30L, 20L))
  }

  test("arrow format: IPC stream readable, time forced to ns-UTC") {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:$port/query?format=arrow"))
      .POST(HttpRequest.BodyPublishers.ofString(
        """{"query":"SELECT time, location FROM mydb.weather ORDER BY time"}"""))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(r.body()), alloc)
    try {
      assert(reader.loadNextBatch())
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.getFields.get(0).getName == "time")
      assert(root.getSchema.getFields.get(0).getType.toString.contains("NANOSECOND"))
      assert(root.getRowCount == 2)
      assert(root.getVector("time").asInstanceOf[
        org.apache.arrow.vector.TimeStampNanoTZVector].get(0) == 1672531200000000000L)
    } finally { reader.close(); alloc.close() }
  }

  test("explain mode returns the physical plan, not rows") {
    val r = post("/query?explain=true",
      """{"query":"SELECT count(*) AS n FROM mydb.weather WHERE time >= '2023-01-02T00:00:00Z'"}""")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"plan\""))
    assert(r.body().contains("PushedFilters") || r.body().contains("Scan parquet"))
    assert(!r.body().contains("\"results\""))
  }

  test("embedded UI served at /") {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:$port/")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200 && r.body().contains("<title>graft query</title>"))
  }

  test("DISABLE_UI serves 404 at / while /query stays live (README.md:50)") {
    val engine = new Engine(spark, new Catalog(tempDir("nouilake").getAbsolutePath))
    val s = new QueryServer(engine, 0, disableUi = true)
    s.start()
    try {
      val p = s.boundPort
      val ui = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$p/")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ui.statusCode() == 404)
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$p/query"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"query":"SELECT 1 AS one"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(r.body() == """{"results":[{"one":1}]}""")
    } finally s.stop()
  }

  test("stop() shuts down the request executor") {
    val engine = new Engine(spark, new Catalog(tempDir("stoplake").getAbsolutePath))
    val s = new QueryServer(engine, 0)
    s.start()
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:${s.boundPort}/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    s.stop()
    assert(s.requestExecutor.isShutdown)
    assert(s.requestExecutor.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS))
  }

  test("error contract: bad SQL and missing query") {
    val bad = post("/query", """{"query":"SELEKT"}""")
    assert(bad.statusCode() == 400 && bad.body().contains("\"error\""))
    val missing = post("/query", "{}")
    assert(missing.statusCode() == 400 &&
      missing.body() == """{"error":"missing query"}""")
  }

  test("error contract: a non-JSON body is a 400, a failure while running is a 500") {
    val notJson = post("/query", """{"query": SELECT 1""")
    assert(notJson.statusCode() == 400 && notJson.body().contains("\"error\""), notJson.body())
    val unresolved = post("/query", """{"query":"SELECT nope FROM mydb.weather"}""")
    assert(unresolved.statusCode() == 400, unresolved.body())
    val failed = post("/query", """{"query":"SELECT raise_error('boom')"}""")
    assert(failed.statusCode() == 500, failed.body())
    assert(failed.body().contains("boom") &&
      failed.body().contains("\"exception\":\"org.apache.spark."), failed.body())
  }

  test("a result under 64 KB goes out with its Content-Length in every format") {
    Seq("json", "ndjson", "arrow").foreach { f =>
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query?format=$f"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"SELECT time, location FROM mydb.weather ORDER BY time"}""")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200, f)
      assert(r.headers().firstValue("content-length").orElse("") == r.body().length.toString, f)
      assert(r.headers().firstValue("transfer-encoding").isEmpty, f)
    }
  }

  /** A server over its own engine, made after the row-gating UDFs are
    * registered so that the engine's small-request session has them. */
  private def withGateServer(body: Int => Unit): Unit = {
    spark.udf.register("gate_at", (id: Long, at: Long) => {
      if (id == at) QueryServerSpec.gate.await(120, java.util.concurrent.TimeUnit.SECONDS)
      id
    })
    spark.udf.register("fail_at", (id: Long, at: Long) => {
      if (id == at) throw new IllegalStateException(s"failed at row $id")
      id
    })
    val s = new QueryServer(new Engine(spark, new Catalog(tempDir("gatelake").getAbsolutePath)), 0)
    s.start()
    try body(s.boundPort) finally s.stop()
  }

  /** 40,000 rows in 4 partitions of 10,000; `udf` applied at row 30,000,
    * the first row of the last partition. Any format's first three
    * partitions are more than 64 KB. */
  private def gatedQuery(udf: String): String =
    s"""{"query":"SELECT id, $udf(id, 30000) AS g FROM range(0, 40000, 1, 4)"}"""

  /** POST over a raw socket, so that the test sees the bytes as they
    * arrive and whether the chunked body ends. */
  private def rawPost(port: Int, path: String, body: String): java.net.Socket = {
    val sock = new java.net.Socket("localhost", port)
    sock.setSoTimeout(120000)
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = sock.getOutputStream
    out.write((s"POST $path HTTP/1.1\r\nHost: localhost\r\nContent-Type: application/json\r\n" +
      s"Content-Length: ${bytes.length}\r\nConnection: close\r\n\r\n").getBytes("US-ASCII"))
    out.write(bytes)
    out.flush()
    sock
  }

  private def ascii(b: Array[Byte]): String = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Everything the server sends until it closes the connection. */
  private def readToClose(in: java.io.InputStream, got: java.io.ByteArrayOutputStream): String = {
    val buf = new Array[Byte](8192)
    try {
      var k = in.read(buf)
      while (k >= 0) { got.write(buf, 0, k); k = in.read(buf) }
    } catch { case _: java.net.SocketException => () } // a reset ends it too
    ascii(got.toByteArray)
  }

  test("a large result streams: 200 and more than 64 KB arrive before the last partition runs") {
    withGateServer { p =>
      Seq("json", "ndjson", "arrow").foreach { f =>
        QueryServerSpec.gate = new java.util.concurrent.CountDownLatch(1)
        val sock = rawPost(p, s"/query?format=$f", gatedQuery("gate_at"))
        try {
          val in = sock.getInputStream
          val got = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (got.size() < 96 * 1024) {
            val k = in.read(buf)
            assert(k > 0, s"$f: the stream ended after ${got.size()} bytes")
            got.write(buf, 0, k)
          }
          // the last partition is still waiting on the gate
          assert(QueryServerSpec.gate.getCount == 1)
          assert(ascii(got.toByteArray).startsWith("HTTP/1.1 200"), f)
          assert(ascii(got.toByteArray).toLowerCase.contains("transfer-encoding: chunked"), f)
          QueryServerSpec.gate.countDown()
          assert(readToClose(in, got).endsWith("\r\n0\r\n\r\n"), s"$f: the chunked body did not end")
        } finally { QueryServerSpec.gate.countDown(); sock.close() }
      }
    }
  }

  test("a failure within the first 64 KB is a clean 500 {\"error\"} in every format") {
    withGateServer { p =>
      Seq("json", "ndjson", "arrow").foreach { f =>
        val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$p/query?format=$f"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"SELECT id, fail_at(id, 10) AS g FROM range(0, 100)"}""")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 500, s"$f: ${r.body()}")
        assert(r.body().startsWith("{\"error\":") && r.body().contains("failed at row 10"), s"$f: ${r.body()}")
        assert(r.headers().firstValue("content-type").orElse("") == "application/json", f)
      }
    }
  }

  test("a failure after the first 64 KB aborts the connection: no complete 200 body") {
    withGateServer { p =>
      Seq("json", "ndjson", "arrow").foreach { f =>
        val sock = rawPost(p, s"/query?format=$f", gatedQuery("fail_at"))
        val got = try readToClose(sock.getInputStream, new java.io.ByteArrayOutputStream())
          finally sock.close()
        assert(got.startsWith("HTTP/1.1 200") && got.length > 64 * 1024, s"$f: ${got.take(200)}")
        assert(!got.endsWith("\r\n0\r\n\r\n"), s"$f: the aborted body ended like a complete one")
        // the server lives on
        assert(client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$p/health")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      }
    }
  }
}

object QueryServerSpec {
  /** The gate `gate_at` waits on at its row. */
  @volatile var gate = new java.util.concurrent.CountDownLatch(0)
}
