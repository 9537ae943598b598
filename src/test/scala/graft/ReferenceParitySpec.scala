package graft

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import graft.server.QueryServer
import org.scalatest.funsuite.AnyFunSuite

/**
 * SURVEY §2.3 quirks 1-7 asserted end-to-end against LIVE HTTP
 * `/query` responses — one auditable suite for the reference's
 * observable contract. Each test cites the quirk number and the
 * reference source that defines it. (Quirk 8 is the reference's own
 * FlightSQL bug — deliberately not copied; quirk 9 is dead reference
 * code — nothing to assert.)
 */
class ReferenceParitySpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private lazy val (server, port) = {
    import spark.implicits._
    val dir = tempDir("paritylake")
    val d = new File(dir, "mydb/weather"); d.mkdirs()
    Seq(
      (1672531200000000000L, "sea", 11.5, true),
      (1672617600000000000L, "pdx", 7.25, false),
      (1672704000000000000L, "sfo", 15.0, true))
      .toDF("time", "location", "temperature", "sunny")
      .coalesce(1).write.mode("overwrite").parquet(d.getAbsolutePath)
    val engine = new Engine(spark, new Catalog(dir.getAbsolutePath))
    val s = new QueryServer(engine, 0)
    s.start()
    (s, s.boundPort)
  }

  private val client = HttpClient.newHttpClient()
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def q(sql: String, path: String = "/query"): String =
    post(path, s"""{"query":"$sql"}""").body()

  test("quirk 1: Arrow results order time first, then alphabetical (flightsql.go:313-324)") {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://localhost:$port/query?format=arrow"))
      .POST(HttpRequest.BodyPublishers.ofString(
        // selected in a deliberately shuffled order
        """{"query":"SELECT temperature, location, time, sunny FROM mydb.weather ORDER BY time"}"""))
      .build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(r.body()), alloc)
    try {
      assert(reader.loadNextBatch())
      val names = reader.getVectorSchemaRoot.getSchema.getFields
      import scala.jdk.CollectionConverters._
      assert(names.asScala.map(_.getName).toSeq ==
        Seq("time", "location", "sunny", "temperature"))
    } finally { reader.close(); alloc.close() }
  }

  test("quirk 2: int64 as JSON string; floats/bools native (formatJson.go:52-54)") {
    // column order is time-first-then-alphabetical in JSON too (the
    // encoder shares quirk 1's ordering contract)
    assert(q("SELECT time, temperature, sunny FROM mydb.weather WHERE location = 'sea'") ==
      """{"results":[{"time":"1672531200000000000","sunny":true,"temperature":11.5}]}""")
  }

  test("quirk 3: NULL count* coerces to 0 (queryClient.go:911-913)") {
    assert(q("SELECT CAST(NULL AS BIGINT) AS count_rows, CAST(NULL AS BIGINT) AS other") ==
      """{"results":[{"count_rows":0,"other":null}]}""")
  }

  test("quirk 4: RFC3339(Nano) and naive UTC-assumed time literals (queryClient.go:241-293)") {
    val want = """{"results":[{"location":"pdx"}]}"""
    for (lit <- Seq(
      "2023-01-02T00:00:00Z",             // RFC3339
      "2023-01-02T00:00:00.000000000Z",   // RFC3339Nano
      "2023-01-02T00:00:00"))             // naive, UTC-assumed
      assert(q(s"SELECT location FROM mydb.weather WHERE time >= '$lit' AND time < '2023-01-03T00:00:00Z'") == want,
        s"literal $lit")
  }

  test("quirk 5: db precedence ?db= > body db > default mydb (server.go:183-189)") {
    val sql = "SELECT count(*) AS n FROM weather"
    // ?db= beats a wrong body db
    assert(post("/query?db=mydb", s"""{"query":"$sql","db":"nosuchdb"}""").body() ==
      """{"results":[{"n":"3"}]}""")
    // body db alone
    assert(post("/query", s"""{"query":"$sql","db":"mydb"}""").body() ==
      """{"results":[{"n":"3"}]}""")
    // neither → default "mydb"
    assert(post("/query", s"""{"query":"$sql"}""").body() ==
      """{"results":[{"n":"3"}]}""")
  }

  test("quirk 6: empty pruned file set yields an empty frame, not an error (queryClient.go:830-861, documented fix)") {
    val r = post("/query",
      """{"query":"SELECT time, location FROM mydb.weather WHERE time >= '2030-01-01T00:00:00Z'"}""")
    assert(r.statusCode() == 200)
    assert(r.body() == """{"results":[]}""")
  }

  test("quirk 7: time-range extraction only prunes — the full WHERE still executes (queryClient.go:846-856)") {
    // the time predicate keeps every file (no pruning), yet the
    // non-time conjunct must still filter rows: extraction can never
    // change results, only skip files
    assert(q("SELECT location FROM mydb.weather WHERE time >= '2023-01-01T00:00:00Z' AND temperature > 10 ORDER BY location") ==
      """{"results":[{"location":"sea"},{"location":"sfo"}]}""")
    // and a half-pruning range composes with the same WHERE
    assert(q("SELECT location FROM mydb.weather WHERE time >= '2023-01-02T00:00:00Z' AND temperature > 10 ORDER BY location") ==
      """{"results":[{"location":"sfo"}]}""")
  }
}
