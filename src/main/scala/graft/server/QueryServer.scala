package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Engine
import graft.encoders.{ArrowEncoder, ResultEncoder}

/**
 * HTTP query endpoint — the reference's server surface
 * (/root/reference/querier/server.go:142-230):
 *
 *  - `POST /query` body `{"query": "...", "db": "..."}`;
 *    `?db=` overrides body db, body db overrides default "mydb"
 *    (server.go:183-189); `?format=json|ndjson` (server.go:159-168),
 *    or `arrow` for an Arrow IPC stream;
 *  - errors as `{"error": "..."}`: 400 for SQL that does not parse or
 *    resolve and for a missing query or non-JSON body; 500, with the
 *    exception's class as `"exception"`, for any other failure;
 *  - every format streams through one [[QueryServer.ResponseBody]]: a
 *    result that ends within its first 64 KB is sent with a
 *    Content-Length, and an error before that point is still a clean
 *    `{"error"}`; a larger result commits a chunked 200 and streams,
 *    and an error after that aborts the connection;
 *  - CORS headers on all responses;
 *  - `GET /health` → `{"status":"ok","timestamp":…}`;
 *  - embedded UI at `/` unless `disableUi` (reference `DISABLE_UI`,
 *    README.md:50).
 */
class QueryServer(engine: Engine, port: Int = 8080,
                  disableUi: Boolean = false) {
  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var executor: java.util.concurrent.ExecutorService = _

  private def cors(ex: HttpExchange): Unit = {
    val h = ex.getResponseHeaders
    h.add("Access-Control-Allow-Origin", "*")
    h.add("Access-Control-Allow-Methods", "POST, GET, OPTIONS")
    h.add("Access-Control-Allow-Headers", "Content-Type")
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
                      ctype: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  def start(): Unit = {
    // TCP_NODELAY on accepted sockets: the server writes the headers and
    // the body as two segments, and with Nagle's algorithm on the body
    // waits for the client's delayed ACK (about 40 ms per response).
    // sun.net.httpserver.ServerConfig reads the property once per JVM,
    // when the first server is created, so it is set before that and
    // left alone if the JVM already sets it.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)

    server.createContext("/query", (ex: HttpExchange) => {
      cors(ex)
      var aborted = false
      try {
        if (ex.getRequestMethod == "OPTIONS") respond(ex, 204, "")
        else if (ex.getRequestMethod != "POST")
          respond(ex, 405, """{"error":"method not allowed"}""")
        else {
          val params = queryParams(ex)
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val node = if (body.nonEmpty) mapper.readTree(body) else mapper.createObjectNode()
          val q = Option(node.get("query")).map(_.asText()).getOrElse("")
          if (q.isEmpty) respond(ex, 400, """{"error":"missing query"}""")
          else {
            // db precedence: ?db= > body db > default (server.go:183-189)
            val db = params.getOrElse("db",
              Option(node.get("db")).map(_.asText()).getOrElse(""))
            // per-request FAIR pool: under FAIR scheduling, jobs in ONE
            // pool are FIFO — without this a 2-task point query queues
            // behind a concurrent scan's hundreds of tasks (measured
            // ~80× latency amplification in the bench harness). With
            // the default FIFO scheduler the property is inert.
            engine.spark.sparkContext.setLocalProperty(
              "spark.scheduler.pool", "req-" + Thread.currentThread().getId)
            val df = engine.query(q, db)
            if (params.get("explain").exists(v => v == "true" || v == "1")) {
              val plan = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              respond(ex, 200, mapper.writeValueAsString(
                mapper.createObjectNode().put("plan", plan)))
            } else {
              val format = params.getOrElse("format", "json")
              df.queryExecution.executedPlan // planning errors answer a clean {"error"}
              val body = new QueryServer.ResponseBody(ex, format match {
                case "ndjson" => "application/x-ndjson"
                case "arrow" => "application/vnd.apache.arrow.stream" // FlightSQL data-plane bytes
                case _ => "application/json"
              })
              try {
                format match {
                  case "ndjson" => ResultEncoder.writeNdjson(df, body)
                  case "arrow" => ArrowEncoder.writeStream(df, body)
                  case _ => ResultEncoder.writeJson(df, body)
                }
                body.finish()
              } catch {
                // past the commit point the 200 is on the wire: only
                // an abort tells the client the body is incomplete
                case e: Throwable if body.committed => throw new QueryServer.Aborted(e)
              }
            }
          }
        }
      } catch {
        case a: QueryServer.Aborted =>
          // thrown out of the handler, the server closes the connection
          // without the chunked body's last chunk; closing the exchange
          // would send it and make the truncated body look complete
          aborted = true
          throw a
        case e: Throwable =>
          // the client's fault — SQL that does not parse or resolve, a
          // body that is not JSON — is a 400; any other failure is ours,
          // a 500 that names the exception
          val clientError = e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
            e.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException]
          val body = mapper.createObjectNode()
            .put("error", Option(e.getMessage).getOrElse(e.toString))
          if (!clientError) body.put("exception", e.getClass.getName)
          respond(ex, if (clientError) 400 else 500, mapper.writeValueAsString(body))
      } finally if (!aborted) ex.close()
    })

    // minimal embedded browser UI (reference O20 — served inline
    // instead of from an embedded zip); DISABLE_UI turns it off
    server.createContext("/", (ex: HttpExchange) => {
      cors(ex)
      try {
        if (ex.getRequestURI.getPath == "/" && !disableUi)
          respond(ex, 200, QueryServer.UI_HTML, "text/html; charset=utf-8")
        else respond(ex, 404, """{"error":"not found"}""")
      } finally ex.close()
    })

    server.createContext("/health", (ex: HttpExchange) => {
      cors(ex)
      try respond(ex, 200,
        s"""{"status":"ok","timestamp":"${java.time.Instant.now()}"}""")
      finally ex.close()
    })

    executor = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(executor)
    server.start()
  }

  /** Close the listener and release the request threads (in-flight
    * requests finish first). */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (executor != null) executor.shutdown()
  }
  private[graft] def requestExecutor: java.util.concurrent.ExecutorService = executor
  def boundPort: Int = server.getAddress.getPort
}

/** CLI one-shot mode (reference main.go:22-57): --query … --db … */
object QueryServer {
  /** Bytes a response body holds before it commits its status. */
  private val CommitBytes = 64 * 1024

  /** A result failed after its 200 was sent. */
  private final class Aborted(cause: Throwable)
    extends java.io.IOException("response aborted mid-stream", cause)

  /**
   * A 200 response body for an encoder to write into. It holds the
   * first [[CommitBytes]]: a result that ends inside them goes out with
   * its Content-Length on [[finish]], and until then nothing is sent, so
   * a failure can still be answered with an error status. The first
   * write past them commits a chunked 200 and streams from then on.
   */
  private final class ResponseBody(ex: HttpExchange, ctype: String) extends java.io.OutputStream {
    private val head = new Array[Byte](CommitBytes)
    private var held = 0
    private var out: java.io.OutputStream = _

    def committed: Boolean = out != null

    private def send(length: Long): Unit = {
      ex.getResponseHeaders.add("Content-Type", ctype)
      ex.sendResponseHeaders(200, length)
      out = ex.getResponseBody
      out.write(head, 0, held)
    }

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      if (out == null && held + len <= head.length) {
        System.arraycopy(b, off, head, held, len)
        held += len
      } else {
        if (out == null) send(0L) // 0 ⇒ chunked
        out.write(b, off, len)
        out.flush()
      }

    /** The result is complete: send what is held with its length (-1 ⇒
      * an empty body), or end the chunked stream. */
    def finish(): Unit = {
      if (out == null) send(if (held == 0) -1L else held.toLong)
      out.close()
    }
  }

  private[server] val UI_HTML: String =
    """<!doctype html><html><head><meta charset="utf-8"><title>graft query</title>
      |<style>body{font-family:monospace;margin:2rem;max-width:70rem}
      |textarea{width:100%;height:6rem}table{border-collapse:collapse;margin-top:1rem}
      |td,th{border:1px solid #999;padding:2px 8px;text-align:left}
      |.meta{color:#666;margin-top:.5rem}</style></head><body>
      |<h3>graft query</h3>
      |<textarea id="q">SELECT 1 AS one, version() AS v</textarea><br>
      |db: <input id="db" value="mydb"> <button onclick="run()">run</button>
      |<div class="meta" id="meta"></div><div id="out"></div>
      |<script>
      |async function run(){
      |  const t0=performance.now();
      |  const r=await fetch('/query',{method:'POST',
      |    body:JSON.stringify({query:document.getElementById('q').value,
      |                         db:document.getElementById('db').value})});
      |  const txt=await r.text();const dt=(performance.now()-t0).toFixed(0);
      |  document.getElementById('meta').textContent=
      |    r.status+' · '+dt+' ms · '+txt.length+' bytes';
      |  let data;try{data=JSON.parse(txt)}catch(e){data={error:txt}}
      |  const out=document.getElementById('out');out.innerHTML='';
      |  if(data.error){out.textContent=data.error;return}
      |  const rows=data.results||[];if(!rows.length){out.textContent='(empty)';return}
      |  const cols=Object.keys(rows[0]);
      |  const tb=document.createElement('table');
      |  tb.innerHTML='<tr>'+cols.map(c=>'<th>'+c+'</th>').join('')+'</tr>'+
      |    rows.map(r=>'<tr>'+cols.map(c=>'<td>'+r[c]+'</td>').join('')+'</tr>').join('');
      |  out.appendChild(tb);
      |}
      |</script></body></html>""".stripMargin
  def main(args: Array[String]): Unit = {
    val argMap = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // FAIR + the per-request pools set in the /query handler: without
      // them concurrent requests run FIFO and point queries starve
      // behind scans (reference serves concurrently too, server.go:142)
      .config("spark.scheduler.mode", "FAIR")
      // static conf, default 100 entries: a gateway serving a varied
      // query mix cycles the codegen LRU to a ~0% hit rate and Janino
      // recompilation serializes concurrent requests (see Bench)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogNoise.silenceFairPoolWarnings()
    // GIGAPI_LAYERS_<i>_* env config (reference README.md:27-31,
    // layerDesc.go): s3 layers register per-bucket fs.s3a.* credentials
    // on the session; the first fs layer can supply the lake root.
    // Root precedence: --root arg > DATA_DIR env > first fs layer URL
    // > default.
    val layers = graft.Layers.registerFromEnv(spark)
    val fsRoot = layers.collectFirst { case graft.Layers.FsLayer(_, p) => p }
    val root = argMap.get("root")
      .orElse(sys.env.get("DATA_DIR"))
      .orElse(fsRoot)
      .getOrElse("/tmp/graft-lake")
    val engine = new Engine(spark, new graft.Catalog(root))
    argMap.get("query") match {
      case Some(q) => // one-shot CLI mode, streamed like a response
        ResultEncoder.writeJson(engine.query(q, argMap.getOrElse("db", "")), System.out)
        System.out.println()
        spark.stop()
      case None => // server mode
        // port precedence: --port arg > PORT env > 8080; DISABLE_UI
        // (any non-empty value) turns off the embedded UI — both from
        // the reference's configuration surface (README.md:45-50)
        val port = argMap.get("port").orElse(sys.env.get("PORT")) match {
          case Some(p) => p.trim.toIntOption.filter(v => v > 0 && v <= 65535)
            .getOrElse(sys.error(
              s"invalid port '$p' (from --port/PORT): expected 1-65535"))
          case None => 8080
        }
        val srv = new QueryServer(engine, port,
          disableUi = sys.env.get("DISABLE_UI").exists(_.nonEmpty))
        srv.start()
        println(s"graft query server on :${srv.boundPort} (root=$root)")
        Thread.currentThread().join()
    }
  }
}
