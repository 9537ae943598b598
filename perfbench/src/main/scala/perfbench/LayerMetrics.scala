package perfbench

/** Per-layer figures of one traced request, derived from its spans.
  *
  * The request is sent over HTTP (latency L) and then replayed
  * in-process, where I = engine.query + spark.plan + encode is the path
  * the server runs and the request's traced latency. Self times:
  *  - server (not part of I): L - I;
  *  - catalog: the spans the engine's own catalog calls produced (nested
  *    inside engine.query);
  *  - timerange, tables: probe calls with the engine's inputs, charged to
  *    engine.query because the engine makes the same calls internally;
  *  - engine: engine.query minus catalog, timerange and tables;
  *  - spark.plan;
  *  - encoders: a probe encoding the collected result rows again, minus
  *    the Spark job that hands a driver-side relation to the encoder;
  *  - spark.exec: the encode call minus the encoders' share.
  * Spark counters (`spark.jobs`, `.tasks`, `.executor_cpu_ms`,
  * `.input_bytes`, `.shuffle_bytes`) cover every job the request ran
  * outside the probe calls: the footer and listing jobs of schema
  * resolution inside engine.query as well as execution. The
  * engine.query share alone is `engine.spark_jobs` / `.spark_tasks`.
  * The in-process self times add up to I unless a probe over-estimates
  * its layer, which drives engine.self negative; `selftime_ratio` is
  * their sum clamped at zero over I, so 1.0 means the split is
  * consistent. L and I are two executions of one request, so the server
  * overhead is only meaningful as a mean over many requests. */
final case class RequestLayers(rid: Long, seq: Int, format: String, httpMs: Double,
                               v: Map[String, Double])

object LayerMetrics {

  /** Layer self times whose clamped sum is compared with the latency. */
  val SelfTimes: Seq[String] = Seq("engine.self_ms", "timerange.parse_ms",
    "timerange.extract_ms", "catalog.walk_ms", "catalog.meta_ms", "catalog.list_ms",
    "tables.schema_ms", "spark.plan_ms", "spark.exec_ms", "encoders.encode_ms")

  def forRequest(rid: Long, seq: Int, format: String, httpMs: Double, spans: Seq[Span],
                 jobs: Seq[SparkCounters.Job]): RequestLayers = {
    def ms(name: String): Double = spans.filter(_.name == name).map(_.ms).sum
    def count(name: String, key: String): Long =
      spans.filter(_.name == name).flatMap(_.counts.get(key)).sum
    val encode = spans.filter(_.name.startsWith("encoders.encode"))
    // every job the request ran, the engine's schema resolution included,
    // except those of the benchmark's own probe calls
    val probeIds = probeSubtrees(spans)
    val reqJobs = jobs.filterNot(j => probeIds(j.span))
    val engineIds = subtrees(spans, spans.filter(_.name == "engine.query").map(_.id).toSet)
    val engineJobs = reqJobs.filter(j => engineIds(j.span))
    val encodeMs = encode.map(_.ms).sum
    // the probe re-encodes driver-side rows; the one job that ships them
    // back through Spark is not encoding work
    val probe = spans.filter(_.name == "encoders.probe")
    val probeJobMs = jobs.filter(j => probe.exists(_.id == j.span) && j.endMs >= j.startMs)
      .map(j => (j.endMs - j.startMs).toDouble).sum
    val encoderMs = math.min(encodeMs, math.max(0.0, probe.map(_.ms).sum - probeJobMs))
    val execMs = encodeMs - encoderMs
    val engineMs = ms("engine.query")
    val inProcess = engineMs + ms("spark.plan") + encodeMs
    val catalogMs = ms("catalog.walk") + ms("catalog.meta") + ms("catalog.list")
    val probeMs = ms("timerange.parse") + ms("timerange.extract") + ms("tables.schema")
    val v = Map(
      "server.overhead_ms" -> (httpMs - inProcess),
      "engine.query_ms" -> engineMs,
      "engine.self_ms" -> (engineMs - catalogMs - probeMs),
      "timerange.parse_ms" -> ms("timerange.parse"),
      "timerange.extract_ms" -> ms("timerange.extract"),
      "catalog.walk_ms" -> ms("catalog.walk"),
      "catalog.meta_ms" -> ms("catalog.meta"),
      "catalog.list_ms" -> ms("catalog.list"),
      "catalog.files_kept" -> count("catalog.walk", "files_kept").toDouble,
      "catalog.files_total" -> count("catalog.total", "files_total").toDouble,
      "tables.schema_ms" -> ms("tables.schema"),
      "tables.files" -> count("tables.schema", "files").toDouble,
      "spark.plan_ms" -> ms("spark.plan"),
      "spark.exec_ms" -> execMs,
      "spark.jobs" -> reqJobs.size.toDouble,
      "spark.tasks" -> reqJobs.map(_.tasks).sum.toDouble,
      "spark.executor_cpu_ms" -> reqJobs.map(_.cpuNs).sum / 1e6,
      "spark.input_bytes" -> reqJobs.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_bytes" -> reqJobs.map(_.shuffleBytes).sum.toDouble,
      "engine.spark_jobs" -> engineJobs.size.toDouble,
      "engine.spark_tasks" -> engineJobs.map(_.tasks).sum.toDouble,
      "encoders.encode_ms" -> encoderMs,
      "encoders.bytes_out" -> encode.flatMap(_.counts.get("bytes_out")).sum.toDouble,
      "encoders.rows_out" -> encode.flatMap(_.counts.get("rows_out")).sum.toDouble)
    val clamped = SelfTimes.map(k => math.max(0.0, v(k))).sum
    RequestLayers(rid, seq, format, httpMs, v + ("inprocess_ms" -> inProcess) +
      ("selftime_ratio" -> (if (inProcess > 0) clamped / inProcess else 1.0)))
  }

  /** Ids of `roots` and of every span below them. */
  def subtrees(spans: Seq[Span], roots: Set[Long]): Set[Long] = {
    var ids = roots
    var grown = true
    while (grown) {
      val more = spans.filter(s => !ids(s.id) && ids(s.parent)).map(_.id)
      grown = more.nonEmpty
      ids ++= more
    }
    ids
  }

  /** Ids of the probe spans and of every span below them. */
  def probeSubtrees(spans: Seq[Span]): Set[Long] =
    subtrees(spans, spans.filter(_.probe).map(_.id).toSet)

  /** Run-level per-layer metrics. Times are means over every traced
    * request; counts are means over the fixed prefix of each client's
    * sequence (`seq < prefix`), so the same seed gives the same counts. */
  def summarize(reqs: Seq[RequestLayers], prefix: Int): Map[String, Double] = {
    val head = reqs.filter(_.seq < prefix)
    def meanOf(rs: Seq[RequestLayers], k: String) = Stats.mean(rs.map(_.v(k)))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val times = Seq("server.overhead_ms", "engine.query_ms", "engine.self_ms",
      "timerange.parse_ms", "timerange.extract_ms", "catalog.walk_ms", "catalog.meta_ms",
      "catalog.list_ms", "tables.schema_ms", "spark.plan_ms", "spark.exec_ms",
      "spark.executor_cpu_ms", "encoders.encode_ms")
    val counts = Seq("catalog.files_kept", "catalog.files_total", "spark.jobs", "spark.tasks",
      "spark.input_bytes", "spark.shuffle_bytes", "engine.spark_jobs", "engine.spark_tasks",
      "encoders.rows_out", "encoders.bytes_out")
    val perFormat = Workloads.ExportFormats.map { f =>
      s"encoders.encode_ms.$f" -> meanOf(reqs.filter(_.format == f), "encoders.encode_ms")
    }
    val sum = (k: String) => reqs.map(_.v(k)).sum
    times.map(k => k -> meanOf(reqs, k)).toMap ++
      counts.map(k => k -> meanOf(head, k)) ++ perFormat ++ Map(
        "catalog.prune_ratio" -> ratio(head.map(_.v("catalog.files_kept")).sum,
          head.map(_.v("catalog.files_total")).sum),
        "tables.schema_ms_per_file" -> ratio(sum("tables.schema_ms"), sum("tables.files")),
        "encoders.ns_per_row" -> ratio(sum("encoders.encode_ms") * 1e6, sum("encoders.rows_out")),
        "trace.http_p50_ms" -> (if (reqs.isEmpty) 0.0 else Stats.median(reqs.map(_.httpMs))),
        "trace.inprocess_p50_ms" -> (if (reqs.isEmpty) 0.0 else Stats.median(reqs.map(_.v("inprocess_ms")))),
        "trace.selftime_ratio" -> meanOf(reqs, "selftime_ratio"),
        "trace.selftime_off_by_10pct" ->
          reqs.count(r => math.abs(r.v("selftime_ratio") - 1.0) > 0.1).toDouble,
        "trace.requests" -> reqs.size.toDouble)
  }
}
