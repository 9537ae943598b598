package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Catalog, Engine, LakeCompactor, LakeWriter, Tables, TimeRangeExtract}
import graft.encoders.{ArrowEncoder, ResultEncoder}
import graft.server.QueryServer

/**
 * Gateway benchmark: builds a lake with `LakeWriter`, starts a real
 * `QueryServer` on an ephemeral loopback port in this JVM, replays a
 * seeded closed-loop request mix over HTTP for a fixed time, checks every
 * answer against the same SQL over an unpruned view of the lake files,
 * and prints one JSON result line last.
 *
 * With `--trace 1` every request is also replayed in-process with spans
 * around the calls into each layer, and per-layer metrics are reported
 * instead of the end-to-end ones.
 *
 * Usage: GatewayBench --workload <name> --seed <n> --seconds <s>
 *        --trace <0|1> --work <dir> --records <dir>
 */
object GatewayBench {
  val TimeoutMs = 60000
  /** Count metrics of a traced run cover the first requests of every client. */
  val TracedPrefix = 3
  /** Closed-loop warm-up before the window: the workload's
    * `warmupRequests`, shared by `WarmupClients` clients at once, or
    * `WarmupMaxSeconds` if that comes first. A fresh JVM answers 15-35%
    * slower while the JIT compiles the hot paths. A warm-up of fixed
    * time did fewer requests on a slower host, so the fall reached into
    * the window there and widened the spread between runs; a fixed count
    * leaves the JIT equally warm. */
  val WarmupClients = 4
  val WarmupMaxSeconds = 16

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: File, records: File)

  /** One attempted request and what came of it (times in ns / epoch ms;
    * `doneNs` is the `System.nanoTime` of the last byte, 0 if none). */
  final case class Outcome(req: Request, rid: Long, startMs: Long, endMs: Long,
                           latencyNs: Long, ttfbNs: Long, bytes: Long, doneNs: Long,
                           digest: Option[Digest], failure: Option[Failure])

  /** How a wrong answer counts: a short count of an acknowledged slice
    * is a stale read. */
  def wrongCause(req: Request): Failure =
    if (req.kind == "slice_count") Failure.StaleRead else Failure.WrongAnswer

  final case class Metric(name: String, value: Double, unit: String)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val code = parse(argv) match {
      case Left(msg) => System.err.println(msg); 2
      case Right(args) =>
        try run(args)
        catch { case e: Throwable => e.printStackTrace(); 1 }
    }
    // QueryServer.stop() leaves the server's fixed executor threads
    // running, so the JVM would idle after main returns: exit explicitly
    System.exit(code)
  }

  def parse(argv: Array[String]): Either[String, Args] = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.get(k).toRight(s"missing --$k")
    for {
      wn <- need("workload")
      w <- Workloads.byName(wn).toRight(s"unknown workload '$wn' (${Workloads.all.map(_.name).mkString(", ")})")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").flatMap {
        case "0" => Right(false); case "1" => Right(true); case t => Left(s"bad --trace $t")
      }
      work <- need("work")
      records <- need("records")
    } yield Args(w, seed, secs, trace, new File(work), new File(records))
  }

  def session(work: File, cores: Int): SparkSession = {
    // the deployment QueryServer.main sets up, sized to this host
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogNoise.silenceFairPoolWarnings()
    spark
  }

  // ---- lake -----------------------------------------------------------

  private def tableFiles(root: String, table: String, suffix: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(suffix)) Seq(f) else Nil
    walk(new File(new File(root, Lake.Db), table))
  }

  /** Uncompressed size of the rows: fixed-width values at their width,
    * strings at their UTF-8 length. */
  private def logicalBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types.StringType
    val terms = df.schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) coalesce(octet_length(col(f.name)), lit(0)).cast("long")
      else lit(f.dataType.defaultSize.toLong)
    }
    df.select(terms.reduce(_ + _).as("b")).agg(sum("b")).head().getLong(0)
  }

  /** One `LakeWriter.write`, as a span with what it wrote when traced. */
  private def append(spark: SparkSession, tracer: Option[Tracer], root: String, table: String,
                     df: DataFrame, bucketNs: Long, hourly: Boolean, mode: SaveMode): Unit = {
    def write(): Unit = LakeWriter.write(root, Lake.Db, table,
      df.repartition(4, expr(s"time div $bucketNs")), mode = mode, hourPartitions = hourly)
    tracer match {
      case None => write()
      case Some(t) =>
        val before = tableFiles(root, table, ".parquet").map(_.getPath).toSet
        val inputBytes = logicalBytes(df)
        t.span("lakewriter.append")(write()) { _ =>
          val fresh = tableFiles(root, table, ".parquet").filterNot(f => before(f.getPath))
          val touched = fresh.map(_.getParentFile).distinct
          Map("files_written" -> fresh.size.toLong,
            "bytes_written" -> fresh.map(_.length).sum,
            "meta_bytes_written" -> touched.map(d => new File(d, "metadata.json").length).sum,
            "input_bytes" -> inputBytes)
        }
    }
  }

  /** One `LakeCompactor.compact`, as a span with what it replaced when
    * traced: the files it deleted, the files it wrote and their bytes. */
  private def compact(spark: SparkSession, tracer: Option[Tracer], root: String, table: String): Unit = {
    def run(): Unit = LakeCompactor.compact(spark, root, Lake.Db, table)
    tracer match {
      case None => run()
      case Some(t) =>
        val before = tableFiles(root, table, ".parquet")
        t.span("compactor.compact")(run()) { _ =>
          val after = tableFiles(root, table, ".parquet")
          val fresh = after.filterNot(f => before.exists(_.getPath == f.getPath))
          Map("files_in" -> before.count(f => !after.exists(_.getPath == f.getPath)).toLong,
            "files_out" -> fresh.size.toLong, "bytes_rewritten" -> fresh.map(_.length).sum)
        }
    }
  }

  /** One quarter-hour slice of `events_live`. */
  def appendSlice(spark: SparkSession, tracer: Option[Tracer], root: String, k: Int): Unit =
    append(spark, tracer, root, "events_live", Lake.liveSlices(spark, k, k + 1), Lake.HourNs,
      hourly = true, SaveMode.Append)

  /** Builds `table` under `root`. `events` (and the history of
    * `events_live`) is one write of an hourly file each; `lineitem` is
    * two appends compacted to one file per day. */
  def buildTable(spark: SparkSession, tracer: Option[Tracer], root: String, table: String): Unit =
    table match {
      case "events" | "events_live" =>
        append(spark, tracer, root, table, Lake.events(spark), Lake.HourNs, hourly = true,
          SaveMode.Overwrite)
      case "lineitem" =>
        // the newest day arrives in two appends, so its folder holds two
        // files until the compactor merges them
        val last = Lake.T0 + (Lake.LineDays - 1) * Lake.DayNs + Lake.DayNs / 2
        Seq(col("time") < last, col("time") >= last).foreach { part =>
          append(spark, tracer, root, "lineitem", Lake.lineitem(spark).where(part), Lake.DayNs,
            hourly = false, SaveMode.Append)
        }
        compact(spark, tracer, root, "lineitem")
    }

  // ---- one run --------------------------------------------------------

  def run(args: Args): Int = {
    val w = args.workload
    val cores = Runtime.getRuntime.availableProcessors()
    val cpuStart = Census.cpuJiffies()
    val loadBefore = Census.loadAvg()
    val t0 = System.nanoTime()
    args.work.mkdirs()
    val lakeDir = java.nio.file.Files.createTempDirectory(args.work.toPath, "lake-").toFile
    val root = lakeDir.getAbsolutePath
    val spark = session(args.work, cores)
    val sc = spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    val tracer: Option[Tracer] =
      if (!args.trace) None
      else Some(new Tracer((rid, span) => {
        sc.setLocalProperty(SparkCounters.RidKey, rid.toString)
        sc.setLocalProperty(SparkCounters.SpanKey, span.toString)
      }))
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var mark = t0
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    phase("session")
    try {
      // a live table's history is not traced: its writer spans are the
      // appends and compactions of the run
      w.tables.foreach(t => buildTable(spark, if (w.ingest) None else tracer, root, t))
      phase("lake")
      val engine = new Engine(spark, new Catalog(root))
      val server = new QueryServer(engine, port = 0, disableUi = true)
      server.start()
      val traced = tracer.map { t =>
        val cat = new TracedCatalog(new Catalog(root), t)
        (t, cat, new Engine(spark, cat))
      }
      val ingest = if (!w.ingest) None else Some(new Ingest(
        k => appendSlice(spark, tracer, root, k), () => compact(spark, tracer, root, w.tables.head)))
      val live: Live = ingest.getOrElse(Live.Fixed)
      // the writer runs from the warm-up on and stops at the window's deadline
      val writerStop = new AtomicLong(Long.MaxValue)
      val writerError = new AtomicReference[Throwable]()
      val writer = ingest.map { in =>
        val th = new Thread(() =>
          try in.run(() => System.nanoTime() >= writerStop.get)
          catch { case e: Throwable => writerError.set(e) }, "perfbench-writer")
        th.start(); th
      }
      val tally = new Tally
      val outcomes = new ConcurrentLinkedQueue[Outcome]()
      val replays = new ConcurrentLinkedQueue[Long]()
      val replaysFailed = new AtomicLong(0)

      def serve(req: Request, rid: Long, record: Boolean): Unit = {
        if (record) tally.attempt()
        val startMs = System.currentTimeMillis()
        val o = Http.post(server.boundPort, req.sql, req.format, TimeoutMs) match {
          case Left(f) =>
            Outcome(req, rid, startMs, System.currentTimeMillis(), 0, 0, 0, 0, None, Some(f))
          case Right(r) =>
            val d = Try(Answers.fromResponse(req.format, r.body, req.exact)).toOption
            Outcome(req, rid, startMs, System.currentTimeMillis(), r.endNs - r.startNs,
              r.ttfbNs - r.startNs, r.body.length, r.endNs, d,
              if (d.isEmpty) Some(Failure.WrongAnswer) else None)
        }
        if (record) { o.failure.foreach(tally.fail); outcomes.add(o) }
        if (o.failure.isEmpty) traced.foreach { case (t, cat, eng) =>
          // over a live table the replay can race a compaction as the
          // request could; it is then left out of the layer figures
          val done =
            if (w.ingest) Try(replay(spark, t, cat, eng, req, rid, o.digest.get.rows)).isSuccess
            else { replay(spark, t, cat, eng, req, rid, o.digest.get.rows); true }
          if (record) { if (done) replays.add(rid) else replaysFailed.incrementAndGet() }
        }
      }

      /** Closed loop: every client sends its next request when the last
        * is answered, until `until(sent)` says stop. An error in the
        * benchmark's own code ends the run instead of a client. */
      def loop(clients: Int, seqOf: Int => Iterator[Request], record: Boolean)(until: Int => Boolean): Unit = {
        val errors = new ConcurrentLinkedQueue[Throwable]()
        val threads = (0 until clients).map { c =>
          val th = new Thread(() => {
            try {
              val it = seqOf(c)
              var sent = 0
              while (!until(sent)) {
                val req = it.next()
                // warm-up requests get ids the measured ones never use
                serve(req, c * 1000000L + req.seq + (if (record) 0 else 500000), record)
                sent += 1
              }
            } catch { case e: Throwable => errors.add(e) }
          }, s"perfbench-client-$c")
          th.start(); th
        }
        threads.foreach(_.join())
        Option(errors.peek()).foreach(e => throw e)
      }

      phase("server")
      val warmEnd = System.nanoTime() + WarmupMaxSeconds * 1000000000L
      val warmClients = math.max(w.clients, WarmupClients)
      loop(warmClients, c => w.warmup(args.seed, c, live), record = false) { sent =>
        sent >= w.warmupRequests / warmClients || System.nanoTime() >= warmEnd
      }
      phase("warmup")
      val setupS = (System.nanoTime() - t0) / 1e9
      val census = Census.host() ++ Map("loadavg_before" -> loadBefore,
        "steal_pct_setup" -> Census.stealPct(cpuStart, Census.cpuJiffies()))

      val gc0 = Census.gcMs()
      val cpu0 = Census.cpuJiffies()
      val start = System.nanoTime()
      val deadline = start + args.seconds * 1000000000L
      val hardStop = deadline + 60L * 1000000000L
      writerStop.set(deadline)
      loop(w.clients, c => w.sequence(args.seed, c, live), record = true) { sent =>
        val now = System.nanoTime()
        now >= hardStop || (now >= deadline && (!args.trace || sent >= TracedPrefix))
      }
      val wallS = (System.nanoTime() - start) / 1e9
      writer.foreach(_.join())
      Option(writerError.get).foreach(e => throw e)
      val gcMs = Census.gcMs() - gc0
      val stealDuring = Census.stealPct(cpu0, Census.cpuJiffies())
      val liveHeap = Census.liveHeapMb()
      server.stop()

      val all = outcomes.asScala.toSeq.sortBy(o => (o.req.client, o.req.seq))
      phase("window")
      val wrong = check(spark, root, w, all, ingest.map(_.slices.size).getOrElse(0))
      phase("check")
      all.filter(o => wrong(o.rid)).foreach(o => tally.fail(wrongCause(o.req)))
      // timings cover every answered request, a wrong answer too: it is
      // counted in `failed`, and a run whose answers are all wrong still
      // reports a result
      val answered = all.filter(_.failure.isEmpty)

      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      val jobs = counters.all
      val metrics =
        (if (!args.trace) endToEnd(answered, wallS, setupS, liveHeap)
        else perLayer(tracer.get, jobs, all, replays.asScala.toSet, gcMs)) ++
          ingest.map(in => ingestMetrics(in, all, wrong, start, wallS) ++
            (if (args.trace) Seq(Metric("trace.replays_failed", replaysFailed.get.toDouble, "count"))
            else Nil)).getOrElse(Nil)

      val record = Map(
        "workload" -> w.name, "seed" -> args.seed, "seconds" -> args.seconds,
        "trace" -> args.trace, "clients" -> w.clients,
        "census" -> (census ++ Map("steal_pct_during" -> stealDuring,
          "loadavg_after" -> Census.loadAvg(), "gc_ms_during" -> gcMs)),
        "wall_s" -> wallS, "setup_s" -> setupS, "phases_s" -> phases.toMap, "error_frac" -> tally.errorFrac,
        "latency_tail" -> latencyTail(answered).map { case (p, v) =>
          Map("percentile" -> p, "ms" -> v, "samples" -> answered.size) }.orNull,
        "failures" -> tally.byCause,
        "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
        "requests" -> all.map(o => requestRecord(o, wrong, jobs, w.clients == 1 && !args.trace)))
      val name = f"${java.time.Instant.now().toString.replace(":", "")}-${w.name}-s${args.seed}-t${if (args.trace) 1 else 0}-${ProcessHandle.current().pid()}"
      val dir = new File(args.records, s"c$cores")
      dir.mkdirs()
      java.nio.file.Files.writeString(new File(dir, s"$name.json").toPath, json.writeValueAsString(record))
      tracer.foreach(t => writeSpans(new File(dir, s"$name.spans.jsonl"), t.all, jobs))

      println(s"workload ${w.name} seed ${args.seed} clients ${w.clients} trace ${if (args.trace) 1 else 0}")
      println(f"census nproc ${census("nproc")} steal_setup ${census("steal_pct_setup").asInstanceOf[Double]}%.1f%% " +
        f"steal_during $stealDuring%.1f%% load ${census("loadavg_before")} gc ${census("gc_collectors")} heap_max ${census("heap_max_mb")}MB")
      println("phases " + phases.map { case (k, v) => f"$k $v%.2fs" }.mkString(" "))
      println(f"requests attempted ${tally.attempted} failed ${tally.failed} error_frac ${tally.errorFrac}%.4f " +
        s"by_cause ${tally.byCause} samples ${answered.size}")
      latencyTail(answered).foreach { case (p, v) =>
        println(f"latency tail p$p%d (ten samples beyond, of ${answered.size}) $v%.4f ms") }
      metrics.foreach(m => println(f"${m.name}%-32s ${m.value}%14.4f ${m.unit}"))
      println(json.writeValueAsString(Map(
        "correct" -> (tally.failed == 0),
        "attempted" -> tally.attempted,
        "failed" -> tally.failed,
        "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
      0
    } finally {
      Try(spark.stop())
      Try(org.apache.commons.io.FileUtils.deleteDirectory(lakeDir))
    }
  }

  // ---- checking -------------------------------------------------------

  /** Request ids whose answer differs from the reference: the same SQL
    * (time literals as epoch ns) over an unpruned `spark.read.parquet`
    * view of every file of the table, in a separate session that carries
    * none of the program's rules. Every answer counts as wrong if the
    * files do not hold exactly the generated rows. */
  def check(spark: SparkSession, root: String, w: Workload, outcomes: Seq[Outcome],
            slices: Int): Set[Long] = {
    val oracle = spark.newSession()
    // the reference answers are small: one partition, no whole-stage
    // code generation, so each distinct statement costs little to run
    oracle.conf.set("spark.sql.shuffle.partitions", "1")
    oracle.conf.set("spark.sql.codegen.wholeStage", "false")
    oracle.conf.set("spark.sql.adaptive.enabled", "false")
    val views = w.tables.map { t =>
      // every parquet file below the table directory, without partition
      // columns: the rows the engine's own reads see, none pruned away
      val df = oracle.read.option("recursiveFileLookup", "true").option("pathGlobFilter", "*.parquet")
        .parquet(new File(new File(root, Lake.Db), t).getAbsolutePath)
        .repartition(1).cache() // one cached partition: one scan task per statement
      df.createOrReplaceTempView(t)
      df.count() // fill the cache once, before the concurrent queries
      t -> df
    }
    // the files are checked against the generator, so a writer or
    // compactor that loses or changes rows cannot pass unnoticed: the
    // reference would read the same damaged files as the gateway
    val damaged = views.filterNot { case (t, df) => sameRows(df, Lake.table(oracle, t, slices)) }.map(_._1)
    damaged.foreach(t => System.err.println(s"lake table $t differs from its generated rows"))
    val answered = outcomes.filter(_.failure.isEmpty)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val expected: Map[String, Digest] =
      try {
        answered.map(_.req).groupBy(_.oracleSql).view.mapValues(_.head).toSeq.map { case (sql, r) =>
          sql -> pool.submit(() =>
            if (r.kind == "show_tables") {
              val b = new Answers.Builder(keepRows = true)
              w.tables.sorted.foreach(t => b.add(Answers.canonRow(Seq("table_name" -> t))))
              b.result
            } else Answers.fromDataFrame(oracle.sql(sql), r.exact))
        }.map { case (sql, f) => sql -> f.get() }.toMap
      } finally pool.shutdown()
    val wrong = answered.filterNot(o => o.digest.get.matches(expected(o.req.oracleSql)))
    wrong.take(3).foreach { o =>
      System.err.println(s"wrong answer: ${o.req.sql}\n  got ${o.digest.get}\n  want ${expected(o.req.oracleSql)}")
    }
    views.foreach(_._2.unpersist())
    // with damaged files no answer can be trusted
    (if (damaged.nonEmpty) answered else wrong).map(_.rid).toSet
  }

  /** `files` holds exactly the rows of `generated`: the same columns and
    * types, the same count and the same order-independent sum of row
    * hashes. */
  def sameRows(files: DataFrame, generated: DataFrame): Boolean = {
    def digest(df: DataFrame) = {
      val cols = generated.columns.toSeq.map(col)
      df.select(cols: _*).agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(1L << 40)))).head()
    }
    files.schema.fields.map(f => f.name -> f.dataType).toMap ==
      generated.schema.fields.map(f => f.name -> f.dataType).toMap &&
      digest(files) == digest(generated)
  }

  // ---- metrics ---------------------------------------------------------

  /** The highest percentile of the latencies with ten samples beyond it:
    * (percentile, ms), or None below twenty samples. */
  def latencyTail(answered: Seq[Outcome]): Option[(Int, Double)] = {
    val lat = answered.map(_.latencyNs / 1e6)
    Stats.tailPercentile(lat.size).map(p => p -> Stats.percentile(lat, p))
  }

  /** End-to-end metrics over the answered requests of the window. */
  def endToEnd(answered: Seq[Outcome], wallS: Double, setupS: Double, liveHeapMb: Double): Seq[Metric] = {
    val lat = answered.map(_.latencyNs / 1e6)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("latency_p50_ms", Stats.median(lat), "ms"),
      Metric("qps", answered.size / wallS, "1/s"),
      Metric("ttfb_p50_ms", Stats.median(answered.map(_.ttfbNs / 1e6)), "ms"),
      Metric("response_mb_per_s", answered.map(_.bytes).sum / 1e6 / wallS, "MB/s"),
      Metric("live_heap_mb", liveHeapMb, "MiB"))
  }

  /** The live table's figures: rows acknowledged per second of window,
    * the median time from a slice's acknowledgement to the end of the
    * correct read that counted it, and the reads that failed while a
    * compaction ran. */
  def ingestMetrics(in: Ingest, outcomes: Seq[Outcome], wrong: Set[Long], startNs: Long,
                    wallS: Double): Seq[Metric] = {
    val endNs = startNs + (wallS * 1e9).toLong
    val rows = in.slices.filter(s => s.ackedNs >= startNs && s.ackedNs <= endNs).map(_.rows).sum
    val fresh = outcomes.filter(o => o.req.ackedNs != 0 && o.failure.isEmpty && !wrong(o.rid))
      .map(o => (o.doneNs - o.req.ackedNs) / 1e6)
    val failedDuring = outcomes.count(o => (o.failure.nonEmpty || wrong(o.rid)) &&
      in.duringCompaction(o.startMs, o.endMs))
    Seq(Metric("ingest_rows_per_s", rows / wallS, "rows/s")) ++
      (if (fresh.isEmpty) Nil else Seq(Metric("freshness_p50_ms", Stats.median(fresh), "ms"))) ++
      Seq(Metric("compactor.reads_failed_during", failedDuring.toDouble, "count"))
  }

  private def unitOf(name: String): String =
    if (name.contains("_ms")) "ms"
    else if (name.endsWith("ns_per_row")) "ns"
    else if (name.endsWith("bytes_per_input_byte") || name.endsWith("ratio")) "ratio"
    else if (name.endsWith("bytes") || name.endsWith("bytes_out") || name.endsWith("bytes_written") ||
      name.endsWith("bytes_rewritten")) "bytes"
    else "count"

  /** Per-layer metrics of a traced run: request layers from the replay
    * spans, the writer and compactor from the set-up's lake build. */
  def perLayer(t: Tracer, jobs: Seq[SparkCounters.Job], outcomes: Seq[Outcome], replayed: Set[Long],
               gcMs: Long): Seq[Metric] = {
    val spans = t.all
    val byRid = spans.groupBy(_.rid)
    val jobsByRid = jobs.groupBy(_.rid)
    val reqs = outcomes.filter(o => o.failure.isEmpty && replayed(o.rid)).map { o =>
      LayerMetrics.forRequest(o.rid, o.req.seq, o.req.format, o.latencyNs / 1e6,
        byRid.getOrElse(o.rid, Nil), jobsByRid.getOrElse(o.rid, Nil))
    }
    def setup(name: String) = spans.filter(s => s.rid == -1 && s.name == name)
    def total(name: String, key: String) = setup(name).flatMap(_.counts.get(key)).sum.toDouble
    val appends = setup("lakewriter.append")
    val inputBytes = total("lakewriter.append", "input_bytes")
    val layers = LayerMetrics.summarize(reqs, TracedPrefix) ++ Map(
      "lakewriter.append_ms" -> Stats.mean(appends.map(_.ms)),
      "lakewriter.files_written" -> total("lakewriter.append", "files_written"),
      "lakewriter.meta_bytes_written" -> total("lakewriter.append", "meta_bytes_written"),
      "lakewriter.bytes_per_input_byte" -> (if (inputBytes == 0) 0.0 else
        (total("lakewriter.append", "bytes_written") + total("lakewriter.append", "meta_bytes_written")) / inputBytes),
      "compactor.compact_ms" -> setup("compactor.compact").map(_.ms).sum,
      "compactor.files_in" -> total("compactor.compact", "files_in"),
      "compactor.files_out" -> total("compactor.compact", "files_out"),
      "compactor.bytes_rewritten" -> total("compactor.compact", "bytes_rewritten"),
      "jvm.gc_ms" -> gcMs.toDouble)
    layers.toSeq.sortBy(_._1).map { case (k, v) => Metric(k, v, unitOf(k)) }
  }

  /** One request of the record; with a single HTTP client, the Spark jobs
    * that started while it was in flight are its own. */
  private def requestRecord(o: Outcome, wrong: Set[Long], jobs: Seq[SparkCounters.Job],
                            attribute: Boolean): Map[String, Any] = {
    val base = Map[String, Any]("client" -> o.req.client, "seq" -> o.req.seq, "kind" -> o.req.kind,
      "format" -> o.req.format, "latency_ms" -> o.latencyNs / 1e6, "ttfb_ms" -> o.ttfbNs / 1e6,
      "bytes" -> o.bytes, "rows" -> o.digest.map(_.rows).getOrElse(0L),
      "failure" -> o.failure.map(_.label).orElse(if (wrong(o.rid)) Some(wrongCause(o.req).label) else None).orNull)
    if (!attribute) base
    else {
      val js = jobs.filter(j => j.rid == -1 && j.startMs >= o.startMs && j.startMs <= o.endMs)
      base ++ Map("spark_jobs" -> js.size, "spark_tasks" -> js.map(_.tasks).sum,
        "spark_input_bytes" -> js.map(_.inputBytes).sum, "spark_shuffle_bytes" -> js.map(_.shuffleBytes).sum)
    }
  }

  private def writeSpans(f: File, spans: Seq[Span], jobs: Seq[SparkCounters.Job]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(f.toPath)
    try {
      spans.sortBy(_.id).foreach { s =>
        w.write(json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "rid" -> s.rid,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "probe" -> s.probe,
          "counts" -> s.counts)))
        w.newLine()
      }
      jobs.foreach { j =>
        w.write(json.writeValueAsString(Map("job" -> j.id, "parent" -> j.span, "rid" -> j.rid,
          "name" -> "spark.job", "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks,
          "cpu_ns" -> j.cpuNs, "input_bytes" -> j.inputBytes, "shuffle_bytes" -> j.shuffleBytes)))
        w.newLine()
      }
    } finally w.close()
  }

  // ---- traced in-process replay ----------------------------------------

  /** The request again, in-process: the engine's own catalog calls are
    * spans through `cat`; time-range extraction and schema resolution are
    * timed by probe calls with the engine's inputs; then planning and
    * encoding as the server does them, and a probe that encodes the
    * collected result again to separate encoding from execution. */
  def replay(spark: SparkSession, t: Tracer, cat: TracedCatalog, eng: Engine, req: Request,
             rid: Long, rows: Long): Unit = {
    cat.takeWalked()
    t.span("request", rid = rid) {
      val sql = req.sql.trim.replaceAll("\\s+", " ")
      val plan = t.span("timerange.parse", probe = true)(Try(TimeRangeExtract.parse(spark, sql)).toOption)()
      t.span("timerange.extract", probe = true)(plan.foreach { p =>
        TimeRangeExtract.extractPerRelation(p); TimeRangeExtract.extractPerAlias(p)
      })()
      val df = t.span("engine.query")(eng.query(req.sql))()
      val walked = cat.takeWalked()
      walked.map(_._3).filter(_.nonEmpty).foreach { paths =>
        t.span("tables.schema", probe = true)(
          Tables.readEvolving(spark, paths, Seq("ts", "time")).schema)(_ => Map("files" -> paths.size.toLong))
      }
      t.span("spark.plan")(df.queryExecution.executedPlan)()
      t.span(s"encoders.encode.${req.format}")(encode(df, req.format)) { n =>
        Map("bytes_out" -> n, "rows_out" -> rows)
      }
      // encoding alone: the same rows, already in the driver, encoded again
      val local = t.span("encoders.collect", probe = true)(
        spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema))()
      t.span("encoders.probe", probe = true)(encode(local, req.format))()
      val now = System.nanoTime()
      t.record(0, rid, "catalog.total", now, now, Map("files_total" ->
        walked.map { case (db, table, _) => cat.underlying.prunedPaths(db, table, None).size.toLong }.sum))
    }()
  }

  /** Encode as the server does; returns the body length in bytes. */
  private def encode(df: DataFrame, format: String): Long = format match {
    case "arrow" =>
      val out = new org.apache.commons.io.output.CountingOutputStream(java.io.OutputStream.nullOutputStream())
      ArrowEncoder.writeStream(df, out)
      out.getByteCount
    case "ndjson" => ResultEncoder.toNdjsonString(df).getBytes(UTF_8).length.toLong
    case _ => ResultEncoder.toJsonString(df).getBytes(UTF_8).length.toLong
  }
}
