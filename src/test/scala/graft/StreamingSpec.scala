package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming results must agree with their batch twins on a static dir. */
class StreamingSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  /** readStream needs a directory — stage a testdata file into one,
    * `copies` times (part0..partN). */
  private def stage(table: String, copies: Int = 1): String = {
    val d = tempDir(s"$table-stream").toPath
    (0 until copies).foreach { i =>
      java.nio.file.Files.copy(
        java.nio.file.Path.of(s"/root/testdata/sf0.001/$table.parquet"),
        d.resolve(s"part$i.parquet"))
    }
    d.toString
  }

  private lazy val streamDir: String = stage("events")

  test("windowed streaming counts equal batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.load(spark, dir, "events")
    val schema = batchEvents.schema
    val stream = EventStream.readEvents(spark, streamDir, schema)
    val agg = EventStream.windowedCounts(stream, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_counts")
        .agg(sum("n")).head.getLong(0)
      assert(streamed == batchEvents.count())
      // spot-check one bucket against the batch twin
      val batch = batchEvents
        .groupBy(timestamp_micros(expr("(ts - ts % 3600000000000) div 1000")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val s1 = spark.table("win_counts")
        .select("window_start", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val b1 = batch.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(s1 == b1)
    } finally q.stop()
  }

  test("streaming tiered rollup equals the batch cold tier exactly") {
    // the streaming twin of Retention.tieredDownsample's rollup
    // branch: every FINAL window must carry the identical
    // (n_rows, v_avg, v_min, v_max) — including the exact-decimal-sum
    // average, which is order-independent and therefore immune to the
    // micro-batch arrival order
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.load(spark, dir, "events")
    val stream = EventStream.readEvents(spark, streamDir, batchEvents.schema)
    val q = EventStream.tieredRollup(stream, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("tier_rollup")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val H = 3600L * 1000 * 1000 * 1000
      val streamed = spark.table("tier_rollup").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      // batch twin: cutoff above every ts -> everything is cold tier
      val batch = graft.operators.Retention.tieredDownsample(batchEvents,
          "ts", Seq("event_type"), "value",
          cutoffNs = Long.MaxValue, bucketNs = H)
        .filter(col("tier") === "rollup")
        .collect()
        .map(r => (r.getLong(1) / 1000000L, r.getString(0), r.getLong(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      assert(streamed.nonEmpty)
      assert(streamed.map(t => (t._1, t._2)).size == streamed.size)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("text-pipeline kernels run unchanged in a streaming plan") {
    // cleanText / RepetitionStats / decontamination flag are stateless
    // per-row expressions, so a streaming ingest pipeline can run them
    // map-side with no state store — verify the streamed result equals
    // the batch twin on a static dir.
    import graft.operators.{Contamination, TextAnalysis}
    import graft.functions.TextExprs
    val d = stage("documents")
    val batchDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val needles = Contamination.evalGramHashes(
      batchDocs.filter(col("doc_id") % 29 === 0), "text", w = 5)
    def pipeline(docs: org.apache.spark.sql.DataFrame) =
      Contamination.flagContaminated(docs, "text", 5, needles)
        .select(col("doc_id"),
          md5(TextAnalysis.cleanText(col("text"))).as("clean_md5"),
          TextExprs.repetition_stats(col("text")).getField("n_distinct")
            .as("n_distinct"),
          col("contaminated"),
          // the fused profiler kernel is equally stateless — a quality/
          // encoding-health monitor runs map-side at stream ingest
          TextExprs.text_profile(col("text")).getField("n_latin")
            .as("n_latin"),
          TextAnalysis.fleschReadingEase(col("text"))
            .collectFirst { case ("flesch", c) => c }.get.as("flesch"),
          // the newest kernels are stateless too: phrase-blocklist
          // hits and the fused feature-hash embedding at ingest
          size(graft.functions.AhoCorasick.multi_phrase_hits(col("text"),
            Seq("batch batch", "merge slow"))).as("n_phrase_hits"),
          md5(to_json(struct(graft.functions.TextExprs
            .hash_embed_vec(col("text"), 8)))).as("embed_md5"))
    val stream = spark.readStream.schema(batchDocs.schema).parquet(d)
    val q = pipeline(stream).writeStream.format("memory")
      .queryName("docs_clean").outputMode("append").start()
    try {
      q.processAllAvailable()
      // row-count equality first: Set comparison alone would mask
      // duplicate emissions from re-processed micro-batches
      assert(spark.table("docs_clean").count() == batchDocs.count())
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3),
          r.getLong(4), r.getDouble(5), r.getInt(6), r.getString(7))
      val streamed = spark.table("docs_clean").collect().map(key).toSet
      val batch = pipeline(batchDocs).collect().map(key).toSet
      assert(streamed == batch)
      assert(streamed.exists(_._4), "contaminated docs must appear")
      assert(streamed.exists(_._7 > 0), "phrase hits must appear")
    } finally q.stop()
  }

  test("stream-stream proximity join equals the batch band join") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.load(spark, dir, "events")
    val schema = batchEvents.schema
    def side(tpe: String, idAs: String, tsAs: String) =
      EventStream.readEvents(spark, streamDir, schema)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("event_time").as("event_time"))
        .withColumnRenamed("event_time", "event_time")
    val clicks = side("click", "click_id", "l")
    val purchases = side("purchase", "purchase_id", "r")
    val joined = EventStream.proximityJoin(clicks, purchases, tolMs = 1800000,
      watermark = "3 hours")
      .select(col("click_id"), col("purchase_id"))
    val q = joined.writeStream.format("memory").queryName("prox_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("prox_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin over the same µs-truncated timestamps (BandJoin, q99's path)
      val us = batchEvents.withColumn("tsu", col("ts") - pmod(col("ts"), lit(1000L)))
      val batch = graft.operators.BandJoin.bandJoin(
          us.filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("tsu").as("ct")),
          us.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"), col("tsu").as("pt")),
          "ct", "pt", 1800000000000L)
        .select(col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming LSH near-dup candidates equal the batch band collisions") {
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val d = stage("documents")
    val batchDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val stream = spark.readStream.schema(batchDocs.schema).parquet(d)
    val q = StreamingDedup.nearDupCandidates(stream, "doc_id", "text",
        shingleWords = 3, k = 64, bands = 16, minEstJaccard = 0.4)
      .writeStream.format("memory").queryName("stream_neardup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_neardup")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = Dedup.minhashCandidates(batchDocs, "doc_id", "text",
          shingleWords = 3, k = 64, bands = 16, minEstJaccard = 0.4)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty, "planted near-dups must collide")
      // re-processing the same docs in a later batch adds NO new pairs
      java.nio.file.Files.copy(
        java.nio.file.Path.of("/root/testdata/sf0.001/documents.parquet"),
        java.nio.file.Path.of(d).resolve("part1.parquet"))
      q.processAllAvailable()
      val after = spark.table("stream_neardup")
        .select("id_a", "id_b").distinct().count()
      assert(after == streamed.size, "re-delivered docs must not re-pair")
    } finally q.stop()
  }

  test("streaming winnow candidates equal the batch shared-fp surface") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamingWinnow
    val d = stage("documents")
    val batchDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val stream = spark.readStream.schema(batchDocs.schema).parquet(d)
    val q = StreamingWinnow.candidates(stream, "doc_id", "text", k = 3, w = 4)
      .writeStream.format("memory").queryName("stream_winnow")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_winnow")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin: the minShared=1, uncapped candidate surface
      val batch = TextAnalysis.winnowPairs(batchDocs, "doc_id", "text",
          k = 3, w = 4, minShared = 1, maxFpBucket = None)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty, "corpus has shared winnow fingerprints")
      // at-least-once replay: re-delivered docs add no pairs
      java.nio.file.Files.copy(
        java.nio.file.Path.of("/root/testdata/sf0.001/documents.parquet"),
        java.nio.file.Path.of(d).resolve("part1.parquet"))
      q.processAllAvailable()
      val after = spark.table("stream_winnow")
        .select("id_a", "id_b").distinct().count()
      assert(after == streamed.size, "re-delivered docs must not re-pair")
    } finally q.stop()
  }

  test("contamination flagging applies statelessly at ingest") {
    // the eval gram set is driver metadata and the corpus side is one
    // codegen'd kernel projection — so the SAME operator call runs on
    // a readStream frame unchanged, flagging at ingest with no state
    import graft.operators.Contamination
    val d = stage("documents")
    val batchDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val evalSet = batchDocs.filter(col("doc_id") % 29 === 0)
    val hashes = Contamination.evalGramHashes(evalSet, "text", w = 5)
    val stream = spark.readStream.schema(batchDocs.schema).parquet(d)
    val q = Contamination.flagContaminated(stream, "text", 5, hashes)
      .select(col("doc_id"), col("contaminated"))
      .writeStream.format("memory").queryName("stream_decon")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_decon")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val batch = Contamination.flagContaminated(batchDocs, "text", 5, hashes)
        .select(col("doc_id"), col("contaminated"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == batch)
      assert(streamed.values.exists(identity) &&
        streamed.values.exists(!_), "flag must discriminate")
    } finally q.stop()
  }

  test("streaming image near-dup pairs equal the batch banded hamming join") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.streaming.StreamingImageDedup
    // a small media table of textured twins + an undecodable payload,
    // split across TWO files so pairs must form across micro-batch
    // boundaries through the state store
    val rows = (0L until 40L).flatMap { s =>
      val base = Multimodal.syntheticGridImage(s, 45, 40, "bmp")
      Seq(Multimodal.MediaRow(2 * s, base),
        Multimodal.MediaRow(2 * s + 1,
          Multimodal.areaResizeGray(base, 27, 24, "bmp").get))
    } :+ Multimodal.MediaRow(999L, "not an image".getBytes)
    val d = tempDir("media-stream").toPath
    val (first, second) = rows.splitAt(rows.size / 2)
    first.toDS().write.parquet(d.resolve("batch0").toString)
    second.toDS().write.parquet(d.resolve("batch1").toString)
    val batch = rows.toDS()
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1) // force multi-batch state flow
      .parquet(d.toString + "/*")
      .as[Multimodal.MediaRow]
    val q = StreamingImageDedup.nearDupCandidates(stream, maxHamming = 3)
      .writeStream.format("memory").queryName("stream_imgdedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_imgdedup")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Multimodal.imageNearDupPairs(batch, maxHamming = 3)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == want)
      assert(streamed.nonEmpty, "planted twins must pair")
    } finally q.stop()
  }

  test("streaming video frame candidates equal the batch banded join") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    import graft.streaming.StreamingImageDedup
    // twin videos (even id = base, odd id = half-gain re-encode) as
    // explicit frames, split across two files so pairs must form
    // across micro-batch boundaries through the state store
    def frame(v: Long, f: Int, gainDiv: Int): Multimodal.Frame = {
      val b = new Array[Byte](650)
      var i = 0
      while (i < b.length) {
        val z = Dedup.splitmix64(v * 1000003L + f * 7919L + i * 104729L)
        b(i) = ((if ((z & 1L) == 0L) 200 else 40) / gainDiv).toByte
        i += 1
      }
      Multimodal.Frame(if (gainDiv == 1) 2 * v else 2 * v + 1, f, b)
    }
    val rows = (0L until 20L).flatMap(v =>
      (0 until 6).flatMap(f => Seq(frame(v, f, 1), frame(v, f, 2))))
    val d = tempDir("video-stream").toPath
    val (first, second) = rows.splitAt(rows.size / 2)
    first.toDS().write.parquet(d.resolve("batch0").toString)
    second.toDS().write.parquet(d.resolve("batch1").toString)
    val batch = rows.toDS()
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d.toString + "/*")
      .as[Multimodal.Frame]
    val q = StreamingImageDedup.videoFrameCandidates(stream, maxHamming = 3)
      .writeStream.format("memory").queryName("stream_videodedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_videodedup")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Dedup.simhashPairs(
          Multimodal.frameFingerprints(batch), maxHamming = 3)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == want)
      assert(streamed.nonEmpty, "planted twin frames must pair")
    } finally q.stop()
  }

  test("stateful streaming dedup emits exactly one row per fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stage the documents file TWICE → every doc is duplicated across files
    val d = stage("documents", copies = 2)
    val schema = Tables.load(spark, "/root/testdata/sf0.001", "documents").schema
    val keyed = spark.readStream.schema(schema).parquet(d)
      .select(graft.operators.TextAnalysis.fingerprintMd5(col("text")).as("fp"),
        col("doc_id"))
      .as[(String, Long)]
    val q = EventStream.dedupByFingerprint(keyed)
      .toDF("fp", "doc_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_out")
      val nDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents").count()
      assert(out.count() == nDocs) // 2N input rows → N unique fingerprints
      assert(out.select("fp").distinct().count() == nDocs)
    } finally q.stop()
  }

  test("streaming stratified sample: final state equals the batch sample") {
    import graft.streaming.StreamingSample
    import graft.operators.Sampling
    val d = stage("documents")
    val batchDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // one file per micro-batch so the reservoir evolves across batches
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    // capture the LATEST emission per stratum across update-mode batches
    val latest = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val q = StreamingSample.stratifiedSample(stream, "lang", "doc_id", n = 10)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          latest.put(r.getString(0), r.getSeq[String](1)))
      }.start()
    try q.processAllAvailable() finally q.stop()
    val batchSample = Sampling.stratifiedSample(
        batchDocs.select(col("doc_id"), col("lang")), Seq("lang"), "doc_id", 10)
      .collect().map(r => r.getString(1) -> r.getLong(0).toString)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap.view.mapValues(_.toSet).toMap
    assert(streamed == batchSample)
  }

  test("streaming stratified sample absorbs replays (at-least-once parity)") {
    import graft.streaming.StreamingSample
    val d = stage("documents", copies = 2) // every row delivered twice
    val batchDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val q = StreamingSample.stratifiedSample(stream, "lang", "doc_id", n = 10)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          latest.put(r.getString(0), r.getSeq[String](1)))
      }.start()
    try q.processAllAvailable() finally q.stop()
    // duplicate delivery must not change the draw — and must not let a
    // key occupy two reservoir slots
    import scala.jdk.CollectionConverters._
    latest.asScala.foreach { case (lang, sample) =>
      assert(sample.distinct == sample, s"$lang sample holds duplicates")
      assert(sample.size <= 10)
    }
    val streamed = latest.asScala.toMap.view.mapValues(_.toSet).toMap
    val batchSample = graft.operators.Sampling.stratifiedSample(
        batchDocs.select(col("doc_id"), col("lang")), Seq("lang"), "doc_id", 10)
      .collect().map(r => r.getString(1) -> r.getLong(0).toString)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(streamed == batchSample)
  }

  test("session_window streaming sessionization produces sane sessions") {
    val dir = "/root/testdata/sf0.001"
    val schema = Tables.load(spark, dir, "events").schema
    val stream = EventStream.readEvents(spark, streamDir, schema)
    val q = EventStream.sessionCounts(stream).writeStream
      .format("memory").queryName("sessions").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sessions")
      assert(rows.count() > 0)
      assert(rows.agg(sum("n_events")).head.getLong(0) ==
        Tables.load(spark, dir, "events").count())
    } finally q.stop()
  }

  test("fallback diagnosis recognizes annotation-drift conversion failures") {
    // the empty-probe logical-schema fallback's failure-time listener:
    // a parquet conversion error with fallback dirs on record maps to
    // the restart remediation; unrelated errors and no-fallback
    // sessions stay silent
    val dirs = Seq("/lake/a", "/lake/b")
    val hit = EventStream.fallbackDiagnosis(
      "Job aborted: SchemaColumnConvertNotSupportedException: column " +
        "[ts] expected INT64, found TIMESTAMP(MICROS)", dirs)
    assert(hit.exists(m => m.contains("/lake/a") && m.contains("restart")))
    assert(EventStream.fallbackDiagnosis(
      "Parquet column cannot be converted in file part0.parquet", dirs).isDefined)
    assert(EventStream.fallbackDiagnosis(
      "FileNotFoundException: part0.parquet", dirs).isEmpty,
      "unrelated failures must not claim the drift diagnosis")
    assert(EventStream.fallbackDiagnosis(
      "Parquet column cannot be converted", Nil).isEmpty,
      "no fallback on record → no diagnosis")
  }

  test("streaming NB quality scoring equals the batch classifier") {
    // the deployed quality-filter loop: train offline (nbTrain), score
    // the INGEST STREAM with the broadcast model (nbScore is stateless
    // per row, so the same function runs on batch and stream frames).
    // Logits agree with the batch token-join path within the round-4
    // float envelope; predictions agree away from the knife edge.
    import graft.operators.TextAnalysis
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val seed = d.filter(col("doc_id") % 5 =!= 0)
      .withColumn("y", col("lang") === "en")
    val model = TextAnalysis.nbTrain(seed, "text", "y")
    val batch = TextAnalysis
      .nbClassifier(seed, d, "doc_id", "text", "y")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
      .toMap

    val stream = spark.readStream.schema(d.schema).parquet(stage("documents"))
    val q = TextAnalysis.nbScore(stream, "doc_id", "text", model)
      .writeStream.format("memory").queryName("nb_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("nb_stream")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
        .toMap
      assert(streamed.keySet == batch.keySet && streamed.nonEmpty)
      streamed.foreach { case (id, (logit, pred)) =>
        val (bLogit, bPred) = batch(id)
        assert(math.abs(logit - bLogit) <= 1.1e-4,
          s"doc $id: streamed $logit vs batch $bLogit")
        if (math.abs(bLogit) > 1e-3)
          assert(pred == bPred, s"doc $id: pred $pred vs $bPred at $bLogit")
      }
    } finally q.stop()
  }

  test("streaming centroid drift: running means converge on the batch profile") {
    import graft.streaming.StreamingDrift
    import spark.implicits._
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val d = tempDir("drift-stream").toString
    // inject an EMPTY vector (label 2) and a wrong-dimension vector
    // (label 4): both must be rejected into n_bad without skewing the
    // running mean
    val junk = Seq(
      (900001L, Seq.empty[Float], 2),
      (900002L, Seq(1f, 2f, 3f), 4)).toDF("vec_id", "embedding", "label")
    batch.unionByName(junk).repartition(4).write.mode("overwrite").parquet(d)
    val byLabel = batch.select(col("label").cast("string"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def mean(vs: Seq[Seq[Double]]): Seq[Double] =
      vs.head.indices.map(j => vs.map(_(j)).sum / vs.size)
    // reference: exact batch means for even labels (expected drift 0),
    // label "1" shifted by exactly 2 in dim 0 (expected drift 2.0),
    // other odd labels absent (no baseline -> null dist)
    val ref: Map[String, Seq[Double]] =
      byLabel.collect { case (l, vs) if l.toInt % 2 == 0 => l -> mean(vs) } ++
        Map("1" -> mean(byLabel("1")).zipWithIndex.map {
          case (x, 0) => x + 2.0
          case (x, _) => x
        })
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Option[Double], Option[Seq[Double]])]()
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingDrift.centroidDrift(stream, "label", "embedding", ref)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => latest.put(r.getString(0),
          (r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            if (r.isNullAt(4)) None else Some(r.getSeq[Double](4).toSeq))))
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = latest.asScala.toMap
    assert(got.keySet == byLabel.keySet)
    byLabel.foreach { case (l, vs) =>
      val (n, bad, dist, _) = got(l)
      assert(n == vs.size, s"label $l ingested $n of ${vs.size}")
      // the injected junk rows land in n_bad, never in the mean
      assert(bad == (if (l == "2" || l == "4") 1L else 0L),
        s"label $l n_bad $bad")
      if (l.toInt % 2 == 0)
        assert(dist.contains(0.0), s"label $l drifted: $dist")
      else if (l == "1")
        assert(dist.contains(2.0), s"label 1 shift misread: $dist")
      else
        assert(dist.isEmpty, s"label $l has no reference, got $dist")
    }
    // promotion: the no-baseline odd labels fold into the next
    // reference with their running mean as centroid — pinned against
    // the independently computed batch centroid (arrival-order float
    // sums vs driver-order sums agree to well under 1e-9) — while
    // existing entries stay UNTOUCHED (label "1" keeps its shifted
    // baseline: promotion must not chase the stream)
    val snapshot = got.toSeq.map { case (g, (n, bad, dist, mean)) =>
      (g, n, bad, dist, mean)
    }.toDF("label", "n", "n_bad", "dist", "mean")
    val promoted = StreamingDrift.promoteReference(snapshot, ref)
    assert(promoted.keySet == byLabel.keySet,
      s"promoted keys ${promoted.keySet} != all labels ${byLabel.keySet}")
    ref.foreach { case (g, c) =>
      assert(promoted(g) == c, s"existing baseline $g was rewritten")
    }
    byLabel.collect { case (l, vs) if !ref.contains(l) =>
      val exp = mean(vs)
      val gotMean = promoted(l)
      assert(gotMean.size == exp.size &&
        gotMean.zip(exp).forall { case (a, b) => math.abs(a - b) < 1e-9 },
        s"promoted centroid of $l off batch mean")
    }
    // a raw update stream (duplicate group rows) is refused loudly
    val dupSnap = snapshot.unionByName(snapshot.limit(1))
    val e = intercept[IllegalArgumentException] {
      StreamingDrift.promoteReference(dupSnap, ref)
    }
    assert(e.getMessage.contains("LATEST emission"))
    // minCount gates thin groups out of promotion
    val thin = StreamingDrift.promoteReference(snapshot, ref,
      minCount = Long.MaxValue)
    assert(thin.keySet == ref.keySet)
  }

  test("streaming heavy hitters: sharded MG state tracks the ingested corpus") {
    import graft.streaming.StreamingHeavyHitters
    val batchDocs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // four files -> four micro-batches, so the summary evolves
    val d = tempDir("hh-stream").toString
    batchDocs.repartition(4).write.mode("overwrite").parquet(d)
    val truth = batchDocs.select(explode(graft.operators.TextAnalysis
        .tokens(col("text"))).as("g"))
      .groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum

    def run(k: Int, name: String): Map[Int, (Map[String, Long], Long)] = {
      val latest =
        new java.util.concurrent.ConcurrentHashMap[Int, (Map[String, Long], Long)]()
      val stream = spark.readStream.schema(batchDocs.schema)
        .option("maxFilesPerTrigger", 1).parquet(d)
      val q = StreamingHeavyHitters.heavyGrams(stream, "text", n = 1, k = k)
        .writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach { r =>
            latest.put(r.getInt(0),
              (r.getSeq[org.apache.spark.sql.Row](1)
                .map(h => h.getString(0) -> h.getLong(1)).toMap,
               r.getLong(2)))
          }
        }.start()
      try q.processAllAvailable() finally q.stop()
      import scala.jdk.CollectionConverters._
      latest.asScala.toMap
    }

    // k=64 under real eviction pressure: totals exact, the phi-heavy
    // guarantee holds for every phi with (k+1)*phi >= 1, estimates
    // never exceed truth and undercount within N_shard/(k+1) <= N/65
    val tight = run(64, "hh64")
    assert(tight.values.map(_._2).sum == n, "shard totals must sum to N")
    val cands64 = tight.values.flatMap(_._1).toMap
    val phi = 1.0 / 65.0
    truth.filter(_._2.toDouble > phi * n.toDouble).keys.foreach { g =>
      assert(cands64.contains(g), s"guaranteed heavy gram '$g' missing")
    }
    cands64.foreach { case (g, est) =>
      assert(est <= truth(g), s"'$g' overestimated: $est > ${truth(g)}")
      assert(est >= truth(g) - n / 65, s"'$g' below the MG bound")
    }
    // k large enough that no shard ever overflows: base stays 0 and
    // the union of summaries IS the exact batch count table
    val exact = run(8192, "hh8k")
    val candsBig = exact.values.flatMap(_._1).toMap
    assert(candsBig == truth,
      "non-overflowed shards must hold exact running counts")
  }

  test("streaming robust centroids compose from the drift monitor per (group, bucket)") {
    import graft.operators.{Sampling, Similarity}
    import graft.streaming.StreamingDrift
    import spark.implicits._
    // the streaming story for median-of-means needs NO new operator:
    // key the drift monitor by (label, md5-bucket) — the SAME 40-bit
    // bucket hash the batch operator uses — and the consumer medians
    // the emitted running means per label. Pinned ≡ batch
    // robustCentroids (arrival-order float sums vs partition-order
    // sums may flip a 1e-4 rounding boundary; tolerance absorbs it).
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val batch = Similarity.robustCentroids(emb, "vec_id", "label",
        "embedding", dim = 64, shards = 5)
      .collect().map(r => (r.get(0).toString, r.getInt(1)) -> r.getDouble(2))
      .toMap
    val d = tempDir("mom-stream").toString
    emb.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, Seq[Double]]()
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
      // reproduce the batch operator's FULL input contract: a short
      // vector arriving first would otherwise lock a (label, bucket)
      // state to the wrong dimension and diverge from batch
      .filter(col("label").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) >= 64)
      .withColumn("gk", concat_ws("|", col("label").cast("string"),
        pmod(Sampling.hash40(Seq(col("vec_id")), "s0"), lit(5L))
          .cast("string")))
    val q = StreamingDrift.centroidDrift(stream, "gk", "embedding",
        Map.empty)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          if (!r.isNullAt(4)) latest.put(r.getString(0), r.getSeq[Double](4))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val byLabel = latest.asScala.toMap.groupBy(_._1.split('|')(0))
    assert(byLabel.nonEmpty)
    byLabel.foreach { case (label, buckets) =>
      val means = buckets.values.toSeq
      (0 until 64).foreach { i =>
        val xs = means.map(_(i)).sorted
        val med = BigDecimal(xs((xs.size + 1) / 2 - 1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val want = batch((label, i + 1))
        assert(math.abs(med - want) <= 1.1e-4,
          s"label $label dim ${i + 1}: streamed $med vs batch $want")
      }
    }
  }

  test("streaming scene cuts: ordered multi-batch equals batch; replays absorbed") {
    import graft.operators.Multimodal
    import graft.streaming.StreamingSceneCuts
    import spark.implicits._
    // Spark 4 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def frame(vid: Long, idx: Int, scene: Int): Multimodal.Frame =
      Multimodal.plantedFrame(vid, idx, vid, scene)
    val sceneLens = Seq(3, 6, 2)
    val all = (0L to 2L).flatMap(v =>
      (0 until 9).map(f => frame(v, f, f / sceneLens(v.toInt))))
    val batch = Multimodal.sceneCuts(spark.createDataset(all), maxHamming = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val mem = MemoryStream[Multimodal.Frame]
    val latest = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Long, Long, Long)]()
    val q = StreamingSceneCuts.sceneCuts(mem.toDF(), maxHamming = 8)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => latest.put(r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      }.start()
    try {
      // three in-order micro-batches of 3 frames per video each
      (0 until 3).foreach { bi =>
        mem.addData(all.filter(_.frame_idx / 3 == bi))
        q.processAllAvailable()
      }
      import scala.jdk.CollectionConverters._
      val mid = latest.asScala.toMap
      assert(mid.keySet == batch.keySet)
      batch.foreach { case (v, (nf, nc, ns)) =>
        assert(mid(v) == ((nf, nc, ns, 0L)),
          s"video $v streamed ${mid(v)} vs batch ($nf,$nc,$ns)")
      }
      // at-least-once: replaying a whole middle batch lands in n_late
      // and must not fabricate cuts between non-adjacent frames
      mem.addData(all.filter(_.frame_idx / 3 == 1))
      q.processAllAvailable()
      val after = latest.asScala.toMap
      batch.foreach { case (v, (nf, nc, ns)) =>
        assert(after(v) == ((nf, nc, ns, 3L)),
          s"video $v replay broke structure: ${after(v)}")
      }
    } finally q.stop()
  }

  test("streaming length bias: integer state makes streamed ≡ batch bit-for-bit") {
    import graft.operators.Preference
    import graft.streaming.StreamingLengthBias
    import spark.implicits._
    // pairs from the real corpus via the batch extractor, streamed
    // file-by-file into the monitor — the final per-source row must
    // equal the batch audit EXACTLY (integer state, one division)
    val resp = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("doc_id div 4").as("prompt_id"), col("doc_id").as("resp_id"),
        col("text"), (col("doc_id") % 7).as("score"), col("source"))
    val pairs = Preference.preferencePairs(resp, "prompt_id", "resp_id",
        "text", "score", carry = Seq("source"))
      .localCheckpoint(true)
    val batch = Preference.lengthBias(pairs, "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    val d = tempDir("lenbias").toString
    pairs.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Double, Double)]()
    val stream = spark.readStream.schema(pairs.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingLengthBias.lengthBias(stream, "source")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0),
            (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet, s"sources diverge: " +
      s"${streamed.keySet} vs ${batch.keySet}")
    batch.foreach { case (src, exp) =>
      assert(streamed(src) == exp, s"source $src: ${streamed(src)} vs $exp")
    }
  }

  test("StreamingBestOfN: streamed top-n selection equals the batch operator") {
    import graft.operators.Preference
    import graft.streaming.StreamingBestOfN
    import spark.implicits._
    // the qC0 fixture from the real corpus; the streamed final state
    // per prompt must equal the batch bestOfN SELECTION columns
    // exactly (same TopKByScore.reduce on both sides — the ordering
    // contract is shared code, not a replica)
    val resp = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("doc_id div 4").as("prompt_id"),
        col("doc_id").as("resp_id"), col("text"),
        (col("doc_id") % 7).as("score"), col("source"))
      .localCheckpoint(true)
    val batch = Preference.bestOfN(resp, "prompt_id", "resp_id", "text",
        "score", n = 3)
      .select(col("prompt_id").cast("string"), col("rank"),
        col("resp_id"), col("score").cast("double"), col("n_resp"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    val d = tempDir("bestofn").toString
    resp.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      (String, Int), (Long, Double, Long)]()
    val stream = spark.readStream.schema(resp.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingBestOfN.bestOfN(stream, "prompt_id", "resp_id",
        "score", n = 3)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put((r.getString(0), r.getInt(1)),
            (r.getLong(2), r.getDouble(3), r.getLong(4)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    // every batch (prompt, rank) appears streamed with identical
    // (id, score, n_resp); update-mode retractions cannot shrink the
    // rank set (rank r only ever improves), so equality is exact
    assert(streamed.keySet == batch.keySet,
      s"rank sets diverge: ${(streamed.keySet -- batch.keySet).take(3)} / " +
        s"${(batch.keySet -- streamed.keySet).take(3)}")
    batch.foreach { case (k, exp) =>
      assert(streamed(k) == exp, s"$k: ${streamed(k)} vs $exp")
    }
  }

  test("StreamingBestOfN absorbs replays (delivered-twice selection parity)") {
    import graft.operators.Preference
    import graft.streaming.StreamingBestOfN
    // every row delivered TWICE (two identical files, one per
    // micro-batch): the state fold's dedup-by-id must keep the buffer
    // duplicate-free — before the r16 fix the strict TopKByScore
    // ordering ranked the replayed (score, id) BESIDE its copy and
    // evicted a distinct response. Selection columns (rank, resp_id,
    // score) must equal the single-delivery batch operator; n_resp
    // over-counts by design (documented) and is excluded.
    val resp = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("doc_id div 4").as("prompt_id"),
        col("doc_id").as("resp_id"), col("text"),
        (col("doc_id") % 7).as("score"), col("source"))
      .localCheckpoint(true)
    val batch = Preference.bestOfN(resp, "prompt_id", "resp_id", "text",
        "score", n = 3)
      .select(col("prompt_id").cast("string"), col("rank"),
        col("resp_id"), col("score").cast("double"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val d = tempDir("bestofn-replay").toPath
    // `_`-prefixed dirs are invisible to the file stream source, so
    // the staging dir can stay in place
    resp.coalesce(1).write.mode("overwrite").parquet(s"$d/__stage")
    val staged = new java.io.File(s"$d/__stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Seq("part0", "part1").foreach { p =>
      java.nio.file.Files.copy(staged.toPath, d.resolve(s"$p.parquet"))
    }
    val latest = new java.util.concurrent.ConcurrentHashMap[
      (String, Int), (Long, Double)]()
    val stream = spark.readStream.schema(resp.schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val q = StreamingBestOfN.bestOfN(stream, "prompt_id", "resp_id",
        "score", n = 3)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put((r.getString(0), r.getInt(1)),
            (r.getLong(2), r.getDouble(3)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    // duplicate delivery must not let an id occupy two rank slots
    streamed.groupBy(_._1._1).foreach { case (prompt, ranks) =>
      val ids = ranks.values.map(_._1).toSeq
      assert(ids.distinct == ids,
        s"prompt $prompt ranks a replayed id twice: $ranks")
    }
    assert(streamed.keySet == batch.keySet,
      s"rank sets diverge: ${(streamed.keySet -- batch.keySet).take(3)} / " +
        s"${(batch.keySet -- streamed.keySet).take(3)}")
    batch.foreach { case (k, exp) =>
      assert(streamed(k) == exp, s"$k: ${streamed(k)} vs $exp")
    }
  }

  test("StreamingPassAtK: streamed estimator rows equal batch") {
    import graft.operators.Preference
    import graft.streaming.StreamingPassAtK
    import spark.implicits._
    // the qC2 fixture from the real corpus; the final per-prompt rows
    // must equal the batch estimator bit-for-bit — two-long integer
    // state, the SAME left-assoc product fold (the
    // StreamingLengthBias precedent)
    val graded = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("doc_id div 4").as("prompt_id"),
        (col("doc_id") % 3 === 0).as("passed"))
      .localCheckpoint(true)
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getInt(5))
    val batch = Preference.passAtK(graded, "prompt_id", "passed", k = 3)
      .collect().map(r => r.getLong(0).toString -> row(r)).toMap
    val d = tempDir("passatk").toString
    graded.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Double, Option[Double], Int)]()
    val stream = spark.readStream.schema(graded.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingPassAtK.passAtK(stream, "prompt_id", "passed", k = 3)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => latest.put(r.getString(0), row(r)))
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k2, exp) =>
      assert(streamed(k2) == exp, s"$k2: ${streamed(k2)} vs $exp")
    }
  }

  test("StreamingJudgeAgreement: streamed kappa rows equal batch") {
    import graft.operators.Preference
    import graft.streaming.StreamingJudgeAgreement
    import spark.implicits._
    // the qC7 fixture from the real corpus; four-long contingency
    // state, the same association order + GateRound sign
    // normalization — bit-for-bit against batch
    val judged = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), (col("doc_id") % 7 > 3).as("judge_a"),
        (col("doc_id") % 5 > 2).as("judge_b"))
      .localCheckpoint(true)
    val batch = Preference.judgeAgreement(judged, "source", "judge_a",
        "judge_b")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    val d = tempDir("judgeagr").toString
    judged.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Double, Boolean)]()
    val stream = spark.readStream.schema(judged.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingJudgeAgreement.judgeAgreement(stream, "source",
        "judge_a", "judge_b")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0),
            (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (src, exp) =>
      assert(streamed(src) == exp, s"$src: ${streamed(src)} vs $exp")
      // the +0.0 normalization carries to the sign bit
      assert(java.lang.Double.doubleToRawLongBits(streamed(src)._3) ==
        java.lang.Double.doubleToRawLongBits(exp._3))
    }
  }

  test("StreamingCalibrationBins: streamed reliability rows equal batch") {
    import graft.operators.Preference
    import graft.streaming.StreamingCalibrationBins
    import spark.implicits._
    // the qC8 fixture from the real corpus; final per-bin rows must
    // equal the batch audit bit-for-bit (integer state, the same
    // divisions, BigDecimal HALF_UP == Spark round — the
    // StreamingLengthBias precedent)
    val graded = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select((col("doc_id") % 101).as("pct"),
        (col("doc_id") % 3 === 0).as("correct"))
      .localCheckpoint(true)
    val batch = Preference.calibrationBins(graded, "pct", "correct")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    val d = tempDir("calbins").toString
    graded.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, Double, Double, Double)]()
    val stream = spark.readStream.schema(graded.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingCalibrationBins.calibrationBins(stream, "pct",
        "correct")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getInt(0),
            (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet,
      s"bins diverge: ${streamed.keySet} vs ${batch.keySet}")
    batch.foreach { case (bin, exp) =>
      assert(streamed(bin) == exp, s"bin $bin: ${streamed(bin)} vs $exp")
    }
  }

  test("StreamingCartography: streamed map rows equal batch") {
    import graft.operators.TrainingDynamics
    import graft.streaming.StreamingCartography
    import spark.implicits._
    // the qCM fixture from the real corpus; final per-example rows —
    // including the integer-compare REGION label — must equal the
    // batch audit bit-for-bit (integer state, the same divisions,
    // BigDecimal HALF_UP == Spark round)
    val trace = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        explode(array((0 to 2).map(e => struct(
          ((col("doc_id") * (e + 1)) % 101).as("p"),
          ((col("doc_id") + e) % 3 === 0).as("c"))): _*)).as("ep"))
      .select(col("doc_id"), col("ep.p").as("prob_pct"),
        col("ep.c").as("correct"))
      .localCheckpoint(true)
    val batch = TrainingDynamics.cartography(trace, "doc_id", "prob_pct",
        "correct")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getString(5)))).toMap
    val d = tempDir("carto").toString
    trace.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Double, Double, Double, String)]()
    val stream = spark.readStream.schema(trace.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingCartography.cartography(stream, "doc_id", "prob_pct",
        "correct")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getLong(0), (r.getLong(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getString(5)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet,
      s"examples diverge: ${streamed.size} vs ${batch.size}")
    batch.foreach { case (ex, exp) =>
      assert(streamed(ex) == exp, s"example $ex: ${streamed(ex)} vs $exp")
    }
  }

  test("StreamingSprt: streamed decisions equal batch at the end state") {
    import graft.operators.Preference
    import graft.streaming.StreamingSprt
    import spark.implicits._
    // the qCV fixture from the real corpus; final per-group rows —
    // llr AND the boundary decision string — must equal batch
    val verdicts = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), (col("doc_id") % 7 > 3).as("win"))
      .localCheckpoint(true)
    val batch = Preference.sprtMonitor(verdicts, "source", "win")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getString(5)))).toMap
    val d = tempDir("sprt").toString
    verdicts.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Long, Double, String)]()
    val stream = spark.readStream.schema(verdicts.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingSprt.sprtMonitor(stream, "source", "win")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0), (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getDouble(4), r.getString(5)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (g, exp) =>
      assert(streamed(g) == exp, s"group $g: ${streamed(g)} vs $exp")
    }
  }

  test("StreamingMcNemar: streamed paired-classifier rows equal batch") {
    import graft.operators.Preference
    import graft.streaming.StreamingMcNemar
    import spark.implicits._
    val graded = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), (col("doc_id") % 7 > 3).as("pred_a"),
        (col("doc_id") % 5 > 2).as("pred_b"),
        (col("doc_id") % 3 === 0).as("truth"))
      .localCheckpoint(true)
    val batch = Preference.mcnemar(graded, "source", "pred_a", "pred_b",
        "truth")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getBoolean(7)))).toMap
    val d = tempDir("mcnemar").toString
    graded.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Long, Long, Long, Double, Boolean)]()
    val stream = spark.readStream.schema(graded.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingMcNemar.mcnemar(stream, "source", "pred_a", "pred_b",
        "truth")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0), (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
            r.getBoolean(7)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (g, exp) =>
      assert(streamed(g) == exp, s"group $g: ${streamed(g)} vs $exp")
    }
  }

  test("StreamingPermutation: streamed randomization test equals batch") {
    import graft.operators.Preference
    import graft.streaming.StreamingPermutation
    import spark.implicits._
    // the qDH fixture from the real corpus at P=50; the final
    // per-group row — integer sums, extremes AND the p-value — must
    // equal batch (the md5-parity draw replays identically)
    val pairs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"),
        (col("doc_id") % 101).as("score_a"),
        (col("doc_id") % 97).as("score_b"))
      .localCheckpoint(true)
    val batch = Preference.permutationTest(pairs, "source", "doc_id",
        "score_a", "score_b", p = 50)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    val d = tempDir("perm").toString
    pairs.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Long, Double, Boolean)]()
    val stream = spark.readStream.schema(pairs.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val sdf = StreamingPermutation.permutationTest(stream, "source",
      "doc_id", "score_a", "score_b", p = 50)
    // r18 ADVICE: the key column is named byCol, same as batch —
    // not a hardcoded "g"
    assert(sdf.columns.toSeq ==
      Seq("source", "n", "sum_d", "n_extreme", "p_value", "defined"))
    val q = sdf
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0), (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getDouble(4), r.getBoolean(5)))
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (g, exp) =>
      assert(streamed(g) == exp, s"group $g: ${streamed(g)} vs $exp")
    }
  }

  test("StreamingCusum: streamed drift monitor equals batch; replays absorbed") {
    import graft.operators.Retention
    import graft.streaming.StreamingCusum
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the qDX fixture: per-source doc_id-ordered series, Page
    // recursion at target 6 / threshold 50 — the final per-group row
    // must equal batch EXACTLY, including the first-alarm seq
    val obs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"), (col("doc_id") % 13).as("x"))
      .orderBy(col("doc_id"))
      .as[(String, Long, Long)].collect().toSeq
    val batch = Retention.cusum(obs.toDF("source", "doc_id", "x"),
        "source", "doc_id", "x", target = 6L, threshold = 50L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5), r.getBoolean(6)))).toMap
    val mem = MemoryStream[(String, Long, Long)]
    val sdf = StreamingCusum.cusum(mem.toDF()
        .toDF("source", "doc_id", "x"),
      "source", "doc_id", "x", target = 6L, threshold = 50L)
    assert(sdf.columns.toSeq == Seq("source", "n", "max_s", "n_alarms",
      "first_alarm_seq", "h", "alarmed", "n_late"))
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Long, Option[Long], Long, Boolean, Long)]()
    val q = sdf.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0), (r.getLong(1), r.getLong(2),
            r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getLong(5), r.getBoolean(6), r.getLong(7)))
        }
      }.start()
    try {
      // three in-order micro-batches (doc_id thirds)
      val chunks = obs.grouped((obs.size + 2) / 3).toSeq
      chunks.foreach { ch => mem.addData(ch); q.processAllAvailable() }
      import scala.jdk.CollectionConverters._
      val mid = latest.asScala.toMap
      assert(mid.keySet == batch.keySet)
      batch.foreach { case (g, (n, maxS, nA, fa, h, al)) =>
        assert(mid(g) == ((n, maxS, nA, fa, h, al, 0L)),
          s"group $g: streamed ${mid(g)} vs batch $batch")
      }
      // at-least-once: replaying the middle chunk lands in n_late and
      // must not move the statistic, census, or first-alarm seq
      val replay = chunks(1)
      val lateBy = replay.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      mem.addData(replay)
      q.processAllAvailable()
      val after = latest.asScala.toMap
      batch.foreach { case (g, (n, maxS, nA, fa, h, al)) =>
        assert(after(g) == ((n, maxS, nA, fa, h, al,
          lateBy.getOrElse(g, 0L))),
          s"group $g replay broke the recursion: ${after(g)}")
      }
    } finally q.stop()
  }

  test("StreamingCusum: planted drift alarms with the batch first-alarm seq") {
    import graft.operators.Retention
    import graft.streaming.StreamingCusum
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // group "drift": x = 10 vs target 6 -> S = 4i, crosses h = 20 at
    // seq 6; group "flat": x = 6 -> S = 0 forever (null first alarm)
    val obs = (1L to 20L).map(i => ("drift", i, 10L)) ++
      (1L to 20L).map(i => ("flat", i, 6L))
    val batch = Retention.cusum(obs.toDF("g", "seq", "x"), "g", "seq",
        "x", target = 6L, threshold = 20L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getBoolean(6)))).toMap
    assert(batch("drift") == ((20L, 80L, 15L, Some(6L), true)))
    assert(batch("flat") == ((20L, 0L, 0L, None, false)))
    val mem = MemoryStream[(String, Long, Long)]
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Long, Option[Long], Boolean)]()
    val q = StreamingCusum.cusum(mem.toDF().toDF("g", "seq", "x"),
        "g", "seq", "x", target = 6L, threshold = 20L)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0), (r.getLong(1), r.getLong(2),
            r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getBoolean(6)))
        }
      }.start()
    try {
      obs.grouped(10).foreach { ch => mem.addData(ch) }
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(latest.asScala.toMap == batch)
    } finally q.stop()
  }

  test("StreamingFunnel: streamed conversion equals batch; replays absorbed") {
    import graft.operators.Retention
    import graft.streaming.StreamingFunnel
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts", col("ts") - pmod(col("ts"), lit(1000L)))
      .select(col("user_id"), col("event_type"), col("ts").cast("long"))
      .orderBy(col("ts"))
      .as[(Long, String, Long)].collect().toSeq
    val batch = Retention.funnel(
        ev.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)),
        Option(r.get(2)), Option(r.get(3)), r.getLong(4)))).toMap
    val mem = MemoryStream[(Long, String, Long)]
    val sdf = StreamingFunnel.funnel(mem.toDF()
        .toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps)
    assert(sdf.columns.toSeq ==
      Seq("user_id", "t1", "t2", "t3", "depth", "n_late"))
    val latest = new java.util.concurrent.ConcurrentHashMap[
      Long, (Option[Any], Option[Any], Option[Any], Long, Long)]()
    val q = sdf.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getLong(0), (Option(r.get(1)), Option(r.get(2)),
            Option(r.get(3)), r.getLong(4), r.getLong(5)))
        }
      }.start()
    try {
      val chunks = ev.grouped((ev.size + 2) / 3).toSeq
      chunks.foreach { ch => mem.addData(ch); q.processAllAvailable() }
      import scala.jdk.CollectionConverters._
      val mid = latest.asScala.toMap
      assert(mid.keySet == batch.keySet)
      batch.foreach { case (u, (t1, t2, t3, d)) =>
        assert(mid(u) == ((t1, t2, t3, d, 0L)),
          s"user $u: streamed ${mid(u)} vs batch ${(t1, t2, t3, d)}")
      }
      // at-least-once: replay the middle chunk — every replayed row
      // sits strictly below its user's high-water ts (the user's last
      // overall event), so it lands in n_late; the chain is untouched
      val hi = ev.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
      val lateBy = chunks(1).groupBy(_._1).view
        .mapValues(rs => rs.count { case (u, _, ts) => ts < hi(u) }.toLong)
        .toMap
      mem.addData(chunks(1))
      q.processAllAvailable()
      val after = latest.asScala.toMap
      batch.foreach { case (u, (t1, t2, t3, d)) =>
        assert(after(u) == ((t1, t2, t3, d, lateBy.getOrElse(u, 0L))),
          s"user $u replay broke the chain: ${after(u)}")
      }
    } finally q.stop()
  }

  test("StreamingFunnel: windowed (maxSpan) streamed equals batch") {
    // the qE8 conversion window threaded through the set-if-unset
    // state: the window end t1 + maxSpan is FIXED once the anchor
    // sets, so every later event faces the batch admission test
    import graft.operators.Retention
    import graft.streaming.StreamingFunnel
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val steps = Seq("view", "click", "purchase")
    val span = 200000L * 1000000000L
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts", col("ts") - pmod(col("ts"), lit(1000L)))
      .select(col("user_id"), col("event_type"), col("ts").cast("long"))
      .orderBy(col("ts"))
      .as[(Long, String, Long)].collect().toSeq
    val batch = Retention.funnel(
        ev.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", steps, maxSpan = Some(span))
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)),
        Option(r.get(2)), Option(r.get(3)), r.getLong(4)))).toMap
    // the window must actually bite at this SF or the pin is vacuous
    val unb = Retention.funnel(ev.toDF("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(batch.exists { case (u, (_, _, _, d)) => d < unb(u) },
      "maxSpan never bit — pick a tighter window for the pin")
    val mem = MemoryStream[(Long, String, Long)]
    val sdf = StreamingFunnel.funnel(mem.toDF()
        .toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps, maxSpan = Some(span))
    val latest = new java.util.concurrent.ConcurrentHashMap[
      Long, (Option[Any], Option[Any], Option[Any], Long)]()
    val q = sdf.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getLong(0), (Option(r.get(1)), Option(r.get(2)),
            Option(r.get(3)), r.getLong(4)))
        }
      }.start()
    try {
      ev.grouped((ev.size + 2) / 3)
        .foreach { ch => mem.addData(ch); q.processAllAvailable() }
      import scala.jdk.CollectionConverters._
      val got = latest.asScala.toMap
      assert(got.keySet == batch.keySet)
      batch.foreach { case (u, exp) =>
        assert(got(u) == exp,
          s"user $u: streamed ${got(u)} vs windowed batch $exp")
      }
    } finally q.stop()
  }

  test("StreamingClassifierReport: streamed scorecard equals batch") {
    import graft.operators.Classification
    import graft.streaming.StreamingClassifierReport
    import spark.implicits._
    val graded = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), (col("doc_id") % 7 > 3).as("pred"),
        (col("doc_id") % 3 === 0).as("truth"))
      .localCheckpoint(true)
    val batch = Classification.classifierReport(graded, "source", "pred",
        "truth")
      .collect().map(r => r.getString(0) ->
        r.toSeq.drop(1).toVector).toMap
    val d = tempDir("clsrep").toString
    graded.repartition(4).write.mode("overwrite").parquet(d)
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, Vector[Any]]()
    val stream = spark.readStream.schema(graded.schema)
      .option("maxFilesPerTrigger", 1).parquet(d)
    val q = StreamingClassifierReport.classifierReport(stream, "source",
        "pred", "truth")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0), r.toSeq.drop(1).toVector)
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    val streamed = latest.asScala.toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (g, exp) =>
      assert(streamed(g) == exp, s"group $g: ${streamed(g)} vs $exp")
    }
  }

  test("StreamingHll: streamed sketch equals batch at every column; " +
      "replays are algebraically absorbed") {
    import graft.operators.Sketches
    import graft.streaming.StreamingHll
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the qEB fixture one level down: distinct token cardinality per
    // source; registers max-merge, so the final per-group row must
    // equal batch bit-for-bit REGARDLESS of chunking — and replaying
    // a whole chunk must be a no-op (max idempotence), the one twin
    // that needs no late-row census at all
    val obs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"),
        explode(graft.operators.TextAnalysis.tokens(col("text")))
          .as("tok"))
      .as[(String, String)].collect().toSeq
    val batch = Sketches.hllExact(obs.toDF("source", "tok"),
        "source", "tok", p = 8)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1).toVector)
      .toMap
    val mem = MemoryStream[(String, String)]
    val sdf = StreamingHll.hll(mem.toDF().toDF("source", "tok"),
      "source", "tok", p = 8)
    assert(sdf.columns.toSeq == Seq("source", "m_registers", "n_hit",
      "v_empty", "s41", "est_raw", "estimate", "small_range"))
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, Vector[Any]]()
    val q = sdf.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put(r.getString(0), r.toSeq.drop(1).toVector)
        }
      }.start()
    try {
      val chunks = obs.grouped((obs.size + 2) / 3).toSeq
      chunks.foreach { ch => mem.addData(ch); q.processAllAvailable() }
      import scala.jdk.CollectionConverters._
      val mid = latest.asScala.toMap
      assert(mid.keySet == batch.keySet)
      batch.foreach { case (g, exp) =>
        assert(mid(g) == exp, s"group $g: streamed ${mid(g)} vs $exp")
      }
      // at-least-once redelivery: replay a full chunk — the sketch
      // must not move (no n_late needed; max is idempotent)
      mem.addData(chunks(1))
      q.processAllAvailable()
      val after = latest.asScala.toMap
      batch.foreach { case (g, exp) =>
        assert(after(g) == exp, s"group $g replay moved the sketch")
      }
    } finally q.stop()
  }

  test("StreamingHdr: streamed percentiles equal batch; replays land " +
      "in n_late and cannot move the counts") {
    import graft.operators.Sketches
    import graft.streaming.StreamingHdr
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ps = Seq(500, 900, 990)
    // the qEC fixture with doc_id as the ordering seq: per-source
    // document-length percentiles, final rows must equal batch exactly
    val obs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
      .as[(String, Long, Long)].collect().toSeq
    val batch = Sketches.hdrQuantiles(obs.toDF("source", "doc_id", "v")
        .drop("doc_id").toDF("source", "v"), "source", "v", ps)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val mem = MemoryStream[(String, Long, Long)]
    val sdf = StreamingHdr.hdr(mem.toDF().toDF("source", "doc_id", "v"),
      "source", "doc_id", "v", ps)
    assert(sdf.columns.toSeq ==
      Seq("source", "permille", "n", "est", "n_late"))
    val latest = new java.util.concurrent.ConcurrentHashMap[
      (String, Int), (Long, Long, Long)]()
    val q = sdf.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put((r.getString(0), r.getInt(1)),
            (r.getLong(2), r.getLong(3), r.getLong(4)))
        }
      }.start()
    try {
      val chunks = obs.grouped((obs.size + 2) / 3).toSeq
      chunks.foreach { ch => mem.addData(ch); q.processAllAvailable() }
      import scala.jdk.CollectionConverters._
      val mid = latest.asScala.toMap
      assert(mid.keySet == batch.keySet)
      batch.foreach { case (key, (n, est)) =>
        assert(mid(key) == ((n, est, 0L)),
          s"$key: streamed ${mid(key)} vs batch ($n, $est)")
      }
      // replaying a whole chunk lands in n_late, counts unmoved
      val replay = chunks(1)
      val lateBy = replay.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      mem.addData(replay)
      q.processAllAvailable()
      val after = latest.asScala.toMap
      batch.foreach { case (key @ (g, _), (n, est)) =>
        assert(after(key) == ((n, est, lateBy.getOrElse(g, 0L))),
          s"$key replay moved the sketch: ${after(key)}")
      }
    } finally q.stop()
  }
}
