package graft

import graft.operators.{Dedup, IvfIndex, Skew}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleOperatorsSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  test("salted join equals plain join (inner + left), fans hot key") {
    val large = (1 to 1000).map(i => (if (i % 10 == 0) 7L else i.toLong, i))
      .toDF("k", "v") // key 7 is hot
    val small = Seq((7L, "hot"), (3L, "cold")).toDF("k", "tag")
    val plain = large.join(small, Seq("k")).select("k", "v", "tag")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(large, small, Seq("k"), n = 8,
      discriminators = Seq("v")).select("k", "v", "tag")
      .collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
    val plainLeft = large.join(small, Seq("k"), "left").select("k", "v", "tag")
      .collect().map(_.toSeq).toSet
    val saltedLeft = Skew.saltedJoin(large, small, Seq("k"), 8, "left", Seq("v"))
      .select("k", "v", "tag").collect().map(_.toSeq).toSet
    assert(saltedLeft == plainLeft)
    // the hot key actually spreads across salts
    val spread = large.filter($"k" === 7)
      .select(Skew.salt(8, col("v"))).distinct().count()
    assert(spread > 1)
  }

  test("IVF search finds the same top neighbours as brute force (high recall)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", nlist = 8, iters = 2)
    assert(centroids.size == 8 && centroids.head.size == 64)
    val path = "target/ivf_index_spec"
    IvfIndex.writeIndex(emb, "vec_id", "embedding", centroids, path)
    val indexed = IvfIndex.readIndex(spark, path)
    val ivf = IvfIndex.searchIndexed(indexed, "vec_id", "embedding", centroids,
      queryId = 0L, k = 10, nprobe = 8) // probe all cells → exact
      .collect().map(_.getLong(0)).toSeq
    val brute = graft.operators.Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf == brute) // nprobe = nlist ⇒ must match exactly
    val partial = IvfIndex.searchIndexed(indexed, "vec_id", "embedding",
      centroids, queryId = 0L, k = 10, nprobe = 2).collect()
    assert(partial.length == 10) // recall path returns k results
    // the search plan reads only the probed cells (partition pruning)
    val pruned = indexed.filter(col("ivf_cell").isin(
      IvfIndex.probeCells(
        indexed.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toSeq,
        centroids, 2): _*))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [ivf_cell"))
    // centroid persistence: the offline artifact round-trips exactly,
    // and a COLD session searching from the reloaded artifact gets the
    // same neighbours as the training session
    val cpath = "target/ivf_centroids_spec"
    IvfIndex.saveCentroids(spark, centroids, cpath)
    val reloaded = IvfIndex.loadCentroids(spark, cpath)
    assert(reloaded == centroids.map(_.toIndexedSeq).toIndexedSeq)
    val cold = IvfIndex.searchIndexed(indexed, "vec_id", "embedding",
      reloaded, queryId = 0L, k = 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(cold == brute)
  }

  test("MinHash LSH candidate recall >= 0.9 against the exact pair set") {
    // ground truth: the prefix-filtered EXACT Jaccard join (100% recall
    // by construction, DuckDB-oracled as q91); measure what fraction of
    // true J>=0.8 pairs the banded MinHash candidates recover
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
        shingleWords = 3, minJaccard = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20) // sf0.001 plants ~28 true near-dup pairs
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleWords = 3, k = 64, bands = 16, minEstJaccard = 0.0)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(cand.contains) / exact.size.toDouble
    assert(recall >= 0.9, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("the O(n^2) baselines refuse corpora beyond maxRows, loudly") {
    // q54/q9G keep deliberate quadratic verification plans; at corpus
    // scale they must refuse with a pointer to the bounded paths, not
    // melt a cluster
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.allPairsTopK(emb, "vec_id", "embedding",
        k = 5, maxRows = 10)
    }
    assert(e.getMessage.contains("bounded paths"))
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.allPairsAbove(emb, "vec_id", "embedding",
        minCos = 0.5, maxRows = 10)
    }
    // under the cap both still work
    assert(graft.operators.Similarity.allPairsTopK(emb, "vec_id",
      "embedding", k = 3, maxRows = 1000000).count() == 3)
  }

  test("knnJoin refuses non-integral id columns via a typed check") {
    // the output contract widens id/nn_id to long; a string id must
    // fail the IntegralType check up front, not produce a cast-mangled
    // result (and decimal — integral-LOOKING simpleString — too)
    val emb = Seq(("a", Array(1.0f, 0f)), ("b", Array(0f, 1f))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnJoin(emb, "id", "v", k = 1)
    }
    assert(e.getMessage.contains("integral"))
    val dec = emb.select(lit(java.math.BigDecimal.ONE).as("id"), col("v"))
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.knnJoin(dec, "id", "v", k = 1)
    }
  }

  test("precomputedSigs with a mismatched k fails loudly, never hashes nulls") {
    // a k=32 signature table fed to a k=64 call would slice
    // element_at(sig, i+1) past the array and silently bucket nulls —
    // the per-row length guard must turn that into a hard error
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sigs32 = Dedup.signatures(docs, "doc_id", "text",
      shingleWords = 3, k = 32)
    val err = intercept[Exception] {
      Dedup.minhashCandidates(docs, "doc_id", "text", shingleWords = 3,
        k = 64, bands = 16, precomputedSigs = Some(sigs32)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      String.valueOf(c.getMessage).contains("precomputedSigs")),
      s"expected the k-mismatch guard, got: ${err.getMessage}")
    // matched k passes through the guard untouched
    val sigs64 = Dedup.signatures(docs, "doc_id", "text",
      shingleWords = 3, k = 64)
    val viaPre = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleWords = 3, k = 64, bands = 16,
        precomputedSigs = Some(sigs64))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleWords = 3, k = 64, bands = 16)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPre == direct && direct.nonEmpty)
  }

  test("simhashPairs pigeonhole banding is complete at the requested radius") {
    // brute-force ground truth over random signatures: every pair with
    // hamming <= r must be found by the (r+1)-band scheme, at r=3 and
    // a non-dividing r=6 (7 bands over 64 bits, uneven widths)
    val rnd = new scala.util.Random(13)
    val base = rnd.nextLong()
    // cluster signatures around a base so small-hamming pairs exist
    val sigRows = (0L until 120L).map { i =>
      var s = base
      (0 until rnd.nextInt(6)).foreach(_ => s ^= 1L << rnd.nextInt(64))
      (i, s)
    }
    val sigs = sigRows.toDF("id", "simhash")
    for (r <- Seq(3, 6)) {
      val truth = (for {
        (i, a) <- sigRows; (j, b) <- sigRows if i < j
        if java.lang.Long.bitCount(a ^ b) <= r
      } yield (i, j)).toSet
      val found = Dedup.simhashPairs(sigs, maxHamming = r)
        .select("id_a", "id_b").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(found == truth, s"radius $r: ${truth.size} true, ${found.size} found")
    }
  }

  test("hot-bucket guard bounds a degenerate near-identical corpus") {
    // 2000 near-identical docs: every LSH band has one giant bucket and
    // the uncapped self-join would generate ~2M candidate pairs
    val docs = (0L until 2000L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number ${i % 3}"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(docs, "doc_id", "text",
      shingleWords = 3, maxBucketSize = Some(100))
    assert(capped.count() == 0) // every bucket oversized → all skipped
    // a mixed corpus: the guard only silences the degenerate cohort;
    // pairs among normal docs survive
    val mixed = docs.limit(0).unionByName(
      ((0L until 500L).map(i => (i, "same same same words all over again yes")) ++
       Seq((9001L, "rare unique document about spark catalyst internals today"),
           (9002L, "rare unique document about spark catalyst internals today")))
        .toDF("doc_id", "text"))
    val pairs = Dedup.minhashCandidates(mixed, "doc_id", "text",
        shingleWords = 3, maxBucketSize = Some(100))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((9001L, 9002L)))
    assert(pairs.forall { case (a, b) => a >= 9000L && b >= 9000L })
    // simhash + embedding-LSH guards engage the same way
    val sigs = Dedup.simhash(docs, "doc_id",
      graft.operators.TextAnalysis.tokens(col("text")))
    assert(Dedup.simhashPairs(sigs, 3, Some(100)).count() == 0)
  }

  test("embedding LSH recall pinned at the q56 operating point") {
    // ground truth: exact all-pairs top-20 (q54's DuckDB-oracled path).
    // This corpus's top pairs sit at cosine ≈ 0.43-0.48 (no planted
    // high-cosine dups), which is ADVERSARIAL for sign-LSH — the
    // measured tradeoff curve at sf0.001: 8 bits × 8 tables → recall
    // 0.30 (3.8% of pairs as candidates); 5 bits × 16 tables → recall
    // 0.90 (41%). q56 runs the latter; pin both ends so a regression
    // in signatures or banding shows up as a recall drop.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = graft.operators.Similarity
      .allPairsTopK(emb, "vec_id", "embedding", 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(bits: Int, tables: Int): Double = {
      val lsh = graft.operators.Similarity
        .lshPairs(emb, "vec_id", "embedding", bits, dim = 64, tables = tables)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(lsh.contains).toDouble / exact.size
    }
    assert(recallAt(5, 16) >= 0.85)
    assert(recallAt(8, 8) >= 0.2) // selective point: partial by design

    // the regime the operator is built for — true near-dups (cosine
    // ≥ 0.9): the CHEAP point must recover them nearly completely (hyperplane
    // collision prob per bit ≈ 0.9 there)
    val rnd = new scala.util.Random(5)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val bases = Seq.fill(25)(unit())
    val rows = bases.zipWithIndex.flatMap { case (b, i) =>
      val jitter = unit()
      val dup = b.zip(jitter).map { case (x, j) => (x + 0.08f * j) }
      Seq((i * 2L, b.toSeq), (i * 2L + 1, dup.toSeq)) // cos(b,dup) ≈ 0.997
    } ++ (1000L until 1200L).map(i => (i, unit().toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val truth = bases.indices.map(i => (i * 2L, i * 2L + 1)).toSet
    val found = graft.operators.Similarity
      .lshPairs(df, "vec_id", "embedding", bits = 8, dim = 64, tables = 8)
      .filter(col("cos_sim") >= 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.9, s"high-cosine recall $recall")
  }

  test("dedupCorpus drops near-dup higher ids, keeps everything else") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different content about other things entirely now"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && kept.contains(2L))
    assert(!kept.contains(1L)) // exact dup of 0
  }

  test("shingle kernels reproduce the relational formulation bit-for-bit") {
    // The single-pass Expressions (ShingleExprs) claim hash parity with
    // the explode/window/groupBy pipelines they replaced. Pin it: same
    // corpus + pathological whitespace, exact equality of per-doc
    // signatures, hash sets and simhashes against relational twins
    // built from the documented Spark semantics (trim = 0x20 only,
    // split "\\s+" limit -1, xxhash64 seed 42).
    import org.apache.spark.sql.expressions.Window
    import graft.functions.ShingleExprs
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val edge = Seq[(Long, String)](
      (900001L, "a\tb\nc  d e"), (900002L, ""), (900003L, "   "),
      (900004L, "x y"), (900005L, null), (900006L, " pad \n mixed\tws ")
    ).toDF("doc_id", "text")
    val docs = base.unionByName(edge)
    val w = 3; val k = 64
    val a = Dedup.mixConstants(k, 1, 30); val b = Dedup.mixConstants(k, 2, 32)

    // --- minhash signature + distinct hash set: relational twin
    val toks = docs.select(col("doc_id").as("id"),
      posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
    val parts = (0 until w).map(j =>
      if (j == 0) col("tok") else lead(col("tok"), j).over(win))
    // NB: shingle string and the full-width guard are computed in the
    // SAME window stage, before filtering — re-evaluating the leads
    // after the filter (as a pre-kernel version of minhashCandidates
    // did) silently truncates tail shingles.
    val hashed = toks
      .withColumn("sh", concat_ws(" ", parts: _*))
      .withColumn("last_tok", parts.last)
      .filter(col("last_tok").isNotNull)
      .select(col("id"), xxhash64(col("sh")).bitwiseAND(0xFFFFFFFFL).as("h"))
      .distinct()
    val aggs = (0 until k).map(i =>
      min(pmod(lit(a(i)) * col("h") + lit(b(i)), lit(Dedup.MINHASH_P))).as(s"m$i")) :+
      sort_array(collect_set(col("h"))).as("hs")
    val relSig = hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"), col("hs"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    val kerSig = docs.select(col("doc_id"),
        ShingleExprs.shingle_minhash(col("text"), w, k,
          a.toArray, b.toArray, Dedup.MINHASH_P).as("s"))
      .filter(size(col("s.hs")) > 0)
      .collect().map { r =>
        val s = r.getStruct(1)
        r.getLong(0) -> (s.getSeq[Long](0), s.getSeq[Long](1))
      }.toMap
    assert(kerSig.keySet == relSig.keySet)
    assert(relSig.forall { case (id, v) => kerSig(id) == v },
      "minhash signature/hash-set mismatch vs relational twin")

    // --- prefix-path hash sets: relational twin of wordShingles.
    // Null-text docs are excluded from the twin: the kernel DROPS them
    // (a null document cannot near-dup), where the old relational path
    // accidentally kept them as one empty-string shingle (concat_ws
    // swallows the null) — conflating NULL with ''.
    val relArr = docs.filter(col("text").isNotNull).select(col("doc_id"),
        explode(Dedup.wordShingles(col("text"), w)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h")).distinct()
      .groupBy(col("doc_id")).agg(sort_array(collect_set(col("h"))).as("arr"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val kerArr = docs.select(col("doc_id"),
        ShingleExprs.shingle_hashes(col("text"), w).as("arr"))
      .filter(col("arr").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kerArr.keySet == relArr.keySet)
    assert(relArr.forall { case (id, v) => kerArr(id) == v },
      "shingle hash-set mismatch vs relational twin")

    // --- simhash: relational twin of the per-bit vote aggregation
    val tokenArr = graft.operators.TextAnalysis.tokens(col("text"))
    val ex = docs.select(col("doc_id").as("id"), explode(tokenArr).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(bb =>
      sum(shiftright(col("h"), bb).bitwiseAND(1) * 2 - 1).as(s"b$bb"))
    val voted = ex.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val sigExpr = (0 until 64).foldLeft(lit(0L)) { (acc, bb) =>
      acc.bitwiseOR(shiftleft(when(col(s"b$bb") > 0, 1L).otherwise(0L), bb))
    }
    val relSim = voted.select(col("id"), sigExpr.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kerSim = Dedup.simhash(docs, "doc_id", tokenArr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kerSim == relSim, "simhash mismatch vs relational twin")
  }

  /** Capture WARN+ log events emitted anywhere in the JVM while `body`
    * runs — the hot-bucket guards promise a LOGGED drop, and that
    * promise is part of the contract under test (a silent drop at
    * 100 TB is a wrong-results incident, a logged one is a tuning
    * decision). */
  private def captureWarns[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(
        "graft-warn-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        msgs.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val a = body
      import scala.jdk.CollectionConverters._
      (a, msgs.asScala.toSeq)
    } finally {
      rootCfg.removeAppender("graft-warn-capture")
      ctx.updateLoggers()
      app.stop()
    }
  }

  test("semanticDedup maxCellSize keeps a degenerate cell from going quadratic") {
    // adversarial skew: 1200 IDENTICAL embeddings collapse into one
    // k-means cell — uncapped, the within-cell self-join is 1200²/2
    // cosine evaluations on ONE task (the hot-cell analogue of a hot
    // LSH bucket). With maxCellSize the cohort is dropped (members
    // stay singletons, logged), while near-dups in healthy cells still
    // canonicalize.
    import graft.operators.Similarity
    def unit(x: Double, y: Double, z: Double): Seq[Float] = {
      val n = math.sqrt(x * x + y * y + z * z)
      Seq((x / n).toFloat, (y / n).toFloat, (z / n).toFloat)
    }
    val hot = (0L until 1200L).map(i => (i, unit(1, 0, 0)))
    val twins = Seq((5001L, unit(0, 1, 0)), (5002L, unit(0.02, 1, 0)))
    val lone = Seq((6001L, unit(0, 0, 1)))
    val emb = (hot ++ twins ++ lone).toDF("id", "embedding")
    val (rows, logs) = captureWarns {
      Similarity.semanticDedup(emb, "id", "embedding",
          minCos = 0.9, nlist = 2, iters = 4, maxCellSize = Some(100))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    }
    // every member of the dropped cohort stays a singleton — capped
    // means NO pair work, not wrong merges
    val hotRows = rows.filter(_._1 < 1200L)
    assert(hotRows.length == 1200 && hotRows.forall(_._3),
      "capped cell members must stay canonical singletons")
    // healthy cells are untouched by the guard: the twins still glue
    val t = rows.find(_._1 == 5002L).get
    assert(t._2 == 5001L && !t._3, s"twin must canonicalize, got $t")
    assert(rows.find(_._1 == 6001L).get._3)
    assert(logs.exists(m => m.contains("semanticDedup") && m.contains("skipping")),
      s"drop must be logged; captured: ${logs.take(5).mkString(" | ")}")
  }

  test("streaming dedup maxPerBucket bounds state and candidates on a hot bucket") {
    // 150 identical docs arrive as a stream: every band bucket is the
    // SAME hot bucket, and uncapped state would pair quadratically
    // (16 bands × n²/2). maxPerBucket stores only the first 20
    // signatures per bucket — candidates stay ≤ Σ min(i,cap) per band,
    // the saturation is logged, and the pipeline keeps running.
    import graft.streaming.StreamingDedup
    val n = 150
    val cap = 20
    val dir = tempDir("satdedup").toString
    (0L until n.toLong).map(i =>
        (i, "the same exact document text repeated over and over again verbatim"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(dir)
    val q = StreamingDedup.nearDupCandidates(stream, "doc_id", "text",
        shingleWords = 3, k = 64, bands = 16, maxPerBucket = Some(cap))
      .writeStream.format("memory").queryName("satdedup")
      .outputMode("append").start()
    val (_, logs) = captureWarns {
      try q.processAllAvailable() finally q.stop()
    }
    val emitted = spark.table("satdedup")
    val distinctPairs = emitted.select("id_a", "id_b").distinct().count()
    // per band an arrival pairs with ≤ cap stored signatures; identical
    // docs share identical buckets across bands, so the distinct pair
    // set is Σ_{i<n} min(i, cap) — far below the n(n-1)/2 quadratic
    val bound = (0 until n).map(i => math.min(i, cap)).sum.toLong
    assert(distinctPairs <= bound,
      s"capped candidates must stay ≤ $bound, got $distinctPairs")
    assert(distinctPairs > 0, "pre-cap arrivals must still pair")
    assert(distinctPairs < n.toLong * (n - 1) / 2,
      "cap must prevent the quadratic pair set")
    assert(logs.exists(_.contains("saturated")),
      s"saturation must be logged; captured: ${logs.take(5).mkString(" | ")}")
  }

  test("boilerplateStrip stays bounded on an all-template source") {
    // degenerate cohort: 2000 docs of ONE source all carrying the same
    // template — the (grp, chunk) census must combine map-side to a
    // handful of rows (never a per-doc blowup) and every occurrence is
    // excised; the unique tail survives untouched
    val docs = ((0 until 2000).map(i => (i.toLong, "farm", "free prize click here now banner")) :+
      (9999L, "farm", "genuinely novel writing only")).toDF("doc_id", "source", "text")
    val out = Dedup.boilerplateStrip(docs, "doc_id", "text", "source",
        w = 2, minDocs = 3)
    val agg = out.agg(
      sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("docs_hit"),
      sum(col("n_removed")).as("removed")).head
    assert(agg.getLong(0) == 2000L, "every template doc must be stripped")
    // 3 chunks per template doc, all deleted everywhere
    assert(agg.getLong(1) == 3L * 2000L)
    val novel = out.filter(col("doc_id") === 9999L).head
    assert(novel.getAs[Long]("n_removed") == 0L,
      "the unique doc must survive the purge")
  }

  test("editDistancePairs is vocabulary-shaped: duplicates collapse before the join") {
    // 50k occurrences of two words → the variant join sees a 2-row
    // vocabulary, and the output carries the corpus counts
    val words = (1 to 50000).map(i => if (i % 2 == 0) "spark" else "spank")
    val got = Dedup.editDistancePairs(words.toDF("w"), "w", 1).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "spank" && r.getString(1) == "spark" &&
      r.getInt(2) == 1 && r.getLong(3) == 25000L && r.getLong(4) == 25000L)
  }

  test("editDistancePairs stays bounded on a dense typo cluster + web blobs") {
    // adversarial web-vocabulary skew, two modes at once:
    //  (a) a DENSE cluster: 10k strings sampled from a 4-letter
    //      length-8 space, so thousands of pairs are genuinely within
    //      distance 2 — the candidate stream must scale with the TRUE
    //      pair density (bucketed equi-join), never all-pairs n²/2;
    //  (b) a 500-char base64-style blob, the token class that would
    //      alone emit ~125k variant rows of ~500 chars — maxLen must
    //      exclude it without touching the word pairs.
    val rnd = new scala.util.Random(7)
    val vocabulary = (1 to 10000)
      .map(_ => Array.fill(8)("abcd" (rnd.nextInt(4))).mkString).distinct
    // replicate the ≤2-deletion neighborhood in plain Scala and bound
    // the candidate-pair count the variant equi-join can emit:
    // Σ_v b(v)·(b(v)−1)/2 over variant buckets — the DESIGN property
    // (verify stage linear-ish in vocab) that a silent regression to
    // all-pairs would break by two orders of magnitude
    def del1(s: String): Seq[String] =
      s.indices.map(i => s.substring(0, i) + s.substring(i + 1))
    val buckets = new scala.collection.mutable.HashMap[String, Long]()
    vocabulary.foreach { w =>
      val n1 = (w +: del1(w)).distinct
      val n2 = (n1 ++ n1.flatMap(del1)).distinct
      n2.foreach(v => buckets(v) = buckets.getOrElse(v, 0L) + 1L)
    }
    val candidatePairs = buckets.valuesIterator.map(b => b * (b - 1) / 2).sum
    val allPairs = vocabulary.size.toLong * (vocabulary.size - 1) / 2
    // measured ~350 candidates/word on this fixture — tracking the
    // TRUE neighbor density of the 4-letter space (each word really
    // has O(100) strings within distance 2 here), 13× under all-pairs
    // n/2 ≈ 4650/word; a regression to the cross product blows both
    // bounds by an order of magnitude
    assert(candidatePairs < 450L * vocabulary.size,
      s"variant buckets emit $candidatePairs candidates — not density-shaped")
    assert(candidatePairs < allPairs / 10,
      "candidate stream is within 10% of all-pairs; bucketing buys nothing")
    val blob = "QmFzZTY0QmxvYg==" * 32 // 512 chars
    val df = (vocabulary :+ blob).toDF("w")
    val pairs = Dedup.editDistancePairs(df, "w", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.nonEmpty)
    assert(!pairs.exists { case (a, b) => a == blob || b == blob },
      "blob over maxLen must not pair")
    // exactness under the skew: spot-check 25 words against scalar DP
    def dp(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val sample = vocabulary.take(25)
    sample.foreach { w =>
      val want = vocabulary.filter(o => o > w && dp(w, o) <= 2).toSet
      val gotW = pairs.collect { case (a, b) if a == w => b }
      assert(gotW == want, s"pairs for $w: got ${gotW.size}, want ${want.size}")
    }
  }

  test("allowedCellPairs: angular bound prunes exactly, keeps degenerates") {
    import graft.operators.Similarity.allowedCellPairs
    // three orthogonal unit centroids, tight cells (radius 0.1 rad):
    // any cross pair's angle >= pi/2 - 0.2 -> cosine <= 0.198, so at
    // a 0.9 threshold ONLY the within-cell pairs can qualify
    val ortho = Seq(Seq(1.0, 0, 0), Seq(0, 1.0, 0), Seq(0, 0, 1.0))
    val tight = Map(0 -> 0.1, 1 -> 0.1, 2 -> 0.1)
    assert(allowedCellPairs(ortho, tight, 0.9).toSet ==
      Set((0, 0), (1, 1), (2, 2)))
    // same geometry at a 0.1 threshold: the 0.198 bound clears it,
    // every directed pair stays (pruning is threshold-relative)
    assert(allowedCellPairs(ortho, tight, 0.1).size == 9)
    // fat cells (radius 1.0 rad): theta - r_i - r_j < 0 -> bound 1,
    // nothing prunable even at 0.9
    val fat = Map(0 -> 1.0, 1 -> 1.0, 2 -> 1.0)
    assert(allowedCellPairs(ortho, fat, 0.9).size == 9)
    // degenerate zero-norm centroid -> NaN bound must KEEP its pairs
    // (conservative, never wrong), and memberless cells (absent from
    // radii) contribute none
    val degen = Seq(Seq(0.0, 0.0, 0.0), Seq(0, 1.0, 0), Seq(0, 0, 1.0))
    val kept = allowedCellPairs(degen, Map(0 -> 0.1, 1 -> 0.1), 0.9).toSet
    assert(kept.contains((0, 1)) && kept.contains((1, 0)) &&
      kept.contains((0, 0)) && kept.contains((1, 1)))
    assert(!kept.exists { case (a, b) => a == 2 || b == 2 })
  }

  test("exactPairsPruned is bit-identical to the brute force (testdata + clustered)") {
    import graft.operators.Similarity
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the real testdata corpus (uniform-ish 64-dim: the worst case for
    // pruning — the claim here is pure exactness, zero recall loss)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val brute = pairSet(Similarity.allPairsAbove(
      emb, "vec_id", "embedding", 0.40))
    val pruned = pairSet(Similarity.exactPairsPruned(
      emb, "vec_id", "embedding", 0.40, nlist = 8, iters = 2))
    assert(brute.nonEmpty && pruned == brute,
      s"pruned ${pruned.size} pairs != brute ${brute.size}")
    // a clustered corpus (the geometry the operator is FOR): three
    // tight cohorts around orthogonal axes; at a near-dup threshold
    // the cross-cell pair space is provably cold and the trained
    // geometry must prune it (checked against the operator's own
    // bound math), while the emitted edges stay exactly brute-force
    val rnd = new scala.util.Random(7)
    val dim = 16
    // ids interleave the cohorts so IvfIndex.train's lowest-id seeds
    // start one per cohort (the deterministic no-RNG seeding rule)
    val rows = for (c <- 0 until 3; i <- 0 until 60) yield {
      val v = Array.tabulate(dim)(j =>
        (if (j == c * 5) 1.0 else 0.0) + rnd.nextGaussian() * 0.03)
      ((i * 3 + c).toLong, v.map(_.toFloat).toSeq)
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val bruteC = pairSet(Similarity.allPairsAbove(
      clustered, "vec_id", "embedding", 0.9))
    val prunedC = pairSet(Similarity.exactPairsPruned(
      clustered, "vec_id", "embedding", 0.9, nlist = 3, iters = 4))
    assert(bruteC.nonEmpty && prunedC == bruteC,
      s"clustered: pruned ${prunedC.size} != brute ${bruteC.size}")
    // replicate the operator's geometry to show the bound FIRED: with
    // 3 tight orthogonal cohorts and nlist=3 the cross-cell pairs
    // must be provably cold at 0.9
    val cents = IvfIndex.train(clustered, "vec_id", "embedding",
      nlist = 3, iters = 4)
    val assigned = IvfIndex.assign(clustered, "vec_id", "embedding", cents)
    val radii = assigned.select(col("ivf_cell"), col("embedding"))
      .collect().groupBy(_.getInt(0)).map { case (cell, rs) =>
        cell -> rs.map { r =>
          val v = r.getSeq[Float](1).map(_.toDouble)
          val c = cents(cell)
          val d = v.zip(c).map { case (a, b) => a * b }.sum
          math.acos(math.max(-1.0, math.min(1.0,
            d / math.sqrt(v.map(x => x * x).sum * c.map(x => x * x).sum))))
        }.max
      }
    val allowed = graft.operators.Similarity.allowedCellPairs(
      cents, radii, 0.9)
    assert(allowed.toSet == Set((0, 0), (1, 1), (2, 2)),
      s"cross-cell pairs must prune on this geometry, kept: $allowed")
  }

  test("allPairsTopKPruned is bit-identical to allPairsTopK") {
    import graft.operators.Similarity
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // uniform testdata: the within-cell phase finds a k-th bound that
    // prunes nothing — the result must still be exactly brute force
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val brute = rows(Similarity.allPairsTopK(emb, "vec_id", "embedding", 20))
    val pruned = rows(Similarity.allPairsTopKPruned(
      emb, "vec_id", "embedding", 20, nlist = 8))
    assert(pruned == brute && brute.size == 20)
    // k larger than the within-cell pair count: no bound, still exact
    val tiny = emb.filter(col("vec_id") < 12)
    assert(rows(Similarity.allPairsTopKPruned(
        tiny, "vec_id", "embedding", 50, nlist = 8)) ==
      rows(Similarity.allPairsTopK(tiny, "vec_id", "embedding", 50)))
    // clustered cohorts (the interleaved-id corpus of the threshold
    // test): top pairs live within cohorts, the within-cell bound is
    // high, cross-cell pairs prune — and the output stays exact
    val rnd = new scala.util.Random(7)
    val cl = (for (c <- 0 until 3; i <- 0 until 60) yield {
      val v = Array.tabulate(16)(j =>
        (if (j == c * 5) 1.0 else 0.0) + rnd.nextGaussian() * 0.03)
      ((i * 3 + c).toLong, v.map(_.toFloat).toSeq)
    }).toDF("vec_id", "embedding")
    assert(rows(Similarity.allPairsTopKPruned(
        cl, "vec_id", "embedding", 10, nlist = 3, iters = 4)) ==
      rows(Similarity.allPairsTopK(cl, "vec_id", "embedding", 10)))
    // k == 0: empty with the brute-force path's column shape (the
    // phase-1 bound used to evaluate `min` of an empty score set)
    val z = Similarity.allPairsTopKPruned(emb, "vec_id", "embedding", 0,
      nlist = 8)
    assert(z.count() == 0)
    assert(z.schema.map(f => (f.name, f.dataType)) ==
      Similarity.allPairsTopK(emb, "vec_id", "embedding", 0)
        .schema.map(f => (f.name, f.dataType)))
  }

  test("pruned-exact hot-cell guard: one-populated-cell corpus refuses loudly") {
    import graft.operators.Similarity
    // a degenerate corpus — EXACT duplicate vectors — collapses the
    // k-means assignment onto ONE populated cell (identical seeds →
    // every member ties → argmin's first-cell tie-break), so
    // Σ|cell|² = n² and the "pruned" quadratic phases ARE brute
    // force. With maxCellSize set the operators must refuse loudly
    // instead of silently melting; unset, they stay exact (never
    // wrong, at most unpruned).
    val rnd = new scala.util.Random(11)
    val one = Array.tabulate(16)(j => if (j == 0) 1.0f else 0.0f).toSeq
    val degen = (0 until 90).map(i => (i.toLong, one))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.exactPairsPruned(degen, "vec_id", "embedding", 0.9,
        nlist = 4, iters = 2, maxCellSize = Some(50)).collect()
    }
    assert(e1.getMessage.contains("maxCellSize=50") &&
      e1.getMessage.contains("exactPairsPruned"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.allPairsTopKPruned(degen, "vec_id", "embedding", 5,
        nlist = 4, iters = 2, maxCellSize = Some(50)).collect()
    }
    assert(e2.getMessage.contains("maxCellSize=50") &&
      e2.getMessage.contains("allPairsTopKPruned"))
    // unguarded on the same degenerate corpus: still bit-exact
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairSet(Similarity.exactPairsPruned(degen, "vec_id", "embedding",
        0.9, nlist = 4, iters = 2)) ==
      pairSet(Similarity.allPairsAbove(degen, "vec_id", "embedding", 0.9)))
    // a cap ABOVE every cell size is inert: same output, no refusal —
    // the balanced-cohort corpus of the exactness tests (60 per cell)
    val cl = (for (c <- 0 until 3; i <- 0 until 60) yield {
      val v = Array.tabulate(16)(j =>
        (if (j == c * 5) 1.0 else 0.0) + rnd.nextGaussian() * 0.03)
      ((i * 3 + c).toLong, v.map(_.toFloat).toSeq)
    }).toDF("vec_id", "embedding")
    assert(pairSet(Similarity.exactPairsPruned(cl, "vec_id", "embedding",
        0.9, nlist = 3, iters = 4, maxCellSize = Some(70))) ==
      pairSet(Similarity.allPairsAbove(cl, "vec_id", "embedding", 0.9)))
  }

  test("matryoshkaTopK: full-prefix equals brute force; prefix recall measured") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val n = emb.count().toInt
    // prefixDims beyond the stored width is refused loudly, never a
    // silent exact-scan masquerading as the coarse stage (r13 advice)
    val wide = intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopK(emb, "vec_id", "embedding", queryId = 1L,
        k = 3, prefixDims = 4096, candidates = 10)
    }
    assert(wide.getMessage.contains("vector width"), wide.getMessage)
    // a coordinate outside the 1e-9 fixed-point long range (or
    // NaN/null) fails the centroid guard loudly, never wraps
    val huge = Seq((1L, "g", Seq(1.0e10, 0.0)), (2L, "g", Seq(1.0, 2.0)))
    import spark.implicits._
    val ex = intercept[Exception] {
      Similarity.robustCentroids(huge.toDF("vec_id", "label", "embedding"),
        "vec_id", "label", "embedding", dim = 2, shards = 1).collect()
    }
    assert(ex.getMessage != null &&
      (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(""))
        .contains("fixed-point"), ex.toString)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    // degenerate-free identity: prefix = full dim and candidates >= n
    // makes both stages exact — output must equal bruteForceTopK
    // including scores
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 7L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
        queryId = 7L, k = 10, prefixDims = 64, candidates = n)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(full == brute, s"full-prefix path diverged:\n$full\n$brute")
    // the 16-of-64-dim coarse stage on UNIFORM embeddings (the
    // hardest case for a prefix metric — no trained dimension
    // ordering) must still pull most of the true top-10 into a
    // 40-candidate shortlist; recall floor set WELL below the
    // measured value so data regeneration doesn't flap the pin
    val pre = ids(Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
      queryId = 7L, k = 10, prefixDims = 16, candidates = 40))
    val recall = pre.toSet.intersect(brute.map(_._1).toSet).size / 10.0
    assert(recall >= 0.3, s"prefix-16 recall@10 $recall below floor")
    // candidates = k degenerates to prefix-only ranking (re-rank
    // reorders but cannot recover outside the shortlist): still k rows
    assert(Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
      7L, 10, 16, 10).count() === 10L)
    // a missing query id yields an empty result, never a NaN flood
    assert(Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
      -999L, 10, 16, 40).count() === 0L)
  }

  test("randomProject: JL norm/distance preservation on the testdata corpus") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val proj = Similarity.randomProject(emb, "vec_id", "embedding",
        dim = 64, outDim = 16, scale = 9)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2))).toMap
    // mirror the operator's skip (null / short vectors drop) so a
    // fixture change fails with an assertion, not a map-lookup crash
    val orig = emb.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .filter(org.apache.spark.sql.functions.col("embedding").isNotNull &&
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("embedding")) >= 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(orig.keySet == proj.keySet,
      "projection and filtered corpus disagree on the row set")
    def sq(v: Array[Double]): Double = v.map(x => x * x).sum
    // unbiasedness in aggregate: E[||f(x)||^2] = ||x||^2 — the CORPUS
    // MEAN of the norm ratios concentrates near 1 even at outDim 16
    val ratios = orig.keys.toSeq.sorted.map { id =>
      sq(proj(id).toArray) / sq(orig(id))
    }
    val meanRatio = ratios.sum / ratios.size
    assert(meanRatio > 0.85 && meanRatio < 1.15,
      s"JL norm ratio mean $meanRatio off 1")
    // per-pair distances: the JL bound at outDim 16 is loose, but the
    // ratio distribution must still concentrate — deterministic data
    // + matrix, floor set well below the measured concentration
    val ids = orig.keys.toSeq.sorted.take(40)
    val pairRatios = for {
      a <- ids; b <- ids if a < b
    } yield {
      val d0 = sq(orig(a).zip(orig(b)).map { case (x, y) => x - y })
      val d1 = sq(proj(a).zip(proj(b)).map { case (x, y) => x - y }.toArray)
      d1 / d0
    }
    val within = pairRatios.count(r => r > 0.3 && r < 2.2).toDouble / pairRatios.size
    assert(within > 0.9,
      s"only ${(within * 100).round}% of pair ratios in [0.3, 2.2]")
    // deterministic; a different salt is an independent projection
    val again = Similarity.randomProject(emb, "vec_id", "embedding", 64, 16,
        scale = 9)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val first = proj.toSeq.flatMap { case (id, vs) =>
      vs.zipWithIndex.map { case (v, i) => (id, i + 1, v) } }.toSet
    assert(again == first)
    assert(Similarity.randomProject(emb, "vec_id", "embedding", 64, 16,
        salt = "s1", scale = 9)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      != first, "salt must redraw the matrix")
  }

  test("robustCentroids: median-of-means shrugs off planted poison") {
    import graft.operators.Similarity
    import spark.implicits._
    // 100 clean 4-dim vectors around (1,2,3,4) plus TWO poisoned rows
    // at +1e6: the plain mean shifts by ~2e4 per coordinate, the
    // median-of-means centroid must stay within the clean spread
    val rnd = new scala.util.Random(5)
    val clean = (0 until 100).map { i =>
      (i.toLong, "g", Seq(1.0, 2.0, 3.0, 4.0).map(_ + rnd.nextGaussian() * 0.1))
    }
    val poisoned = clean ++ Seq(
      (1000L, "g", Seq(1e6, 1e6, 1e6, 1e6)),
      (1001L, "g", Seq(1e6, 1e6, 1e6, 1e6)))
    val med = Similarity.robustCentroids(poisoned.toDF("vec_id", "label", "embedding"),
        "vec_id", "label", "embedding", dim = 4, shards = 5)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    Seq(1.0, 2.0, 3.0, 4.0).zipWithIndex.foreach { case (mu, i) =>
      assert(math.abs(med(i + 1) - mu) < 0.2,
        s"dim ${i + 1}: robust centroid ${med(i + 1)} poisoned away from $mu")
    }
    // the plain mean IS poisoned on this corpus (sanity of the setup)
    val plain = poisoned.map(_._3.head).sum / poisoned.size
    assert(plain > 1000.0, s"setup broken: plain mean $plain not poisoned")
    // shards = 1 degenerates to the plain per-group mean (round 4)
    val one = Similarity.robustCentroids(clean.toDF("vec_id", "label", "embedding"),
        "vec_id", "label", "embedding", dim = 4, shards = 1)
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    (0 until 4).foreach { i =>
      val m = clean.map(_._3(i)).sum / clean.size
      assert(math.abs(one(i + 1) -
        BigDecimal(m).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        <= 1e-4, s"shards=1 dim ${i + 1}")
    }
    // ORDER-INVARIANCE on real testdata at FULL precision (scale=12):
    // the round-13 gate flip was a merge-order ulp straddling a
    // round-4 boundary, which a toy repartition check on 102 rows
    // cannot see. Under the fixed-point contract the unrounded bucket
    // means are bit-equal at any layout; under an order-dependent
    // double sum, two partitionings of 64-dim real doubles disagree
    // in ulps with near-certainty — at scale=12 this pin DETECTS
    // order sensitivity instead of merely hoping round-4 hides it.
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("label").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) >= 64)
    def layout(df: org.apache.spark.sql.DataFrame) =
      Similarity.robustCentroids(df, "vec_id", "label", "embedding",
          dim = 64, shards = 5, scale = 12)
        .collect().map(r => (r.get(0).toString, r.getInt(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val lay1 = layout(emb.repartition(3))
    val lay2 = layout(emb.repartition(29))
    assert(lay1 == lay2,
      "partition layout changed a full-precision robust centroid")
    // ...and the values ARE the exact fixed-point arithmetic: replay
    // the contract in plain Scala (exact long sums, one division per
    // bucket, explicit lower-middle median) and compare bit-for-bit
    val rows = emb.select(col("vec_id").cast("long"), col("label"),
        col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.get(1).toString,
        r.getSeq[Double](2).take(64)))
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id s0".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(10)
      java.lang.Long.parseLong(hex, 16) % 5
    }
    val expected = rows.groupBy(r => (r._2, bucket(r._1))).toSeq
      .map { case ((g, _), vs) =>
        g -> Array.tabulate(64) { i =>
          vs.map(v => math.floor(v._3(i) * 1e9 + 0.5).toLong).sum
            .toDouble / vs.length / 1e9
        }
      }
      .groupBy(_._1)
      .flatMap { case (g, buckets) =>
        (0 until 64).map { i =>
          val xs = buckets.map(_._2(i)).sorted
          val m = xs((xs.size + 1) / 2 - 1)
          (g, i + 1,
            BigDecimal(m).setScale(12, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)
        }
      }.toSeq.sortBy(t => (t._1, t._2))
    assert(lay1 == expected,
      "robust centroid diverged from the exact fixed-point reference")
  }

  test("plan pins: temperatureMix broadcasts, matryoshka takes-ordered") {
    import graft.operators.{Sampling, Similarity, TextAnalysis}
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    // the corpus side must reach the filter through a BROADCAST of the
    // |S|-row threshold table — a SortMergeJoin here would shuffle the
    // whole corpus by source (exactly the skew the operator avoids:
    // one crawl source = one reducer)
    val mixPlan = Sampling.temperatureMix(docs, "doc_id", "source",
      "n_tokens", 0.5, 20000.0).queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastHashJoin"), mixPlan.take(800))
    assert(!mixPlan.contains("SortMergeJoin"), mixPlan.take(800))
    // both matryoshka stages must plan as TakeOrderedAndProject (the
    // partial-per-partition top-k), never a global Sort + Limit over
    // the scored corpus
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val mPlan = Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
      7L, 10, 16, 40).queryExecution.executedPlan.toString
    assert(mPlan.contains("TakeOrderedAndProject"), mPlan.take(800))
    assert(!mPlan.replaceAll("TakeOrderedAndProject", "")
      .contains("Sort "), mPlan.take(800))
  }

  test("prototypicalityFilter: D4 drop-most-prototypical semantics") {
    import graft.operators.Similarity
    import spark.implicits._
    // nlist=1 against an independent global-mean ranking (the qB8
    // oracle's premise, re-derived here in plain Scala)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.prototypicalityFilter(
      emb, "vec_id", "embedding", dropFrac = 0.25, nlist = 1, iters = 1)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    val vecs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dim = vecs.head._2.length
    val mean = Array.tabulate(dim)(j => vecs.values.map(_(j)).sum / vecs.size)
    def cosTo(v: Array[Double], c: Array[Double]): Double = {
      val d = v.zip(c).map { case (a, b) => a * b }.sum
      d / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum))
    }
    val byProto = vecs.toSeq.map { case (id, v) => (id, cosTo(v, mean)) }
      .sortBy { case (id, c) => (-c, id) }.map(_._1)
    val expectDropped = byProto.take((vecs.size * 0.25).toInt).toSet
    assert(vecs.keySet.forall(id => out(id) == !expectDropped(id)),
      "nlist=1 keep set must equal the global-mean ranking's bottom 75%")
    // multi-cell path on planted clusters with exact clones at each
    // center: per cell, exactly floor(|cell| * frac) drop, every
    // dropped member at least as prototypical as every kept one, and
    // the center clones (maximally prototypical) dropped first
    val rnd = new scala.util.Random(11)
    val cl = (for (c <- 0 until 3; i <- 0 until 40) yield {
      val clone = i < 6 // six exact center clones per cohort
      val v = Array.tabulate(16)(j =>
        (if (j == c * 5) 1.0 else 0.0) +
          (if (clone) 0.0 else rnd.nextGaussian() * 0.05))
      ((i * 3 + c).toLong, v.map(_.toFloat).toSeq)
    }).toDF("vec_id", "embedding")
    val res = Similarity.prototypicalityFilter(
        cl, "vec_id", "embedding", dropFrac = 0.2, nlist = 3, iters = 4)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(res.length == 120)
    res.groupBy(_._2).foreach { case (cell, members) =>
      val dropped = members.filter(!_._4)
      val kept = members.filter(_._4)
      assert(dropped.length == (members.length * 0.2).toInt,
        s"cell $cell dropped ${dropped.length} of ${members.length}")
      if (dropped.nonEmpty && kept.nonEmpty)
        assert(dropped.map(_._3).min >= kept.map(_._3).max - 1e-9,
          s"cell $cell kept a more-prototypical member than it dropped")
    }
    // a clone IS the centroid direction — none may survive while any
    // non-clone of its cohort is dropped; with 8 drops per 40-member
    // cell the 6 clones are all gone
    val cloneIds = (for (c <- 0 until 3; i <- 0 until 6)
      yield (i * 3 + c).toLong).toSet
    assert(res.filter(r => cloneIds(r._1)).forall(!_._4),
      "center clones must be dropped first")
    // dropFrac = 0 keeps everything
    assert(Similarity.prototypicalityFilter(
        cl, "vec_id", "embedding", dropFrac = 0.0, nlist = 3)
      .filter(!col("kept")).count() == 0)
  }

  test("centroidDriftMatrix: exact linear-MMD distances on planted geometry") {
    import graft.operators.Similarity
    import spark.implicits._
    // means exact in binary: A and B share mean (0.5,0,0,0); C sits at
    // (0.5,2,0,0) — so dist(A,B)=0 and dist(A,C)=dist(B,C)=2 exactly
    val ab = for (g <- Seq("A", "B"); i <- 0 until 4)
      yield (g, Seq((i % 2).toFloat, 0f, 0f, 0f))
    val c = Seq.fill(3)(("C", Seq(0.5f, 2f, 0f, 0f)))
    val bad = Seq((null.asInstanceOf[String], Seq(9f, 9f, 9f, 9f)),
      ("A", null.asInstanceOf[Seq[Float]])) // excluded, must not skew A
    val out = Similarity.centroidDriftMatrix(
        (ab ++ c ++ bad).toDF("g", "v"), "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(("A", "B", 4L, 4L, 0.0),
      ("A", "C", 4L, 3L, 2.0), ("B", "C", 4L, 3L, 2.0)))
    // row-key grouping is refused loudly (the G^2 matrix guard)
    intercept[IllegalArgumentException] {
      Similarity.centroidDriftMatrix(
        (0 until 4097).map(i => (i.toString, Seq(1f))).toDF("g", "v"),
        "g", "v")
    }
    // empty input: empty matrix, not a crash
    assert(Similarity.centroidDriftMatrix(
      (ab ++ c).toDF("g", "v").limit(0), "g", "v").count() == 0)
    // the qBB fixed-point sweep: on real testdata the ROUNDED output
    // is bit-identical across partition layouts (the qBQ-class trap
    // this operator shared — order-dependent double sums under
    // round-4 — is closed by the 1e-9 integer contract)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def mat(df: org.apache.spark.sql.DataFrame) =
      Similarity.centroidDriftMatrix(df, "label", "embedding")
        .collect().map(r => (r.get(0).toString, r.get(1).toString,
          r.getDouble(4))).toSet
    assert(mat(emb.repartition(3)) == mat(emb.repartition(29)),
      "partition layout changed a drift distance")
  }

  test("prototypicalityFilter invariants hold on random corpora") {
    import graft.operators.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (dropFrac <- Seq(0.1, 1.0 / 3, 0.5); nlist <- Seq(1, 4)) {
      val emb = (0 until 90).map { i =>
        (i.toLong, Seq.fill(8)((rnd.nextGaussian() * 0.7).toFloat))
      }.toDF("vec_id", "embedding")
      val res = Similarity.prototypicalityFilter(
          emb, "vec_id", "embedding", dropFrac, nlist, iters = 3)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
      assert(res.length == 90, s"frac=$dropFrac nlist=$nlist lost rows")
      res.groupBy(_._2).foreach { case (cell, ms) =>
        val dropped = ms.filter(!_._4)
        assert(dropped.length == (ms.length * dropFrac).toInt,
          s"frac=$dropFrac nlist=$nlist cell $cell drop count")
        val kept = ms.filter(_._4)
        if (dropped.nonEmpty && kept.nonEmpty)
          assert(dropped.map(_._3).min >= kept.map(_._3).max - 1e-9,
            s"frac=$dropFrac nlist=$nlist cell $cell ordering")
      }
    }
  }

  test("MisraGries guarantees + heavyGrams equals brute force") {
    import spark.implicits._
    import graft.functions.MisraGries
    // adversarial eviction pressure: one heavy item, then a flood of
    // distinct singletons each trying to decrement it away. N = 1050,
    // k = 9 -> undercount <= N/(k+1) = 105 < 150 = true count, so the
    // heavy item MUST survive with est >= 45
    val stream = Seq.fill(150)("hh") ++ (0 until 900).map(i => s"x$i")
    val mg = org.apache.spark.sql.functions.udaf(new MisraGries(9),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[String]())
    def summary(parts: Int): Map[String, Long] =
      stream.toDF("g").repartition(parts).agg(mg(col("g")))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 7, 32)) { // 7/32 exercise the mergeable path
      val s = summary(parts)
      assert(s.size <= 9, s"summary over capacity at $parts partitions")
      assert(s.contains("hh"),
        s"guaranteed heavy item evicted at $parts partitions")
      assert(s("hh") >= 150L - 105L && s("hh") <= 150L,
        s"estimate ${s.get("hh")} outside the MG bound at $parts partitions")
    }
    // end-to-end: exact verify over the sketch candidates must equal
    // DuckDB-style brute force (computed here with a plain groupBy)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val hh = graft.operators.TextAnalysis
      .heavyGrams(docs, "doc_id", "text", n = 1, phi = 0.01, k = 256)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val toks = docs.select(explode(graft.operators.TextAnalysis
      .tokens(col("text"))).as("g"))
    val total = toks.count()
    val brute = toks.groupBy(col("g")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2.toDouble > 0.01 * total.toDouble)
      .sortBy { case (g, c) => (-c, g) }.toSeq
    assert(hh == brute, s"heavyGrams diverged from brute force: " +
      s"got ${hh.take(3)}…, want ${brute.take(3)}…")
    assert(hh.nonEmpty, "fixture premise: the corpus has 1%-heavy tokens")
    // recall-guarantee precondition is enforced loudly
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis
        .heavyGrams(docs, "doc_id", "text", n = 1, phi = 0.001, k = 256)
    }
  }
}
