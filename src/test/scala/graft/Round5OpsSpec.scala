package graft

import graft.functions.TextExprs
import graft.operators.{Contamination, Packing, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 operator family: decontamination, repetition stats,
  * bloom-gated except, embedding near-dup edges, shard packing. */
class Round5OpsSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private lazy val docs =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")

  // --- contamination -------------------------------------------------

  test("decontamination kernel flag equals the broadcast-join formulation") {
    val eval = docs.filter(col("doc_id") % 29 === 0)
    val train = docs.filter(col("doc_id") % 29 =!= 0)
    val needles = Contamination.evalGramHashes(eval, "text", w = 5)
    assert(needles.length > 0)
    assert(needles.sameElements(needles.sorted))
    val byKernel = Contamination.flagContaminated(train, "text", 5, needles)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val byJoin = Contamination.contaminatedIds(train, eval, "doc_id", "text", 5)
      .collect().map(_.getLong(0)).toSet
    assert(byKernel == byJoin)
    assert(byKernel.nonEmpty, "planted near-dups should leak across the split")
  }

  test("contamination is exact: a planted overlap is caught, a clean doc is not") {
    val eval = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "x y alpha beta gamma delta epsilon tail"), // shares the 5-gram
      (11L, "alpha beta gamma delta unrelated suffix"), // only 4 shared words
      (12L, "completely different words here now ok")
    ).toDF("doc_id", "text")
    val needles = Contamination.evalGramHashes(eval, "text", w = 5)
    val flagged = Contamination.flagContaminated(train, "text", 5, needles)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(10L))
  }

  // --- bloom-gated except -------------------------------------------

  test("exceptByKey equals the plain anti-join, even with a high-fpp sketch") {
    val corpus = docs.filter(col("doc_id").between(50, 299))
    val ref = docs.filter(col("doc_id") < 100)
    // fpp 0.5 forces false positives through the verify join
    val got = Contamination.exceptByKey(corpus, md5(col("text")),
        ref, md5(col("text")), expectedItems = 1000L, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = corpus.join(
        ref.select(md5(col("text")).as("__k")).distinct(),
        md5(col("text")) === col("__k"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got == (100L to 299L).toSet.intersect(
      corpus.select("doc_id").collect().map(_.getLong(0)).toSet))
  }

  test("exceptByKey with an empty reference keeps the whole corpus") {
    val corpus = docs.limit(20)
    val ref = docs.filter(lit(false))
    val got = Contamination.exceptByKey(corpus, md5(col("text")),
      ref, md5(col("text")), expectedItems = 10L)
    assert(got.count() == 20)
  }

  // --- repetition stats ---------------------------------------------

  test("repetition stats match hand counts") {
    val df = Seq(
      (1L, "a b a b a"),            // 5 tokens, 2 distinct, "a b" ×2
      (2L, "x x x x"),              // 4 tokens, 1 distinct, "x x" ×3
      (3L, "unique words only here"), // all bigrams distinct
      (4L, "solo")                  // no bigram
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextExprs.repetition_stats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens"), col("r.n_distinct"), col("r.max_bigram"),
        col("r.dup_bigram_chars"), col("r.total_bigram_chars"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5))))
      .toMap
    // doc1: bigrams "a b"×2 + "b a"×2, all duplicated → dup = total = 12
    assert(got(1L) == ((5, 2, 2, 12L, 12L)))
    // doc2: "x x"×3 → dup = total = 9
    assert(got(2L) == ((4, 1, 3, 9L, 9L)))
    // doc3: all bigrams unique → dup 0
    assert(got(3L)._4 == 0L && got(3L)._5 > 0L)
    assert((got(3L)._1, got(3L)._2, got(3L)._3) == ((4, 4, 1)))
    // doc4: no bigram at all
    assert(got(4L) == ((1, 1, 0, 0L, 0L)))
  }

  test("repetition stats + grams use \\S+ tokenization on dirty text") {
    // leading tab / trailing newline / empty text: no phantom empty
    // tokens from split(trim) semantics — regexp_extract_all parity
    val df = Seq(
      (1L, "\thello world\n"), // bounded by non-0x20 whitespace
      (2L, ""),                 // empty → zero tokens
      (3L, "   ")               // all-space → zero tokens
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextExprs.repetition_stats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens"), col("r.n_distinct"), col("r.max_bigram"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(got(1L) == ((2, 2, 1)))
    assert(got(2L) == ((0, 0, 0)))
    assert(got(3L) == ((0, 0, 0)))
    // and the kernel/relational shingle twins agree on the same text
    import graft.functions.ShingleExprs
    import graft.operators.Dedup
    val ker = df.select(col("doc_id"),
        ShingleExprs.shingle_hashes(col("text"), 2).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val rel = df.select(col("doc_id"),
        sort_array(array_distinct(transform(
          Dedup.wordShingles(col("text"), 2), s => xxhash64(s)))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(ker == rel)
  }

  // --- text cleaning ------------------------------------------------

  test("cleanText: NFC composition, control strip, whitespace collapse") {
    import graft.operators.TextAnalysis
    val decomposed = "Café"          // e + combining acute
    val composed = "Café"             // é precomposed
    val messy = "  a\u0000b\tc  d\u0007 " // NUL + BEL controls, tabs, runs
    val df = Seq((1L, decomposed), (2L, composed), (3L, messy))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.cleanText(col("text")).as("t"))
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == composed, "NFC must compose the combining sequence")
    assert(got(1L) == got(2L))
    assert(got(3L) == "ab c d")
    // idempotence
    val again = df.select(col("id"), TextAnalysis.cleanText(col("t")).as("t2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  // --- packing ------------------------------------------------------

  test("packShards equals the single-threaded prefix sum, any partitioning") {
    val df = docs.select(col("doc_id"), col("n_chars"))
    val expected = {
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, _) =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(id.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }
      var cum = 0L
      rows.map { case (id, w) =>
        val shard = cum / 777; cum += w; id -> shard
      }.toMap
    }
    for (parts <- Seq(1, 7)) {
      val got = Packing.packShards(df.repartition(3), "doc_id", "n_chars",
          budget = 777L, partitions = parts)
        .select("doc_id", "shard_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"partitions=$parts")
    }
  }

  test("packShards shards are contiguous and budget-bounded from below") {
    val out = Packing.packShards(
      docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", 4096L)
    val perShard = out.groupBy("shard_id")
      .agg(sum("n_chars").as("w"), min("cum_before").as("lo"))
      .orderBy("shard_id")
      .collect()
    assert(perShard.length > 5)
    // every shard starts within budget of its nominal boundary
    perShard.foreach { r =>
      val (shard, lo) = (r.getLong(0), r.getLong(2))
      assert(lo / 4096L == shard)
    }
  }

  // --- plan shape: the zero-shuffle claims, asserted ----------------

  test("decontamination flag and repetition stats plans contain no Exchange") {
    val needles = Contamination.evalGramHashes(
      docs.filter(col("doc_id") % 29 === 0), "text", w = 5,
      cacheKey = Some("spec|planshape"))
    val flagPlan = Contamination.flagContaminated(
        docs.filter(col("doc_id") % 29 =!= 0), "text", 5, needles)
      .queryExecution.executedPlan.toString
    assert(!flagPlan.contains("Exchange"),
      s"decontamination flag must stay inside the scan stage:\n$flagPlan")
    val repPlan = docs
      .select(col("doc_id"), TextExprs.repetition_stats(col("text")).as("r"))
      .queryExecution.executedPlan.toString
    assert(!repPlan.contains("Exchange"))
    val cleanPlan = docs
      .select(graft.operators.TextAnalysis.cleanText(col("text")))
      .queryExecution.executedPlan.toString
    assert(!cleanPlan.contains("Exchange"))
  }

  test("lmScore scoring joins the broadcast model, never a shuffled join") {
    import graft.operators.TextAnalysis
    val plan = TextAnalysis.lmScore(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the LM model table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("hashEmbed plan: fused kernel — zero shuffles, no joins") {
    import graft.operators.TextAnalysis
    val plan = TextAnalysis.hashEmbed(docs, "doc_id", "text", dim = 16)
      .queryExecution.executedPlan.toString
    // the HashEmbedVec kernel accumulates the whole vector per row —
    // the old explode → groupBy(id,bucket) → groupBy(id) pair of
    // corpus shuffles is gone entirely
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("hash_embed_vec"), plan)
  }

  // --- randomized cross-checks --------------------------------------

  test("packShards invariants hold on randomized weights") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 300L).map(i => (i, 1L + rnd.nextInt(500).toLong))
    val df = rows.toDF("id", "w")
    val out = Packing.packShards(df, "id", "w", budget = 1000L, partitions = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // total weight preserved; cum_before strictly increasing in md5 order
    assert(out.map(_._2).sum == rows.map(_._2).sum)
    val byCum = out.sortBy(_._3)
    byCum.sliding(2).foreach { case Array(p, n) =>
      assert(p._3 + p._2 == n._3, "prefix sum must be gapless")
    }
    // shard of each row is its cum_before / budget, shards contiguous
    assert(out.forall(t => t._4 == t._3 / 1000L))
    val shardIds = out.map(_._4).distinct.sorted.toSeq
    assert(shardIds.head == 0L &&
      shardIds == (shardIds.head to shardIds.last).toSeq)
  }

  test("exceptByKey equals anti-join on randomized overlapping key sets") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 400).map(i => (i.toLong, s"k${rnd.nextInt(120)}"))
      .toDF("id", "key")
    val ref = (0 until 100).map(i => (i.toLong, s"k${rnd.nextInt(120)}"))
      .toDF("id", "key")
    val got = Contamination.exceptByKey(corpus, col("key"), ref, col("key"),
        expectedItems = 64L, fpp = 0.3)
      .collect().map(_.getLong(0)).toSet
    val want = corpus.join(ref.select(col("key").as("__refkey")).distinct(),
        col("key") === col("__refkey"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  // --- incremental dedup against a stored signature table -----------

  private def candidatePairs(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** incremental(fresh vs old) ∪ batch(old) must equal batch(old ∪ fresh),
    * with no stored-stored pair ever re-reported. */
  private def checkDecomposition(old: org.apache.spark.sql.DataFrame,
                                 fresh: org.apache.spark.sql.DataFrame,
                                 storedSigs: org.apache.spark.sql.DataFrame): Unit = {
    import graft.operators.Dedup
    val incr = candidatePairs(Dedup.minhashCandidatesIncremental(
      Dedup.signatures(fresh, "doc_id", "text"), storedSigs, minEstJaccard = 0.4))
    val full = candidatePairs(Dedup.minhashCandidates(docs, "doc_id", "text",
      minEstJaccard = 0.4))
    val oldOnly = candidatePairs(Dedup.minhashCandidates(old, "doc_id", "text",
      minEstJaccard = 0.4))
    assert(incr.nonEmpty && (incr intersect oldOnly).isEmpty,
      "incremental must never re-report stored-stored pairs")
    assert((incr union oldOnly) == full,
      "incremental + historical must reconstruct the full batch run")
  }

  test("incremental candidates over stored signatures decompose the batch run") {
    import graft.operators.Dedup
    val old = docs.filter(col("doc_id") < 250)
    val fresh = docs.filter(col("doc_id") >= 250)
    // signatures persisted and read back (the ingest-time artifact)
    val sigDir = tempDir("sigstore").toString
    Dedup.signatures(old, "doc_id", "text").write.mode("overwrite").parquet(sigDir)
    checkDecomposition(old, fresh, spark.read.parquet(sigDir))
  }

  test("crossCandidates = full candidates minus both within-corpus sets") {
    import graft.operators.Dedup
    val train = docs.filter(col("doc_id") % 29 =!= 0)
    val eval = docs.filter(col("doc_id") % 29 === 0)
    def norm(s: Set[(Long, Long)]) =
      s.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val cross = norm(candidatePairs(Dedup.crossCandidates(
      Dedup.signatures(train, "doc_id", "text"),
      Dedup.signatures(eval, "doc_id", "text"), minEstJaccard = 0.4)))
    val full = norm(candidatePairs(
      Dedup.minhashCandidates(docs, "doc_id", "text", minEstJaccard = 0.4)))
    val withinT = norm(candidatePairs(
      Dedup.minhashCandidates(train, "doc_id", "text", minEstJaccard = 0.4)))
    val withinE = norm(candidatePairs(
      Dedup.minhashCandidates(eval, "doc_id", "text", minEstJaccard = 0.4)))
    assert(cross == (full -- withinT -- withinE))
    assert(cross.nonEmpty, "planted near-dups must straddle the split")
  }

  test("incremental decomposition holds for a different batch split") {
    import graft.operators.Dedup
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val fresh = docs.filter(col("doc_id") % 3 === 0)
    checkDecomposition(old, fresh, Dedup.signatures(old, "doc_id", "text"))
  }

  test("groupJaccardApprox accepts non-string group columns") {
    import graft.operators.Dedup
    val grouped = docs.withColumn("bucket", (col("doc_id") % 4).cast("int"))
    val out = Dedup.groupJaccardApprox(grouped, "bucket", "text", w = 3, k = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, e) => a < b && e > 0.0 && e <= 1.0 })
    assert(out.map(t => (t._1, t._2)).distinct.length == out.length)
  }

  test("group-overlap minhash estimate tracks the exact matrix") {
    import graft.operators.Dedup
    val exact = Dedup.groupJaccard(docs, "source", "text", w = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val approx = Dedup.groupJaccardApprox(docs, "source", "text", w = 3, k = 128)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // approx never invents overlap: an agreeing minhash position means
    // a SHARED shingle minimized both sides (collisions are ~2^-32)
    assert((approx.keySet -- exact.keySet).isEmpty)
    // exact-only pairs have tiny J (every one of the k positions
    // disagreed) — treat their estimate as 0 in the error bound.
    // k=128 → stderr ≈ sqrt(J(1-J)/128) ≤ 0.045; allow 3σ
    val worst = exact.map { case (k0, j) =>
      math.abs(approx.getOrElse(k0, 0.0) - j)
    }.max
    assert(worst <= 0.14, s"worst |approx-exact| = $worst")
  }

  // --- embedding near-dup edges -------------------------------------

  test("allPairsAbove is consistent with allPairsTopK ranking") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val top = Similarity.allPairsTopK(emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val minTop = top.map(_._3).min
    // top's cos is display-rounded; widen the raw threshold accordingly
    val above = Similarity.allPairsAbove(emb, "vec_id", "embedding", minTop - 0.001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top.map(t => (t._1, t._2)).forall(above.contains))
  }

  // --- sub-document (chunk) dedup -----------------------------------

  test("chunkDedup keeps first occurrence, reassembles in order") {
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "a b c d"),   // chunks "a b", "c d" — both first occurrences
      (2L, "a b x y"),   // "a b" dups doc1 → dropped; "x y" kept
      (3L, "c d a b"),   // both chunks dup doc1 → everything dropped
      (4L, ""),          // token-less: 0 chunks, survives with empty text
      (5L, "z")          // short tail chunk of width 1
    ).toDF("doc_id", "text")
    val got = Dedup.chunkDedup(corpus, "doc_id", "text", w = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got === Array(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 0L, ""),
      (4L, 0L, 0L, ""),
      (5L, 1L, 1L, "z")))
  }

  test("bm25Rank: term-stuffed doc ranks first, term-free doc is absent") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "hash join scan hash join scan hash"),  // stuffed with query terms
      (2L, "hash lookup and a scan of the table"), // a couple of hits
      (3L, "completely unrelated words only here") // no query terms
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(corpus, "doc_id", "text",
      Seq("hash", "join", "scan"), topK = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1) === Array(1L, 2L), "doc 3 must not appear at all")
    assert(got(0)._2 > got(1)._2)
    assert(got.forall(_._2 > 0.0))
  }

  test("kernel functions are callable from plain SQL (Compat registry)") {
    graft.functions.Compat.register(spark)
    val r = spark.sql(
      "SELECT token_grams('a b c d', 2, true) AS sp, " +
        "token_grams('a b c d', 2, false) AS ch, " +
        "shingle_hashes('a b  c', 2) AS hs, " +
        "simhash64(array('a','b')) AS sh, " +
        "nfc_normalize('é') AS nfc, " +
        "repetition_stats('x x y') AS reps, " +
        "multi_phrase_hits('the bad cat', 'bad cat', 'dog', 'he b') AS mph").head()
    assert(r.getSeq[String](r.fieldIndex("sp")) == Seq("a b", "b c", "c d"))
    assert(r.getSeq[String](r.fieldIndex("ch")) == Seq("a b", "c d"))
    assert(r.getSeq[Long](r.fieldIndex("hs")).size == 2) // 2 distinct bigrams
    assert(!r.isNullAt(r.fieldIndex("sh")))
    assert(r.getAs[String]("nfc") == "\u00e9") // composed single-codepoint form
    assert(!r.isNullAt(r.fieldIndex("reps")))
    assert(r.getSeq[String](r.fieldIndex("mph")) == Seq("bad cat", "he b"))
    // phrases must be literals: the automaton is built at plan time
    intercept[Exception] {
      spark.sql("SELECT multi_phrase_hits('x', lower('Y'))").head()
    }
  }

  test("token_grams kernel ≡ relational gram builders, both modes") {
    import graft.functions.ShingleExprs
    import graft.operators.{Dedup, TextAnalysis}
    val edge = Seq((9001L, ""), (9002L, "one"), (9003L, "a b c d"),
      (9004L, "  padded   whitespace  x y z  ")).toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(edge)
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("t"))
    val relSpan = when(size(col("t")) >= 4,
      transform(sequence(lit(0), size(col("t")) - 4),
        i => concat_ws(" ", slice(col("t"), i + 1, lit(4)))))
      .otherwise(array().cast("array<string>"))
    val bad = corpus.select(
        ShingleExprs.token_grams(col("text"), 3, overlapping = false).as("k_ch"),
        Dedup.chunkDedupChunks(col("text"), 3).as("r_ch"),
        ShingleExprs.token_grams(col("text"), 4, overlapping = true).as("k_sp"),
        relSpan.as("r_sp"))
      .filter(col("k_ch") =!= col("r_ch") || col("k_sp") =!= col("r_sp"))
    assert(bad.count() == 0, bad.collect().take(3).mkString("; "))
  }

  test("spanDedup excises every non-first duplicated window, token-granular") {
    import graft.operators.Dedup
    val corpus = Seq(
      // within-doc repetition: gram "a b c d" at pos 4 dups pos 0 →
      // tokens 4..7 removed, first copy survives
      (1L, "a b c d a b c d"),
      (2L, "x y z w q r"),       // source passage
      // doc 3 embeds doc 2's passage: dup grams at pos 2,3,4 cover
      // tokens 2..7 → only the "p p" prefix survives
      (3L, "p p x y z w q r"),
      (4L, "too short"),          // < w tokens: no grams, untouched
      (5L, "")                    // token-less
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(corpus, "doc_id", "text", w = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got === Array(
      (1L, 8L, 4L, "a b c d"),
      (2L, 6L, 0L, "x y z w q r"),
      (3L, 8L, 6L, "p p"),
      (4L, 2L, 0L, "too short"),
      (5L, 0L, 0L, "")))
  }

  test("spanDedup invariant: surviving corpus has no duplicated w-gram left " +
    "except spans protected as first occurrences") {
    import graft.operators.Dedup
    val out = Dedup.spanDedup(docs, "doc_id", "text", w = 4)
    assert(out.agg(sum("n_removed")).head.getLong(0) > 0,
      "testdata should contain duplicated spans")
    // re-running span dedup on the cleaned corpus must be a no-op for
    // every span that was fully removed (idempotence on the excised
    // part): total removals strictly decrease
    val again = Dedup.spanDedup(
      out.select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", w = 4)
    val first = out.agg(sum("n_removed")).head.getLong(0)
    val second = again.agg(sum("n_removed")).head.getLong(0)
    assert(second < first, s"second pass removed $second vs first $first")
  }

  test("chunkDedup corpus invariant: total kept = distinct chunk count") {
    import graft.operators.Dedup
    val out = Dedup.chunkDedup(docs, "doc_id", "text", w = 3)
    val keptTotal = out.agg(sum("n_kept")).collect()(0).getLong(0)
    val chunkTotal = out.agg(sum("n_chunks")).collect()(0).getLong(0)
    // exactly one survivor per distinct chunk value, corpus-wide
    val distinctChunks = docs
      .select(posexplode(Dedup.chunkDedupChunks(col("text"), 3)))
      .select(col("col")).distinct().count()
    assert(keptTotal === distinctChunks)
    assert(keptTotal < chunkTotal, "testdata should contain duplicate chunks")
  }

  // --- leakage-free split --------------------------------------------

  test("leakFreeSplit never separates a near-dup pair; both sides populated") {
    import graft.operators.{Dedup, Sampling}
    val pairs = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
      shingleWords = 3, minJaccard = 0.8).select("id_a", "id_b")
    // valBound "40" ≈ 25% — wide enough that a tiny corpus still lands
    // docs on both sides with overwhelming probability
    val split = Sampling.leakFreeSplit(docs, "doc_id", pairs, "id_a", "id_b",
      valBound = "40")
    val side = split.select(col("doc_id"), col("split"))
    val crossing = pairs
      .join(side.toDF("id_a", "sa"), "id_a")
      .join(side.toDF("id_b", "sb"), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(crossing === 0L, "a near-dup pair straddles the split boundary")
    val sides = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sides.getOrElse("train", 0L) > 0L)
    assert(sides.getOrElse("val", 0L) > 0L)
    // deterministic: a second evaluation produces the identical split
    val again = Sampling.leakFreeSplit(docs, "doc_id", pairs, "id_a", "id_b",
        valBound = "40")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(split.collect().map(r => (r.getLong(0), r.getString(2))).toMap == again)
  }

  // --- PII redaction -------------------------------------------------

  test("redactPii replaces emails, IPs and phones; counts agree") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "mail me at jo.doe+spam@mail.example.org today"),
      (2L, "server 192.168.0.1 and 10.0.255.7 are up"),
      (3L, "call +1 555 012 4321 or +44 207 946-0958"),
      (4L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val cols = TextAnalysis.piiCounts(col("text")).map { case (n, c) => c.as(n) }
    val got = rows.select(col("doc_id") +: cols :+
        TextAnalysis.redactPii(col("text")).as("red"): _*)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(got(0) === ((1L, 1, 0, 0, "mail me at <EMAIL> today")))
    assert(got(1) === ((2L, 0, 2, 0, "server <IP> and <IP> are up")))
    assert(got(2) === ((3L, 0, 0, 2, "call <PHONE> or <PHONE>")))
    assert(got(3) === ((4L, 0, 0, 0, "nothing sensitive here at all")))
    // redacted text contains no residual matches (scrub is complete)
    val residual = rows.select(TextAnalysis.piiCounts(
        TextAnalysis.redactPii(col("text"))).map(_._2.cast("long")).reduce(_ + _).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    assert(residual === 0L)
  }

  // --- LM quality scoring -------------------------------------------

  test("lmScore matches the closed-form unigram model on a hand case") {
    import graft.operators.TextAnalysis
    val train = Seq((0L, "a a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(docs, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // N=3 tokens, V=2 vocab, denom = 3 + 0.5·3
    val denom = 3 + 0.5 * 3
    def nll(c: Long) = -math.log((c + 0.5) / denom)
    assert(got(1L)._2 === 2L && got(2L)._2 === 1L)
    assert(math.abs(got(1L)._1 - (nll(2) + nll(1)) / 2) < 1e-6)
    assert(math.abs(got(2L)._1 - nll(0)) < 1e-6) // OOV bucket
  }

  test("lmScore: OOV junk scores higher than common-token text") {
    import graft.operators.TextAnalysis
    val train = docs.filter(col("lang") === "en")
    // most frequent training tokens vs tokens the model never saw
    val common = train
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().orderBy(col("count").desc, col("tok"))
      .limit(5).collect().map(_.getString(0))
    val probe = Seq(
      (1L, common.mkString(" ")),
      (2L, "zzqx1 zzqx2 zzqx3 zzqx4 zzqx5")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(probe, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) < got(2L),
      s"in-domain text must be cheaper than OOV junk: $got")
  }

  // --- feature-hashing embeddings -----------------------------------

  test("hashEmbed: exact bucket/sign construction, hand-verified") {
    import graft.operators.TextAnalysis
    val rows = Seq((1L, "alpha beta alpha"), (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.hashEmbed(rows, "doc_id", "text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // zero-token doc produces no row
    assert(got.keySet === Set(1L))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = Array.fill(8)(0.0)
    for (tok <- Seq("alpha", "beta", "alpha")) {
      val h = md5hex(tok)
      val b = (java.lang.Long.parseLong(h.substring(0, 8), 16) % 8).toInt
      val s = if (Integer.parseInt(h.substring(8, 9), 16) % 2 == 0) 1.0 else -1.0
      expected(b) += s
    }
    assert(got(1L) === expected.toSeq)
  }

  test("hashEmbed: zero-token docs drop even when text is NON-nullable") {
    import graft.operators.TextAnalysis
    // a non-nullable text column is the trap: without HashEmbedVec's
    // nullable=true override the optimizer trusted child.nullable,
    // deleted the isNotNull guard, and a null embedding escaped
    // (EXPRESSION_DECODING_FAILED at collect)
    val df = spark.range(3).select(col("id").as("doc_id"),
      when(col("id") === 1L, lit("tok tok")).otherwise(lit("   ")).as("text"))
    assert(!df.schema("text").nullable, "fixture premise: non-nullable text")
    val out = TextAnalysis.hashEmbed(df, "doc_id", "text", dim = 8).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("hashEmbed bridges text into the ANN family: dup docs are identical") {
    import graft.operators.TextAnalysis
    val d0 = docs.orderBy("doc_id").limit(20).select(col("doc_id"), col("text"))
    // re-key a copy of the first doc so it embeds as a separate row
    val dup = d0.orderBy("doc_id").limit(1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val emb = TextAnalysis.hashEmbed(d0.union(dup), "doc_id", "text", dim = 32)
      .withColumnRenamed("doc_id", "vec_id")
    val dupId = dup.collect()(0).getLong(0)
    // exact duplicate text → bit-identical vector → cosine exactly 1
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryId = dupId, k = 1).collect()(0)
    assert(top.getDouble(1) === 1.0,
      "the duplicated document must find its twin at cosine 1")
    assert(top.getLong(0) === dupId - 1000000L)
  }

  // --- semantic dedup (SemDeDup) ------------------------------------

  private def canonicalMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("vec_id", "canonical_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("semanticDedup at nlist=1 equals the exact all-pairs components path") {
    import graft.operators.ConnectedComponents
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val exactEdges = Similarity.allPairsAbove(emb, "vec_id", "embedding", 0.40)
      .select("id_a", "id_b")
    val cc = ConnectedComponents.run(exactEdges, "id_a", "id_b")
    val exact = canonicalMap(emb.select(col("vec_id"))
      .join(cc.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("canonical_id")))
    val got = canonicalMap(
      Similarity.semanticDedup(emb, "vec_id", "embedding", 0.40, nlist = 1))
    assert(got == exact)
  }

  test("semanticDedup at nlist>1 refines the exact clustering; recall measured") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = canonicalMap(
      Similarity.semanticDedup(emb, "vec_id", "embedding", 0.40, nlist = 1))
    val got = canonicalMap(
      Similarity.semanticDedup(emb, "vec_id", "embedding", 0.40, nlist = 4))
    // precision is exact: ids grouped at nlist=4 are grouped exactly too
    // (every within-cell edge is a verified cosine ≥ threshold)
    got.groupBy(_._2).values.foreach { grp =>
      assert(grp.keys.map(exact).toSet.size === 1,
        s"cluster ${grp.keys.toSeq.sorted} straddles exact components")
    }
    // recall: fraction of exact same-component pairs still together
    def pairs(m: Map[Long, Long]): Set[(Long, Long)] =
      m.groupBy(_._2).values.flatMap { g =>
        val ids = g.keys.toSeq.sorted
        for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
      }.toSet
    val exactPairs = pairs(exact)
    assert(exactPairs.nonEmpty, "fixture should contain near-dup embeddings")
    // measured 0.4375 on this fixture: a 0.40-cosine threshold admits
    // genuinely-far "near" pairs, which straddle cell boundaries far
    // more often than the ~0.9-cosine dups SemDeDup targets. The pin
    // guards against collapse (e.g. degenerate centroids putting every
    // pair in different cells); exactness is the nlist=1 test above.
    val recall = pairs(got).size.toDouble / exactPairs.size
    assert(recall >= 0.35, s"cluster-boundary recall collapsed: $recall")
  }

  test("lmScoreBigram matches the closed-form chain on a hand case") {
    import graft.operators.TextAnalysis
    val train = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "b a"), (3L, "c c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreBigram(docs, train, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // uni: a→2 b→2; n=4 v=2; denomUni=5.5; prefix smoothing mass 1.5
    // bigrams: "a b"→2, "b a"→1
    def ln(x: Double) = math.log(x)
    val e1 = (-ln(2.5 / 5.5) - ln(2.5 / 3.5)) / 2 // first a, trans "a b"
    val e2 = (-ln(2.5 / 5.5) - ln(1.5 / 3.5)) / 2 // first b, trans "b a"
    val e3 = (-ln(0.5 / 5.5) - ln(0.5 / 1.5)) / 2 // OOV first + OOV trans
    assert(got.view.mapValues(_._2).toMap === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(math.abs(got(1L)._1 - e1) < 1e-6)
    assert(math.abs(got(2L)._1 - e2) < 1e-6)
    assert(math.abs(got(3L)._1 - e3) < 1e-6)
    // a fluent bigram sequence is cheaper than a reversed/junk one
    assert(got(1L)._1 < got(3L)._1)
  }

  test("perplexityBuckets: per-lang tertiles are balanced and monotone in nll") {
    import graft.operators.TextAnalysis
    val got = TextAnalysis.perplexityBuckets(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getInt(3)))
    assert(got.length > 0)
    got.groupBy(_._1).foreach { case (lang, rows) =>
      // monotone: a doc in a lower bucket never scores above one in a
      // higher bucket
      val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      for (b <- byBucket.keys; b2 <- byBucket.keys; if b < b2)
        assert(byBucket(b).max <= byBucket(b2).min + 1e-9,
          s"$lang: bucket $b overlaps bucket $b2")
      // roughly balanced tertiles (exact thirds up to ties)
      val sizes = byBucket.view.mapValues(_.size).toMap
      assert(sizes.keySet.subsetOf(Set(1, 2, 3)), s"$lang: $sizes")
      assert(sizes.values.sum === rows.length)
      assert(sizes.values.max - sizes.values.min <= math.max(2, rows.length / 3),
        s"$lang buckets unbalanced: $sizes")
    }
  }

  test("lmScore fails loudly on an empty train slice") {
    import graft.operators.TextAnalysis
    val train = Seq((0L, "")).toDF("doc_id", "text")
    val probe = Seq((1L, "anything")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.lmScore(probe, train, "doc_id", "text")
    }
    assert(e.getMessage.contains("train slice has no grams"))
  }

  test("semanticDedup: zero-norm vectors stay singletons (NaN guard)") {
    // hashEmbed can emit an all-zero vector (signs cancel); its cosine
    // to anything is NaN, which Spark orders above every threshold —
    // without the guard it would edge to the whole cell
    val emb = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = canonicalMap(Similarity.semanticDedup(
      emb, "vec_id", "embedding", minCos = 0.9, nlist = 1))
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("degenerate vectors (zero/NaN/Inf) never reach any pair output") {
    // one zero vector, one NaN component, one Inf component, two real
    // near-dup vectors: every operator must pair only the real two
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(Float.NaN, 1.0f)),
      (3L, Seq(Float.PositiveInfinity, 0.0f)),
      (4L, Seq(1.0f, 0.1f)), (5L, Seq(1.0f, 0.11f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.allPairsTopK(emb, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((4L, 5L)))
    val above = Similarity.allPairsAbove(emb, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(above.toSeq === Seq((4L, 5L)))
    val knn = Similarity.knnJoin(emb, "vec_id", "embedding", k = 2, nlist = 1)
      .select("id", "nn_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(knn.toSet === Set((4L, 5L), (5L, 4L)))
    val lsh = Similarity.lshPairs(emb, "vec_id", "embedding", bits = 2, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.toSet.subsetOf(Set((4L, 5L))))
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryId = 4L, k = 10).collect().map(_.getLong(0))
    assert(top.toSeq === Seq(5L))
    // a DEGENERATE query vector yields an empty result — not k NaN
    // pairs promoted by NaN-is-largest ordering
    for (q <- Seq(1L, 2L, 3L)) {
      assert(Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queryId = q, k = 10).count() === 0L, s"query $q")
    }
  }

  test("semanticDedup hot-cell guard: a dropped cell leaves its members singletons") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // nlist=1 puts everything in one cell, which the cap then drops:
    // no pairs survive, every vector canonicalizes to itself
    val got = canonicalMap(Similarity.semanticDedup(
      emb, "vec_id", "embedding", 0.40, nlist = 1, maxCellSize = Some(1)))
    assert(got.forall { case (id, canon) => id == canon })
    assert(got.nonEmpty)
  }
}
