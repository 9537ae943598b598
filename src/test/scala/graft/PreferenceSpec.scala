package graft

import graft.operators.Preference
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PreferenceSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  private def pairsOf(df: org.apache.spark.sql.DataFrame,
                      maxJac: Double = 0.9) =
    Preference.preferencePairs(df, "prompt_id", "resp_id", "text", "score",
        maxJaccard = maxJac)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(6), r.getDouble(7), r.getBoolean(8)))).toMap

  test("preferencePairs: selection, tie-breaks, near-dup guard by hand") {
    val df = Seq(
      // prompt 1: clear winner/loser, disjoint vocab
      (1L, 10L, "alpha beta gamma delta", 5L),
      (1L, 11L, "omega", 1L),
      (1L, 12L, "middle answer here", 3L),
      // prompt 2: ALL scores tie -> chosen = min id, rejected = max id
      (2L, 20L, "aa bb", 2L), (2L, 21L, "cc", 2L), (2L, 22L, "dd ee ff", 2L),
      // prompt 3: chosen and rejected near-identical -> guarded out
      (3L, 30L, "same words every time", 9L),
      (3L, 31L, "same words every time", 0L),
      // prompt 4: single response -> degenerate, keep = false
      (4L, 40L, "lonely", 7L),
      // prompt 5: both legs token-less -> jaccard 1 by convention
      (5L, 50L, "", 8L), (5L, 51L, "   ", 1L)
    ).toDF("prompt_id", "resp_id", "text", "score")
    val p = pairsOf(df)
    // prompt 1: (10 chosen score 5, 11 rejected score 1), delta 4-1=3,
    // disjoint vocab -> jaccard 0, kept
    assert(p(1L) == ((10L, 11L, 3L, 0.0, true)), p(1L).toString)
    // prompt 2: ties -> (min id 20, max id 22), delta 2-3 = -1, kept
    assert(p(2L) == ((20L, 22L, -1L, 0.0, true)), p(2L).toString)
    // prompt 3: identical texts -> jaccard 1, dropped
    assert(p(3L) == ((30L, 31L, 0L, 1.0, false)), p(3L).toString)
    // prompt 4: chosen == rejected == the only row -> dropped
    assert(p(4L) == ((40L, 40L, 0L, 1.0, false)), p(4L).toString)
    // prompt 5: empty responses are identical by convention
    assert(p(5L) == ((50L, 51L, 0L, 1.0, false)), p(5L).toString)
    // an UNSCORED response is invisible: it can be neither leg and
    // does not count toward n_resp (a null in the selection key would
    // make the argmax engine-dependent)
    val withNull = Seq(
      (6L, 60L, "scored a b", java.lang.Long.valueOf(4L)),
      (6L, 61L, "best text ever", null.asInstanceOf[java.lang.Long]),
      (6L, 62L, "scored c", java.lang.Long.valueOf(1L))
    ).toDF("prompt_id", "resp_id", "text", "score")
    val q = Preference.preferencePairs(withNull, "prompt_id", "resp_id",
        "text", "score")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(q == ((2L, 60L, 62L)), s"null-scored row leaked in: $q")
  }

  test("preferencePairs: jaccard arithmetic exact, threshold strict") {
    // |A|=4, |B|=3, |A∩B|=2 -> union 5, jaccard 0.4
    val df = Seq(
      (1L, 1L, "a b c d", 2L),
      (1L, 2L, "c d e", 1L)
    ).toDF("prompt_id", "resp_id", "text", "score")
    val p = pairsOf(df)
    assert(p(1L) == ((1L, 2L, 1L, 0.4, true)), p(1L).toString)
    // at maxJaccard = 0.4 the SAME pair is dropped (strict <)
    val strict = pairsOf(df, maxJac = 0.4)
    assert(!strict(1L)._5, "jaccard == maxJaccard must drop")
    // duplicate tokens collapse to the SET (jaccard is set-based)
    val dup = Seq(
      (1L, 1L, "a a a b", 2L),
      (1L, 2L, "a b b b", 1L)
    ).toDF("prompt_id", "resp_id", "text", "score")
    assert(pairsOf(dup)(1L)._4 == 1.0, "token multiset must not leak in")
  }

  test("preferencePairs: carry takes the CHOSEN row's columns; ids validated") {
    val df = Seq(
      (1L, 1L, "winner text", 9L, "modelA"),
      (1L, 2L, "loser text", 1L, "modelB")
    ).toDF("prompt_id", "resp_id", "text", "score", "src")
    val out = Preference.preferencePairs(df, "prompt_id", "resp_id",
        "text", "score", carry = Seq("src")).collect()
    assert(out.length == 1 && out.head.getAs[String]("src") == "modelA")
    val bad = Seq(("p", "x", "t", 1L)).toDF("prompt_id", "resp_id", "text",
      "score")
    val ex = intercept[IllegalArgumentException] {
      Preference.preferencePairs(bad, "prompt_id", "resp_id", "text", "score")
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("plan pin: preferencePairs is ONE aggregate, no join, on real testdata") {
    // the packed-key max_by/min_by design exists so the corpus
    // shuffles exactly once — a join-based chosen×rejected plan
    // would shuffle it three times
    val r = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("doc_id div 4").as("prompt_id"),
        col("doc_id").as("resp_id"), col("text"),
        (col("doc_id") % 7).as("score"))
    val plan = Preference.preferencePairs(r, "prompt_id", "resp_id",
      "text", "score").queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
      plan.take(800))
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"expected exactly one shuffle:\n${plan.take(800)}")
  }

  test("cross-pair leak guard: near-dup legs across prompts split together") {
    import graft.operators.{Dedup, Sampling}
    // prompts 1 and 3 share a near-identical CHOSEN response — a
    // train/val split by prompt alone could put the duplicate on both
    // sides; composing with the existing leak-free split (q9R) over
    // leg-text near-dup edges forces linked prompts onto ONE side
    val resp = Seq(
      (1L, 10L, "the quick brown fox jumps over the lazy dog today", 5L),
      (1L, 11L, "completely different animal story entirely", 1L),
      (2L, 20L, "unrelated cooking recipe with many steps involved", 4L),
      (2L, 21L, "a short note", 1L),
      (3L, 30L, "the quick brown fox jumps over the lazy dog tonight", 7L),
      (3L, 31L, "yet another unrelated reply text", 2L)
    ).toDF("prompt_id", "resp_id", "text", "score")
    val pairs = Preference.preferencePairs(resp, "prompt_id", "resp_id",
      "text", "score")
    // legs carried back to their prompt: near-dup edges between leg
    // texts become edges between PROMPTS
    val legs = pairs.select(col("prompt_id").as("pid"),
        col("chosen_id").as("resp_id"))
      .union(pairs.select(col("prompt_id").as("pid"),
        col("rejected_id").as("resp_id")))
      .join(resp, Seq("resp_id"))
      .select((col("pid") * 1000 + col("resp_id")).as("leg_id"), col("text"))
    val dup = Dedup.prefixFilterJaccardPairs(legs, "leg_id", "text",
      shingleWords = 3, minJaccard = 0.5)
    val promptEdges = dup.select((col("id_a") / 1000).cast("long").as("a"),
      (col("id_b") / 1000).cast("long").as("b"))
    val split = Sampling.leakFreeSplit(
        resp.select("prompt_id").distinct(), "prompt_id",
        promptEdges, "a", "b", valBound = "8")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split.size == 3)
    assert(split(1L) == split(3L),
      s"near-dup chosen legs straddle the split: $split")
  }

  test("bestOfN: ranking, tie-breaks, rank-1 guard, carry by hand") {
    val df = Seq(
      // prompt 1: four responses, top-3 by score desc / id asc; 12
      // near-duplicates the best -> flagged, 13 distinct -> kept
      (1L, 10L, "alpha beta gamma delta", 9L),
      (1L, 12L, "alpha beta gamma delta echo", 7L),
      (1L, 13L, "totally different words", 5L),
      (1L, 14L, "left out entirely", 1L),
      // prompt 2: ALL scores tie -> rank order is ascending id
      (2L, 22L, "cc", 4L), (2L, 20L, "aa bb", 4L), (2L, 21L, "dd", 4L),
      // prompt 3: single response -> rank 1 alone, keep, null jaccard
      (3L, 30L, "lonely", 2L),
      // prompt 4: rank-2 EMPTY vs non-empty best -> disjoint (jac 0),
      // kept: emptiness is a quality problem, not a near-dup
      (4L, 40L, "has words", 8L), (4L, 41L, "   ", 3L),
      // prompt 5: BOTH token-less -> identical by the ∅-∅ = 1
      // convention, rank 2 flagged
      (5L, 50L, "", 8L), (5L, 51L, "   ", 1L)
    ).toDF("prompt_id", "resp_id", "text", "score")
      .withColumn("src", concat(lit("s"), col("resp_id")))
    val out = Preference.bestOfN(df, "prompt_id", "resp_id", "text",
        "score", n = 3, carry = Seq("src"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), if (r.isNullAt(6)) -1.0 else r.getDouble(6),
          r.getBoolean(7), r.getString(8)))).toMap
    // prompt 1: ranks 10(9), 12(7), 13(5); 14 drops past n=3
    assert(out((1L, 1)) == ((10L, -1.0, true, "s10")), out((1L, 1)))
    // rank 2 shares 4 of 5 union tokens with the best -> 0.8, kept
    // under 0.9 strictly
    assert(out((1L, 2)) == ((12L, 0.8, true, "s12")), out((1L, 2)))
    assert(out((1L, 3)) == ((13L, 0.0, true, "s13")), out((1L, 3)))
    assert(!out.contains((1L, 4)), "n=3 must cap the ranks")
    // prompt 2: equal scores -> ascending id
    assert(Seq(1, 2, 3).map(r => out((2L, r))._1) == Seq(20L, 21L, 22L))
    // prompt 3: singleton keeps with null jaccard_to_best
    assert(out((3L, 1)) == ((30L, -1.0, true, "s30")), out((3L, 1)))
    // prompt 4: one-sided empty is DISJOINT, not identical -> kept
    assert(out((4L, 2)) == ((41L, 0.0, true, "s41")), out((4L, 2)))
    // prompt 5: both token-less read identical -> flagged out
    assert(out((5L, 2)) == ((51L, 1.0, false, "s51")), out((5L, 2)))
    // threshold is STRICT at maxJaccard: a rank-2 at exactly 0.9
    // (9 shared of 10 union) is flagged
    val edge = Seq(
      (7L, 70L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10", 5L),
      (7L, 71L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 u1", 4L)
    ).toDF("prompt_id", "resp_id", "text", "score")
    val e = Preference.bestOfN(edge, "prompt_id", "resp_id", "text",
        "score", n = 2).collect()
      .map(r => r.getInt(1) -> ((if (r.isNullAt(6)) -1.0 else r.getDouble(6),
        r.getBoolean(7))))
      .toMap
    // |∩| = 9, |∪| = 11 -> 0.8182 kept; at maxJaccard = 0.8182 the
    // strict < flags it
    assert(e(2) == ((0.8182, true)), e(2).toString)
    val strict = Preference.bestOfN(edge, "prompt_id", "resp_id", "text",
        "score", n = 2, maxJaccard = 0.8182).collect()
      .map(r => r.getInt(1) -> r.getBoolean(7)).toMap
    assert(!strict(2), "threshold must be strict <")
    // null scores invisible: excluded from pool AND n_resp
    val withNull = Seq(
      (8L, 80L, "scored a", java.lang.Long.valueOf(4L)),
      (8L, 81L, "unscored best", null.asInstanceOf[java.lang.Long]),
      (8L, 82L, "scored b", java.lang.Long.valueOf(6L))
    ).toDF("prompt_id", "resp_id", "text", "score")
    val nn = Preference.bestOfN(withNull, "prompt_id", "resp_id", "text",
        "score", n = 3).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(4))).sorted.toSeq
    assert(nn == Seq((1, 82L, 2L), (2, 80L, 2L)),
      s"null-scored row leaked into the heap or n_resp: $nn")
    // non-integral id refused loudly
    val bad = intercept[IllegalArgumentException] {
      Preference.bestOfN(df.withColumn("resp_id",
        col("resp_id").cast("string")), "prompt_id", "resp_id", "text",
        "score", n = 2)
    }
    assert(bad.getMessage.contains("integral"), bad.getMessage)
  }

  test("groupAdvantage: standardization, zero-variance, singleton, nulls") {
    val df = Seq(
      // prompt 1: scores 1,3,5 -> mu 3, sigma = sqrt(8/3)
      (1L, 10L, java.lang.Long.valueOf(1L)),
      (1L, 11L, java.lang.Long.valueOf(3L)),
      (1L, 12L, java.lang.Long.valueOf(5L)),
      // prompt 2: all equal -> zero variance, advantage 0, undefined
      (2L, 20L, java.lang.Long.valueOf(4L)),
      (2L, 21L, java.lang.Long.valueOf(4L)),
      // prompt 3: singleton -> undefined
      (3L, 30L, java.lang.Long.valueOf(9L)),
      // prompt 4: a null score is excluded from pool AND moments
      (4L, 40L, java.lang.Long.valueOf(2L)),
      (4L, 41L, null.asInstanceOf[java.lang.Long]),
      (4L, 42L, java.lang.Long.valueOf(6L))
    ).toDF("prompt_id", "resp_id", "score")
    val out = Preference.groupAdvantage(df, "prompt_id", "resp_id", "score")
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    // sigma = sqrt(((1+9+25) - 81/3)/3) = sqrt(8/3); (1-3)/sigma ≈ -1.224745
    assert(out(10L) == ((3L, -1.224745, true)), out(10L).toString)
    assert(out(11L) == ((3L, 0.0, true)))
    assert(out(12L) == ((3L, 1.224745, true)))
    // the zero advantage of a MID-scoring response is +0.0 bits, and
    // so is the zero-variance convention value (the sign axis)
    assert(java.lang.Double.doubleToRawLongBits(out(11L)._2) == 0L)
    assert(out(20L) == ((2L, 0.0, false)) && out(21L) == ((2L, 0.0, false)))
    assert(out(30L) == ((1L, 0.0, false)))
    // prompt 4: moments over the two scored rows only (mu 4, sigma 2)
    assert(out(40L) == ((2L, -1.0, true)), out(40L).toString)
    assert(out(42L) == ((2L, 1.0, true)))
    assert(!out.contains(41L), "null-scored row must not emit")
    val bad = intercept[IllegalArgumentException] {
      Preference.groupAdvantage(df.withColumn("score",
        col("score").cast("double")), "prompt_id", "resp_id", "score")
    }
    assert(bad.getMessage.contains("integral"), bad.getMessage)
  }

  test("passAtK: the Chen et al. estimator, both guards, exact fold") {
    val df = Seq(
      // prompt 1: n=4, c=1 -> pass@3 = 1 - (3/4)(2/3)(1/2) = 0.75
      (1L, true), (1L, false), (1L, false), (1L, false),
      // prompt 2: n=4, c=2 -> n-c=2 < 3 -> exactly 1.0
      (2L, true), (2L, true), (2L, false), (2L, false),
      // prompt 3: n=2 < k -> estimator undefined -> null
      (3L, true), (3L, false),
      // prompt 4: c=0 -> product = 1, pass@k = 0
      (4L, false), (4L, false), (4L, false), (4L, false)
    ).toDF("prompt_id", "passed")
    val out = Preference.passAtK(df, "prompt_id", "passed", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4)))).toMap
    assert(out(1L) == ((4L, 1L, 0.25, 0.75)), out(1L).toString)
    assert(out(2L) == ((4L, 2L, 0.5, 1.0)), out(2L).toString)
    assert(out(3L) == ((2L, 1L, 0.5, -1.0)), out(3L).toString)
    assert(out(4L) == ((4L, 0L, 0.0, 0.0)), out(4L).toString)
    intercept[IllegalArgumentException] {
      Preference.passAtK(df, "prompt_id", "passed", k = 0)
    }
  }

  test("majorityVote: modal answer, lexicographic ties, null abstention") {
    val df = Seq(
      // prompt 1: b,b,a -> b wins on count
      (1L, Some("b")), (1L, Some("b")), (1L, Some("a")),
      // prompt 2: a,b tie -> lexicographically smallest wins
      (2L, Some("b")), (2L, Some("a")),
      // prompt 3: null answers abstain but count in n_resp
      (3L, Some("x")), (3L, None), (3L, None),
      // prompt 4: every answer null -> null vote, 0 votes
      (4L, None)
    ).toDF("prompt_id", "answer")
    val out = Preference.majorityVote(df, "prompt_id", "answer")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), r.getLong(2), r.getLong(3),
          r.getDouble(4)))).toMap
    assert(out(1L) == ((Some("b"), 2L, 3L, 0.666667)), out(1L).toString)
    assert(out(2L) == ((Some("a"), 1L, 2L, 0.5)), out(2L).toString)
    assert(out(3L) == ((Some("x"), 1L, 3L, 0.333333)), out(3L).toString)
    assert(out(4L) == ((None, 0L, 1L, 0.0)), out(4L).toString)
  }

  test("scoreCorrelation: hand Pearson, degenerate groups, type refusal") {
    val df = Seq(
      // group a: y = 2x exactly -> r = 1
      ("a", 1L, 2L), ("a", 2L, 4L), ("a", 3L, 6L),
      // group b: y = -x + 10 -> r = -1
      ("b", 1L, 9L), ("b", 2L, 8L), ("b", 4L, 6L),
      // group c: constant score -> vx = 0 -> undefined
      ("c", 5L, 1L), ("c", 5L, 9L),
      // group d: singleton -> undefined
      ("d", 3L, 3L)
    ).toDF("src", "score", "len")
    val out = Preference.scoreCorrelation(df, "src", "score", "len")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out("a") == ((3L, 1.0, true)), out("a").toString)
    assert(out("b") == ((3L, -1.0, true)), out("b").toString)
    assert(out("c") == ((2L, 0.0, false)), out("c").toString)
    assert(out("d") == ((1L, 0.0, false)), out("d").toString)
    // the undefined groups' 0.0 carries no sign bit
    assert(java.lang.Double.doubleToRawLongBits(out("c")._2) == 0L)
    val bad = intercept[IllegalArgumentException] {
      Preference.scoreCorrelation(df.withColumn("len",
        col("len").cast("double")), "src", "score", "len")
    }
    assert(bad.getMessage.contains("integral"), bad.getMessage)
  }

  test("winRateMatrix: strict wins, tie split, pair orientation, fan-out") {
    val df = Seq(
      // prompt 1: m1=5 beats m2=3; m1=5 vs m3=5 tie; m2=3 loses to m3=5
      (1L, "m1", 5L), (1L, "m2", 3L), (1L, "m3", 5L),
      // prompt 2: m1=1 loses to m2=4 — and m2 fields TWO responses
      // (fan-out: both meet m1's single response)
      (2L, "m1", 1L), (2L, "m2", 4L), (2L, "m2", 0L)
    ).toDF("prompt_id", "model", "score")
    val out = Preference.winRateMatrix(df, "prompt_id", "model", "score")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // m1 vs m2: prompt1 win (5>3), prompt2 loss (1<4) + win (1>0)
    // -> 3 comparisons, 2 wins, 0 ties, rate 2/3
    assert(out(("m1", "m2")) == ((3L, 2L, 0L, 0.666667)),
      out(("m1", "m2")).toString)
    // m1 vs m3: single tie -> rate 0.5
    assert(out(("m1", "m3")) == ((1L, 0L, 1L, 0.5)))
    // m2 vs m3: 3 < 5 -> one loss
    assert(out(("m2", "m3")) == ((1L, 0L, 0L, 0.0)))
    // pairs are oriented player_a < player_b only — no mirror rows
    assert(out.keySet == Set(("m1", "m2"), ("m1", "m3"), ("m2", "m3")))
    // a pathological fan-out is refused loudly, naming the prompt —
    // C(n,2) pairs in one join task is a melt, not a sampling set.
    // The guard is plan-side (the calibrationBins raise_error
    // pattern): building the frame is free of Spark jobs, the refusal
    // fires at action time
    val fat = (0 until 40).map(i => (9L, s"m$i", i.toLong))
      .toDF("prompt_id", "model", "score")
    val guarded = Preference.winRateMatrix(fat, "prompt_id", "model",
      "score", maxFanOut = 10) // construction must NOT execute or throw
    val err = intercept[Exception] { guarded.collect() }
    assert(err.getMessage.contains("9") &&
      err.getMessage.contains("maxFanOut"), err.getMessage)
    // fractional scores refused — the long cast would silently
    // truncate distinct scores into ties (the r15 ADVICE item)
    val frac = intercept[IllegalArgumentException] {
      Preference.winRateMatrix(
        df.withColumn("score", col("score").cast("double")),
        "prompt_id", "model", "score")
    }
    assert(frac.getMessage.contains("integral"), frac.getMessage)
  }

  test("bestOfNCurve: hand curve, monotonicity, signed scores, guards") {
    // scores (1,2,3): E[best@1] = 2 (the mean), E[best@2] =
    // (2+3+3)/3 = 8/3, E[best@3] = 3
    val df = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("prompt_id", "score")
    val out = graft.operators.Preference.bestOfNCurve(df, "prompt_id",
        "score")
      .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
    assert(out == Map(1 -> 2.0, 2 -> 2.666667, 3 -> 3.0), out.toString)
    // all-negative scores ride the signed contract (gateRound); a
    // constant set is flat at the constant
    val neg = Seq((1L, -5L), (1L, -2L), (2L, 0L), (2L, 0L))
      .toDF("prompt_id", "score")
    val nout = graft.operators.Preference.bestOfNCurve(neg, "prompt_id",
        "score")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3))
      .toMap
    assert(nout((1L, 1)) == -3.5 && nout((1L, 2)) == -2.0, nout.toString)
    assert(nout((2L, 1)) == 0.0 && nout((2L, 2)) == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(nout((2L, 1))) == 0L)
    // monotone nondecreasing in j on a bigger set, and j caps at maxJ
    val big = (1 to 12).map(i => (9L, (i * 7 % 5).toLong))
      .toDF("prompt_id", "score")
    val curve = graft.operators.Preference.bestOfNCurve(big, "prompt_id",
        "score", maxJ = 6)
      .orderBy(col("j")).collect().map(_.getDouble(3))
    assert(curve.length == 6)
    curve.sliding(2).foreach { case Array(a, b) =>
      assert(a <= b, s"curve not monotone: ${curve.toSeq}")
    }
    // guards: fractional scores and pathological fan-out refused
    val frac = intercept[IllegalArgumentException] {
      graft.operators.Preference.bestOfNCurve(
        df.withColumn("score", col("score").cast("double")),
        "prompt_id", "score")
    }
    assert(frac.getMessage.contains("integral"), frac.getMessage)
    val melt = intercept[Exception] {
      graft.operators.Preference.bestOfNCurve(big, "prompt_id", "score",
        maxFanOut = 5).collect()
    }
    assert(melt.getMessage.contains("maxFanOut"), melt.getMessage)
  }

  test("bestOfNCurve equals brute-force subset enumeration (n <= 6)") {
    // ground truth: enumerate ALL C(n, j) subsets and average their
    // maxima — the estimator must match to the 6-decimal round on
    // every (multiset, j), including ties and negatives
    val cases = Seq(
      Seq(1L, 2L, 3L, 4L), Seq(5L, 5L, 5L), Seq(-3L, 0L, 2L, 2L, 7L),
      Seq(0L, 1L), Seq(4L, 1L, 3L, 3L, 2L, 6L), Seq(-1L, -9L))
    cases.zipWithIndex.foreach { case (scores, p) =>
      val df = scores.map(s => (p.toLong, s)).toDF("prompt_id", "score")
      val got = graft.operators.Preference.bestOfNCurve(df, "prompt_id",
          "score", maxJ = scores.size)
        .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
      (1 to scores.size).foreach { j =>
        val exact = scores.indices.combinations(j)
          .map(c => c.map(scores).max.toDouble).toSeq
        val want = BigDecimal(exact.sum / exact.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(got(j) - want) < 2e-6,
          s"case $p scores=$scores j=$j: got ${got(j)}, brute $want")
      }
    }
  }

  test("winRateConfidence: Wilson bounds by hand, zero-rate lower edge") {
    // the winRateMatrix fixture; Wilson at z=1.96 over the half-unit
    // exact integers. m2-m3 is a 0-for-1 rate — the lower bound is
    // analytic 0 and must publish +0.0 (the gateRound sign contract)
    val df = Seq(
      (1L, "m1", 5L), (1L, "m2", 3L), (1L, "m3", 5L),
      (2L, "m1", 1L), (2L, "m2", 4L), (2L, "m2", 0L)
    ).toDF("prompt_id", "model", "score")
    val out = graft.operators.Preference.winRateConfidence(
        df, "prompt_id", "model", "score")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    assert(out(("m1", "m2")) == ((0.666667, 0.207655, 0.93851)),
      out(("m1", "m2")).toString)
    assert(out(("m1", "m3")) == ((0.5, 0.054619, 0.945381)))
    val (rate, lo, hi) = out(("m2", "m3"))
    assert(rate == 0.0 && lo == 0.0 && hi == 0.793457, (rate, lo, hi))
    assert(
      java.lang.Double.doubleToRawLongBits(lo) == 0L,
      "ci_lo at an analytic zero must be +0.0 bits")
    // every interval brackets its rate
    out.values.foreach { case (r, l, h) =>
      assert(l <= r && r <= h, (r, l, h).toString)
    }
  }

  test("bradleyTerry: rating order on a hand tournament, ties, bounds") {
    // two prompts, each scoring A > B > C: every pair has 2
    // comparisons, A sweeps both rivals, B sweeps C — the MM fit
    // must order ratings A > B > C with mean ~1.0 (the
    // normalization) and C floored above 0
    val df = Seq(
      (1L, "A", 3L), (1L, "B", 1L), (1L, "C", 0L),
      (2L, "A", 3L), (2L, "B", 1L), (2L, "C", 0L)
    ).toDF("prompt_id", "player", "score")
    val out = graft.operators.Preference.bradleyTerry(
        df, "prompt_id", "player", "score")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // n_comparisons 4 each; half-win units: A 8 (4 wins), B 4, C 0
    assert(out("A")._1 == 4L && out("B")._1 == 4L && out("C")._1 == 4L)
    assert(out("A")._2 == 8L && out("B")._2 == 4L && out("C")._2 == 0L)
    assert(out("A")._3 > out("B")._3 && out("B")._3 > out("C")._3,
      out.toString)
    assert(out("C")._3 >= 1L, "a sweep victim floors at 1e-6, never 0")
    val total = out.values.map(_._3).sum
    assert(total > 3000000L - 10L && total <= 3000000L,
      s"normalization drifted: $total")
    // a pure-tie pair converges to identical ratings (exact integer
    // symmetry — same W2, same edges)
    val ties = Seq((1L, "D", 5L), (1L, "E", 5L), (2L, "D", 2L),
      (2L, "E", 2L)).toDF("prompt_id", "player", "score")
    val t = graft.operators.Preference.bradleyTerry(
        ties, "prompt_id", "player", "score")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(t("D") == t("E"), t.toString)
    // the model-sized premise is enforced loudly
    val err = intercept[IllegalArgumentException] {
      graft.operators.Preference.bradleyTerry(df, "prompt_id", "player",
        "score", maxPlayers = 2)
    }
    assert(err.getMessage.contains("maxPlayers"), err.getMessage)
  }

  test("responseDiversity: distinct-n by hand, empty prompts, validation") {
    val df = Seq(
      // prompt 1: two responses sharing the bigram "a b" ->
      // grams: [a b, b c], [a b] => total 3, distinct 2
      (1L, "a b c"), (1L, "a b"),
      // prompt 2: all responses identical -> collapse reads low:
      // 3x [x y] => total 3, distinct 1
      (2L, "x y"), (2L, "x y"), (2L, "x y"),
      // prompt 3: single-token and empty texts carry no bigrams
      (3L, "solo"), (3L, ""), (3L, null)
    ).toDF("prompt_id", "text")
    val out = graft.operators.Preference.responseDiversity(
        df, "prompt_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((2L, 3L, 2L, 0.666667)), out(1L).toString)
    assert(out(2L) == ((3L, 3L, 1L, 0.333333)), out(2L).toString)
    assert(out(3L) == ((3L, 0L, 0L, 0.0)), out(3L).toString)
    // distinct-1 counts unigrams
    val uni = graft.operators.Preference.responseDiversity(
        df, "prompt_id", "text", n = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(uni(1L) == ((5L, 3L)), uni(1L).toString) // a,b,c,a,b
    assert(uni(3L) == ((1L, 1L)))
    intercept[IllegalArgumentException] {
      graft.operators.Preference.responseDiversity(df, "prompt_id",
        "text", n = 0)
    }
  }

  test("judgeAgreement: hand kappa, chance floor, constant judges, typing") {
    val df = Seq(
      // group a: perfect agreement with BOTH labels used -> kappa 1
      ("a", true, true), ("a", false, false),
      ("a", true, true), ("a", false, false),
      // group b: perfect DISagreement, balanced marginals -> kappa -1
      ("b", true, false), ("b", false, true),
      ("b", true, false), ("b", false, true),
      // group c: judge B constant -> pe = po, kappa 0 (defined: pe<1)
      ("c", true, true), ("c", false, true),
      // group d: both judges constant -> pe = 1, undefined
      ("d", true, true), ("d", true, true),
      // group e placeholder (the magnitude case runs separately below)
      ("e", true, true), ("e", false, false)
    ).toDF("src", "ja", "jb")
    val out = graft.operators.Preference.judgeAgreement(
        df.filter(col("src") =!= "e"), "src", "ja", "jb")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(out("a") == ((4L, 4L, 1.0, true)), out("a").toString)
    assert(out("b") == ((4L, 0L, -1.0, true)), out("b").toString)
    // c: po = 0.5; a1=1, b1=2, n=2 -> pe = (2 + 0)/4 = 0.5 -> kappa 0
    assert(out("c") == ((2L, 1L, 0.0, true)), out("c").toString)
    assert(out("d") == ((2L, 2L, 0.0, false)), out("d").toString)
    // the zero kappas carry no sign bit (the gateRound pin)
    assert(java.lang.Double.doubleToRawLongBits(out("c")._3) == 0L)
    assert(java.lang.Double.doubleToRawLongBits(out("d")._3) == 0L)
    // a hand magnitude case via replicated rows: 50 TT, 15 TF,
    // 25 FT, 10 FF -> po = 0.6, a1 = 65, b1 = 75,
    // pe = (65*75 + 35*25)/10000 = 0.575,
    // kappa = 0.025/0.425 = 0.058824 (rounded 6)
    val text = ((1 to 50).map(_ => ("t", true, true)) ++
      (1 to 15).map(_ => ("t", true, false)) ++
      (1 to 25).map(_ => ("t", false, true)) ++
      (1 to 10).map(_ => ("t", false, false))).toDF("src", "ja", "jb")
    val k = graft.operators.Preference.judgeAgreement(text, "src",
      "ja", "jb").head()
    assert(k.getDouble(3) == 0.058824, k.getDouble(3).toString)
    val bad = intercept[IllegalArgumentException] {
      graft.operators.Preference.judgeAgreement(
        df.withColumn("ja", col("ja").cast("int")), "src", "ja", "jb")
    }
    assert(bad.getMessage.contains("boolean"), bad.getMessage)
  }

  test("embeddingDiversity: planted collapse, hand cosines, guards") {
    // prompt 1 COLLAPSED (identical embeddings -> every pairwise
    // cosine 1.0); prompt 2 diverse: (1,0),(0,1),(1,0) -> cosines
    // 0, 1, 0 -> mean 1/3; prompt 3 adversarial: (1,0) vs (-1,0) ->
    // mean -1.0 (the signed path); prompt 4 single response -> no
    // pairs, 0.0 visible; a zero vector is excluded from the pool
    val df = Seq(
      (1L, 10L, Seq(0.6f, 0.8f)), (1L, 11L, Seq(0.6f, 0.8f)),
      (1L, 12L, Seq(0.6f, 0.8f)),
      (2L, 20L, Seq(1f, 0f)), (2L, 21L, Seq(0f, 1f)),
      (2L, 22L, Seq(1f, 0f)),
      (3L, 30L, Seq(1f, 0f)), (3L, 31L, Seq(-1f, 0f)),
      (4L, 40L, Seq(1f, 1f)),
      (5L, 50L, Seq(0f, 0f)), (5L, 51L, Seq(1f, 0f))
    ).toDF("prompt_id", "resp_id", "emb")
    val out = graft.operators.Preference.embeddingDiversity(
        df, "prompt_id", "resp_id", "emb")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)), out(1L).toString)
    assert(out(2L) == ((3L, 3L, 0.333333)), out(2L).toString)
    assert(out(3L) == ((2L, 1L, -1.0)), out(3L).toString)
    assert(out(4L) == ((1L, 0L, 0.0)), out(4L).toString)
    // the zero vector dropped from n_resp AND pairs — one survivor
    assert(out(5L) == ((1L, 0L, 0.0)), out(5L).toString)
    // a wild coordinate is refused loudly (fixed-point contract)
    val err = intercept[Exception] {
      graft.operators.Preference.embeddingDiversity(
        Seq((1L, 1L, Seq(11f, 0f)), (1L, 2L, Seq(1f, 0f)))
          .toDF("prompt_id", "resp_id", "emb"),
        "prompt_id", "resp_id", "emb").collect()
    }
    assert(err.getMessage.contains("fixed-point"), err.getMessage)
    // pathological fan-out refused in the plan, naming the prompt
    val fat = (0 until 30).map(i => (7L, i.toLong, Seq(1f, 0f)))
      .toDF("prompt_id", "resp_id", "emb")
    val melt = intercept[Exception] {
      graft.operators.Preference.embeddingDiversity(fat, "prompt_id",
        "resp_id", "emb", maxFanOut = 10).collect()
    }
    assert(melt.getMessage.contains("maxFanOut"), melt.getMessage)
  }

  test("fleissKappa: hand contingency, constant-m refusal, degenerates") {
    // g: item 1 rated (a,a,a), item 2 rated (a,a,b) by 3 judges.
    // P_1 = (9-3)/6 = 1, P_2 = (5-3)/6 = 1/3 -> Pbar = (14-6)/12 = 2/3.
    // Marginals a=5, b=1 -> Pe = 26/36. kappa = (24/36 - 26/36)/(10/36)
    // = -0.2 exactly (a SIGNED hand case — below-chance agreement).
    val df = Seq(
      ("g", 1L, "a"), ("g", 1L, "a"), ("g", 1L, "a"),
      ("g", 2L, "a"), ("g", 2L, "a"), ("g", 2L, "b")
    ).toDF("src", "item", "cat")
    val out = graft.operators.Preference.fleissKappa(df, "src", "item",
      "cat").head()
    assert(out.getLong(1) == 2L && out.getLong(2) == 3L)
    assert(out.getDouble(3) == -0.2 && out.getBoolean(4), out.toString)
    // inconsistent m within a group is refused loudly, naming it
    val ragged = df.unionByName(Seq(("g", 3L, "a")).toDF("src", "item",
      "cat"))
    val err = intercept[Exception] {
      graft.operators.Preference.fleissKappa(ragged, "src", "item", "cat")
        .collect()
    }
    assert(err.getMessage.contains("constant"), err.getMessage)
    // m = 1 (single judge): no pairs to agree -> kappa 0, not defined
    val solo = Seq(("g", 1L, "a"), ("g", 2L, "b")).toDF("src", "item",
      "cat")
    val s1 = graft.operators.Preference.fleissKappa(solo, "src", "item",
      "cat").head()
    assert(s1.getDouble(3) == 0.0 && !s1.getBoolean(4))
    // a constant panel (every rating one category): Pe = 1 -> undefined
    val const = Seq(("g", 1L, "a"), ("g", 1L, "a"), ("g", 2L, "a"),
      ("g", 2L, "a")).toDF("src", "item", "cat")
    val c1 = graft.operators.Preference.fleissKappa(const, "src", "item",
      "cat").head()
    assert(c1.getDouble(3) == 0.0 && !c1.getBoolean(4))
    // null ratings are excluded before the constant-m check
    val withNull = df.unionByName(
      Seq(("g", Some(1L), Option.empty[String])).toDF("src", "item", "cat"))
    val n1 = graft.operators.Preference.fleissKappa(withNull, "src",
      "item", "cat").head()
    assert(n1.getDouble(3) == -0.2, n1.toString)
  }

  test("positionBias: swap classification, incompletes visible, domain") {
    // (pair, order, winnerPos): p1 consistent (A wins both orders),
    // p2 first-biased, p3 second-biased, p4 consistent (B both),
    // p5 missing the swap, p6 double-judged in order 0
    val df = Seq(
      ("g", 1L, 0L, 1L), ("g", 1L, 1L, 2L),
      ("g", 2L, 0L, 1L), ("g", 2L, 1L, 1L),
      ("g", 3L, 0L, 2L), ("g", 3L, 1L, 2L),
      ("g", 4L, 0L, 2L), ("g", 4L, 1L, 1L),
      ("g", 5L, 0L, 1L),
      ("g", 6L, 0L, 1L), ("g", 6L, 0L, 2L), ("g", 6L, 1L, 1L)
    ).toDF("src", "pair", "ord", "win")
    val r = graft.operators.Preference.positionBias(df, "src", "pair",
      "ord", "win").head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((4L, 2L, 2L, 1L, 1L)), r.toString)
    assert((r.getDouble(6), r.getDouble(7), r.getDouble(8)) ==
      ((0.5, 0.25, 0.25)), r.toString)
    // out-of-domain winner position / order refused loudly
    val badW = intercept[Exception] {
      graft.operators.Preference.positionBias(
        Seq(("g", 1L, 0L, 3L)).toDF("src", "pair", "ord", "win"),
        "src", "pair", "ord", "win").collect()
    }
    assert(badW.getMessage.contains("winner position"), badW.getMessage)
    val badO = intercept[Exception] {
      graft.operators.Preference.positionBias(
        Seq(("g", 1L, 2L, 1L)).toDF("src", "pair", "ord", "win"),
        "src", "pair", "ord", "win").collect()
    }
    assert(badO.getMessage.contains("order must be"), badO.getMessage)
  }

  test("krippendorffAlpha: hand alpha, ragged m, singleton exclusion") {
    // items (a,a),(b,b),(a,b): D_o = (0+0+2)/6 = 1/3, marginals
    // a=3,b=3 -> D_e = (36-18)/30 = 0.6, alpha = 1 - (1/3)/0.6
    // = 0.444444
    val flat = Seq(
      ("g", 1L, "a"), ("g", 1L, "a"), ("g", 2L, "b"), ("g", 2L, "b"),
      ("g", 3L, "a"), ("g", 3L, "b")
    ).toDF("src", "item", "cat")
    val f = graft.operators.Preference.krippendorffAlpha(flat, "src",
      "item", "cat").head()
    assert(f.getLong(1) == 3L && f.getLong(2) == 6L)
    assert(f.getDouble(3) == 0.444444 && f.getBoolean(4), f.toString)
    // RAGGED m (what fleissKappa refuses): item 4 has THREE ratings
    // (a,a,a) -> M=9, D_o = 2/9, D_e = (81-45)/72 = 0.5 -> alpha 5/9
    val ragged = flat.unionByName(Seq(("g", 4L, "a"), ("g", 4L, "a"),
      ("g", 4L, "a")).toDF("src", "item", "cat"))
    val r = graft.operators.Preference.krippendorffAlpha(ragged, "src",
      "item", "cat").head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 9L)
    assert(r.getDouble(3) == 0.555556 && r.getBoolean(4), r.toString)
    // a singleton item has no pairable values: excluded from items,
    // values AND marginals — result unchanged
    val single = ragged.unionByName(Seq(("g", 5L, "b")).toDF("src",
      "item", "cat"))
    val s1 = graft.operators.Preference.krippendorffAlpha(single, "src",
      "item", "cat").head()
    assert(s1.getLong(1) == 4L && s1.getLong(2) == 9L &&
      s1.getDouble(3) == 0.555556, s1.toString)
    // a constant panel: D_e = 0 -> alpha 0, not defined
    val const = Seq(("g", 1L, "a"), ("g", 1L, "a"), ("g", 2L, "a"),
      ("g", 2L, "a")).toDF("src", "item", "cat")
    val c1 = graft.operators.Preference.krippendorffAlpha(const, "src",
      "item", "cat").head()
    assert(c1.getDouble(3) == 0.0 && !c1.getBoolean(4))
  }

  test("calibrationBins: bin math, 100-clamp, range refusal, null exclusion") {
    val df = Seq(
      // bin 0: pct 5 correct, pct 9 wrong -> acc .5, conf .07, gap .43
      (5L, true), (9L, false),
      // pct 100 clamps into the LAST bin (floor(100*10/100) = 10 -> 9)
      (100L, true),
      // bin 9 also holds pct 95 -> acc 1.0, conf (195/200) = .975
      (95L, true),
      // a null outcome is excluded entirely
      (50L, true)
    ).toDF("pct", "correct")
      .unionByName(Seq((Some(42L), Option.empty[Boolean]))
        .toDF("pct", "correct"))
    val out = graft.operators.Preference.calibrationBins(
        df, "pct", "correct")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out(0) == ((2L, 0.5, 0.07, 0.43)), out(0).toString)
    assert(out(9) == ((2L, 1.0, 0.975, 0.025)), out(9).toString)
    assert(out(5) == ((1L, 1.0, 0.5, 0.5)), out(5).toString)
    assert(out.keySet == Set(0, 5, 9), "empty bins must be absent")
    // out-of-range percent refused loudly (not clamped, not dropped)
    val err = intercept[Exception] {
      graft.operators.Preference.calibrationBins(
        Seq((101L, true)).toDF("pct", "correct"), "pct", "correct")
        .collect()
    }
    assert(err.getMessage.contains("percent out of"), err.getMessage)
    // float probabilities refused — quantize upstream
    val bad = intercept[IllegalArgumentException] {
      graft.operators.Preference.calibrationBins(
        df.withColumn("pct", col("pct").cast("double")), "pct", "correct")
    }
    assert(bad.getMessage.contains("integral"), bad.getMessage)
  }

  test("expectedCalibrationError: telescoped exact sum, densified spine") {
    // the calibrationBins fixture: bin0 (5,T),(9,F) -> abs_dev
    // |100·1-14| = 86; bin5 (50,T) -> |100-50| = 50; bin9
    // (100,T),(95,T) -> |200-195| = 5. ECE = (86+50+5)/(5·100)
    // = 141/500 = 0.282 — hand-checkable as the weighted form too:
    // (2/5)·0.43 + (1/5)·0.5 + (2/5)·0.025 = 0.282
    val df = Seq((5L, true), (9L, false), (100L, true), (95L, true),
      (50L, true)).toDF("pct", "correct")
    val out = graft.operators.Preference.expectedCalibrationError(
        df, "pct", "correct")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(out.keySet == (0 until 10).toSet, "spine must densify")
    assert(out(0).getLong(1) == 2L && out(0).getLong(5) == 86L)
    assert(out(5).getLong(5) == 50L && out(9).getLong(5) == 5L)
    // diagram columns match calibrationBins on the shared bins
    assert(out(0).getDouble(2) == 0.5 && out(0).getDouble(3) == 0.07 &&
      out(0).getDouble(4) == 0.43)
    // empty bins: n 0, null diagram columns, zero deviation
    assert(out(3).getLong(1) == 0L && out(3).isNullAt(2) &&
      out(3).isNullAt(3) && out(3).isNullAt(4) && out(3).getLong(5) == 0L)
    // the scalar rides every row: n_total 5, ece 0.282
    (0 until 10).foreach { b =>
      assert(out(b).getLong(6) == 5L && out(b).getDouble(7) == 0.282,
        s"bin $b: ${out(b)}")
    }
    // empty input: all bins empty, ece 0.0 with n_total 0 (no 0/0)
    val empty = graft.operators.Preference.expectedCalibrationError(
        df.filter(col("pct") < 0L), "pct", "correct")
      .collect()
    assert(empty.length == 10 &&
      empty.forall(r => r.getLong(6) == 0L && r.getDouble(7) == 0.0))
  }

  test("maxCalibrationError: argmax bin, tie to lowest, empty contract") {
    // the calibrationBins fixture: gaps 0.43 (bin 0), 0.5 (bin 5),
    // 0.025 (bin 9) -> MCE 0.5 at bin 5
    val df = Seq((5L, true), (9L, false), (100L, true), (95L, true),
      (50L, true)).toDF("pct", "correct")
    val r = graft.operators.Preference.maxCalibrationError(df, "pct",
      "correct").head()
    assert((r.getDouble(0), r.getInt(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((0.5, 5, 1L, 3L, 5L)), r.toString)
    // a gap tie (both bins at exactly 1.0) resolves to the LOWEST bin
    val tie = Seq((0L, true), (100L, false)).toDF("pct", "correct")
    val t = graft.operators.Preference.maxCalibrationError(tie, "pct",
      "correct").head()
    assert(t.getDouble(0) == 1.0 && t.getInt(1) == 0, t.toString)
    // empty input: mce 0.0, bin -1, zero counts — never a null row
    val e = graft.operators.Preference.maxCalibrationError(
      df.filter(col("pct") < 0L), "pct", "correct").head()
    assert((e.getDouble(0), e.getInt(1), e.getLong(3), e.getLong(4)) ==
      ((0.0, -1, 0L, 0L)), e.toString)
  }

  test("lengthBias: exact sums, only kept pairs count") {
    val pairs = Seq(
      // (by, delta, keep): kept deltas 3, -1, 2 -> sum 4, avg 4/3,
      // 2 of 3 chosen-longer; the dropped +100 must not leak in
      ("web", 3L, true), ("web", -1L, true), ("web", 2L, true),
      ("web", 100L, false),
      ("books", -5L, true)
    ).toDF("source", "delta_tokens", "keep")
    val out = Preference.lengthBias(pairs, "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("web") == ((3L, 4L, 1.333333, 0.666667)), out("web").toString)
    assert(out("books") == ((1L, -5L, -5.0, 0.0)), out("books").toString)
  }

  private def tauOf(df: org.apache.spark.sql.DataFrame,
                    maxGroup: Int = 10000) =
    Preference.kendallTau(df, "grp", "id", "x", "y", maxGroup = maxGroup)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getDouble(8), r.getBoolean(9)))).toMap

  test("kendallTau: pair classification and tau-b by hand") {
    val df = Seq(
      // x = [1,2,3,3], y = [1,3,2,2]: C=3 (1-2,1-3,1-4), D=2 (2-3,2-4),
      // txy=1 (3-4); n0=6, n1=n2=1 -> tau = (3-2)/sqrt(5*5) = 0.2
      (1L, 1L, 1L, 1L), (1L, 2L, 2L, 3L), (1L, 3L, 3L, 2L),
      (1L, 4L, 3L, 2L),
      // constant x: every pair tied in x -> n1 = n0, undefined
      (2L, 1L, 7L, 1L), (2L, 2L, 7L, 2L), (2L, 3L, 7L, 3L),
      // singleton group: zero pairs, visible, undefined
      (3L, 1L, 4L, 4L),
      // perfect agreement / perfect reversal
      (4L, 1L, 1L, 10L), (4L, 2L, 2L, 20L), (4L, 3L, 3L, 30L),
      (5L, 1L, 1L, 30L), (5L, 2L, 2L, 20L), (5L, 3L, 3L, 10L)
    ).toDF("grp", "id", "x", "y")
    val t = tauOf(df)
    assert(t(1L) == ((4L, 6L, 3L, 2L, 0L, 0L, 1L, 0.2, true)),
      t(1L).toString)
    assert(t(2L) == ((3L, 3L, 0L, 0L, 3L, 0L, 0L, 0.0, false)),
      t(2L).toString)
    assert(t(3L) == ((1L, 0L, 0L, 0L, 0L, 0L, 0L, 0.0, false)),
      t(3L).toString)
    assert(t(4L)._8 == 1.0 && t(4L)._9, t(4L).toString)
    assert(t(5L)._8 == -1.0 && t(5L)._9, t(5L).toString)
  }

  test("kendallTau: null rows excluded, hot-group refusal, " +
      "integral contract") {
    val withNull = Seq(
      (1L, Option(1L), Option(1L), Option(1L)),
      (1L, Option(2L), Option(2L), Option.empty[Long]),
      (1L, Option(3L), Option(3L), Option(3L))
    ).toDF("grp", "id", "x", "y")
    // the null-y row vanishes: 2 items, 1 concordant pair
    val t = tauOf(withNull)
    assert(t(1L)._1 == 2L && t(1L)._2 == 1L && t(1L)._3 == 1L,
      t(1L).toString)
    val hot = Seq((1L, 1L, 1L, 1L), (1L, 2L, 2L, 2L), (1L, 3L, 3L, 3L))
      .toDF("grp", "id", "x", "y")
    val ex = intercept[Exception] { tauOf(hot, maxGroup = 2) }
    assert(ex.getMessage != null, "hot group must refuse loudly")
    val bad = Seq((1L, 1L, 1.5, 1L)).toDF("grp", "id", "x", "y")
    intercept[IllegalArgumentException] {
      Preference.kendallTau(bad, "grp", "id", "x", "y")
    }
  }

  private def rhoOf(df: org.apache.spark.sql.DataFrame,
                    maxGroup: Int = 6000) =
    Preference.spearmanRho(df, "grp", "x", "y", maxGroup = maxGroup)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))).toMap

  test("spearmanRho: doubled average ranks, ties, hand values") {
    val df = Seq(
      // x=[1,2,3], y=[3,1,2]: 2rx=(2,4,6), 2ry=(6,2,4) -> rho = -0.5
      (1L, 1L, 3L), (1L, 2L, 1L), (1L, 3L, 2L),
      // tie block in x: x=[1,1,2] -> 2rx=(3,3,6); y=[1,2,3] ->
      // 2ry=(2,4,6); rho = 18/sqrt(18*24) = 0.866025
      (2L, 1L, 1L), (2L, 1L, 2L), (2L, 2L, 3L),
      // constant y -> vy = 0, undefined
      (3L, 1L, 5L), (3L, 2L, 5L), (3L, 3L, 5L),
      // perfect monotone agreement
      (4L, 1L, 10L), (4L, 2L, 20L), (4L, 3L, 30L)
    ).toDF("grp", "x", "y")
    val r = rhoOf(df)
    assert(r(1L) == ((3L, -0.5, true)), r(1L).toString)
    assert(r(2L) == ((3L, 0.866025, true)), r(2L).toString)
    assert(r(3L) == ((3L, 0.0, false)), r(3L).toString)
    assert(r(4L) == ((3L, 1.0, true)), r(4L).toString)
  }

  test("spearmanRho: exactness-bound refusals") {
    val df = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L))
      .toDF("grp", "x", "y")
    // a group past maxGroup refuses mid-job (the 2^53 moment bound)
    val ex = intercept[Exception] { rhoOf(df, maxGroup = 2) }
    assert(ex.getMessage != null, "oversize group must refuse loudly")
    // maxGroup itself is capped where 4n^4 crosses 2^53
    intercept[IllegalArgumentException] {
      Preference.spearmanRho(df, "grp", "x", "y", maxGroup = 7000)
    }
    val bad = Seq((1L, 1.5, 1L)).toDF("grp", "x", "y")
    intercept[IllegalArgumentException] {
      Preference.spearmanRho(bad, "grp", "x", "y")
    }
  }

  private def mcOf(df: org.apache.spark.sql.DataFrame) =
    Preference.mcnemar(df, "src", "a", "b", "t")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getBoolean(7)))).toMap

  test("mcnemar: contingency cells and statistic by hand") {
    val df = Seq(
      // truth all true; a right on 1,2; b right on 1,3,4:
      // both_right=1, a_only=1, b_only=2, both_wrong=1 ->
      // (max(|1-2|-1,0))^2 / 3 = 0 exactly (not 1/3)
      ("w", true, true, true), ("w", true, false, true),
      ("w", false, true, true), ("w", false, true, true),
      ("w", false, false, true),
      // a_only=4, b_only=1 -> (|4-1|-1)^2/5 = 4/5 = 0.8
      ("x", true, false, true), ("x", true, false, true),
      ("x", true, false, true), ("x", true, false, true),
      ("x", false, true, true),
      // the two classifiers never disagree -> undefined
      ("y", true, true, true), ("y", false, false, true)
    ).toDF("src", "a", "b", "t")
    val m = mcOf(df)
    assert(m("w") == ((5L, 1L, 1L, 2L, 1L, 0.0, true)), m("w").toString)
    assert(m("x") == ((5L, 0L, 4L, 1L, 0L, 0.8, true)), m("x").toString)
    assert(m("y") == ((2L, 1L, 0L, 0L, 1L, 0.0, false)), m("y").toString)
  }

  test("mcnemar: boolean contract enforced, nulls excluded") {
    val bad = Seq(("w", 1L, true, true)).toDF("src", "a", "b", "t")
    intercept[IllegalArgumentException] {
      Preference.mcnemar(bad, "src", "a", "b", "t")
    }
    val withNull = Seq(
      ("w", Option(true), Option(false), Option(true)),
      ("w", Option(true), Option.empty[Boolean], Option(true))
    ).toDF("src", "a", "b", "t")
    val m = mcOf(withNull)
    assert(m("w")._1 == 1L, s"null-pred row leaked in: ${m("w")}")
  }

  test("pairedBootstrapCi / permutationTest: a null id draws as \"null\" (qDF/qDH)") {
    // the composable hash40 spelling these kernels replaced hashes a
    // null id as the string "null": a null-id row must count, and
    // exactly like a row whose id IS "null"
    def rows(lastId: Option[String]) =
      ((1 to 30).map(i => ("g", Option(s"id$i"), (i * 7 % 11).toLong, (i % 5).toLong)) :+
        (("g", lastId, 40L, 1L))).toDF("grp", "id", "a", "b")
    val withNull = rows(None)
    val named = rows(Some("null"))
    def ci(df: org.apache.spark.sql.DataFrame) =
      Preference.pairedBootstrapCi(df, "grp", "id", "a", "b", b = 50).collect().toSeq
    def perm(df: org.apache.spark.sql.DataFrame) =
      Preference.permutationTest(df, "grp", "id", "a", "b", p = 50).collect().toSeq
    assert(ci(withNull).head.getLong(1) == 31L, "the null-id row must be counted")
    assert(ci(withNull) == ci(named))
    assert(perm(withNull).head.getLong(1) == 31L, "the null-id row must be counted")
    assert(perm(withNull) == perm(named))
  }
}
