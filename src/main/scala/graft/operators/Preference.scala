package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Preference-pair (DPO/RLHF) data preparation — the pairwise twin of
 * the SFT block ([[TextAnalysis.chatTurns]]/`sftMaskStats`): reward-
 * model and DPO training want, per prompt, one (chosen, rejected)
 * response pair, guarded against degenerate pairs (near-identical
 * responses teach nothing and leak label noise) and audited for the
 * classic LENGTH BIAS (if chosen is systematically longer, the model
 * learns verbosity, not preference). The reference engine has no
 * preference operators (gigapi-querier's surface is SQL passthrough,
 * `querier/query.go:1`); this family exists for the training-data
 * pipeline bar.
 *
 * Selection contract (total, engine-independent): chosen = the
 * response with the HIGHEST score, ties to the LOWEST response id;
 * rejected = the LOWEST score, ties to the HIGHEST id — so a
 * two-response prompt with equal scores still yields a well-defined
 * (min-id, max-id) pair. Both legs resolve in ONE groupBy via
 * `max_by`/`min_by` over a (score, ∓id) struct key — the packed-key
 * argmax convention (qAS) — carrying (id, text) through the
 * aggregation so the corpus shuffles exactly once; every later step
 * is per-pair row arithmetic.
 *
 * Null scores are excluded from the pool (and from n_resp) — a null
 * inside the selection key would make the argmax engine-dependent. A
 * float NaN score, by Spark's ordering, sorts LARGEST and would be
 * chosen — filter NaN scores upstream if the score column can carry
 * them (the operator cannot: isnan is undefined on integral types).
 *
 * Near-dup guard: exact token-set Jaccard between chosen and
 * rejected, |∩| and |∪| = |A|+|B|−|∩| as exact integers and ONE
 * float division (the round-14 float-contract rule); two empty
 * responses are identical by convention (jaccard 1). keep = at least
 * 2 responses AND distinct legs AND jaccard < `maxJaccard`.
 *
 * @return (promptCol, chosen_id, rejected_id, n_resp, chosen_tokens,
 *         rejected_tokens, delta_tokens, jaccard rounded 4, keep)
 *         + `carry` columns taken from the CHOSEN row.
 */
object Preference {

  def preferencePairs(resp: DataFrame, promptCol: String, respIdCol: String,
                      textCol: String, scoreCol: String,
                      maxJaccard: Double = 0.9,
                      carry: Seq[String] = Nil): DataFrame = {
    require(maxJaccard > 0.0 && maxJaccard <= 1.0,
      s"maxJaccard must be in (0, 1], got $maxJaccard")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(respIdCol).dataType),
      s"preferencePairs: $respIdCol must be integral (got " +
        s"${resp.schema(respIdCol).dataType.simpleString}) — the ∓id " +
        "tie-break needs exact negation")
    val id = col(respIdCol).cast("long")
    val payload = struct((col(respIdCol).cast("long").as("id") +:
      col(textCol).as("text") +: carry.map(col)): _*)
    val pairs = resp
      // an UNSCORED response can be neither chosen nor rejected, and a
      // null inside the max_by struct key would make the selection
      // engine-dependent — exclude it from the pool (and from n_resp)
      .filter(col(promptCol).isNotNull && col(respIdCol).isNotNull &&
        col(scoreCol).isNotNull)
      .groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_resp"),
        max_by(payload, struct(col(scoreCol), (-id).as("nid"))).as("__c"),
        min_by(payload, struct(col(scoreCol), (-id).as("nid"))).as("__r"))
    val ca = array_distinct(TextAnalysis.tokens(col("__c.text")))
    val ra = array_distinct(TextAnalysis.tokens(col("__r.text")))
    val inter = size(array_intersect(ca, ra)).cast("long")
    val uni = (size(ca) + size(ra)).cast("long") - inter
    // ONE exact-integer division; |∪| = 0 (two token-less responses)
    // reads as identical, not as a kept pair
    val jac = when(uni > 0, inter.cast("double") / uni.cast("double"))
      .otherwise(lit(1.0))
    pairs.select((col(promptCol) +: col("n_resp") +:
      col("__c.id").as("chosen_id") +: col("__r.id").as("rejected_id") +:
      TextAnalysis.tokenCount(col("__c.text")).cast("long")
        .as("chosen_tokens") +:
      TextAnalysis.tokenCount(col("__r.text")).cast("long")
        .as("rejected_tokens") +:
      round(jac, 4).as("jaccard") +:
      carry.map(c => col(s"__c.$c").as(c)): _*))
      .select((col(promptCol) +: col("n_resp") +: col("chosen_id") +:
        col("rejected_id") +: col("chosen_tokens") +: col("rejected_tokens") +:
        (col("chosen_tokens") - col("rejected_tokens")).as("delta_tokens") +:
        col("jaccard") +:
        (col("n_resp") >= 2 && col("chosen_id") =!= col("rejected_id") &&
          col("jaccard") < lit(maxJaccard)).as("keep") +:
        carry.map(col)): _*)
  }

  /**
   * Best-of-n / rejection-sampling preparation (RAFT, Dong et al.
   * 2023; "SFT on the best sampled responses") — the top-n
   * generalization of [[preferencePairs]]' packed-key argmax: per
   * prompt, the n highest-scoring responses as (prompt, rank,
   * response) rows, ranked by the SAME total contract (score DESC,
   * id ASC — bit-for-bit the `row_number()` oracle order), with the
   * same exact-integer token-set Jaccard guard applied against the
   * RANK-1 response: a lower-ranked response that near-duplicates
   * the best teaches the SFT stage nothing and double-weights one
   * sample, so it ships flagged `keep = false`, never silently
   * dropped. Rank 1 always keeps; its `jaccard_to_best` is null (a
   * self-Jaccard of 1.0 would read as "drop the best").
   *
   * Shape (the 100 TB path): selection is the [[graft.functions
   * .TopKByScore]] bounded heap inside ONE partial/final aggregate —
   * each map task reduces its slice to ≤ n entries per prompt, so
   * shuffle volume is O(prompts × n), independent of the response
   * count — never `row_number().over(partitionBy(prompt))`, which
   * shuffles and sorts every candidate row. Texts and carry columns
   * do NOT ride the heap: the ≤ n·|prompts| survivors join back to
   * the response table on (prompt, id) — survivors are the SMALL
   * side and broadcast when they fit, and the corpus scans once
   * either way. The rank-1 guard is a survivors-only self-join.
   *
   * Null scores are excluded from the pool and from `n_resp`
   * (the [[preferencePairs]] contract: a null in the ranking key
   * would make the order engine-dependent). Null/token-less texts
   * Jaccard as identical (the ∅-vs-∅ = 1 convention above).
   *
   * @return (promptCol, rank 1-based, resp_id, score as input-typed,
   *         n_resp, n_tokens, jaccard_to_best rounded 4 — null at
   *         rank 1, keep) + `carry` columns from the ranked row.
   */
  def bestOfN(resp: DataFrame, promptCol: String, respIdCol: String,
              textCol: String, scoreCol: String, n: Int,
              maxJaccard: Double = 0.9,
              carry: Seq[String] = Nil): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(maxJaccard > 0.0 && maxJaccard <= 1.0,
      s"maxJaccard must be in (0, 1], got $maxJaccard")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(respIdCol).dataType),
      s"bestOfN: $respIdCol must be integral (got " +
        s"${resp.schema(respIdCol).dataType.simpleString}) — the heap's " +
        "id tie-break and the join-back need exact ids")
    val clean = resp.filter(col(promptCol).isNotNull &&
      col(respIdCol).isNotNull && col(scoreCol).isNotNull)
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(n))
    val ranked = clean
      .groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_resp"),
        // integral scores cast exactly (≤ 2^53); the heap's ordering
        // (score desc, id asc) IS the oracle's row_number order
        topk(col(scoreCol).cast("double"), col(respIdCol).cast("long"),
          lit(0L)).as("__top"))
      .select(col(promptCol), col("n_resp"),
        posexplode(col("__top")).as(Seq("__pos", "__m")))
      .select(col(promptCol), col("n_resp"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__m.id").as("__rid"))
    val detail = clean.select((col(promptCol) +:
      col(respIdCol).cast("long").as("__rid") +:
      col(textCol).as("__text") +: col(scoreCol).as("score") +:
      carry.map(col)): _*)
    val rows = ranked.join(detail, Seq(promptCol, "__rid"))
    // the rank-1 text comes from its OWN max_by aggregate over `clean`
    // (a third pruned scan of the input) rather than filtering `rows`
    // — a second consumer of the heap-join frame would re-EXECUTE the
    // heap aggregate and the join (the qBW lesson) unless eagerly
    // localCheckpointed, and an eager checkpoint runs full Spark jobs
    // at DataFrame-CONSTRUCTION time (the r15 ADVICE item). The
    // max_by key replicates the heap's exact rank-1 contract: score
    // desc, id asc, NaN scores last (the not-NaN flag leads the key —
    // Spark's native NaN-is-largest would otherwise invert the
    // heap's NaN-last ordering).
    val bScore = col(scoreCol).cast("double")
    val best = clean.groupBy(col(promptCol))
      .agg(max_by(col(textCol), struct(
        (!isnan(bScore)).cast("int").as("real"), bScore.as("s"),
        (-col(respIdCol).cast("long")).as("ni"))).as("__btext"))
      .select(col(promptCol), col("__btext"))
    val ca = array_distinct(TextAnalysis.tokens(col("__text")))
    val ba = array_distinct(TextAnalysis.tokens(col("__btext")))
    val inter = size(array_intersect(ca, ba)).cast("long")
    val uni = (size(ca) + size(ba)).cast("long") - inter
    // the keep decision compares the ROUNDED value (the qBX
    // convention): the oracle replays `round(j, 4) < maxJaccard`, and
    // deciding on the raw double would flip rows whose raw value
    // straddles a rounding boundary around the threshold
    val jac = round(when(uni > 0, inter.cast("double") / uni.cast("double"))
      .otherwise(lit(1.0)), 4)
    rows.join(best, Seq(promptCol))
      .select((col(promptCol) +: col("rank") +:
        col("__rid").as("resp_id") +: col("score") +: col("n_resp") +:
        TextAnalysis.tokenCount(col("__text")).cast("long")
          .as("n_tokens") +:
        when(col("rank") > 1, jac).as("jaccard_to_best") +:
        (col("rank") === 1 || jac < lit(maxJaccard)).as("keep") +:
        carry.map(col)): _*)
  }

  /**
   * Length-bias audit over [[preferencePairs]] output: per group
   * (source/template/model), how much longer the chosen response
   * runs. A strongly positive mean Δtokens or a chosen-longer
   * fraction far from 0.5 flags verbosity bias before it trains in
   * (Singhal et al. 2023, "A Long Way to Go: Investigating Length
   * Correlations in RLHF"). Only KEPT pairs count — dropped pairs
   * never reach the trainer. Exact integer sums divided once (the
   * float-contract rule); one metadata-sized aggregate.
   *
   * @return (byCol, n_pairs, sum_delta, avg_delta rounded 6,
   *         frac_chosen_longer rounded 6)
   */
  def lengthBias(pairs: DataFrame, byCol: String): DataFrame =
    pairs.filter(col("keep"))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("delta_tokens")).cast("long").as("sum_delta"),
        sum(when(col("delta_tokens") > 0, 1L).otherwise(0L))
          .cast("long").as("__longer"))
      .select(col(byCol), col("n_pairs"), col("sum_delta"),
        // GateRound: sum_delta can be a tiny negative whose rounded
        // zero must not keep DuckDB's sign bit (the qBQ class)
        graft.functions.GateRound(col("sum_delta").cast("double") /
          col("n_pairs").cast("double"), 6).as("avg_delta"),
        round(col("__longer").cast("double") /
          col("n_pairs").cast("double"), 6).as("frac_chosen_longer"))

  /**
   * Group-relative advantage normalization (GRPO, Shao et al. 2024,
   * "DeepSeekMath"): per prompt, each response's advantage is its
   * score standardized against the response GROUP's own moments —
   * `(x − μ_g) / σ_g` with the POPULATION σ (the group IS the whole
   * population the policy sampled) — the critic-free baseline that
   * replaces the value model in GRPO-style RL. A zero-variance group
   * (all responses scored equal) carries no gradient signal: every
   * advantage is 0 by convention, never a 0/0 NaN.
   *
   * Float contract (the qBM z-score shape): integral scores sum to
   * exact BIGINT (Σx, Σx²) in any partition order; μ, σ², and the
   * final standardization are per-row float arithmetic over those
   * exact integers in ONE fixed association order, mirrored verbatim
   * in the SQL oracle; the rounded output is [[graft.functions
   * .GateRound]]ed (advantages go tiny-negative by construction).
   * Non-integral score columns are refused — float sums would bring
   * back the merge-order class the BIGINT moments exist to kill.
   *
   * Scale shape: one partial/final aggregate to |prompts| moment
   * rows, one equi-join back (prompt cardinality is corpus-order —
   * deliberately NOT a broadcast; AQE picks the join). No windows:
   * a `partitionBy(prompt)` window would single-task each group —
   * harmless at n≈8 responses, but the agg+join shape is uniform
   * with the rest of the suite and free.
   *
   * @return (promptCol, respIdCol, score, n_resp, advantage rounded
   *         `scale`, defined) — `defined` false (advantage 0) for
   *         zero-variance or singleton groups.
   */
  def groupAdvantage(resp: DataFrame, promptCol: String, respIdCol: String,
                     scoreCol: String, scale: Int = 6): DataFrame = {
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(scoreCol).dataType),
      s"groupAdvantage: $scoreCol must be integral (got " +
        s"${resp.schema(scoreCol).dataType.simpleString}) — the exact " +
        "BIGINT moment contract (quantize float rewards upstream)")
    val x = col(scoreCol).cast("long")
    val clean = resp.filter(col(promptCol).isNotNull &&
      col(respIdCol).isNotNull && col(scoreCol).isNotNull)
    val stats = clean.groupBy(col(promptCol)).agg(
      sum(x).as("__s1"), sum(x * x).as("__s2"),
      count(lit(1)).as("n_resp"))
    val nd = col("n_resp").cast("double")
    val s1d = col("__s1").cast("double")
    val mu = s1d / nd
    // population variance from exact sums; the last-ulp-negative
    // clamp is the qBM convention
    val variance = (col("__s2").cast("double") - s1d * s1d / nd) / nd
    val defined = col("n_resp") > 1 && variance > 0
    val adv = graft.functions.GateRound(
      (x.cast("double") - mu) / sqrt(greatest(variance, lit(0.0))), scale)
    clean.select(col(promptCol), col(respIdCol), col(scoreCol))
      .join(stats, Seq(promptCol))
      .select(col(promptCol), col(respIdCol), col(scoreCol),
        col("n_resp"),
        when(defined, adv).otherwise(lit(0.0)).as("advantage"),
        defined.as("defined"))
  }

  /**
   * Unbiased pass@k estimator (Chen et al. 2021, "Evaluating Large
   * Language Models Trained on Code", eq. 1): per prompt with n
   * sampled responses of which c passed, the probability that at
   * least one of k drawn-without-replacement samples passes:
   * `1 − C(n−c, k)/C(n, k)`, computed in the numerically-stable
   * product form `1 − Π_{j=0}^{k−1} (n−c−j)/(n−j)`. Guards per the
   * paper's domain: `n − c < k` → exactly 1.0 (some passing sample
   * is always drawn); `n < k` → null (the estimator is undefined —
   * emitted null, never a silently clamped k).
   *
   * Float contract: each factor is ONE division of exact integers and
   * the left-fold multiplication order is fixed and identical in both
   * engines (Spark `aggregate` starts at 1.0 — exact identity — and
   * DuckDB `list_reduce` starts at the first element; `1.0 * r = r`
   * bitwise, so the two folds agree). Values are in [0, 1]: no
   * signed-zero exposure, plain round.
   *
   * Scale shape: one partial/final aggregate to |prompts| rows; the
   * product is a k-step per-row fold over a constant sequence.
   *
   * @return (promptCol, n_resp, n_passed, pass_at_1 rounded 6,
   *         pass_at_k rounded 6 — null when n_resp < k, k)
   */
  def passAtK(resp: DataFrame, promptCol: String, passedCol: String,
              k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val agg = resp.filter(col(promptCol).isNotNull &&
        col(passedCol).isNotNull)
      .groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_resp"),
        sum(when(col(passedCol), 1L).otherwise(0L)).as("n_passed"))
    val n = col("n_resp").cast("double")
    val c = col("n_passed").cast("double")
    val prod = aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
      (acc, j) => acc * ((n - c - j.cast("double")) / (n - j.cast("double"))))
    agg.select(col(promptCol), col("n_resp"), col("n_passed"),
      round(c / n, 6).as("pass_at_1"),
      when(col("n_resp") < k, lit(null).cast("double"))
        .when(col("n_resp") - col("n_passed") < k, lit(1.0))
        .otherwise(round(lit(1.0) - prod, 6)).as(s"pass_at_k"),
      lit(k).as("k"))
  }

  /**
   * Score–confound Pearson correlation per group — the direct
   * reward-model calibration audit beside [[lengthBias]]: a reward
   * that correlates strongly with a CONFOUND (token length, markdown
   * density, list count) trains the policy toward the confound, not
   * the preference (the Singhal et al. 2023 failure, measured at the
   * response level rather than the pair level). Both columns must be
   * integral (quantize upstream): all five sums (Σx, Σy, Σxy, Σx²,
   * Σy²) are then exact BIGINTs in any partition order, and r is
   * per-group float arithmetic over exact integers in ONE association
   * order mirrored in the oracle — numerator `n·Σxy − Σx·Σy`, each
   * factor exact in double below 2^53, [[graft.functions.GateRound]]ed
   * (r goes tiny-negative by construction). Degenerate groups (n ≤ 1
   * or either variance 0) emit r = 0 with defined = false, never NaN.
   *
   * Scale shape: one partial/final aggregate to |groups| rows. The
   * 2^53 exactness bound holds when n·max|x·y| < 9e15 — sources of
   * ~1e9 docs with 7-point scores and 1e5-token lengths overflow it;
   * pre-scale the confound (e.g. kilotokens) at that size.
   *
   * @return (byCol, n, r rounded 6, defined)
   */
  def scoreCorrelation(resp: DataFrame, byCol: String, scoreCol: String,
                       confoundCol: String): DataFrame = {
    Seq(scoreCol, confoundCol).foreach { c =>
      require(org.apache.spark.sql.graftbridge.ColumnBridge
          .isIntegral(resp.schema(c).dataType),
        s"scoreCorrelation: $c must be integral (got " +
          s"${resp.schema(c).dataType.simpleString}) — the exact BIGINT " +
          "sum contract")
    }
    val x = col(scoreCol).cast("long")
    val y = col(confoundCol).cast("long")
    val stats = resp
      .filter(col(scoreCol).isNotNull && col(confoundCol).isNotNull)
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
        sum(y * y).as("__syy"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nd * d("__sxy") - d("__sx") * d("__sy")
    val vx = nd * d("__sxx") - d("__sx") * d("__sx")
    val vy = nd * d("__syy") - d("__sy") * d("__sy")
    val defined = col("n") > 1 && vx > 0 && vy > 0
    stats.select(col(byCol), col("n"),
      when(defined, graft.functions.GateRound(
        num / (sqrt(greatest(vx, lit(0.0))) * sqrt(greatest(vy, lit(0.0)))),
        6)).otherwise(lit(0.0)).as("r"),
      defined.as("defined"))
  }

  /**
   * Pairwise win-rate matrix (arena-style model evaluation): per
   * prompt, every response of player A meets every response of
   * player B (ordered pairs `player_a < player_b` — string order,
   * total), a win is a strictly higher score, ties split 0.5 (the
   * standard Elo/BT convention). Emits one row per player pair with
   * exact comparison/win/tie counts and ONE division for the rate.
   *
   * Scale shape: the self-join is per-prompt and per-player-pair —
   * candidate volume is Σ_prompt (responses choose 2), bounded by the
   * sampling fan-out (n per prompt), never corpus². One shuffle on
   * the prompt key for the join, one partial/final aggregate to
   * |players|² rows. The fan-out premise is ENFORCED, not assumed
   * (the hot-bucket convention): a prompt with more than `maxFanOut`
   * responses would quadratically melt its join task — refused
   * loudly with the offending prompt named, via one cheap
   * prompts-sized aggregate (the [[Similarity]] guardQuadratic
   * economics).
   *
   * @return (player_a, player_b, n_comparisons, n_wins_a, n_ties,
   *         win_rate_a rounded 6)
   */
  def winRateMatrix(resp: DataFrame, promptCol: String, playerCol: String,
                    scoreCol: String, maxFanOut: Int = 10000): DataFrame = {
    require(maxFanOut > 0, s"maxFanOut must be positive, got $maxFanOut")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(scoreCol).dataType),
      s"winRateMatrix: $scoreCol must be integral (got " +
        s"${resp.schema(scoreCol).dataType.simpleString}) — the win/tie " +
        "comparison casts to long, and a fractional score would " +
        "silently truncate distinct values into ties")
    val clean = resp.filter(col(promptCol).isNotNull &&
        col(playerCol).isNotNull && col(scoreCol).isNotNull)
      .select(col(promptCol).as("__p"),
        col(playerCol).cast("string").as("__pl"),
        col(scoreCol).cast("long").as("__s"))
    // the fan-out guard lives IN the plan (the calibrationBins
    // raise_error pattern), not in an eager collect(): a per-prompt
    // count joins the a-side and the guarded score raises mid-job
    // when a hot prompt would quadratically melt its join task —
    // building the DataFrame stays free of Spark jobs, and
    // non-deterministic upstream lineage executes exactly once. The
    // counts frame is |prompts|-sized (AQE broadcasts it) and its
    // aggregate shares the join's __p exchange.
    val fan = clean.groupBy(col("__p")).agg(count(lit(1)).as("__n"))
    val a = clean.join(fan, Seq("__p"))
      .select(col("__p"), col("__pl").as("player_a"),
        when(col("__n") <= maxFanOut, col("__s"))
          .otherwise(raise_error(concat(
            lit("winRateMatrix: prompt "), col("__p").cast("string"),
            lit(" has "), col("__n").cast("string"),
            lit(" responses -> quadratic comparison melt in one task " +
              s"(maxFanOut=$maxFanOut). A fan-out this size is not a " +
              "sampling set; aggregate per (prompt, player) first or " +
              "raise maxFanOut explicitly.")))).as("__sa"))
    val b = clean.select(col("__p"), col("__pl").as("player_b"),
      col("__s").as("__sb"))
    a.join(b, Seq("__p")).filter(col("player_a") < col("player_b"))
      .groupBy(col("player_a"), col("player_b"))
      .agg(count(lit(1)).as("n_comparisons"),
        sum(when(col("__sa") > col("__sb"), 1L).otherwise(0L))
          .as("n_wins_a"),
        sum(when(col("__sa") === col("__sb"), 1L).otherwise(0L))
          .as("n_ties"))
      .select(col("player_a"), col("player_b"), col("n_comparisons"),
        col("n_wins_a"), col("n_ties"),
        round((col("n_wins_a").cast("double") +
          lit(0.5) * col("n_ties").cast("double")) /
          col("n_comparisons").cast("double"), 6).as("win_rate_a"))
  }

  /**
   * Best-of-n scaling curve — the unbiased estimator of E[max score
   * of a uniformly random j-subset] for every j up to `maxJ`
   * (Nakano et al. 2021 WebGPT App. I use exactly this to plot BoN
   * reward against sample count without re-sampling): the "how many
   * samples does this prompt actually need" audit that prices a
   * sampling budget before committing it. pass@k is this curve's
   * boolean special case.
   *
   * Math: with scores sorted ascending s_(1)..s_(n),
   * P(max of a random j-subset ≤ s_(i)) = C(i,j)/C(n,j)
   * = Π_{t<j} (i−t)/(n−t), and summation by parts gives
   * E_j = s_(n) + Σ_{i=j}^{n−1} F(i)·(s_(i) − s_(i+1)) — no
   * binomials ever materialize (C(64,32) already overflows 2^53),
   * only j-term products of SMALL-integer ratios.
   *
   * Float contract: scores must be integral (exact longs cast to
   * double); every product/sum is a FIXED-ORDER fold shared with the
   * oracle — the inner product starts at Spark's exact 1.0 identity
   * ≡ DuckDB list_reduce's first-element start (1.0·x = x exactly,
   * the qC2 precedent), the outer sum starts at 0.0 whose first add
   * is exact (terms are ≤ 0; an s-tie term is +0.0 since x−x = +0.0
   * in round-to-nearest) — so both engines produce bit-identical
   * doubles. E_j is signed when scores are → gateRounded.
   *
   * Scale shape: ONE groupBy collecting each prompt's scores into a
   * sorted array (fan-out-bounded — the plan-side `maxFanOut`
   * raise_error guard), then a per-row j-explode and pure
   * expression-level folds (O(n·j²) flops per prompt, no joins, no
   * windows, nothing shuffles but (prompt, score) pairs).
   *
   * @return long form (promptCol, j 1..min(n, maxJ), n_resp,
   *         e_best rounded 6) — monotone nondecreasing in j per
   *         prompt by construction.
   */
  def bestOfNCurve(resp: DataFrame, promptCol: String, scoreCol: String,
                   maxJ: Int = 16, maxFanOut: Int = 10000): DataFrame = {
    require(maxJ > 0, s"maxJ must be positive, got $maxJ")
    require(maxFanOut > 0, s"maxFanOut must be positive, got $maxFanOut")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(scoreCol).dataType),
      s"bestOfNCurve: $scoreCol must be integral (got " +
        s"${resp.schema(scoreCol).dataType.simpleString}) — the exact " +
        "order-statistic contract; quantize rewards upstream")
    val byPrompt = resp
      .filter(col(promptCol).isNotNull && col(scoreCol).isNotNull)
      .groupBy(col(promptCol))
      .agg(sort_array(collect_list(col(scoreCol).cast("long")))
        .as("__ss"))
      .select(col(promptCol), col("__ss"),
        when(size(col("__ss")) <= maxFanOut,
          size(col("__ss")).cast("int"))
          .otherwise(raise_error(concat(
            lit("bestOfNCurve: prompt "), col(promptCol).cast("string"),
            lit(" has "), size(col("__ss")).cast("string"),
            lit(s" responses (maxFanOut=$maxFanOut) - the per-prompt " +
              "curve is O(n*j^2); sample upstream or raise maxFanOut " +
              "explicitly")))).as("__n"))
    val rows = byPrompt.select(col(promptCol), col("__ss"), col("__n"),
      explode(sequence(lit(1), least(col("__n"), lit(maxJ)))).as("j"))
    val n = col("__n")
    def sD(i: org.apache.spark.sql.Column) =
      element_at(col("__ss"), i).cast("double")
    // F(i) = C(i, j)/C(n, j) as the j-term product of small ratios;
    // the 1.0 identity start is exact (1.0·x = x)
    def fCdf(i: org.apache.spark.sql.Column) =
      aggregate(sequence(lit(0), col("j") - 1), lit(1.0),
        (acc, t) => acc * ((i - t).cast("double") / (n - t).cast("double")))
    // Spark sequence(a, b) DESCENDS when a > b — the j = n branch
    // must short-circuit before the otherwise() sequence is built
    val tail = aggregate(sequence(col("j"), n - 1), lit(0.0),
      (acc, i) => acc + fCdf(i) * (sD(i) - sD(i + 1)))
    rows.select(col(promptCol), col("j"), n.cast("long").as("n_resp"),
      graft.functions.GateRound(
        sD(n) + when(col("j") === n, lit(0.0)).otherwise(tail), 6)
        .as("e_best"))
  }

  /**
   * Wilson-score confidence intervals over the [[winRateMatrix]]
   * rates (Wilson 1927; Brown–Cai–DasGupta 2001 recommend it over
   * the Wald interval at small n and extreme rates — exactly the
   * arena regime: a 3-0 sweep is NOT a settled 1.0). Ties count as
   * half-wins through the same half-unit trick: p̂ = (2w + t)/(2n)
   * is ONE division of exact integers.
   *
   * Float contract: every input to the interval arithmetic is an
   * exact integer (w2, n2, n); the Wilson formula is then a fixed
   * dag of IEEE ops mirrored VERBATIM in the oracle — no float
   * accumulation anywhere (the per-group shape that needs no
   * fixed-point fix). `ci_lo` is analytically ≥ 0 but can read −ε in
   * floating point — gateRounded; `ci_hi` is strictly positive —
   * plain round.
   *
   * Scale shape: [[winRateMatrix]]'s plan plus five projected
   * columns at |players|² rows — nothing new shuffles.
   *
   * @return (player_a, player_b, n_comparisons, n_wins_a, n_ties,
   *         win_rate_a, ci_lo, ci_hi rounded 6) at z = 1.96 (95%)
   */
  def winRateConfidence(resp: DataFrame, promptCol: String,
                        playerCol: String, scoreCol: String,
                        maxFanOut: Int = 10000): DataFrame = {
    val m = winRateMatrix(resp, promptCol, playerCol, scoreCol, maxFanOut)
    val z = lit(1.96)
    val z2 = z * z
    val nD = col("n_comparisons").cast("double")
    val p = (col("n_wins_a") * 2L + col("n_ties")).cast("double") /
      (col("n_comparisons") * 2L).cast("double")
    val center = p + z2 / (lit(2.0) * nD)
    val margin = z * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    val den = lit(1.0) + z2 / nD
    m.select(col("player_a"), col("player_b"), col("n_comparisons"),
      col("n_wins_a"), col("n_ties"), col("win_rate_a"),
      graft.functions.GateRound((center - margin) / den, 6).as("ci_lo"),
      round((center + margin) / den, 6).as("ci_hi"))
  }

  /**
   * Bradley–Terry strength fit over the [[winRateMatrix]] pairs — the
   * arena family's second half: a rating per player from pairwise
   * outcomes, via Hunter (2004)'s MM update
   * p_i ← W_i / Σ_j n_ij/(p_i + p_j), ties as half-wins (the Elo/BT
   * convention [[winRateMatrix]] already uses). This is a FIT, not a
   * transform (the IvfIndex.train convention): it eagerly collects
   * the C(P,2) pair matrix — a leaderboard is model-sized — behind a
   * loud `maxPlayers` bound, iterates on the driver, and returns the
   * ratings frame.
   *
   * Exact contract (the qBS integer-PageRank precedent): half-win
   * units make every tournament count an exact integer (W2 = 2·wins
   * + ties, N2 = 2·comparisons); ratings live as 1e-6 fixed-point
   * BigInt (start 1.0 = S), and each MM step is integer-only —
   * d_i = Σ_j ⌊N2_ij·S²/(p_i+p_j)⌋ (per-edge floors summed, an
   * ORDER-FREE integer sum), p'_i = ⌊W2_i·S²/d_i⌋, then one
   * normalization to Σp = P·S — so k iterations are bit-identical in
   * any execution order and the oracle replays them as k chained SQL
   * CTEs in HUGEINT. Ratings floor at 1 unit (a player with no
   * half-wins pins to the 1e-6 floor rather than dividing to 0).
   * `rating` = round(rating_fp/1e6, 6): positive, plain round.
   *
   * Players that never share a prompt with another player have no
   * pairs and are absent (the reliability-diagram empty-bin
   * convention — join the player spine downstream if needed).
   *
   * @return (player, n_comparisons, w2 half-win units, rating_fp
   *         exact 1e-6 fixed-point, rating rounded 6) — mean rating
   *         ≈ 1.0 by the normalization.
   */
  def bradleyTerry(resp: DataFrame, promptCol: String, playerCol: String,
                   scoreCol: String, iters: Int = 10,
                   maxFanOut: Int = 10000,
                   maxPlayers: Int = 1000): DataFrame = {
    require(iters > 0 && iters <= 1000,
      s"iters must be in [1, 1000], got $iters")
    require(maxPlayers > 0, s"maxPlayers must be positive, got $maxPlayers")
    val spark = resp.sparkSession
    val nDistinct = resp.filter(col(playerCol).isNotNull)
      .select(col(playerCol).cast("string")).distinct().count()
    require(nDistinct <= maxPlayers,
      s"bradleyTerry: $nDistinct players > maxPlayers=$maxPlayers — the " +
        "fit collects the C(P,2) pair matrix to the driver (a " +
        "leaderboard is model-sized, a corpus is not); aggregate " +
        "players upstream or raise maxPlayers explicitly")
    val matrix = winRateMatrix(resp, promptCol, playerCol, scoreCol,
        maxFanOut)
      .select(col("player_a"), col("player_b"), col("n_comparisons"),
        col("n_wins_a"), col("n_ties"))
      .collect()
    final case class Edge(j: String, n2: BigInt, w2: BigInt)
    val S = BigInt(1000000)
    // directed half-win edges: the pair's N2 units split exactly
    // (w2_b = n2 - w2_a — every comparison hands out 2 half-units)
    val edges: Map[String, Seq[Edge]] = matrix.iterator.flatMap { r =>
      val n2 = BigInt(r.getLong(2)) * 2
      val w2a = BigInt(r.getLong(3)) * 2 + BigInt(r.getLong(4))
      Seq(r.getString(0) -> Edge(r.getString(1), n2, w2a),
        r.getString(1) -> Edge(r.getString(0), n2, n2 - w2a))
    }.toSeq.groupMap(_._1)(_._2)
    val names = edges.keys.toSeq.sorted
    val totals: Map[String, (BigInt, BigInt)] = edges.view.mapValues { es =>
      (es.map(_.n2).sum, es.map(_.w2).sum)
    }.toMap
    val nP = BigInt(names.size)
    var p: Map[String, BigInt] = names.map(_ -> S).toMap
    (1 to iters).foreach { _ =>
      val pu = names.map { i =>
        val d = edges(i).map(e => (e.n2 * S * S) / (p(i) + p(e.j))).sum
          .max(BigInt(1))
        i -> ((totals(i)._2 * S * S) / d).max(BigInt(1))
      }.toMap
      val sumU = pu.values.sum
      p = names.map(i => i -> ((pu(i) * nP * S) / sumU).max(BigInt(1))).toMap
    }
    import spark.implicits._
    names.map { i =>
      (i, (totals(i)._1 / 2).toLong, totals(i)._2.toLong, p(i).toLong)
    }.toDF("player", "n_comparisons", "w2", "rating_fp")
      .select(col("player"), col("n_comparisons"), col("w2"),
        col("rating_fp"),
        round(col("rating_fp").cast("double") / lit(1000000.0), 6)
          .as("rating"))
  }

  /**
   * Distinct-n response diversity (Li et al. 2016, "A Diversity-
   * Promoting Objective Function for Neural Conversation Models"):
   * per prompt, the ratio of DISTINCT word n-grams to total word
   * n-grams across all of the prompt's responses — the standard
   * sampling-temperature audit (a collapsed sampler repeats itself;
   * distinct-2 near 1 means every response contributes new bigrams).
   * Token-less prompts report ratio 0.0 with n_grams = 0 visible
   * (the [[TextAnalysis.tokenEntropy]] zero-denominator convention —
   * the count column, not a null, is the "no evidence" signal).
   *
   * Exact contract: gram counts are integers aggregated exactly;
   * ONE division, values in [0, 1] — no sign exposure, plain round.
   *
   * Scale shape: per-row gram construction (no join), explode to
   * (prompt, gram) pairs, then two partial/final aggregates —
   * (prompt, gram) counts, then per-prompt totals; response TEXTS
   * never shuffle, only grams do (the tokenEntropy shape).
   *
   * @return (promptCol, n_resp, n_grams, n_distinct,
   *         distinct_ratio rounded 6)
   */
  def responseDiversity(resp: DataFrame, promptCol: String,
                        textCol: String, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val base = resp.filter(col(promptCol).isNotNull)
    val nResp = base.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_resp"))
    // codegen'd one-pass gram kernel — the `transform(sequence,
    // slice)` HOF it replaces re-ran the tokenizer per gram position
    // (the ShingleExprs.computeGrams note); output strings identical
    // (shared \S+ tokenization, space join, no grams when len < n;
    // null text → null array, which explode drops like the old
    // empty-array branch)
    val stats = base.select(col(promptCol),
        explode(graft.functions.ShingleExprs.token_grams(
          col(textCol), n, overlapping = true)).as("__g"))
      .groupBy(col(promptCol), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_distinct"), sum(col("__c")).as("n_grams"))
    nResp.join(stats, Seq(promptCol), "left")
      .select(col(promptCol), col("n_resp"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_distinct").cast("double") /
            col("n_grams").cast("double"), 6)).as("distinct_ratio"))
  }

  /**
   * Embedding-space response diversity — the semantic twin of
   * [[responseDiversity]] (lexical distinct-n misses PARAPHRASE
   * collapse: a sampler that rewords the same answer n ways scores
   * high on distinct bigrams and ~1.0 here): per prompt, the mean
   * pairwise cosine across the response set's embeddings. Near 1.0
   * = collapsed sampling; near 0 = genuinely diverse responses.
   *
   * Exact contract (the qBQ/qBB fixed-point discipline, extended to
   * a CROSS-PAIR mean): coordinates quantize ONCE to 1e-6 longs
   * (floor(x·1e6 + 0.5); null/NaN/|x| ≥ 10 refused loudly — with
   * unit-scale embeddings this keeps Σq² below 2^53 through dim
   * ~10k), per-pair dot and per-vector norms are exact integer
   * sums, each pair's cosine is IEEE-deterministic arithmetic on
   * those integers in ONE shared association order
   * (dot / (sqrt(na)·sqrt(nb))) and quantizes to a 1e-9 long — so
   * the cross-pair SUM is an exact integer in any partition order
   * (a float fold across pairs would flip on merge order) and the
   * mean is ONE division, [[graft.functions.GateRound]]ed (cosine
   * is signed). Zero-after-quantization vectors are excluded from
   * the pool and from `n_resp` (a degenerate vector has no cosine —
   * the [[Similarity]] finite-norm convention); a dimension
   * mismatch inside a pair is refused loudly, never null-dropped.
   *
   * Scale shape: quantized vectors + norms are computed per row
   * BEFORE the per-prompt self-join; pair volume is Σ_p C(n_p, 2),
   * bounded by the sampling fan-out and ENFORCED in the plan (the
   * [[winRateMatrix]] raise_error guard over a broadcast per-prompt
   * count) — never corpus². One shuffle on the prompt key, one
   * partial/final aggregate to |prompts| rows.
   *
   * @return (promptCol, n_resp valid responses, n_pairs,
   *         mean_cos rounded 6 — 0.0 with n_pairs = 0 visible when
   *         fewer than two valid responses)
   */
  def embeddingDiversity(resp: DataFrame, promptCol: String,
                         respIdCol: String, vecCol: String,
                         maxFanOut: Int = 10000): DataFrame = {
    // the fan-out guard doubles as the grid-sum bound (r19 audit):
    // pairs per prompt ≤ maxFanOut²/2 and each 1e-9-grid cosine is
    // ≤ 1e9, so Σ ≤ maxFanOut²/2·1e9 — at the 1e5 cap that is
    // 5e18 < 2⁶³−1; an unbounded maxFanOut would let the pair sum
    // wrap a signed-64 before the quadratic melt even hurts
    require(maxFanOut > 0 && maxFanOut <= 100000,
      s"maxFanOut must be in [1, 100000], got $maxFanOut — past 1e5 " +
        "the per-prompt 1e-9-grid cosine sum can overflow signed-64")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(respIdCol).dataType),
      s"embeddingDiversity: $respIdCol must be integral (got " +
        s"${resp.schema(respIdCol).dataType.simpleString}) — the pair " +
        "orientation needs exact ids")
    val qx = (x: org.apache.spark.sql.Column) =>
      when(abs(x) < lit(10.0),
        floor(x.cast("double") * lit(1e6) + lit(0.5)))
        .otherwise(raise_error(concat(
          lit("embeddingDiversity: coordinate is null, NaN, or >= 10 " +
            "in magnitude - breaks the 1e-6 fixed-point cosine " +
            "contract: "),
          coalesce(x.cast("string"), lit("null")))))
    val base = resp.filter(col(promptCol).isNotNull &&
        col(respIdCol).isNotNull && col(vecCol).isNotNull)
      .select(col(promptCol).as("__p"),
        col(respIdCol).cast("long").as("__id"),
        transform(col(vecCol), qx).as("__qv"))
      .select(col("__p"), col("__id"), col("__qv"),
        aggregate(col("__qv"), lit(0L), (acc, v) => acc + v * v)
          .as("__nq"))
      .filter(col("__nq") > 0L)
    val fan = base.groupBy(col("__p")).agg(count(lit(1)).as("n_resp"))
    val a = base.join(fan, Seq("__p"))
      .select(col("__p"),
        when(col("n_resp") <= maxFanOut, col("__id"))
          .otherwise(raise_error(concat(
            lit("embeddingDiversity: prompt "), col("__p").cast("string"),
            lit(" has "), col("n_resp").cast("string"),
            lit(" responses -> quadratic pair melt in one task " +
              s"(maxFanOut=$maxFanOut); aggregate or sample upstream, " +
              "or raise maxFanOut explicitly")))).as("__ia"),
        col("__qv").as("__qa"), col("__nq").as("__na"))
    val b = base.select(col("__p"), col("__id").as("__ib"),
      col("__qv").as("__qb"), col("__nq").as("__nb"))
    val dotq = aggregate(zip_with(col("__qa"), col("__qb"),
      (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val cosFp = floor(dotq.cast("double") /
      (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double")))
      * lit(1e9) + lit(0.5))
    val pairs = a.join(b, Seq("__p")).filter(col("__ia") < col("__ib"))
      .select(col("__p"),
        when(dotq.isNotNull, cosFp).otherwise(raise_error(concat(
          lit("embeddingDiversity: dimension mismatch between "),
          col("__ia").cast("string"), lit(" and "),
          col("__ib").cast("string")))).as("__cfp"))
      .groupBy(col("__p"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__cfp")).as("__s"))
    fan.join(pairs, Seq("__p"), "left")
      .select(col("__p").as(promptCol), col("n_resp"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        when(coalesce(col("n_pairs"), lit(0L)) === 0L, lit(0.0))
          .otherwise(graft.functions.GateRound(
            col("__s").cast("double") /
              (col("n_pairs") * lit(1000000000L)).cast("double"), 6))
          .as("mean_cos"))
  }

  /**
   * Cohen's kappa between two binary judges (Cohen 1960) — the
   * inter-annotator / judge-ensemble agreement audit: raw agreement
   * corrected for the agreement two INDEPENDENT judges with the same
   * marginals would reach by chance. κ near 0 on a high-raw-agreement
   * label means the labels are skew, not signal — the standard
   * pre-flight before trusting an LLM-judge ensemble or a human
   * annotation batch.
   *
   * Exact contract: the 2×2 contingency (n, agree, a-positives,
   * b-positives) sums exactly in any order; p_o = agree/n and
   * p_e = (a₁·b₁ + (n−a₁)·(n−b₁))/n² are each ONE division with an
   * exact INTEGER numerator and denominator (products stay below
   * 2^53 for n < 9e7 per group — pre-aggregate or shard groups past
   * that); κ = (p_o − p_e)/(1 − p_e) mirrors the oracle verbatim and
   * is [[graft.functions.GateRound]]ed (κ is signed). A constant
   * pair of judges (p_e = 1) has no chance-corrected scale — κ = 0
   * with defined = false, never 0/0.
   *
   * @return (byCol, n, n_agree, kappa rounded 6, defined)
   */
  def judgeAgreement(resp: DataFrame, byCol: String, judgeACol: String,
                     judgeBCol: String): DataFrame = {
    Seq(judgeACol, judgeBCol).foreach { c =>
      require(resp.schema(c).dataType ==
          org.apache.spark.sql.types.BooleanType,
        s"judgeAgreement: $c must be boolean (got " +
          s"${resp.schema(c).dataType.simpleString}) — binarize " +
          "judge scores upstream")
    }
    val a = col(judgeACol)
    val b = col(judgeBCol)
    val stats = resp.filter(a.isNotNull && b.isNotNull)
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n"),
        sum(when(a === b, 1L).otherwise(0L)).as("n_agree"),
        sum(when(a, 1L).otherwise(0L)).as("__a1"),
        sum(when(b, 1L).otherwise(0L)).as("__b1"))
    val nd = col("n").cast("double")
    val po = col("n_agree").cast("double") / nd
    val pe = (col("__a1") * col("__b1") +
      (col("n") - col("__a1")) * (col("n") - col("__b1")))
      .cast("double") / (col("n") * col("n")).cast("double")
    val defined = col("n") > 0 && pe < 1.0
    stats.select(col(byCol), col("n"), col("n_agree"),
      when(defined, graft.functions.GateRound((po - pe) / (lit(1.0) - pe), 6))
        .otherwise(lit(0.0)).as("kappa"),
      defined.as("defined"))
  }

  /**
   * Fleiss' kappa (Fleiss 1971) — [[judgeAgreement]] generalized to
   * m judges and any category set: the multi-annotator agreement
   * audit real labeling batches need (Cohen's κ only compares two
   * judges on a binary label). Input is the LONG form — one row per
   * rating (group, item, category); judges are anonymous, which is
   * exactly Fleiss' setting.
   *
   * Exact contract: per-item category counts n_ij, Σn_ij and Σn_ij²
   * are exact integers in any order; P̄ = (ΣΣn_ij² − N·m)/(N·m·(m−1))
   * and P̄e = Σc_j²/(N·m)² each have exact INTEGER numerators and
   * denominators with ONE division apiece (products below 2^53 for
   * N·m < 9e7 per group — shard past that, the [[judgeAgreement]]
   * bound); κ = (P̄ − P̄e)/(1 − P̄e) mirrors the oracle verbatim and is
   * [[graft.functions.GateRound]]ed (κ is signed). Constant m per
   * item is Fleiss' own premise and is ENFORCED in the plan
   * (raise_error naming the group when min ≠ max after null
   * exclusion — a partially-rated item silently skews P̄). m = 1 (no
   * pairs to agree) or P̄e = 1 (a constant panel) → κ = 0 with
   * defined = false, never 0/0.
   *
   * Scale shape: two aggregation chains over the pruned input —
   * (group, item, category) → (group, item) → group, and
   * (group, category) → group — joined at |groups| rows; no windows,
   * no self-joins, ratings never shuffle more than their 3-column
   * projection.
   *
   * @return (byCol, n_items, m, kappa rounded 6, defined)
   */
  def fleissKappa(resp: DataFrame, byCol: String, itemCol: String,
                  categoryCol: String): DataFrame = {
    val base = resp.filter(col(byCol).isNotNull && col(itemCol).isNotNull &&
      col(categoryCol).isNotNull)
    val perItem = base
      .groupBy(col(byCol), col(itemCol), col(categoryCol))
      .agg(count(lit(1)).as("__nij"))
      .groupBy(col(byCol), col(itemCol))
      .agg(sum(col("__nij")).as("__mi"),
        sum(col("__nij") * col("__nij")).as("__si"))
    val perGroup = perItem.groupBy(col(byCol))
      .agg(count(lit(1)).as("n_items"), min(col("__mi")).as("__mmin"),
        max(col("__mi")).as("__mmax"), sum(col("__si")).as("__s"))
    val marg = base.groupBy(col(byCol), col(categoryCol))
      .agg(count(lit(1)).as("__cj"))
      .groupBy(col(byCol))
      .agg(sum(col("__cj") * col("__cj")).as("__c"))
    val mGuard = when(col("__mmin") === col("__mmax"), col("__mmin"))
      .otherwise(raise_error(concat(
        lit("fleissKappa: ratings per item must be constant within a " +
          "group (Fleiss' premise) - group "),
        col(byCol).cast("string"), lit(" saw "),
        col("__mmin").cast("string"), lit(".."),
        col("__mmax").cast("string"),
        lit("; exclude partially-rated items upstream"))))
    val joined = perGroup.join(marg, Seq(byCol))
      .select(col(byCol), col("n_items"), mGuard.as("m"), col("__s"),
        col("__c"))
    val nmD = (col("n_items") * col("m")).cast("double")
    val pbar = (col("__s") - col("n_items") * col("m")).cast("double") /
      (col("n_items") * col("m") * (col("m") - 1L)).cast("double")
    val pe = col("__c").cast("double") / (nmD * nmD)
    val defined = col("m") > 1L && pe < 1.0
    joined.select(col(byCol), col("n_items"), col("m"),
      when(defined, graft.functions.GateRound(
        (pbar - pe) / (lit(1.0) - pe), 6)).otherwise(lit(0.0)).as("kappa"),
      defined.as("defined"))
  }

  /**
   * Judge position-bias audit (Zheng et al. 2023, "Judging
   * LLM-as-a-Judge" §3.2 — LLM judges measurably favor the FIRST
   * answer): over pairs judged TWICE (original and swapped order),
   * classify each pair by winner identity across the swap —
   * consistent (same answer wins both orders), first-biased (the
   * position-1 answer wins both times), second-biased — the standard
   * pre-flight before trusting pairwise LLM judgments. A consistency
   * rate far below 1 or a bias split far from symmetric flags the
   * judge, not the models.
   *
   * Exact contract: exact integer counts per class, ONE division per
   * rate (non-negative → plain round). Domain is ENFORCED in the
   * plan: `orderCol` must be 0 (original) / 1 (swapped) and
   * `winnerPosCol` 1/2 — anything else raise_errors; pairs without
   * exactly one judgment per order are EXCLUDED from classification
   * but VISIBLE (`n_incomplete` — a silently dropped re-judgment
   * would fake consistency).
   *
   * Scale shape: one (group, pair) partial/final aggregate packing
   * both orders into per-pair columns (no self-join — the swap pair
   * meets in the aggregate), then one group-level aggregate;
   * judgments never shuffle more than their 4-column projection.
   *
   * @return (byCol, n_pairs complete, n_incomplete, n_consistent,
   *         n_first_biased, n_second_biased, consistency_rate,
   *         first_bias_rate, second_bias_rate rounded 6 — rates 0.0
   *         when no complete pairs, n_pairs 0 visible)
   */
  def positionBias(resp: DataFrame, byCol: String, pairCol: String,
                   orderCol: String, winnerPosCol: String): DataFrame = {
    Seq(orderCol, winnerPosCol).foreach { c =>
      require(org.apache.spark.sql.graftbridge.ColumnBridge
          .isIntegral(resp.schema(c).dataType),
        s"positionBias: $c must be integral (got " +
          s"${resp.schema(c).dataType.simpleString})")
    }
    val o = col(orderCol).cast("long")
    val w = col(winnerPosCol).cast("long")
    val oG = when(o === 0L || o === 1L, o)
      .otherwise(raise_error(concat(
        lit("positionBias: order must be 0 (original) or 1 (swapped), " +
          "got "), o.cast("string"))))
    val wG = when(w === 1L || w === 2L, w)
      .otherwise(raise_error(concat(
        lit("positionBias: winner position must be 1 or 2, got "),
        w.cast("string"))))
    val perPair = resp
      .filter(col(byCol).isNotNull && col(pairCol).isNotNull &&
        col(orderCol).isNotNull && col(winnerPosCol).isNotNull)
      .select(col(byCol), col(pairCol), oG.as("__o"), wG.as("__w"))
      .groupBy(col(byCol), col(pairCol))
      .agg(sum(when(col("__o") === 0L, 1L).otherwise(0L)).as("__n0"),
        sum(when(col("__o") === 1L, 1L).otherwise(0L)).as("__n1"),
        min(when(col("__o") === 0L, col("__w"))).as("__p0"),
        min(when(col("__o") === 1L, col("__w"))).as("__p1"))
    val complete = col("__n0") === 1L && col("__n1") === 1L
    // winner IDENTITY across the swap: original order winner is
    // answer A iff p0 = 1; swapped order winner is A iff p1 = 2
    val winA0 = col("__p0") === 1L
    val winA1 = col("__p1") === 2L
    val stats = perPair.groupBy(col(byCol))
      .agg(sum(when(complete, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(complete, 0L).otherwise(1L)).as("n_incomplete"),
        sum(when(complete && winA0 === winA1, 1L).otherwise(0L))
          .as("n_consistent"),
        sum(when(complete && col("__p0") === 1L && col("__p1") === 1L, 1L)
          .otherwise(0L)).as("n_first_biased"),
        sum(when(complete && col("__p0") === 2L && col("__p1") === 2L, 1L)
          .otherwise(0L)).as("n_second_biased"))
    def rate(n: org.apache.spark.sql.Column) =
      when(col("n_pairs") === 0L, lit(0.0))
        .otherwise(round(n.cast("double") / col("n_pairs").cast("double"),
          6))
    stats.select(col(byCol), col("n_pairs"), col("n_incomplete"),
      col("n_consistent"), col("n_first_biased"), col("n_second_biased"),
      rate(col("n_consistent")).as("consistency_rate"),
      rate(col("n_first_biased")).as("first_bias_rate"),
      rate(col("n_second_biased")).as("second_bias_rate"))
  }

  /**
   * Krippendorff's alpha, nominal data (Krippendorff 2004) — the
   * agreement audit for RAGGED panels: [[fleissKappa]] refuses
   * items whose rating count varies (Fleiss' premise); α is the
   * standard tool when judges rate overlapping subsets — exactly
   * what a routed LLM-judge ensemble or a crowdsourced batch
   * produces. Items with fewer than 2 ratings have no pairable
   * values and are excluded (the standard), visibly via `n_items`
   * vs the input.
   *
   * Exact contract: per item, the disagreement numerator
   * A_i = m_i² − Σ_c n_ic² is an exact integer but v_i = A_i/(m_i−1)
   * is rational with a PER-ITEM denominator — the [[qCC|quantized]]
   * cross-entity sum axis again: v_i is one IEEE division of exact
   * integers (bit-identical in both engines), quantized to a 1e-9
   * long, so Σv_i is an exact integer in any partition order.
   * D_o = Σq/(M·1e9) and D_e = (M² − Σc_j²)/(M·(M−1)) are one
   * division each over exact integers (Σ_c c_j(M−c_j) telescopes to
   * M² − Σc_j² since Σc_j = M — no per-category fold);
   * α = 1 − D_o/D_e mirrored verbatim, gateRounded (α is signed).
   * 2^53 bound: M < 9.5e7 per group (M² must stay exact in double) —
   * shard past that. D_e = 0 (a constant panel) or M < 2 → α = 0
   * with defined = false.
   *
   * Scale shape: an items-sized include set (≥2 non-null ratings)
   * joins the 3-column input once per branch — two aggregation
   * chains like [[fleissKappa]]'s, joined at |groups| rows; no
   * windows, no self-joins. The include join re-derives rather than
   * checkpoints (the qC6 second-scan economics — both sides are
   * column-pruned scans + one metadata-sized aggregate).
   *
   * @return (byCol, n_items pairable items, n_values M,
   *         alpha rounded 6, defined)
   */
  def krippendorffAlpha(resp: DataFrame, byCol: String, itemCol: String,
                        categoryCol: String): DataFrame = {
    val base = resp.filter(col(byCol).isNotNull && col(itemCol).isNotNull &&
      col(categoryCol).isNotNull)
    val included = base.groupBy(col(byCol), col(itemCol))
      .agg(count(lit(1)).as("__m0"))
      .filter(col("__m0") >= 2L)
      .select(col(byCol), col(itemCol))
    val baseInc = base.join(included, Seq(byCol, itemCol))
    val perGroup = baseInc
      .groupBy(col(byCol), col(itemCol), col(categoryCol))
      .agg(count(lit(1)).as("__nij"))
      .groupBy(col(byCol), col(itemCol))
      .agg(sum(col("__nij")).as("__mi"),
        sum(col("__nij") * col("__nij")).as("__si"))
      .select(col(byCol), col("__mi"),
        // v_i quantized: IEEE-deterministic division of exact
        // integers, then the 1e-9 grid — Σ over items is order-free
        floor((col("__mi") * col("__mi") - col("__si")).cast("double") /
          (col("__mi") - 1L).cast("double") * lit(1e9) + lit(0.5))
          .as("__qi"))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_items"), sum(col("__mi")).as("n_values"),
        sum(col("__qi")).as("__sq"))
    val marg = baseInc.groupBy(col(byCol), col(categoryCol))
      .agg(count(lit(1)).as("__cj"))
      .groupBy(col(byCol))
      .agg(sum(col("__cj") * col("__cj")).as("__c2"))
    val joined = perGroup.join(marg, Seq(byCol))
    // ONE plan-side magnitude guard covers every square in the dag:
    // with m ≤ 3037000499, m² ≤ 2⁶³−1 exactly, every n_ij² and c_j²
    // (both ≤ m²) stays exact, and the item grid sum Σq_i ≤
    // (m + n_items)·1e9 ≤ 6.1e18 < 2⁶³ (r19 grid-sum audit)
    val m = when(col("n_values") <= 3037000499L, col("n_values"))
      .otherwise(raise_error(concat(
        lit("krippendorffAlpha: group "), col(byCol).cast("string"),
        lit(" has "), col("n_values").cast("string"),
        lit(" values > 3037000499 — m² overflows signed-64; " +
          "shard the group"))))
    val deNum = m * m - col("__c2")
    val doo = col("__sq").cast("double") /
      (m * lit(1000000000L)).cast("double")
    val de = deNum.cast("double") / (m * (m - 1L)).cast("double")
    val defined = m > 1L && deNum > 0L
    joined.select(col(byCol), col("n_items"), col("n_values"),
      when(defined, graft.functions.GateRound(
        lit(1.0) - doo / de, 6)).otherwise(lit(0.0)).as("alpha"),
      defined.as("defined"))
  }

  /**
   * Calibration reliability bins (Guo et al. 2017, "On Calibration
   * of Modern Neural Networks"): a confidence score in integer
   * PERCENT (0–100 — the operator's own quantization demand, so the
   * bin edges and every sum are exact integers) against a binary
   * outcome, bucketed into `bins` equal-width bins by
   * `floor(pct · bins / 100)` clamped to bins−1. Emits the
   * reliability-diagram rows; ECE = Σ (n_b/n)·gap_b is one exact
   * weighted sum downstream of this long form (deliberately NOT
   * emitted here: a cross-bin fold would need an ordered reduction,
   * while per-bin rows are each a single partial/final aggregate —
   * the safest gate shape).
   *
   * Exact contract: (n_b, Σoutcome, Σpct) are exact integers in any
   * order; accuracy and mean confidence are each ONE division; the
   * gap is |acc − conf| — abs() makes it non-negative, so plain
   * round with no sign exposure.
   *
   * @return (bin 0-based int, n, accuracy rounded 6, confidence
   *         rounded 6, gap rounded 6) — empty bins absent (the
   *         reliability diagram's convention; left-join a bin
   *         spine downstream to densify).
   */
  /** The shared exact core of [[calibrationBins]] and
    * [[expectedCalibrationError]]: per-bin (bin, n, Σoutcome, Σpct)
    * — all exact integers in any partition order; one partial/final
    * aggregate to ≤ `bins` rows. */
  private def calBinStats(resp: DataFrame, pctCol: String,
                          outcomeCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(pctCol).dataType),
      s"calibrationBins: $pctCol must be integral percent 0-100 (got " +
        s"${resp.schema(pctCol).dataType.simpleString}) — quantize " +
        "probabilities upstream; float bin edges are engine-dependent")
    val pct = col(pctCol).cast("long")
    val guarded = when(pct >= 0 && pct <= 100, pct)
      .otherwise(raise_error(concat(
        lit("calibrationBins: percent out of [0, 100]: "),
        pct.cast("string"))))
    resp.filter(col(pctCol).isNotNull && col(outcomeCol).isNotNull)
      .select(least(floor(guarded * bins / lit(100)), lit(bins - 1))
          .cast("int").as("bin"),
        when(col(outcomeCol), 1L).otherwise(0L).as("__y"), guarded.as("__p"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("__sy"),
        sum(col("__p")).as("__sp"))
  }

  def calibrationBins(resp: DataFrame, pctCol: String, outcomeCol: String,
                      bins: Int = 10): DataFrame = {
    calBinStats(resp, pctCol, outcomeCol, bins)
      .select(col("bin"), col("n"),
        round(col("__sy").cast("double") / col("n").cast("double"), 6)
          .as("accuracy"),
        round(col("__sp").cast("double") /
          (col("n") * 100L).cast("double"), 6).as("confidence"),
        round(abs(col("__sy").cast("double") / col("n").cast("double") -
          col("__sp").cast("double") / (col("n") * 100L).cast("double")),
          6).as("gap"))
  }

  /**
   * Expected calibration error over the [[calibrationBins]] long form
   * (Guo et al. 2017 eq. 2, ECE = Σ_b (n_b/n)·|acc_b − conf_b|) with
   * a DENSIFIED bin spine — every bin 0..bins−1 emits a row, empty
   * bins visibly (n = 0, null diagram columns), so a reliability
   * consumer can see coverage holes the sparse form hides.
   *
   * Exact contract: the weighted sum telescopes to pure integers —
   * (n_b/n)·|sy_b/n_b − sp_b/(100·n_b)| = |100·sy_b − sp_b|/(100·n),
   * so each bin contributes the exact BIGINT `abs_dev` =
   * |100·Σoutcome_b − Σpct_b| and ECE is ONE division of two exact
   * integers, order-free by construction (no float fold across bins
   * — the qBQ lesson never arises). ECE ∈ [0, 1]: non-negative, so
   * plain round with no sign exposure. Empty input → ece 0.0 with
   * n_total 0 visible.
   *
   * Scale shape: one corpus partial/final aggregate to ≤ `bins`
   * rows, then a single-row global fold of those rows
   * (collect_list + integer sums in the SAME aggregate — the bins
   * frame has ONE consumer, so nothing re-executes and nothing needs
   * a checkpoint), cross-joined to the `bins`-row spine with the
   * per-bin lookup as a plan-side array filter. The collect_list is
   * `bins`-bounded — `bins` is capped loudly to keep the one-row
   * fold metadata-sized.
   *
   * @return (bin, n, accuracy, confidence, gap — null on empty bins,
   *         abs_dev exact BIGINT, n_total, ece rounded 6 — constant
   *         across rows)
   */
  def expectedCalibrationError(resp: DataFrame, pctCol: String,
                               outcomeCol: String,
                               bins: Int = 10): DataFrame = {
    require(bins <= 65536,
      s"bins must be <= 65536, got $bins — the densified spine and the " +
        "single-row fold are bins-sized; a finer diagram is not a " +
        "calibration audit")
    val stats = calBinStats(resp, pctCol, outcomeCol, bins)
    val one = stats.agg(
      collect_list(struct(col("bin"), col("n"), col("__sy"), col("__sp")))
        .as("__rows"),
      coalesce(sum(col("n")), lit(0L)).as("n_total"),
      coalesce(sum(abs(lit(100L) * col("__sy") - col("__sp"))), lit(0L))
        .as("__dev"))
    val spine = resp.sparkSession.range(bins)
      .select(col("id").cast("int").as("bin"))
    // try_element_at: an empty-bin lookup yields a null struct (ANSI
    // element_at would throw on the empty filtered array)
    val m = try_element_at(
      filter(col("__rows"), r => r("bin") === col("bin")), lit(1))
    spine.crossJoin(one).select(
      col("bin"),
      coalesce(m("n"), lit(0L)).as("n"),
      round(m("__sy").cast("double") / m("n").cast("double"), 6)
        .as("accuracy"),
      round(m("__sp").cast("double") / (m("n") * 100L).cast("double"), 6)
        .as("confidence"),
      round(abs(m("__sy").cast("double") / m("n").cast("double") -
        m("__sp").cast("double") / (m("n") * 100L).cast("double")), 6)
        .as("gap"),
      coalesce(abs(lit(100L) * m("__sy") - m("__sp")), lit(0L))
        .as("abs_dev"),
      col("n_total"),
      when(col("n_total") === 0L, lit(0.0))
        .otherwise(round(col("__dev").cast("double") /
          (col("n_total") * 100L).cast("double"), 6)).as("ece"))
  }

  /**
   * Maximum calibration error (Guo et al. 2017 eq. 5 — ECE's
   * worst-case twin: a model can hide one badly-miscalibrated
   * confidence region inside a small average): the largest per-bin
   * |accuracy − confidence| gap, with the offending bin named.
   *
   * Exact contract: per-bin gaps compare as the integer-valued
   * quantity |100·Σy_b − Σpct_b|·(scale-free per-bin): the
   * comparison key is the RATIONAL gap |100·sy − sp|/(100·n_b) —
   * computed as ONE IEEE division of exact integers (the telescoped
   * [[expectedCalibrationError]] form — deterministic in both
   * engines, unlike a difference of two divisions) — and the argmax
   * tie-breaks to the LOWEST bin (total order, engine-independent);
   * the published mce is the winning bin's gap (plain round —
   * non-negative). Empty input → one row with n_total 0 and mce 0.0
   * (the ECE empty contract).
   *
   * Scale shape: [[calBinStats]]'s single corpus aggregate, then one
   * global max_by over ≤ bins rows.
   *
   * @return one row: (mce rounded 6, mce_bin, mce_n,
   *         n_bins_nonempty, n_total)
   */
  def maxCalibrationError(resp: DataFrame, pctCol: String,
                          outcomeCol: String,
                          bins: Int = 10): DataFrame = {
    val stats = calBinStats(resp, pctCol, outcomeCol, bins)
    val gap = abs(lit(100L) * col("__sy") - col("__sp")).cast("double") /
      (col("n") * 100L).cast("double")
    stats
      .select(col("bin"), col("n"), gap.as("__gap"))
      .agg(
        max_by(struct(col("__gap").as("g"), col("bin").as("b"),
          col("n").as("n")),
          struct(col("__gap").as("g"), (-col("bin")).as("nb"))).as("__w"),
        count(lit(1)).as("n_bins_nonempty"),
        coalesce(sum(col("n")), lit(0L)).as("n_total"))
      .select(
        coalesce(round(col("__w.g"), 6), lit(0.0)).as("mce"),
        coalesce(col("__w.b"), lit(-1)).as("mce_bin"),
        coalesce(col("__w.n"), lit(0L)).as("mce_n"),
        col("n_bins_nonempty"), col("n_total"))
  }

  /**
   * Self-consistency majority vote (Wang et al. 2023,
   * "Self-Consistency Improves Chain of Thought Reasoning"): per
   * prompt, the modal extracted answer across the n sampled
   * responses, ties broken to the LEXICOGRAPHICALLY SMALLEST answer
   * (total, engine-independent — the ∓id convention's string
   * analogue). Null answers are excluded from the vote (an
   * unparseable response abstains) but still count in `n_resp`.
   *
   * Shape: two partial/final aggregates — (prompt, answer) counts,
   * then one packed-key `min_by` per prompt on (−count, answer); no
   * windows, no joins until the n_resp join-back (exact integers
   * throughout, one division for the vote share).
   *
   * @return (promptCol, vote_answer, n_votes, n_resp,
   *         vote_frac rounded 6) — prompts whose every answer is
   *         null emit a null vote_answer with n_votes 0.
   */
  def majorityVote(resp: DataFrame, promptCol: String,
                   answerCol: String): DataFrame = {
    val base = resp.filter(col(promptCol).isNotNull)
    val nResp = base.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_resp"))
    val votes = base.filter(col(answerCol).isNotNull)
      .groupBy(col(promptCol), col(answerCol).cast("string").as("__a"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(promptCol))
      .agg(min_by(struct(col("__a").as("a"), col("__c").as("c")),
        struct((-col("__c")).as("nc"), col("__a"))).as("__w"))
    nResp.join(votes, Seq(promptCol), "left")
      .select(col(promptCol), col("__w.a").as("vote_answer"),
        coalesce(col("__w.c"), lit(0L)).as("n_votes"), col("n_resp"),
        round(coalesce(col("__w.c"), lit(0L)).cast("double") /
          col("n_resp").cast("double"), 6).as("vote_frac"))
  }

  /**
   * Exact binomial sign test (Arbuthnott 1710 lineage; the paired
   * A/B significance test) — the FIXED-n companion to [[sprtMonitor]]
   * and the exact version of [[mcnemar]]: given w wins and l losses
   * (ties excluded upstream), the two-sided p-value under the null
   * p = ½ is min(1, 2·P(X ≥ max(w, l))) with X ~ Bin(n, ½) — no
   * normal approximation, valid at the small n where arena
   * comparisons actually live.
   *
   * Exact contract: w, l are exact longs; the tail probability is a
   * shared fold over exact integers — each term C(n,i)/2ⁿ is
   * 2⁻ⁿ·Π_{j=1..k}((n−i+j)/j) with 2⁻ⁿ EXACT in binary (a power of
   * two; any correct pow returns it bit-exactly), the ratio product
   * folded left-to-right from the 1.0 identity (bitwise ≡ DuckDB's
   * first-element `list_reduce`, the qC2/qCH precedent) and the
   * outer tail sum folded left-to-right from +0.0 over POSITIVE
   * terms. p ∈ (0, 1]: plain round. The fold is O((n−k)·n) per
   * group — `maxN` is ENFORCED plan-side (raise_error): past it the
   * per-row fold melts the task and 2⁻ⁿ approaches underflow.
   *
   * Scale shape: one partial/final aggregate to |groups| rows; the
   * fold is per-row arithmetic on constants.
   *
   * @return (byCol, n, wins, losses, p_two rounded 6, defined —
   *         false on empty groups)
   */
  def signTest(resp: DataFrame, byCol: String, winCol: String,
               maxN: Int = 1000): DataFrame = {
    require(maxN > 0 && maxN <= 1074,
      s"maxN must be in [1, 1074], got $maxN — 2^-n underflows past " +
        "1074 and the O(n^2) fold melts long before")
    require(resp.schema(winCol).dataType ==
        org.apache.spark.sql.types.BooleanType,
      s"signTest: $winCol must be boolean (got " +
        s"${resp.schema(winCol).dataType.simpleString}) — exclude ties " +
        "upstream; a silent coercion would bend the null")
    val stats = resp.filter(col(byCol).isNotNull && col(winCol).isNotNull)
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(winCol), 1L).otherwise(0L)).as("wins"),
        sum(when(!col(winCol), 1L).otherwise(0L)).as("losses"))
    val n = col("n")
    val guardedN = when(n <= maxN, n).otherwise(raise_error(concat(
      lit("signTest: group "), col(byCol).cast("string"), lit(" has "),
      n.cast("string"),
      lit(s" untied comparisons > maxN=$maxN — the exact O(n^2) tail " +
        "fold melts its task; sample the comparisons or use the normal " +
        "approximation at this size."))))
    val nd = guardedN.cast("double")
    val k = greatest(col("wins"), col("losses"))
    // term_i = 2^-n * prod_{j=1..i}((n-i+j)/j), folded from the 1.0
    // identity; tail = sum_{i=k..n} term_i folded from +0.0 — both
    // fold shapes shared bitwise with the oracle's list_reduce
    val tail = aggregate(sequence(k.cast("int"), n.cast("int")), lit(0.0),
      (s, i) => s + pow(lit(0.5), nd) *
        aggregate(sequence(lit(1), i), lit(1.0),
          (acc, j) => acc * ((nd - i.cast("double") + j.cast("double")) /
            j.cast("double"))))
    stats.select(col(byCol), col("n"), col("wins"), col("losses"),
      when(n > 0, round(least(lit(1.0), lit(2.0) * tail), 6))
        .otherwise(lit(0.0)).as("p_two"),
      (n > 0).as("defined"))
  }

  /**
   * Stratified (confound-controlled) win rate — the practical
   * length-controlled preference rate (the AlpacaEval-2 problem
   * without the logistic fit): a raw win rate over pairs confounded
   * by, e.g., response length rewards the verbose model; averaging
   * the PER-STRATUM win rates with equal weights (direct
   * standardization) asks "how often does A win WITHIN a length
   * bucket" instead. Reported beside the raw rate — the gap between
   * the two IS the confound's contribution.
   *
   * Exact contract: per-stratum (n_s, w_s) are exact longs; each
   * stratum's rate is ONE division quantized to a 1e-9-grid long
   * (the qCC axis) so the cross-stratum sum is an exact integer in
   * any partition order, and the stratified rate is a fixed
   * division chain (Σq/1e9/k). Rates ∈ [0, 1]: plain round. Empty
   * strata cannot exist (a stratum exists only via its rows).
   *
   * Scale shape: two chained partial/final aggregates —
   * (group, stratum) then group; nothing else.
   *
   * @return (byCol, n, n_strata, raw_rate rounded 6,
   *         stratified_rate rounded 6)
   */
  def stratifiedWinRate(resp: DataFrame, byCol: String, strataCol: String,
                        winCol: String): DataFrame = {
    require(resp.schema(winCol).dataType ==
        org.apache.spark.sql.types.BooleanType,
      s"stratifiedWinRate: $winCol must be boolean (got " +
        s"${resp.schema(winCol).dataType.simpleString})")
    val per = resp.filter(col(byCol).isNotNull && col(strataCol).isNotNull &&
        col(winCol).isNotNull)
      .groupBy(col(byCol), col(strataCol))
      .agg(count(lit(1)).as("__ns"),
        sum(when(col(winCol), 1L).otherwise(0L)).as("__ws"))
    val rateQ = floor(col("__ws").cast("double") /
      col("__ns").cast("double") * lit(1e9) + lit(0.5)).cast("long")
    per.select(col(byCol), col("__ns"), col("__ws"), rateQ.as("__rq"))
      .groupBy(col(byCol))
      .agg(sum(col("__ns")).as("n"), sum(col("__ws")).as("__w"),
        count(lit(1)).as("n_strata"),
        // decimal(38,0): per-stratum rates ≤ 1e9 on the grid, but the
        // cross-stratum sum is bounded only by n_strata·1e9 — nothing
        // caps strata counts (r19 grid-sum audit)
        sum(col("__rq").cast("decimal(38,0)")).as("__sq"))
      .select(col(byCol), col("n"), col("n_strata"),
        round(col("__w").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate"),
        round(col("__sq").cast("double") / lit(1e9) /
          col("n_strata").cast("double"), 6).as("stratified_rate"))
  }

  /**
   * Wald's sequential probability-ratio test monitor (Wald 1945) —
   * the "can I stop this eval yet" operator: an A/B model comparison
   * streaming win/loss verdicts can stop the moment the evidence
   * crosses a boundary, at a FRACTION of the fixed-n sample cost
   * (Wald's theorem: SPRT minimizes expected samples at both
   * hypotheses for the same error rates). Per group, the
   * log-likelihood ratio of H1 (win rate p1) against H0 (p0) after w
   * wins / l losses, and the decision against the
   * (α, β)-error boundaries A = ln((1−β)/α), B = ln(β/(1−α)).
   *
   * Exact contract: all four parameters arrive as integer PERCENTS
   * (the qC8 domain convention), so every input to the float dag —
   * w, l, p0, p1, α, β — is an exact integer and the llr
   * w·ln(p1/p0) + l·ln((100−p1)/(100−p0)) and both boundaries are
   * ONE shared dag mirrored verbatim in the oracle; the boundary
   * COMPARES run on those identical doubles, so the decision string
   * is engine-independent. llr is signed → gateRounded; the decision
   * uses the UNROUNDED value.
   *
   * Scale shape: one partial/final aggregate to |groups| rows.
   *
   * @return (byCol, n, wins, losses, llr rounded 6, decision ∈
   *         {accept_h1, accept_h0, continue})
   */
  def sprtMonitor(resp: DataFrame, byCol: String, winCol: String,
                  p0Pct: Int = 50, p1Pct: Int = 60,
                  alphaPct: Int = 5, betaPct: Int = 5): DataFrame = {
    require(0 < p0Pct && p0Pct < p1Pct && p1Pct < 100,
      s"need 0 < p0 < p1 < 100 in percent, got ($p0Pct, $p1Pct)")
    require(0 < alphaPct && alphaPct < 100 && 0 < betaPct && betaPct < 100,
      s"error rates must be percents in (0, 100), got " +
        s"($alphaPct, $betaPct)")
    require(resp.schema(winCol).dataType ==
        org.apache.spark.sql.types.BooleanType,
      s"sprtMonitor: $winCol must be boolean (got " +
        s"${resp.schema(winCol).dataType.simpleString})")
    val stats = resp.filter(col(byCol).isNotNull && col(winCol).isNotNull)
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(winCol), 1L).otherwise(0L)).as("wins"),
        sum(when(!col(winCol), 1L).otherwise(0L)).as("losses"))
    val winLr = log(lit(p1Pct.toDouble) / lit(p0Pct.toDouble))
    val lossLr = log(lit((100 - p1Pct).toDouble) /
      lit((100 - p0Pct).toDouble))
    val llr = col("wins").cast("double") * winLr +
      col("losses").cast("double") * lossLr
    val upper = log(lit((100 - betaPct).toDouble) / lit(alphaPct.toDouble))
    val lower = log(lit(betaPct.toDouble) / lit((100 - alphaPct).toDouble))
    stats.select(col(byCol), col("n"), col("wins"), col("losses"),
      graft.functions.GateRound(llr, 6).as("llr"),
      when(llr >= upper, lit("accept_h1"))
        .when(llr <= lower, lit("accept_h0"))
        .otherwise(lit("continue")).as("decision"))
  }

  /**
   * Murphy decomposition of the Brier score (Murphy 1973; Brier
   * 1950) — the calibration family's variance analysis: BRIER =
   * RELIABILITY − RESOLUTION + UNCERTAINTY, where reliability is the
   * (bad) calibration gap [[expectedCalibrationError]] measures in
   * L1, resolution is the (good) discrimination the forecaster
   * actually adds, and uncertainty is the base-rate entropy nobody
   * controls — two models with equal ECE can differ entirely in
   * resolution, which is why the decomposition exists. (With binned
   * forecasts the identity holds up to the within-bin variance term;
   * the components are reported, the identity is not asserted.)
   *
   * Exact contract: integer-percent confidences (the qC8 domain,
   * same guard); per-bin (n_b, Σy_b, Σp_b) and the GLOBAL Brier
   * numerator Σ(p_i − 100·y_i)² are exact longs in any partition
   * order (one corpus aggregate carries all four). Brier is ONE
   * division of exact integers. The reliability and resolution terms
   * telescope per bin — n_b·(conf_b−acc_b)² = (Σp_b − 100Σy_b)²/
   * (10⁴·n_b) and n_b·(acc_b−acc)² = (nΣy_b − Σy·n_b)²/(n_b·n²) —
   * each an exact-long numerator (2^53-safe to n < 3e9 docs,
   * documented) over ONE division, quantized to the 1e-9 grid (the
   * qCC axis) so the cross-bin sums are order-free; the final
   * rescalings are fixed division chains mirrored verbatim. All four
   * outputs are non-negative: plain round. Empty input emits the
   * (0, 0.0 …, defined=false) row, never zero rows.
   *
   * Scale shape: ONE corpus partial/final aggregate to ≤ `bins`
   * rows (localCheckpointed — metadata-sized, two consumers), then
   * single-row folds. Nothing corpus-sized survives stage one.
   *
   * @return ONE row: (n, brier, reliability, resolution, uncertainty
   *         — each rounded 6, defined)
   */
  def brierDecomposition(resp: DataFrame, pctCol: String,
                         outcomeCol: String, bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(resp.schema(pctCol).dataType),
      s"brierDecomposition: $pctCol must be integral percent 0-100 (got " +
        s"${resp.schema(pctCol).dataType.simpleString}) — quantize " +
        "probabilities upstream")
    val pct = col(pctCol).cast("long")
    val guarded = when(pct >= 0 && pct <= 100, pct)
      .otherwise(raise_error(concat(
        lit("brierDecomposition: percent out of [0, 100]: "),
        pct.cast("string"))))
    val stats = resp.filter(col(pctCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(least(floor(guarded * bins / lit(100)), lit(bins - 1))
          .cast("int").as("__b"),
        when(col(outcomeCol), 1L).otherwise(0L).as("__y"),
        guarded.as("__p"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__sy"),
        sum(col("__p")).as("__sp"),
        sum((col("__p") - lit(100L) * col("__y")) *
          (col("__p") - lit(100L) * col("__y"))).as("__sq"))
      .localCheckpoint(true) // <= bins rows, two consumers
    val totals = stats.agg(
      coalesce(sum(col("__n")), lit(0L)).as("__tn"),
      coalesce(sum(col("__sy")), lit(0L)).as("__tsy"),
      coalesce(sum(col("__sq")), lit(0L)).as("__tsq"))
    val nd = col("__tn").cast("double")
    val relDiff = col("__sp") - lit(100L) * col("__sy")
    val resDiff = col("__tn") * col("__sy") - col("__tsy") * col("__n")
    def q(t: org.apache.spark.sql.Column) =
      floor(t * lit(1e9) + lit(0.5)).cast("long")
    val terms = stats.crossJoin(broadcast(totals))
      .select(
        q(relDiff.cast("double") * relDiff.cast("double") /
          col("__n").cast("double")).as("__relq"),
        q(resDiff.cast("double") * resDiff.cast("double") /
          col("__n").cast("double")).as("__resq"))
      .agg(coalesce(sum(col("__relq")), lit(0L)).as("__rel"),
        coalesce(sum(col("__resq")), lit(0L)).as("__res"))
    val out = terms.crossJoin(totals)
    val defined = col("__tn") > 0
    out.select(col("__tn").as("n"),
      when(defined, round(col("__tsq").cast("double") /
        (lit(10000.0) * nd), 6)).otherwise(lit(0.0)).as("brier"),
      when(defined, round(col("__rel").cast("double") / lit(1e9) /
        lit(10000.0) / nd, 6)).otherwise(lit(0.0)).as("reliability"),
      when(defined, round(col("__res").cast("double") / lit(1e9) /
        nd / nd / nd, 6)).otherwise(lit(0.0)).as("resolution"),
      when(defined, round((col("__tsy") * (col("__tn") - col("__tsy")))
        .cast("double") / (nd * nd), 6)).otherwise(lit(0.0))
        .as("uncertainty"),
      defined.as("defined"))
  }

  /**
   * Kendall's tau-b rank correlation per group (Kendall 1938; the
   * tau-b tie correction per Agresti 2010 §2.1) — the RANK-based
   * twin of [[scoreCorrelation]]: Pearson r on raw scores is blown
   * around by outlier magnitudes (one 10^6-token response dominates
   * the moments), while tau asks only "do the two judges ORDER the
   * responses the same way" — the judge-ensemble consistency audit
   * at the pair level. Scores must be integral (quantize upstream):
   * every pair then classifies EXACTLY as concordant / discordant /
   * tied-in-x / tied-in-y / tied-in-both with integer counts, and
   * tau_b = (C − D) / (√(n₀−n₁)·√(n₀−n₂)) is per-group float
   * arithmetic over exact longs in ONE association order mirrored in
   * the oracle (n₁ = pairs tied in x = tx + txy, n₂ likewise),
   * [[graft.functions.GateRound]]ed (tau is signed). Groups where
   * either ranking is constant (n₀ = n₁ or n₀ = n₂) emit tau = 0
   * with defined = false, never NaN; single-item groups stay visible
   * through the items-side frame (the qCI visibility convention).
   *
   * Scale shape: the self-join is per-group — candidate volume is
   * Σ_g (|g| choose 2), bounded by `maxGroup` ENFORCED in the plan
   * (the [[winRateMatrix]] raise_error economics: building the
   * DataFrame runs no Spark job, and a hot group refuses loudly
   * mid-job instead of quadratically melting one task). One shuffle
   * on the group key for the join, one partial/final aggregate to
   * |groups| rows. n₀ < maxGroup²/2 keeps every count far below
   * 2^53.
   *
   * @param idCol distinct per observation WITHIN a group (integral) —
   *        orders the pair space so each unordered pair counts once.
   * @return (byCol, n_items, n_pairs, concordant, discordant,
   *         n_tied_x, n_tied_y, n_tied_xy, tau_b rounded 6, defined)
   */
  def kendallTau(resp: DataFrame, byCol: String, idCol: String,
                 xCol: String, yCol: String,
                 maxGroup: Int = 10000): DataFrame = {
    require(maxGroup > 0, s"maxGroup must be positive, got $maxGroup")
    Seq(idCol, xCol, yCol).foreach { c =>
      require(org.apache.spark.sql.graftbridge.ColumnBridge
          .isIntegral(resp.schema(c).dataType),
        s"kendallTau: $c must be integral (got " +
          s"${resp.schema(c).dataType.simpleString}) — pair " +
          "classification needs exact comparisons")
    }
    val clean = resp.filter(col(byCol).isNotNull && col(idCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(byCol).as("__g"), col(idCol).cast("long").as("__i"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
    val items = clean.groupBy(col("__g")).agg(count(lit(1)).as("n_items"))
    // the fan-out guard lives IN the plan (the winRateMatrix
    // pattern): a per-group count joins the a-side and raises mid-job
    // on a group that would quadratically melt its join task
    val a = clean.join(items, Seq("__g"))
      .select(col("__g"), col("__i").as("__ia"),
        when(col("n_items") <= maxGroup, col("__x"))
          .otherwise(raise_error(concat(
            lit("kendallTau: group "), col("__g").cast("string"),
            lit(" has "), col("n_items").cast("string"),
            lit(" items -> quadratic pair melt in one task " +
              s"(maxGroup=$maxGroup). Aggregate or sample the group " +
              "first, or raise maxGroup explicitly.")))).as("__xa"),
        col("__y").as("__ya"))
    val b = clean.select(col("__g"), col("__i").as("__ib"),
      col("__x").as("__xb"), col("__y").as("__yb"))
    val stats = a.join(b, Seq("__g")).filter(col("__ia") < col("__ib"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("__xa") < col("__xb") && col("__ya") < col("__yb")) ||
            (col("__xa") > col("__xb") && col("__ya") > col("__yb")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("__xa") < col("__xb") && col("__ya") > col("__yb")) ||
            (col("__xa") > col("__xb") && col("__ya") < col("__yb")), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("__xa") === col("__xb") && col("__ya") =!= col("__yb"),
          1L).otherwise(0L)).as("n_tied_x"),
        sum(when(col("__ya") === col("__yb") && col("__xa") =!= col("__xb"),
          1L).otherwise(0L)).as("n_tied_y"),
        sum(when(col("__xa") === col("__xb") && col("__ya") === col("__yb"),
          1L).otherwise(0L)).as("n_tied_xy"))
    val joined = items.join(stats, Seq("__g"), "left")
    def z(c: String) = coalesce(col(c), lit(0L))
    val n0 = z("n_pairs")
    val n1 = z("n_tied_x") + z("n_tied_xy")
    val n2 = z("n_tied_y") + z("n_tied_xy")
    val defined = n0 > n1 && n0 > n2
    joined.select(col("__g").as(byCol), col("n_items"),
      n0.as("n_pairs"), z("concordant").as("concordant"),
      z("discordant").as("discordant"), z("n_tied_x").as("n_tied_x"),
      z("n_tied_y").as("n_tied_y"), z("n_tied_xy").as("n_tied_xy"),
      when(defined, graft.functions.GateRound(
        (z("concordant") - z("discordant")).cast("double") /
          (sqrt((n0 - n1).cast("double")) * sqrt((n0 - n2).cast("double"))),
        6)).otherwise(lit(0.0)).as("tau_b"),
      defined.as("defined"))
  }

  /**
   * Spearman's rho per group — rank correlation WITHOUT the
   * quadratic pair space: Pearson r on average ranks, the
   * [[kendallTau]] companion for groups too large to pair (tau's
   * self-join is Σ|g|², rho is two sorts and one aggregate). The
   * tie-handling trick keeps it exact: the average rank of a tied
   * block ((first + last)/2) is a half-integer, so the DOUBLED rank
   * `2·rank + eq − 1` (dense `rank()` = strictly-smaller + 1, `eq` =
   * block size) is an exact long, and the whole [[scoreCorrelation]]
   * exact-BIGINT Pearson dag applies verbatim to (2rx, 2ry) — the
   * doubling cancels in r. Scores must be integral (quantize
   * upstream); constant rankings emit rho = 0 / defined = false.
   *
   * Scale shape: one hash exchange on the group key, then two
   * in-partition sorts (the two rank windows; the per-(group, value)
   * tie counts reuse the same exchange — HashPartitioning(g)
   * satisfies the (g, x) clustering), then the one partial/final
   * Pearson aggregate to |groups| rows. No joins, no pair explosion.
   * Exactness bound: n·Σ(2rx·2ry) ≤ 4n⁴ must stay below 2^53 →
   * `maxGroup` defaults to 6000 (4·6000⁴ ≈ 5.2e15) and is ENFORCED
   * in the plan (raise_error, the hot-group convention) — past it
   * the doubled-rank moments would silently lose bits, not melt a
   * task, which is exactly why the refusal must be loud.
   *
   * @return (byCol, n, rho rounded 6, defined)
   */
  def spearmanRho(resp: DataFrame, byCol: String, xCol: String,
                  yCol: String, maxGroup: Int = 6000): DataFrame = {
    require(maxGroup > 0 && maxGroup <= 6900,
      s"maxGroup must be in [1, 6900], got $maxGroup — 4·n^4 exceeds " +
        "2^53 past n = 6900 and the doubled-rank moments lose bits")
    Seq(xCol, yCol).foreach { c =>
      require(org.apache.spark.sql.graftbridge.ColumnBridge
          .isIntegral(resp.schema(c).dataType),
        s"spearmanRho: $c must be integral (got " +
          s"${resp.schema(c).dataType.simpleString}) — exact rank ties " +
          "need exact equality")
    }
    val clean = resp.filter(col(byCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(byCol).as("__g"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
    import org.apache.spark.sql.expressions.Window
    val g = Window.partitionBy(col("__g"))
    val rx = lit(2L) * rank().over(g.orderBy(col("__x"))).cast("long") +
      count(lit(1)).over(Window.partitionBy(col("__g"), col("__x"))) -
      lit(1L)
    val ry = lit(2L) * rank().over(g.orderBy(col("__y"))).cast("long") +
      count(lit(1)).over(Window.partitionBy(col("__g"), col("__y"))) -
      lit(1L)
    val n = count(lit(1)).over(g)
    val ranked = clean.select(col("__g"),
      when(n <= maxGroup, rx).otherwise(raise_error(concat(
        lit("spearmanRho: group "), col("__g").cast("string"),
        lit(" has "), n.cast("string"),
        lit(s" items > maxGroup=$maxGroup -> the doubled-rank moments " +
          "exceed 2^53 and the exact Pearson contract breaks. Sample " +
          "the group or use kendallTau on a sampled pair space."))))
        .as("__rx"),
      ry.as("__ry"))
    scoreCorrelation(ranked, "__g", "__rx", "__ry")
      .select(col("__g").as(byCol), col("n"), col("r").as("rho"),
        col("defined"))
  }

  /**
   * McNemar's paired-classifier test statistic per group (McNemar
   * 1947, the Edwards continuity correction) — the A/B audit for two
   * quality filters / judges scored against the SAME labeled
   * examples: accuracy deltas hide on correlated errors, while
   * McNemar looks only at the DISCORDANT cells (A right where B is
   * wrong and vice versa), which is the information the paired
   * design actually carries. All four contingency cells are exact
   * longs in any partition order; the statistic
   * (max(|b−c|−1, 0))² / (b+c) is integer arithmetic to the last
   * step and ONE division (the max-with-0 keeps the b = c case at
   * exactly 0 instead of the correction's 1/(b+c) artifact — χ²(1)
   * of an observed zero difference is zero). b + c = 0 (the two
   * classifiers never disagree) emits 0 with defined = false. The
   * statistic is non-negative: plain round, no gateRound needed.
   *
   * Scale shape: one partial/final aggregate to |groups| rows —
   * nothing else.
   *
   * @return (byCol, n, n_both_right, n_a_only, n_b_only,
   *         n_both_wrong, mcnemar rounded 6, defined)
   */
  def mcnemar(resp: DataFrame, byCol: String, predACol: String,
              predBCol: String, truthCol: String): DataFrame = {
    Seq(predACol, predBCol, truthCol).foreach { c =>
      require(resp.schema(c).dataType ==
          org.apache.spark.sql.types.BooleanType,
        s"mcnemar: $c must be boolean (got " +
          s"${resp.schema(c).dataType.simpleString}) — threshold scores " +
          "upstream; a silent truthiness coercion would bend the cells")
    }
    val okA = col(predACol) === col(truthCol)
    val okB = col(predBCol) === col(truthCol)
    val stats = resp.filter(col(byCol).isNotNull &&
        col(predACol).isNotNull && col(predBCol).isNotNull &&
        col(truthCol).isNotNull)
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n"),
        sum(when(okA && okB, 1L).otherwise(0L)).as("n_both_right"),
        sum(when(okA && !okB, 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!okA && okB, 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!okA && !okB, 1L).otherwise(0L)).as("n_both_wrong"))
    val bc = col("n_a_only") + col("n_b_only")
    val numi = greatest(abs(col("n_a_only") - col("n_b_only")) - lit(1L),
      lit(0L))
    stats.select(col(byCol), col("n"), col("n_both_right"),
      col("n_a_only"), col("n_b_only"), col("n_both_wrong"),
      when(bc > 0, round((numi * numi).cast("double") / bc.cast("double"),
        6)).otherwise(lit(0.0)).as("mcnemar"),
      (bc > 0).as("defined"))
  }

  /**
   * Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg
   * 1995) — the multiple-comparisons layer the per-group significance
   * operators ([[signTest]], [[mcnemar]], [[sprtMonitor]]) need the
   * moment a real consumer runs dozens of A/B cells at once: testing
   * m hypotheses at level α each lets the family-wise lie rate grow
   * ~linearly in m; BH rejects the largest prefix of the p-value
   * order statistics satisfying p₍ᵢ₎ ≤ q·i/m and bounds the expected
   * FALSE-DISCOVERY fraction by q (valid under independence and PRDS
   * positive dependence).
   *
   * Exact contract: p-values arrive on the 1e-9 grid (every emitting
   * operator rounds to 6 decimals), so pq = ⌊p·10⁹ + ½⌋ recovers the
   * grid long EXACTLY; the acceptance test pq·m·100 ≤ q%·i·10⁹ is an
   * INTEGER compare (qPct an integer percent, the qC8 domain
   * convention), and the step-up cutoff k = max accepted rank is a
   * max over exact integers — no float enters the decision. Bound:
   * the compare's left side tops out at 10¹¹·m, so m must stay below
   * 2⁶³/10¹¹ ≈ 9.2·10⁷ tests per family — ENFORCED plan-side
   * (raise_error), the [[signTest]] maxN convention. Rank ties
   * (equal pq) break by test id ASC; which tied copy gets the lower
   * rank cannot change the rejection SET (step-up accepts a prefix,
   * and equal p's are accepted or rejected together since acceptance
   * at the larger rank implies acceptance of every smaller rank).
   * p outside [0, 1] is REFUSED (raise_error) — a clamp would
   * silently launder a broken upstream test.
   *
   * Null p (test not run) rows are EXCLUDED from the family — m
   * counts performed tests only (an all-null family vanishes; a null
   * inside the order statistics would make every rank
   * engine-dependent).
   *
   * Scale shape: one hash exchange on the family key + one
   * in-partition sort (row_number, the family count and the step-up
   * max share the exchange — the qCO/qCZ shape). No joins, no driver
   * state; families of any cardinality sort distributed.
   *
   * @return one row per performed test: (familyCol, idCol, p, rank,
   *         m, k — the step-up cutoff rank, 0 when nothing is
   *         rejected — and reject)
   */
  def bhFdr(tests: DataFrame, familyCol: String, idCol: String,
            pCol: String, qPct: Int): DataFrame = {
    require(qPct >= 1 && qPct <= 99,
      s"qPct must be an integer percent in [1, 99], got $qPct")
    val ranked = rankedPvals(tests, familyCol, idCol, pCol, "bhFdr")
    val acc = when(col("__pq") * col("__m") * lit(100L) <=
      lit(qPct.toLong) * col("__rnk") * lit(1000000000L), col("__rnk"))
      .otherwise(lit(0L))
    import org.apache.spark.sql.expressions.Window
    val cutoff = max(acc).over(Window.partitionBy(col("__f")))
    ranked.select(col("__f").as(familyCol), col("__id").as(idCol),
      col("__p").as("p"), col("__rnk").as("rank"), col("__m").as("m"),
      cutoff.as("k"),
      (col("__rnk") <= cutoff).as("reject"))
  }

  /** Shared p-value ranking frame for the multiple-comparisons family
    * ([[bhFdr]]/[[holmBonferroni]]): filters null (family, id, p),
    * REFUSES p outside [0, 1] and families past 9.2e7 tests (the
    * integer acceptance compares' signed-64 bound), recovers the
    * 1e-9-grid long from the round-6 p, and ranks by (pq, id) within
    * the family — one exchange + one in-partition sort. Columns:
    * (__f, __id, __p, __pq, __rnk, __m). */
  private def rankedPvals(tests: DataFrame, familyCol: String,
                          idCol: String, pCol: String,
                          opName: String): DataFrame = {
    val pd = col(pCol).cast("double")
    val pOk = when(pd >= 0.0 && pd <= 1.0, pd).otherwise(raise_error(concat(
      lit(s"$opName: p-value "), pd.cast("string"), lit(" for test "),
      col(idCol).cast("string"),
      lit(" is outside [0, 1] — refusing to rank a broken test"))))
    val clean = tests
      .filter(col(familyCol).isNotNull && col(idCol).isNotNull &&
        col(pCol).isNotNull)
      .select(col(familyCol).as("__f"), col(idCol).as("__id"),
        pOk.as("__p"),
        floor(pOk * lit(1e9) + lit(0.5)).cast("long").as("__pq"))
    import org.apache.spark.sql.expressions.Window
    val fam = Window.partitionBy(col("__f"))
    val rnk = row_number()
      .over(fam.orderBy(col("__pq"), col("__id"))).cast("long")
    val m = count(lit(1)).over(fam)
    val mOk = when(m <= 92000000L, m).otherwise(raise_error(concat(
      lit(s"$opName: family "), col("__f").cast("string"), lit(" has "),
      m.cast("string"),
      lit(" tests > 9.2e7 — the integer acceptance compare would " +
        "overflow signed-64; split the family or pre-screen"))))
    clean.select(col("__f"), col("__id"), col("__p"),
      col("__pq"), rnk.as("__rnk"), mOk.as("__m"))
  }

  /**
   * Holm–Bonferroni step-down FWER control (Holm 1979) — the STRICT
   * sibling of [[bhFdr]] for the "any false positive is fatal"
   * regime (shipping gate flips, safety evals): controls the
   * FAMILY-WISE error rate at α with no dependence assumption at
   * all, uniformly more powerful than plain Bonferroni. Step-DOWN:
   * walk the p-value order statistics from the smallest and reject
   * while p₍ᵢ₎ ≤ α/(m−i+1); the FIRST failure stops everything after
   * it (where BH's step-up rescues earlier failures, Holm never
   * does).
   *
   * Exact contract: the acceptance test pq·(m−i+1)·100 ≤ α%·10⁹ is
   * an INTEGER compare over the same 1e-9-grid longs as [[bhFdr]]
   * (same ranking frame, same 9.2e7-tests bound, same null/range
   * refusals); the stop rank k = (first failing rank) − 1 — or m
   * when nothing fails — is a min over exact integers. Tie order
   * (pq, id) cannot change the rejection set: equal p's share the
   * acceptance verdict at consecutive ranks, and a failure between
   * tied copies is impossible (the compare is monotone in rank for
   * fixed pq).
   *
   * Scale shape: identical to [[bhFdr]] — one exchange on the family
   * key + one in-partition sort; no joins.
   *
   * @return one row per performed test: (familyCol, idCol, p, rank,
   *         m, k — the step-down stop rank, 0 when the smallest p
   *         already fails — and reject)
   */
  def holmBonferroni(tests: DataFrame, familyCol: String, idCol: String,
                     pCol: String, alphaPct: Int): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 99,
      s"alphaPct must be an integer percent in [1, 99], got $alphaPct")
    val ranked = rankedPvals(tests, familyCol, idCol, pCol,
      "holmBonferroni")
    val fail = when(col("__pq") * (col("__m") - col("__rnk") + lit(1L)) *
      lit(100L) > lit(alphaPct.toLong) * lit(1000000000L), col("__rnk"))
    import org.apache.spark.sql.expressions.Window
    val firstFail = min(fail).over(Window.partitionBy(col("__f")))
    val cutoff = coalesce(firstFail - lit(1L), col("__m"))
    ranked.select(col("__f").as(familyCol), col("__id").as(idCol),
      col("__p").as("p"), col("__rnk").as("rank"), col("__m").as("m"),
      cutoff.as("k"),
      (col("__rnk") <= cutoff).as("reject"))
  }

  /**
   * Deterministic paired permutation (sign-flip) test (Fisher 1935;
   * the randomization test) — the EXACT-ARITHMETIC companion to
   * [[pairedBootstrapCi]] and the distribution-free alternative to
   * [[signTest]] that uses the MAGNITUDES of the paired deltas, not
   * just their signs: under H0 (no systematic difference) each
   * paired delta d is symmetric around 0, so every sign assignment
   * is equally likely; the p-value is the fraction of sign-flip
   * permutations whose |Σ±d| reaches the observed |Σd|.
   *
   * Exact contract: EVERYTHING in the decision is integer — each
   * permutation's statistic Σ±d is an exact long in any partition
   * order, the extremeness compare |s_r| ≥ |Σd| is an integer
   * compare, and the p-value (#extreme + 1)/(P + 1) (the add-one
   * estimator — never exactly 0, the standard finite-P correction)
   * is ONE division of exact integers. The flip for (row i,
   * permutation r) is the PARITY of the 40-bit md5 draw
   * ([[Sampling.hash40]], u(id, r, salt) mod 2) — any engine replays
   * identical permutations from (id, salt) alone; the observed
   * statistic rides the same plan as pseudo-permutation r = −1 with
   * sign ≡ +1 (never counted). Bound: Σ|d| per group must fit
   * signed-64.
   *
   * Scale shape: one explode (×(P+1)) → one partial/final hash
   * aggregate to (P+1)·|groups| rows (map-side combine — the
   * [[pairedBootstrapCi]] shape) → one window + one aggregate over
   * permutation summaries. The corpus never sorts.
   *
   * Compute amplification (the 100 TB budget — SCALE.md "Resampling
   * amplification"): the shuffle carries only permutation summaries,
   * but the scan pays ×(P+1) — every row evaluates P md5 parity
   * draws and P+1 aggregate updates of pure CPU before anything
   * combines. At P = 10⁴ that is 10⁴ draws/row. P bounds the
   * p-value's resolution at 1/(P+1), and the test's POWER saturates
   * long before the corpus does — permute a deterministic sample
   * ([[Sampling.stratifiedSample]] per group) when n per group
   * exceeds ~10⁶; past that the p-value is pinned at the add-one
   * floor for any real effect anyway.
   *
   * @return one row per group: (byCol, n, sum_d, n_extreme, p
   *         rounded 6, defined = n > 0)
   */
  def permutationTest(df: DataFrame, byCol: String, idCol: String,
                      aCol: String, bCol: String, p: Int = 200,
                      salt: String = "s0"): DataFrame = {
    require(p >= 1 && p <= 10000, s"p must be in [1, 10000], got $p")
    Seq(aCol, bCol).foreach { c =>
      require(org.apache.spark.sql.graftbridge.ColumnBridge
          .isIntegral(df.schema(c).dataType),
        s"permutationTest: $c must be integral (got " +
          s"${df.schema(c).dataType.simpleString}) — quantize scores " +
          "upstream; the all-integer decision is the point")
    }
    // a null id is a key like any other: it draws as "null", the
    // [[Sampling.hash40]] convention (the composable spelling's)
    val base = df.filter(col(byCol).isNotNull &&
        col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(byCol).as("__g"), col(idCol).as("__id"),
        (col(aCol).cast("long") - col(bCol).cast("long")).as("__d"))
    // one fused kernel call emits all P+1 (r, parity) draws per row
    // (the qDF poisson_resamples shape; bit-equality with the
    // explode+hash40 chain pinned in HashExprsSpec)
    val perms = base
      .select(col("__g"), col("__d"),
        explode(graft.functions.HashExprs.sign_resamples(
          coalesce(col("__id").cast("string"), lit("null")), salt, p)).as("__rs"))
      .select(col("__g"),
        (shiftright(col("__rs"), 1) - lit(2L)).as("__r"),
        ((lit(1L) - lit(2L) * col("__rs").bitwiseAND(lit(1L))) *
          col("__d")).as("__sd"))
      .groupBy(col("__g"), col("__r"))
      .agg(sum(col("__sd")).as("__s"), count(lit(1)).as("__n"))
    import org.apache.spark.sql.expressions.Window
    val fam = Window.partitionBy(col("__g"))
    val obs = max(when(col("__r") === -1, col("__s"))).over(fam)
    perms.select(col("__g"), col("__r"), col("__s"), col("__n"),
        obs.as("__obs"))
      .groupBy(col("__g"))
      .agg(max(when(col("__r") === -1, col("__n"))).as("n"),
        max(col("__obs")).as("sum_d"),
        sum(when(col("__r") >= 0 &&
          abs(col("__s")) >= abs(col("__obs")), 1L).otherwise(0L))
          .as("n_extreme"))
      .select(col("__g").as(byCol), col("n"), col("sum_d"),
        col("n_extreme"),
        round((col("n_extreme") + lit(1L)).cast("double") /
          lit((p + 1).toDouble), 6).as("p_value"),
        (col("n") > 0).as("defined"))
  }

  /**
   * Benjamini–Yekutieli FDR control (Benjamini & Yekutieli 2001) —
   * [[bhFdr]] for ARBITRARY dependence: BH's q-guarantee needs
   * independence or positive dependence; when the family's tests
   * share data (overlapping slices, one model scored many ways), BY
   * divides the budget by the harmonic number c(m) = Σ₁..m 1/i and
   * holds the FDR under ANY dependence — the conservative default
   * when the dependence structure is unknown.
   *
   * Exact contract: same ranked frame, grid recovery, bounds and
   * refusals as [[bhFdr]]; c(m) accumulates per-rank 1/i terms on
   * the 1e-9 grid (exact-long window sum over the family — order-
   * free); the acceptance pq·m·100·c(m) ≤ q%·i·10⁹ multiplies the
   * integer left side by the de-quantized c(m), so the boundary
   * COMPARES run on identical doubles in any engine (the qCV
   * decision precedent — the pure-integer form would need a 10¹⁸
   * product headroom c(m) doesn't leave). Step-up cutoff = window
   * max, as BH.
   *
   * Scale shape: identical to [[bhFdr]] plus one more unordered
   * window aggregate on the same exchange.
   *
   * @return one row per performed test: (familyCol, idCol, p, rank,
   *         m, c_m rounded 6, k, reject)
   */
  def byFdr(tests: DataFrame, familyCol: String, idCol: String,
            pCol: String, qPct: Int): DataFrame = {
    require(qPct >= 1 && qPct <= 99,
      s"qPct must be an integer percent in [1, 99], got $qPct")
    val ranked = rankedPvals(tests, familyCol, idCol, pCol, "byFdr")
    import org.apache.spark.sql.expressions.Window
    val fam = Window.partitionBy(col("__f"))
    val hq = floor(lit(1.0) / col("__rnk").cast("double") * lit(1e9) +
      lit(0.5)).cast("long")
    val cmq = sum(hq).over(fam)
    val withCm = ranked.select(col("__f"), col("__id"), col("__p"),
      col("__pq"), col("__rnk"), col("__m"), cmq.as("__cmq"))
    val cm = col("__cmq").cast("double") / lit(1e9)
    val acc = when((col("__pq") * col("__m") * lit(100L)).cast("double") *
      cm <= (lit(qPct.toLong) * col("__rnk")).cast("double") * lit(1e9),
      col("__rnk")).otherwise(lit(0L))
    val cutoff = max(acc).over(Window.partitionBy(col("__f")))
    withCm.select(col("__f").as(familyCol), col("__id").as(idCol),
      col("__p").as("p"), col("__rnk").as("rank"), col("__m").as("m"),
      round(cm, 6).as("c_m"), cutoff.as("k"),
      (col("__rnk") <= cutoff).as("reject"))
  }

  /**
   * Newcombe hybrid-Wilson confidence interval for a difference of
   * proportions (Newcombe 1998 method 10; the interval
   * Brown–Cai–DasGupta-style robustness carries to DELTAS) — the
   * closed-form companion to [[pairedBootstrapCi]] for the
   * unpaired two-arm accuracy gap: the naive Wald interval on
   * p̂₁ − p̂₂ collapses at extreme rates and small n (exactly the
   * eval regime); Newcombe squares the per-arm WILSON bounds into
   * the delta — lo = Δ̂ − √((p̂₁−l₁)² + (u₂−p̂₂)²),
   * hi = Δ̂ + √((u₁−p̂₁)² + (l₂−p̂₂)²).
   *
   * Float contract: every input (w, n per arm) is an exact long;
   * both Wilson bounds reuse the [[winRateConfidence]] fixed dag at
   * z = 1.96 VERBATIM, and the hybrid combination is a further
   * fixed dag — no float accumulation anywhere (the per-group
   * shape). Δ̂ and both bounds are signed → gateRounded. An empty
   * arm → defined = false.
   *
   * Scale shape: one partial/final aggregate to |groups| rows.
   *
   * @return (byCol, n_a, n_b, wins_a, wins_b, diff, ci_lo, ci_hi —
   *         rounded 6, defined)
   */
  def newcombeDiffCi(df: DataFrame, byCol: String, armCol: String,
                     successCol: String): DataFrame = {
    Seq(armCol, successCol).foreach { c =>
      require(df.schema(c).dataType ==
          org.apache.spark.sql.types.BooleanType,
        s"newcombeDiffCi: $c must be boolean (got " +
          s"${df.schema(c).dataType.simpleString})")
    }
    val arm = col(armCol)
    val s = col(successCol)
    val stats = df.filter(col(byCol).isNotNull && arm.isNotNull &&
        s.isNotNull)
      .groupBy(col(byCol))
      .agg(sum(when(arm, 1L).otherwise(0L)).as("n_a"),
        sum(when(arm && s, 1L).otherwise(0L)).as("wins_a"),
        sum(when(!arm, 1L).otherwise(0L)).as("n_b"),
        sum(when(!arm && s, 1L).otherwise(0L)).as("wins_b"))
    val z = lit(1.96)
    val z2 = z * z
    def wilson(w: Column, n: Column): (Column, Column, Column) = {
      val nD = n.cast("double")
      val p = w.cast("double") / nD
      val center = p + z2 / (lit(2.0) * nD)
      val margin = z * sqrt(p * (lit(1.0) - p) / nD +
        z2 / (lit(4.0) * nD * nD))
      val den = lit(1.0) + z2 / nD
      (p, (center - margin) / den, (center + margin) / den)
    }
    val (p1, l1, u1) = wilson(col("wins_a"), col("n_a"))
    val (p2, l2, u2) = wilson(col("wins_b"), col("n_b"))
    val diff = p1 - p2
    val lo = diff - sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2))
    val hi = diff + sqrt((u1 - p1) * (u1 - p1) + (l2 - p2) * (l2 - p2))
    val defined = col("n_a") > 0 && col("n_b") > 0
    stats.select(col(byCol), col("n_a"), col("n_b"), col("wins_a"),
      col("wins_b"),
      when(defined, graft.functions.GateRound(diff, 6))
        .otherwise(lit(0.0)).as("diff"),
      when(defined, graft.functions.GateRound(lo, 6))
        .otherwise(lit(0.0)).as("ci_lo"),
      when(defined, graft.functions.GateRound(hi, 6))
        .otherwise(lit(0.0)).as("ci_hi"),
      defined.as("defined"))
  }

  /**
   * Mantel–Haenszel pooled odds ratio (Mantel & Haenszel 1959) —
   * the stratified 2×2 pooling [[stratifiedWinRate]]'s rate view
   * can't give: K strata each contribute a (exposed×success) table,
   * and OR_MH = Σ aᵢdᵢ/nᵢ / Σ bᵢcᵢ/nᵢ estimates the COMMON odds
   * ratio free of the confound that defined the strata (Simpson's
   * paradox insurance: pooling the raw tables can reverse the
   * effect; MH cannot). The meta-analysis primitive for "does the
   * filter help, controlling for source".
   *
   * Exact contract: the four cells per stratum are exact longs; each
   * stratum's aᵢdᵢ/nᵢ and bᵢcᵢ/nᵢ is a fixed float dag over them
   * quantized to the 1e-9 grid (terms ≤ nᵢ/4 — signed-64 holds to
   * ~3.7·10¹⁰-row strata), so both cross-stratum sums are exact in
   * any partition order; OR is ONE division of the de-quantized
   * sums and ln OR one further libm call (the parity precedent).
   * Zero denominator (no stratum has a discordant pair) → defined =
   * false.
   *
   * Scale shape: two chained partial/final aggregates — (group,
   * stratum) then group; nothing else (the stratifiedWinRate shape).
   *
   * @return (byCol, n, n_strata, or_mh, ln_or — rounded 6
   *         (ln gateRounded), defined)
   */
  def mantelHaenszel(df: DataFrame, byCol: String, stratumCol: String,
                     exposedCol: String, successCol: String): DataFrame = {
    Seq(exposedCol, successCol).foreach { c =>
      require(df.schema(c).dataType ==
          org.apache.spark.sql.types.BooleanType,
        s"mantelHaenszel: $c must be boolean (got " +
          s"${df.schema(c).dataType.simpleString})")
    }
    val e = col(exposedCol)
    val s = col(successCol)
    val per = df.filter(col(byCol).isNotNull && col(stratumCol).isNotNull &&
        e.isNotNull && s.isNotNull)
      .groupBy(col(byCol).as("__g"), col(stratumCol).as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(e && s, 1L).otherwise(0L)).as("__a"),
        sum(when(e && !s, 1L).otherwise(0L)).as("__b"),
        sum(when(!e && s, 1L).otherwise(0L)).as("__c"),
        sum(when(!e && !s, 1L).otherwise(0L)).as("__d"))
    def d(c: Column) = c.cast("double")
    val qNum = floor(d(col("__a")) * d(col("__d")) / d(col("__n")) *
      lit(1e9) + lit(0.5)).cast("long")
    val qDen = floor(d(col("__b")) * d(col("__c")) / d(col("__n")) *
      lit(1e9) + lit(0.5)).cast("long")
    val stats = per
      .select(col("__g"), col("__n"), qNum.as("__qn"), qDen.as("__qd"))
      .groupBy(col("__g"))
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("n_strata"),
        // decimal(38,0): per-stratum a·d/n, b·c/n ≤ n_s·1e9/4 on the
        // grid, but the cross-stratum sums are bounded only by
        // n_total·1e9/4 — a ~3.7e10-row group wraps a LONG sum (r19
        // grid-sum audit)
        sum(col("__qn").cast("decimal(38,0)")).as("__sn"),
        sum(col("__qd").cast("decimal(38,0)")).as("__sd"))
    val orMh = d(col("__sn")) / d(col("__sd"))
    val defined = col("__sd") > lit(0L).cast("decimal(38,0)")
    stats.select(col("__g").as(byCol), col("n"), col("n_strata"),
      when(defined, round(orMh, 6)).otherwise(lit(0.0)).as("or_mh"),
      when(defined && col("__sn") > 0L,
        graft.functions.GateRound(log(orMh), 6)).otherwise(lit(0.0))
        .as("ln_or"),
      defined.as("defined"))
  }

  /**
   * Wilcoxon signed-rank test statistic (Wilcoxon 1945) — the
   * middle rung of the paired-significance ladder: [[signTest]]
   * uses only SIGNS, [[permutationTest]] resamples raw magnitudes;
   * Wilcoxon uses magnitude RANKS — robust to wild outliers yet far
   * more powerful than the sign test, and the classic default for
   * paired score comparisons. Zero deltas are EXCLUDED (the
   * Wilcoxon convention; their count is reported), |d| gets doubled
   * average ranks, W⁺ sums the positive deltas' ranks, and z is the
   * tie-corrected normal deviate.
   *
   * Exact contract: the doubled-rank trick ([[Classification
   * .rankSumAuc]]) keeps W2⁺ = 2·W⁺ an exact long in any partition
   * order; the numerator W⁺ − n(n+1)/4 = (2·W2⁺ − n(n+1))/4 has an
   * EXACT integer top, and the variance n(n+1)(2n+1)/24 − Σ(t³−t)/48
   * scales by 48 into the exact long 2n(n+1)(2n+1) − Σ(t³−t) (tie
   * sums per-row as t²−1, the Kruskal–Wallis trick); z is one fixed
   * dag over those two exact longs. Bound: 4n³ < 2⁶³ → n ≤ 1.31·10⁶
   * nonzero deltas per group — ENFORCED plan-side via `maxN`;
   * sample larger groups. All-zero or all-tied-at-one-value groups
   * with zero variance → defined = false.
   *
   * Scale shape: one hash exchange on the group key + one
   * in-partition sort over the NONZERO deltas (rank, tie and count
   * windows share it), one partial/final aggregate; the zero-delta
   * census is a second aggregate over the projected frame joined
   * back at |groups| rows (the cochranQ two-pass convention —
   * project early).
   *
   * @return (byCol, n_nonzero, n_zero, w2_plus — the exact doubled
   *         rank sum, z gateRounded 6, defined)
   */
  def wilcoxonSignedRank(df: DataFrame, byCol: String, aCol: String,
                         bCol: String, maxN: Long = 1300000L): DataFrame = {
    require(maxN > 0 && maxN <= 1310000L,
      s"maxN must be in [1, 1.31e6], got $maxN — the exact 48-scaled " +
        "variance needs 4n^3 < 2^63")
    Seq(aCol, bCol).foreach { c =>
      require(org.apache.spark.sql.graftbridge.ColumnBridge
          .isIntegral(df.schema(c).dataType),
        s"wilcoxonSignedRank: $c must be integral (got " +
          s"${df.schema(c).dataType.simpleString}) — exact rank ties " +
          "need exact equality")
    }
    val d0 = df.filter(col(byCol).isNotNull && col(aCol).isNotNull &&
        col(bCol).isNotNull)
      .select(col(byCol).as("__g"),
        (col(aCol).cast("long") - col(bCol).cast("long")).as("__d"))
    val zeros = d0.groupBy(col("__g"))
      .agg(sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val nz = d0.filter(col("__d") =!= 0L)
      .select(col("__g"), col("__d"), abs(col("__d")).as("__ad"))
    import org.apache.spark.sql.expressions.Window
    val gw = Window.partitionBy(col("__g"))
    val r2 = lit(2L) * rank().over(gw.orderBy(col("__ad"))).cast("long") +
      count(lit(1)).over(Window.partitionBy(col("__g"), col("__ad"))) -
      lit(1L)
    val t = count(lit(1)).over(Window.partitionBy(col("__g"), col("__ad")))
    val n = count(lit(1)).over(gw)
    val nOk = when(n <= maxN, n).otherwise(raise_error(concat(
      lit("wilcoxonSignedRank: group "), col("__g").cast("string"),
      lit(" has "), n.cast("string"),
      lit(s" nonzero deltas > maxN=$maxN — the exact 48-scaled " +
        "variance overflows signed-64; sample the group"))))
    val stats = nz
      .select(col("__g"), col("__d"), r2.as("__r2"), t.as("__t"),
        nOk.as("__n"))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("n_nonzero"),
        sum(when(col("__d") > 0, col("__r2")).otherwise(0L))
          .as("w2_plus"),
        sum(col("__t") * col("__t") - lit(1L)).as("__ties"))
    val nn = col("n_nonzero")
    val num = lit(2L) * col("w2_plus") - nn * (nn + 1L)
    val v48 = lit(2L) * nn * (nn + 1L) * (lit(2L) * nn + 1L) -
      col("__ties")
    val defined = nn > 0 && v48 > 0L
    val z = (num.cast("double") / lit(4.0)) /
      sqrt(v48.cast("double") / lit(48.0))
    zeros.join(stats, Seq("__g"), "left")
      .select(col("__g").as(byCol),
        coalesce(col("n_nonzero"), lit(0L)).as("n_nonzero"),
        col("n_zero"),
        coalesce(col("w2_plus"), lit(0L)).as("w2_plus"),
        when(defined, graft.functions.GateRound(z, 6)).otherwise(lit(0.0))
          .as("z"),
        coalesce(defined, lit(false)).as("defined"))
  }

  /** ⌊CDF_Poisson(1)(k)·2⁴⁰⌋ for k = 0..7 — the deterministic
    * inverse-CDF table [[pairedBootstrapCi]] maps a 40-bit uniform
    * draw through. Hardcoded (not computed via exp) so the SAME
    * integer literals appear in the operator and in any oracle
    * replica — no libm in the draw path. */
  private[graft] val PoissonThresholds40: Seq[Long] = Seq(
    404487723187L, 808975446375L, 1011219307969L, 1078633928500L,
    1095487583633L, 1098858314660L, 1099420103164L, 1099500358665L)

  /**
   * Deterministic paired-bootstrap percentile confidence interval
   * (Efron 1979; Poisson-bootstrap form per Chamandy et al. 2012,
   * the form that distributes) — the NONPARAMETRIC companion to the
   * Wilson interval: a CI for the mean paired difference (accuracy
   * delta, mean reward delta) that assumes nothing about the delta's
   * distribution. Resample r ∈ [0, B) draws row i with weight
   * w(r, i) = Poisson(1)⁻¹CDF of the engine-independent 40-bit md5
   * draw ([[Sampling.hash40]]'s convention: u = first 10 hex chars
   * of md5("id r salt")) — so ANY engine replays the same resamples
   * from (id, salt) alone; each resample's mean delta is a ratio of
   * EXACT integer sums (Σw·d / Σw), and the CI is two order
   * statistics of the B resample means (percentile method).
   *
   * Draw contract: u < [[PoissonThresholds40]](k) ⇒ w ≤ k, else
   * w = 8 — the inverse CDF truncates at 8 (P(X ≥ 8) ≈ 1.0·10⁻⁵
   * lands on 8; the mean-delta statistic is weight-normalized, so
   * the truncation bias on the CI is nil to the 1e-9 grid). The
   * POINT estimate rides the same plan as pseudo-resample r = −1
   * with w ≡ 1 (never drawn, never ranked) — one corpus pass total.
   *
   * Order-statistic contract: resamples with Σw = 0 are dropped
   * (b_eff reports the survivors; P ≈ e⁻ⁿ per resample — real only
   * for toy groups); ranks lo = ⌈b_eff·α/200⌉ (integer ceil
   * arithmetic) and hi = b_eff + 1 − lo over the resample means
   * ordered by (1e-9-quantized mean, resample id) — a total order on
   * exact longs and one IEEE division, identical in any engine.
   * Signed outputs ([[graft.functions.GateRound]]ed): a mean delta
   * can round to −0.0.
   *
   * Bound: Σ over rows of w·|d| must fit signed-64 — |d| ≤ 10¹⁵
   * per row with w ≤ 8 leaves ~10³ headroom at a billion rows per
   * group; quantize wider deltas upstream.
   *
   * Scale shape: one explode (×(B+1) — the B knob IS the cost dial)
   * → one partial/final hash aggregate to (B+1)·|groups| rows
   * (map-side combine collapses each partition to ≤ B+1 rows per
   * group BEFORE the exchange), localCheckpointed — TWO consumers
   * (the estimate row and the resample ranks) would otherwise each
   * replay the corpus explode — then per-group windows over ≤ B rows
   * + one |groups|-row broadcast-joinable estimate frame. The corpus
   * never sorts; only resample summaries do.
   *
   * Compute amplification (the 100 TB budget — SCALE.md "Resampling
   * amplification"): the SHUFFLE is bounded (≤ B+1 rows per group
   * per partition), but the SCAN is not free — the explode
   * multiplies the row stream ×(B+1) before the map-side combine,
   * so every input row pays B+1 md5 draws and B+1 aggregate
   * updates of pure CPU. At B = 10⁴ that is 10⁴ draws/row —
   * 10 trillion kernel evaluations over a 10⁹-row corpus. The CI
   * of a MEAN needs nothing like the full corpus: bootstrap a
   * deterministic sample ([[Sampling.stratifiedSample]] per group —
   * se scales as 1/√n, so 10⁶ rows already resolve a 1e-3 se) and
   * keep B as the precision dial, not the corpus.
   *
   * @return one row per group: (byCol, n, b, b_eff, est, ci_lo,
   *         ci_hi — each GateRounded 6, defined = b_eff > 0)
   */
  def pairedBootstrapCi(df: DataFrame, byCol: String, idCol: String,
                        aCol: String, bCol: String, b: Int = 200,
                        alphaPct: Int = 5, salt: String = "s0"): DataFrame = {
    require(b >= 1 && b <= 10000, s"b must be in [1, 10000], got $b")
    require(alphaPct >= 1 && alphaPct <= 99,
      s"alphaPct must be an integer percent in [1, 99], got $alphaPct")
    Seq(aCol, bCol).foreach { c =>
      require(org.apache.spark.sql.graftbridge.ColumnBridge
          .isIntegral(df.schema(c).dataType),
        s"pairedBootstrapCi: $c must be integral (got " +
          s"${df.schema(c).dataType.simpleString}) — quantize scores " +
          "upstream; the exact-sum contract is the point")
    }
    // a null id is a key like any other: it draws as "null", the
    // [[Sampling.hash40]] convention (the composable spelling's)
    val base = df.filter(col(byCol).isNotNull &&
        col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(byCol).as("__g"), col(idCol).as("__id"),
        (col(aCol).cast("long") - col(bCol).cast("long")).as("__d"))
    // one fused kernel call emits all B+1 (r, w) draws per row — the
    // id's digits render once, no per-draw concat/hex/conv (the
    // composable explode+hash40 chain is pinned bit-identical in
    // HashExprsSpec; the oracle keeps replaying the hex spelling)
    val drawn = base
      .select(col("__g"), col("__d"),
        explode(graft.functions.HashExprs.poisson_resamples(
          coalesce(col("__id").cast("string"), lit("null")), salt, b,
          PoissonThresholds40)).as("__rw"))
      .select(col("__g"),
        (shiftright(col("__rw"), 4) - lit(2L)).as("__r"),
        col("__d"), col("__rw").bitwiseAND(lit(15L)).as("__w"))
      .groupBy(col("__g"), col("__r"))
      .agg(sum(col("__w") * col("__d")).as("__num"),
        sum(col("__w")).as("__den"))
      // TWO consumers (estimate + resample ranks) — without this the
      // corpus explode replays per consumer (the klDriftMatrix
      // lesson); the frame is (B+1)·|groups| rows
      .localCheckpoint(true)
    val est = drawn.filter(col("__r") === -1)
      .select(col("__g"), col("__den").as("n"),
        graft.functions.GateRound(col("__num").cast("double") /
          col("__den").cast("double"), 6).as("est"))
    val stat = col("__num").cast("double") / col("__den").cast("double")
    val sq = floor(stat * lit(1e9) + lit(0.5)).cast("long")
    import org.apache.spark.sql.expressions.Window
    val fam = Window.partitionBy(col("__g"))
    val rs = drawn.filter(col("__r") >= 0 && col("__den") > 0)
      .select(col("__g"), col("__r"), stat.as("__s"), sq.as("__sq"))
      .select(col("__g"), col("__s"),
        row_number().over(fam.orderBy(col("__sq"), col("__r")))
          .cast("long").as("__rn"),
        count(lit(1)).over(fam).as("__beff"))
    val lo = call_function("div",
      col("__beff") * lit(alphaPct.toLong) + lit(199L), lit(200L))
    val hi = col("__beff") + lit(1L) - lo
    val ci = rs.select(col("__g"), col("__s"), col("__rn"),
        col("__beff"), lo.as("__lo"), hi.as("__hi"))
      .filter(col("__rn") === col("__lo") || col("__rn") === col("__hi"))
      .groupBy(col("__g"))
      .agg(max(col("__beff")).as("b_eff"),
        min(when(col("__rn") === col("__lo"), col("__s"))).as("__cl"),
        min(when(col("__rn") === col("__hi"), col("__s"))).as("__ch"))
    est.join(ci, Seq("__g"), "left")
      .select(col("__g").as(byCol), col("n"), lit(b.toLong).as("b"),
        coalesce(col("b_eff"), lit(0L)).as("b_eff"), col("est"),
        graft.functions.GateRound(col("__cl"), 6).as("ci_lo"),
        graft.functions.GateRound(col("__ch"), 6).as("ci_hi"),
        col("b_eff").isNotNull.as("defined"))
  }
}
