package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling for training-data curation. `TABLESAMPLE` and
 * `df.sample` draw DIFFERENT rows on every run/partitioning (seeded
 * RNG over splits), and Spark's `sampleBy` quotas are approximate —
 * none of which survives a reproducibility requirement ("rebuild the
 * exact training set from the lake"). Here every row gets a
 * position-independent rank — md5 of its key and a caller salt — and
 * a sample is simply the first `n` ranks per stratum: fully
 * deterministic, re-runnable, engine-independent (md5 hex order is
 * identical everywhere), and changing the salt yields an independent
 * resample.
 *
 * Shape: one window per stratum (shuffle on the strata columns), top-n
 * kept — state is O(n) per stratum via the rank filter.
 */
object Sampling {

  /** Rank expression: md5 over the key columns + salt. Null keys get a
    * marker so they rank deterministically too (concat_ws would
    * silently skip them, making every null collide with empty). */
  def rankKey(keyCols: Seq[Column], salt: String): Column =
    md5(rankInput(keyCols, salt))

  /** The pre-digest draw string [[rankKey]] hashes — shared so the
    * fused 40-bit kernel ([[graft.functions.HashExprs.md5Prefix40]])
    * digests byte-identical input. */
  private[graft] def rankInput(keyCols: Seq[Column], salt: String): Column =
    concat_ws(" ",
      (keyCols.map(c => coalesce(c.cast("string"), lit("null")))
        :+ lit(salt)): _*)

  /** [[rankKey]] as the raw 16 digest bytes — the SAME total order as
    * the 32-char hex string (lowercase hex is ASCII-monotone in the
    * nibble value, position by position; pinned in Round20OptSpec)
    * at half the sort-key bytes, with no hex render at all. Use for
    * ORDERING; keep [[rankKey]] where the hex string itself is the
    * contract (value comparisons against hex literals, emitted
    * columns). */
  private[graft] def rankKeyBytes(keyCols: Seq[Column], salt: String): Column =
    graft.functions.HashExprs.md5_bytes(rankInput(keyCols, salt))

  /**
   * Exactly `n` rows per stratum (fewer when a stratum is smaller),
   * chosen by deterministic md5 order of `keyCol` + `salt`.
   *
   * Determinism contract: `keyCol` must uniquely identify rows within
   * a stratum. Rows SHARING a key value share a rank, and the
   * tie-break among them is arbitrary — reproducibility then holds
   * for the multiset of sampled key values, not the exact rows.
   */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String], keyCol: String,
                       n: Int, salt: String = "s0"): DataFrame = {
    require(n > 0 && strataCols.nonEmpty)
    // binary-digest sort key: identical order to the hex rankKey
    // (rankKeyBytes doc) at 16 bytes instead of 32 chars through the
    // strata shuffle and the window sort (§2.3)
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(rankKeyBytes(Seq(col(keyCol)), salt), col(keyCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** 40-bit uniform hash of the key + salt: the first 10 hex chars of
    * the [[rankKey]] md5, parsed as an integer. 40 bits — not the full
    * 128 — so every double derived from it (`u/w`, thresholds) stays a
    * single correctly-rounded IEEE op on exactly-representable
    * integers, reproducible bit-for-bit in ANY engine, and the hex
    * prefix is decodable in plain SQL for oracle checks. Computed by
    * the fused kernel (one digest, no hex string/`conv` parse —
    * bit-equality with the composable chain pinned in
    * HashExprsSpec); oracles keep replaying the hex spelling. */
  def hash40(keyCols: Seq[Column], salt: String): Column =
    graft.functions.HashExprs.md5_prefix40(rankInput(keyCols, salt))

  /**
   * Deterministic weighted sample of `k` rows — priority sampling
   * (Duffield–Lund–Thorup): each row draws a uniform `u` in (0, 2^40]
   * from [[hash40]] and the k rows with the LARGEST priorities `w/u`
   * (equivalently the smallest `u/w` keys, the form used here — one
   * IEEE division of two exact integers, so Spark and any oracle
   * engine order identically) are kept. Heavier rows are
   * proportionally more likely to survive, the draw is reproducible
   * from (id, salt) alone, and a different salt is an independent
   * resample.
   *
   * Shape: a global top-k (`TakeOrderedAndProject`) — per-partition
   * heaps of k, no sort, no shuffle beyond the k-row gather.
   */
  def weightedPrioritySample(df: DataFrame, idCol: String, weightCol: String,
                             k: Int, salt: String = "s0"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (hash40(Seq(col(idCol)), salt) + lit(1L)).cast("double")
    df
      // weight ≤ 0 means "never sample"; without this guard a NULL
      // weight's NULL key sorts NULLS-FIRST into the top-k and a
      // negative weight's negative key always wins
      .filter(col(weightCol).cast("double") > 0)
      .select(col(idCol), col(weightCol),
        (u / col(weightCol).cast("double")).as("__key"))
      .orderBy(col("__key"), col(idCol))
      .limit(k)
      .drop("__key")
  }

  /**
   * Per-source token-budget selection — the "cap every domain at N
   * tokens" mixing step: within each source, documents are taken in
   * deterministic md5 order until the running token sum would exceed
   * `budget` (a doc is kept iff its INCLUSIVE running sum fits).
   *
   * The running sum needs per-source global order. A
   * `Window.partitionBy(source)` cumsum funnels each source through
   * ONE task — with a handful of giant domains (the real corpus
   * shape: one web crawl is half the data) that is a straggler, not a
   * plan. Instead this reuses [[Packing.packShards]]'s two-phase
   * prefix sum, generalized per source: range-partition by (source,
   * key) — sources span partitions contiguously — then per-(partition,
   * source) totals to the driver (#sources × #partitions longs),
   * cumulated into starting offsets, added back in a map-side pass.
   */
  def tokenBudgetMix(df: DataFrame, idCol: String, srcCol: String,
                     weightCol: String, budget: Long, salt: String = "s0",
                     partitions: Int = 32): DataFrame = {
    require(budget > 0, "budget must be positive")
    // ids ride the typed two-pass pipeline as longs (same contract as
    // Packing.packShards) — refuse non-integral ids loudly instead of
    // an ANSI cast error (or silent retyping) at runtime
    val idType = df.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(idType.typeName),
      s"tokenBudgetMix needs an integral id column; $idCol is $idType")
    val spark = df.sparkSession
    import spark.implicits._

    val keyed = df
      .select(col(srcCol).cast("string").as("__src"),
        // binary digest: identical order to the hex rankKey at half
        // the shuffle/sort key bytes (rankKeyBytes doc, §2.3)
        rankKeyBytes(Seq(col(idCol)), salt).as("__key"),
        col(idCol).cast("long").as("__id"),
        col(weightCol).cast("long").as("__w"))
      .repartitionByRange(partitions, col("__src"), col("__key"))
      .sortWithinPartitions("__src", "__key")
      // the key exists only to order the stream — project it away so
      // the persisted frame and the deserialized tuples below carry
      // (src, id, w), not the 16-byte digest
      .select(col("__src"), col("__id"), col("__w"))
      .persist()
    val ds = keyed.as[(String, Long, Long)]

    val partSums: Map[(Int, String), Long] = ds.mapPartitions { it =>
      val sums = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (s, _, w) => sums(s) = sums.getOrElse(s, 0L) + w }
      val p = TaskContext.getPartitionId()
      sums.iterator.map { case (s, w) => (p, s, w) }
    }.collect().map { case (p, s, w) => (p, s) -> w }.toMap
    // offset(p, s) = weight of source s in partitions before p
    val offsets: Map[(Int, String), Long] =
      partSums.keys.groupBy(_._2).flatMap { case (s, keys) =>
        var run = 0L
        keys.map(_._1).toSeq.sorted.map { p =>
          val o = (p, s) -> run; run += partSums((p, s)); o
        }
      }
    val bOff = spark.sparkContext.broadcast(offsets)

    val bgt = budget
    val out = ds.mapPartitions { it =>
      val p = TaskContext.getPartitionId()
      val run = scala.collection.mutable.HashMap.empty[String, Long]
      it.flatMap { case (s, id, w) =>
        val cum = run.getOrElse(s, bOff.value.getOrElse((p, s), 0L)) + w
        run(s) = cum
        if (cum <= bgt) Some((id, s, w, cum)) else None
      }
    }.toDF(idCol, srcCol, weightCol, "cum_" + weightCol)
      // small result; materialize so the range-partitioned intermediate
      // can be released (same reasoning as Packing.packShards)
      .localCheckpoint(true)
    keyed.unpersist(false)
    out
  }

  /**
   * Deterministic mixture resampling to target proportions (static
   * domain reweighting): given per-source target weights `f_s`
   * (`targets`: srcCol + `targetCol`, need not be normalized), find
   * the largest total `T* = min_s(tokens_s / f_s)` achievable without
   * upsampling, and keep each document with probability
   * `rate_s = f_s·T* / tokens_s` — so the kept corpus has token mass
   * `≈ f_s·T*` per source, i.e. the requested mixture. The "draw" is
   * `u < rate_s·2^40` with `u` from [[hash40]]: reproducible,
   * engine-independent (every float op is a correctly-rounded IEEE op
   * on identical operands), salt-resampleable. Sources absent from
   * `targets` are dropped; so are sources with a non-positive target
   * (an explicit "0% of the mix") and sources whose total token weight
   * is non-positive (they have nothing to contribute, and letting one
   * into the min would pin `T* = 0` and silently drop the ENTIRE
   * corpus — same guard rationale as [[weightedPrioritySample]]).
   *
   * Shape: one tiny per-source aggregate, a broadcast join of the
   * per-source thresholds, and a map-side per-row filter — no shuffle
   * of the corpus at all.
   */
  def mixToTarget(df: DataFrame, idCol: String, srcCol: String,
                  weightCol: String, targets: DataFrame,
                  targetCol: String = "target",
                  salt: String = "s0"): DataFrame = {
    val tot = df.groupBy(col(srcCol))
      .agg(sum(col(weightCol)).cast("double").as("__tok"))
      // a zero/negative-weight source would make tstar 0 (or its
      // ratio negative), corrupting every threshold — exclude it
      .filter(col("__tok") > 0)
      // collapse duplicate target rows (max wins) — a duplicated
      // source in an un-deduped config table would otherwise double
      // every kept document of that source through the join
      .join(targets
          // target ≤ 0 (or NULL) means "none of this source in the
          // mix"; letting it through would make __tok/target Inf or
          // negative and corrupt T*
          .filter(col(targetCol).cast("double") > 0)
          .groupBy(col(srcCol)).agg(max(col(targetCol)).as(targetCol)),
        srcCol)
    val tstar = tot.agg(min(col("__tok") / col(targetCol)).as("__tstar"))
    val thresholds = tot.crossJoin(broadcast(tstar))
      .select(col(srcCol),
        (col(targetCol) * col("__tstar") / col("__tok") *
          lit(1099511627776.0 /* 2^40 */)).as("__thr"))
    df.select(col(idCol), col(srcCol), col(weightCol))
      .join(broadcast(thresholds), srcCol)
      // u ∈ [1, 2^40]; `<=` so keep-rate 1 (thr = 2^40) truly keeps
      // EVERYTHING — strict `<` would drop the maximal draw, breaking
      // the argmin-source-kept-in-full guarantee once per ~2^40 docs
      .filter((hash40(Seq(col(idCol)), salt) + lit(1L)).cast("double")
        <= col("__thr"))
      .drop("__thr")
  }

  /**
   * Temperature-scaled mixture sampling — the multilingual/domain
   * balancing rule of the mT5/UniMax lineage: source `s` with token
   * mass `n_s` is sampled toward share `p_s ∝ n_s^tau`. `tau = 1`
   * keeps the natural mixture, `tau = 0` equalizes every source, and
   * the usual `0 < tau < 1` flattens the head without starving the
   * tail — the knob pipelines reach for when one crawl dwarfs the
   * curated sources. Target mass per source is
   * `t_s = min(n_s, budget · p_s)`: the SINGLE-PASS cap (a source too
   * small for its share contributes everything it has; its surplus is
   * NOT redistributed — UniMax's iterative water-filling needs a
   * driver loop over the per-source table, while this variant stays
   * one aggregate + one broadcast and is exactly what the SQL oracle
   * replays). Keep-rate `f_s = t_s / n_s` is drawn per document via
   * [[hash40]] under [[mixToTarget]]'s contract: engine-independent
   * IEEE arithmetic, salt-resampleable, `<=` so rate-1 sources keep
   * EVERYTHING (budget ≥ total at tau = 1 returns the corpus
   * unchanged).
   *
   * Shape: one tiny per-source aggregate, a broadcast of |S|
   * thresholds, a map-side filter — the corpus never shuffles.
   */
  def temperatureMix(df: DataFrame, idCol: String, srcCol: String,
                     weightCol: String, tau: Double, budget: Double,
                     salt: String = "s0",
                     waterFill: Boolean = false): DataFrame = {
    require(tau >= 0.0, s"tau must be >= 0, got $tau")
    require(budget > 0.0, s"budget must be positive, got $budget")
    val tot = df.groupBy(col(srcCol))
      .agg(sum(col(weightCol)).cast("double").as("__tok"))
      // non-positive sources contribute nothing and would corrupt the
      // normalizer (0^tau = 0 is harmless at tau > 0 but NaN/negative
      // bases are not) — exclude, the mixToTarget precedent
      .filter(col("__tok") > 0)
    val thresholds =
      if (waterFill) {
        // EXACT UniMax allocation: the single-pass cap strands a
        // capped source's surplus; water-filling redistributes it
        // among the uncapped until the budget is spent or every
        // source caps. Driver-side over the |S|-row per-source table
        // (metadata by the operator's contract; loud cap below).
        // Keys ride as their STRING form and the rates join back onto
        // `tot` by the same cast, so a non-string srcCol (int shard
        // ids, dates) is accepted exactly like the single-pass branch
        // and the threshold table keeps the source's original type.
        // The string form is SPARK'S cast('string'), collected — not
        // driver-side Row.get.toString: the two renderings differ for
        // some types (TimestampType: '…00:00:00.0' vs '…00:00:00'),
        // and a mismatch would silently empty the threshold table for
        // the affected source, dropping its every document with no
        // error — against the suite's loud-refusal convention.
        val rows = tot
          .select(col(srcCol).cast("string"), col("__tok"))
          .collect().map(r =>
            (if (r.isNullAt(0)) null else r.getString(0), r.getDouble(1)))
        require(rows.length <= (1 << 20),
          s"temperatureMix(waterFill): ${rows.length} sources exceed the " +
            "driver-metadata bound")
        import df.sparkSession.implicits._
        val rates = waterFillRates(rows, tau, budget).toSeq
          .toDF("__k", "__rate")
        tot.join(broadcast(rates), col(srcCol).cast("string") === col("__k"))
          .select(col(srcCol),
            (col("__rate") * lit(1099511627776.0 /* 2^40 */)).as("__thr"))
      } else {
        val z = tot.agg(sum(pow(col("__tok"), lit(tau))).as("__z"))
        // association order matches the oracle SQL verbatim:
        // budget * tok^tau / z / tok, LEAST against 1.0, then 2^40
        tot.crossJoin(broadcast(z))
          .select(col(srcCol),
            (least(lit(1.0),
              lit(budget) * pow(col("__tok"), lit(tau)) / col("__z") /
                col("__tok")) * lit(1099511627776.0 /* 2^40 */)).as("__thr"))
      }
    df.select(col(idCol), col(srcCol), col(weightCol))
      .join(broadcast(thresholds), srcCol)
      .filter((hash40(Seq(col(idCol)), salt) + lit(1L)).cast("double")
        <= col("__thr"))
      .drop("__thr")
  }

  /** The water-filling keep-rate computation of [[temperatureMix]],
    * as a pure function (property-pinned in PropertySpecs): sort by
    * fill ratio n_s/w_s ascending (w_s = n_s^tau), cap greedily —
    * capping only RAISES the shared fill level, so one pass suffices
    * — then the first non-capping source fixes λ = bRem/wRem for all
    * remaining (their larger ratios cannot cap at a level the
    * smaller one survived). Invariants: rates ∈ [0, 1]; Σ rate_s·n_s
    * = min(budget, Σ n_s) up to float ulps; capped sources have rate
    * exactly 1; uncapped sources share one λ = rate_s·n_s/w_s. */
  private[graft] def waterFillRates(rows: Array[(String, Double)],
                                    tau: Double,
                                    budget: Double): Seq[(String, Double)] = {
    val weighted = rows.map { case (s, n) => (s, n, math.pow(n, tau)) }
      .sortBy { case (_, n, w) => n / w }
    var bRem = budget
    var wRem = weighted.map(_._3).sum
    val rates = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    var i = 0
    var lambda = -1.0 // set once the first uncapped source is found
    while (i < weighted.length) {
      val (s, n, w) = weighted(i)
      if (lambda < 0 && n <= bRem / wRem * w) {
        // caps: takes its whole mass, surplus stays in bRem
        rates += ((s, 1.0)); bRem -= n; wRem -= w
      } else {
        if (lambda < 0) lambda = math.max(0.0, bRem / wRem)
        rates += ((s, math.min(1.0, lambda * w / n)))
      }
      i += 1
    }
    rates.toSeq
  }

  /**
   * Leakage-free train/validation split: documents that near-dup each
   * other (any edge in `pairs`) MUST land on the same side, or the
   * held-out set leaks into training through paraphrases — the split
   * unit is therefore the near-dup COMPONENT (distributed connected
   * components over the pair set), not the document. A component goes
   * to validation iff the md5 of its id + salt is lexicographically
   * below `valBound` (a hex prefix: "1a" ≈ (16+10)/256 ≈ 10.2% of the
   * hash space) — deterministic, engine-independent, re-runnable, and
   * changing the salt redraws the split. Documents with no near-dup
   * are their own singleton component.
   *
   * Scale shape: the component build is the iterative min-label
   * propagation of [[ConnectedComponents.run]] (edge-set-sized, never
   * corpus²); the split itself is one per-row hash — no extra shuffle
   * beyond the component join.
   */
  def leakFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                    srcCol: String, dstCol: String,
                    valBound: String = "1a", salt: String = "s0"): DataFrame = {
    val cc = ConnectedComponents.run(pairs, srcCol, dstCol)
    docs.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
      .withColumn("split",
        when(rankKey(Seq(col("component")), salt) < valBound, "val")
          .otherwise("train"))
  }
}
