package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/**
 * Streaming paired permutation test —
 * [[graft.operators.Preference.permutationTest]] lifted onto
 * Structured Streaming: an A/B eval's paired deltas arrive as the
 * run progresses, and every micro-batch emits the randomization-test
 * p-value over everything seen so far — "is the gap already
 * significant" DURING the eval, the [[StreamingSprt]] question with
 * magnitudes instead of a parametric model.
 *
 * Why streamed ≡ batch holds BIT-FOR-BIT at every prefix: the
 * state per group is the (P+1) running INTEGER sums (observed Σd
 * plus one Σ±d per permutation) and n — addition of exact longs
 * commutes, the sign for (row, permutation) is a pure function of
 * (id, r, salt) (the same md5-parity draw the batch plan evaluates,
 * replayed here via MessageDigest on the identical "id r salt"
 * string), the extremeness compares are integer, and the single
 * division replays the batch round (BigDecimal HALF_UP ≡ Spark
 * `round`). No float ever enters the state.
 *
 * Scale shape: state is P+2 longs per group — CONSTANT-bounded by
 * the P knob (~1.6 KB at P=200), not data-sized; each arriving row
 * costs P md5 draws (the batch operator pays the same, vectorized).
 *
 * At-least-once caveat: a replayed micro-batch re-adds its deltas;
 * run with exactly-once sinks (the [[StreamingHeavyHitters]]
 * convention).
 */
object StreamingPermutation {

  private def md5ParityFlips(id: String, p: Int, salt: String): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Int](p)
    var r = 0
    while (r < p) {
      md.reset()
      val hex = md.digest(s"$id $r $salt"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.substring(0, 10)
      val u = java.lang.Long.parseLong(hex, 16)
      out(r) = if (u % 2 == 0) 1 else -1
      r += 1
    }
    out
  }

  /** @return Update-mode stream of (byCol, n, sum_d, n_extreme,
    *         p_value, defined) — the batch
    *         [[graft.operators.Preference.permutationTest]] schema. */
  def permutationTest(df: DataFrame, byCol: String, idCol: String,
                      aCol: String, bCol: String, p: Int = 200,
                      salt: String = "s0"): DataFrame = {
    require(p >= 1 && p <= 10000, s"p must be in [1, 10000], got $p")
    val spark = df.sparkSession
    import spark.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    df.filter(col(byCol).isNotNull &&
        col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(byCol).cast("string").as("g"),
        coalesce(col(idCol).cast("string"), lit("null")).as("id"),
        (col(aCol).cast("long") - col(bCol).cast("long")).as("d"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Array[Long]),
                          (String, Long, Long, Long, Double, Boolean)](
        GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[(String, String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[
           (Long, Long, Array[Long])]) =>
          var (n, obs, sums) = state.getOption
            .getOrElse((0L, 0L, new Array[Long](p)))
          rows.foreach { case (_, id, d) =>
            n += 1
            obs += d
            val flips = md5ParityFlips(id, p, salt)
            var r = 0
            while (r < p) { sums(r) += flips(r) * d; r += 1 }
          }
          state.update((n, obs, sums))
          var extreme = 0L
          var r = 0
          while (r < p) {
            if (math.abs(sums(r)) >= math.abs(obs)) extreme += 1
            r += 1
          }
          (g, n, obs, extreme,
            r6((extreme + 1).toDouble / (p + 1).toDouble), n > 0)
      }
      .toDF(byCol, "n", "sum_d", "n_extreme", "p_value", "defined")
  }
}
