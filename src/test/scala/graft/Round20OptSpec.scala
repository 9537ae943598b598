package graft

import graft.functions.HashExprs
import graft.operators.{Packing, Sampling}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-20 sort-key narrowings order-identical to the hex /
  * zero-padded spellings they replaced: the md5 BINARY digest orders
  * exactly like the lowercase-hex string, and plain long keys order
  * exactly like their zero-padded renderings — so every prefix-sum /
  * window consumer (packShards, packSequences, stratifiedSample,
  * tokenBudgetMix, contextOrder) emits byte-identical results. */
class Round20OptSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  test("md5 binary digest order == lowercase-hex string order") {
    // adversarial inputs: shared prefixes, all-hex-digit boundaries,
    // duplicates (exact ties), unicode
    val keys = ((0 until 500).map(_.toString) ++
      Seq("a", "b", "aa", "ab", "", " ", "é", "0", "00", "a") ++
      (0 until 200).map(i => s"doc-$i")).toDF("k")
    val byHex = keys.select(col("k"), md5(col("k")).as("h"))
      .orderBy(col("h"), col("k")).select("k").collect().map(_.getString(0))
    val byBin = keys.select(col("k"), HashExprs.md5_bytes(col("k")).as("b"))
      .orderBy(col("b"), col("k")).select("k").collect().map(_.getString(0))
    assert(byHex.toSeq == byBin.toSeq)
    // and the digest really is unhex(hex): value parity, not just order
    val vals = keys.select(unhex(md5(col("k"))).as("old"),
      HashExprs.md5_bytes(col("k")).as("fused")).collect()
    vals.foreach { r =>
      assert(java.util.Arrays.equals(
        r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    }
  }

  test("packShards: binary-key prefix sum == the hex-string spelling") {
    val rnd = new scala.util.Random(7)
    val df = (0L until 400L).map(id => (id, 1L + rnd.nextInt(50)))
      .toDF("id", "w")
    val got = Packing.packShards(df, "id", "w", budget = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // reference: the old 32-char hex key through the SAME generalized
    // prefix sum — only the key spelling differs
    val exp = Packing.prefixByKey(df, Seq(md5(col("id").cast("string"))),
        "id", "w", 32)
      .withColumn("shard_id", expr("cum_before div 100"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == exp)
  }

  test("packSequencesBy / contextOrder keys: plain longs order like the " +
      "zero-padded string rendering") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 300L).map { id =>
      (id, rnd.nextInt(3).toLong, math.abs(rnd.nextLong()) % (1L << 40),
        1L + rnd.nextInt(9))
    }.toDF("id", "ck", "third", "w")
    val longKeys = Packing.prefixByKey(rows,
      Seq(col("ck"), col("third"), col("id")), "id", "w", 16)
    val stringKey = Packing.prefixByKey(rows,
      Seq(format_string("%019d|%019d|%019d", col("ck"), col("third"),
        col("id"))), "id", "w", 16)
    val g = longKeys.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val e = stringKey.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(g == e)
  }

  test("stratifiedSample: binary-digest window order == hex order") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 600).map(i => (i.toLong, s"s${rnd.nextInt(5)}"))
      .toDF("id", "src")
    val got = Sampling.stratifiedSample(df, Seq("src"), "id", n = 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the pre-round-20 spelling: hex rankKey in the window sort
    val w = Window.partitionBy(col("src"))
      .orderBy(Sampling.rankKey(Seq(col("id")), "s0"), col("id"))
    val exp = df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 7).drop("__rk")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == exp)
  }

  test("orderAndPackSequences == the contextOrder -> packSequencesBy " +
      "composition, row for row") {
    import graft.operators.{ContextLayout, Packing}
    val rnd = new scala.util.Random(13)
    // 3 components + singletons; weights include zero (dropped by the
    // packing contract) and spans larger than seqLen (split docs)
    val docs = (0L until 120L).map(id =>
      (id, if (id % 17 == 0) 0L else 1L + rnd.nextInt(40))).toDF("id", "w")
    val edges = (0L until 90L).filter(_ % 3 != 0)
      .map(id => (id, id - id % 3, 0.5 + (id % 5) * 0.1))
      .filter { case (a, b, _) => a != b }
      .toDF("a", "b", "ew")
    val fused = ContextLayout.orderAndPackSequences(
        docs.select(col("id")), "id", edges, "a", "b", "ew",
        docs, "w", seqLen = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val ord = ContextLayout.contextOrder(
      docs.select(col("id")), "id", edges, "a", "b", "ew")
    val packed = Packing.packSequencesBy(
      docs.join(ord.select(col("id"), col("ord")), Seq("id")),
      "id", "w", "ord", seqLen = 16)
    val composed = ord.join(packed, Seq("id"))
      .select(col("id"), col("component"), col("ord"), col("walked"),
        col("seq_id"), col("tok_start"), col("tok_end"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(fused == composed)
    assert(fused.nonEmpty && fused.exists(_._5 > 0)) // real multi-sequence case
  }

  test("orderAndPackSequences fails loudly when docs misses a node id") {
    import graft.operators.ContextLayout
    val docs = (0L until 20L).map(id => (id, 1L + id % 7)).toDF("id", "w")
    val edges = Seq((1L, 2L, 0.5), (2L, 3L, 0.5)).toDF("a", "b", "ew")
    // node 13 is walked but has no doc row: the ordinal would silently
    // skip it and diverge from the contextOrder -> packSequencesBy composition
    val err = intercept[Exception] {
      ContextLayout.orderAndPackSequences(docs.select(col("id")), "id", edges,
        "a", "b", "ew", docs.filter(col("id") =!= 13L), "w", seqLen = 16).collect()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("no row for node id 13")), err)
  }

  test("tokenBudgetMix: binary-key two-phase sum == hex-key results") {
    val rnd = new scala.util.Random(5)
    val df = (0 until 400).map(i =>
      (i.toLong, s"src${rnd.nextInt(4)}", 1L + rnd.nextInt(30)))
      .toDF("id", "src", "w")
    val got = Sampling.tokenBudgetMix(df, "id", "src", "w", budget = 300)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // reference: per-source hex order replayed in memory
    val kept = df.select(col("id"), col("src"), col("w"),
        Sampling.rankKey(Seq(col("id")), "s0").as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        var cum = 0L
        rows.sortBy(_._4).toSeq.flatMap { case (id, s, w, _) =>
          cum += w
          if (cum <= 300) Some((id, s, w, cum)) else None
        }
      }.toSet
    assert(got == kept)
  }
}
