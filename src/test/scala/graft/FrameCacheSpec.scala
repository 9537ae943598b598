package graft

import graft.operators.FrameCache
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The offline-artifact frame cache: correctness of the memoization
  * contract (same rows, true reuse, key isolation) — the guard
  * against a stale- or cross-key-serving regression in the cache that
  * qA3/qA4/qAG/qAK/qAZ/qAP/qAU now ride. */
class FrameCacheSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark
  import spark.implicits._

  test("cached returns the builder's rows and reuses the SAME frame") {
    var builds = 0
    def build() = {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val a = FrameCache.cached(spark, "fcspec-reuse")(build())
    val b = FrameCache.cached(spark, "fcspec-reuse")(build())
    assert(builds == 1, "second call must not re-build")
    assert(a eq b, "second call must return the memoized frame")
    assert(a.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("distinct keys do not collide") {
    val a = FrameCache.cached(spark, "fcspec-k1")(Seq(1L).toDF("x"))
    val b = FrameCache.cached(spark, "fcspec-k2")(Seq(2L).toDF("x"))
    assert(a.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(b.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("LRU eviction: a HOT artifact survives MaxEntries cold insertions") {
    // the previous clear()-wholesale bound evicted the live session's
    // hot entries along with the cold ones — a rebuild storm in a
    // long-lived server. Per-entry LRU must keep a recently-touched
    // key while shedding only least-recently-used ones.
    var hotBuilds = 0
    def hot() = FrameCache.cached(spark, "fcspec-lru-hot") {
      hotBuilds += 1; Seq(42L).toDF("x")
    }
    hot()
    (0 until FrameCache.MaxEntries).foreach { i =>
      FrameCache.cached(spark, s"fcspec-lru-cold-$i")(Seq(i.toLong).toDF("x"))
      hot() // touch between insertions — stays most-recently-used
    }
    assert(hotBuilds == 1,
      s"hot artifact rebuilt $hotBuilds times across cold churn")
    // and the bound is real: the EARLIEST cold key (never re-touched)
    // must have been evicted and rebuild on next use
    var rebuilt = false
    FrameCache.cached(spark, "fcspec-lru-cold-0") {
      rebuilt = true; Seq(0L).toDF("x")
    }
    assert(rebuilt, "LRU never evicted the cold tail — bound is broken")
  }

  test("cachedOn: an in-place regenerated lake is NOT served the stale artifact") {
    // the medium-severity round-10 advice: dir-only keys served stale
    // signatures after a lake was rewritten in the same JVM. cachedOn
    // folds the input frame's (size, mtime) fingerprint into the key.
    val lake = tempDir("fcspec-lake")
    val p = new java.io.File(lake, "t.parquet").getAbsolutePath
    Seq((1L, "first")).toDF("id", "v").write.mode("overwrite").parquet(p)
    val in1 = spark.read.parquet(p)
    val a = FrameCache.cachedOn(spark, lake + "#art", in1)(
      in1.select(col("v")))
    assert(a.collect().map(_.getString(0)).toSeq == Seq("first"))
    // regenerate the lake IN PLACE (same path, new content/mtimes);
    // ensure the mtime actually moves even on coarse clocks
    Thread.sleep(1100)
    Seq((1L, "second")).toDF("id", "v").write.mode("overwrite").parquet(p)
    val in2 = spark.read.parquet(p)
    val b = FrameCache.cachedOn(spark, lake + "#art", in2)(
      in2.select(col("v")))
    assert(b.collect().map(_.getString(0)).toSeq == Seq("second"),
      "regenerated lake was served the stale artifact")
  }

  test("cached frame is checkpointed: no lineage back to the source plan") {
    val src = spark.range(100).withColumn("y", col("id") * 2)
    val c = FrameCache.cached(spark, "fcspec-ck")(src)
    // localCheckpoint truncates lineage — the physical plan must scan
    // checkpointed blocks, not re-derive from Range
    val plan = c.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") || plan.contains("Scan"),
      s"expected a checkpoint scan, got:\n$plan")
    assert(!plan.contains("Range"), "lineage to the source survived")
    assert(c.count() == 100L)
  }
}
