package graft

import java.io.File
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Small-file compaction: fewer files, identical rows, catalog intact. */
class LakeCompactorSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val DAY_NS = 86400000000000L
  private val T0 = 1705276800000000000L // 2024-01-15T00:00:00Z

  /** 4 appends × 2 days → 4 small files per date folder. */
  private def buildLake(cat: Option[CatalogBackend]): String = {
    import spark.implicits._
    val root = tempDir("clake").toString
    (0 until 4).foreach { i =>
      val rows = (0 until 25).flatMap { j =>
        Seq((T0 + i * 1000000L + j, s"a$i$j", i * 1.0),
            (T0 + DAY_NS + i * 1000000L + j, s"b$i$j", i * 2.0))
      }
      LakeWriter.write(root, "mydb", "m", rows.toDF("time", "k", "v").coalesce(1),
        mode = if (i == 0) SaveMode.Overwrite else SaveMode.Append, catalog = cat)
    }
    root
  }

  private def parquetCount(root: String): Int = {
    def walk(f: File): Int =
      if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
    walk(new File(s"$root/mydb/m"))
  }

  test("compaction merges per-folder files, preserves rows and pruning") {
    val root = buildLake(None)
    assert(parquetCount(root) == 8) // 4 appends × 2 date folders
    val engine = new Engine(spark, new Catalog(root))
    val beforeRows = engine.query("SELECT count(*) AS n FROM mydb.m", "")
      .collect().head.getLong(0)
    val beforeSum = engine.query("SELECT sum(v) AS s FROM mydb.m", "")
      .collect().head.getDouble(0)

    val (folders, nBefore, nAfter) =
      LakeCompactor.compact(spark, root, "mydb", "m")
    assert(folders == 2 && nBefore == 8 && nAfter == 2)
    assert(parquetCount(root) == 2)

    // identical data through a FRESH engine (no caches)
    val engine2 = new Engine(spark, new Catalog(root))
    assert(engine2.query("SELECT count(*) AS n FROM mydb.m", "")
      .collect().head.getLong(0) == beforeRows)
    assert(engine2.query("SELECT sum(v) AS s FROM mydb.m", "")
      .collect().head.getDouble(0) == beforeSum)
    // zone maps rebuilt: day-2 query prunes to the single day-2 file
    val cat = new Catalog(root)
    val pruned = cat.files("mydb", "m", Some((T0 + DAY_NS, T0 + 2 * DAY_NS - 1)))
    assert(pruned.size == 1 && pruned.head.minTime.isDefined)
    // single-file folders are left alone on a second run
    assert(LakeCompactor.compact(spark, root, "mydb", "m") == ((0, 2, 2)))
  }

  test("compaction keeps a redis-indexed lake consistent") {
    val srv = new FakeRedisServer
    try {
      val cat = new RedisCatalog(s"redis://localhost:${srv.port}")
      val root = buildLake(Some(cat))
      assert(cat.prunedPaths("mydb", "m", None).size == 8)
      LakeCompactor.compact(spark, root, "mydb", "m", catalog = Some(cat))
      val paths = cat.prunedPaths("mydb", "m", None)
      assert(paths.size == 2) // replaced paths deregistered, new ones in
      assert(paths.forall(p => new File(p).isFile))
      // engine round-trips entirely through the redis index
      val engine = new Engine(spark, cat)
      assert(engine.query("SELECT count(*) AS n FROM mydb.m", "")
        .collect().head.getLong(0) == 200L)
      cat.close()
    } finally srv.stop()
  }
}
