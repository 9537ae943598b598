package graft

import java.io.File
import java.nio.file.Files
import graft.streaming.LakeIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream → lake append → catalog → engine query → compact, end to end. */
class LakeIngestSpec extends AnyFunSuite with TempLakes {
  private lazy val spark = GraftTestSession.spark

  private val DAY_NS = 86400000000000L
  private val T0 = 1705276800000000000L // 2024-01-15T00:00:00Z

  test("signature sidecar: ingest maintains it, catalog hides it, dedup is O(batch)") {
    import spark.implicits._
    import graft.operators.Dedup
    val stage = tempDir("sig-src").toPath
    val root = tempDir("sig-lake").toString
    val ckpt = tempDir("sig-ckpt").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("time", lit(T0) + col("doc_id") * 1000000L)
      .select("time", "doc_id", "text")
    val a = docs.filter(col("doc_id") < 250)
    val b = docs.filter(col("doc_id") >= 250)
    def stageBatch(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = tempDir("sig-tmp").toPath
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, stage.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    stageBatch("a.parquet", a)
    val stream = spark.readStream.schema(docs.schema).parquet(stage.toString)
    val q = LakeIngest.start(stream, root, "mydb", "docs", ckpt,
      signatures = Some(LakeIngest.SignatureConfig("doc_id", "text")))
    try {
      q.processAllAvailable()
      // eager snapshot: the store mutates when batch b lands below
      val storedA = SignatureStore.load(spark, root, "mydb", "docs")
        .get.localCheckpoint(true)
      assert(storedA.count() == a.count())
      stageBatch("b.parquet", b)
      q.processAllAvailable()
      assert(SignatureStore.load(spark, root, "mydb", "docs")
        .get.count() == docs.count())
      // the sidecar is invisible to the catalog and the engine
      val cat = new Catalog(root)
      assert(cat.tables("mydb") == Seq("docs"))
      assert(cat.files("mydb", "docs").forall(!_.path.contains("_signatures")))
      val engine = new Engine(spark, cat)
      assert(engine.query("SELECT count(*) AS n FROM mydb.docs", "")
        .collect().head.getLong(0) == docs.count())
      // incremental dedup against the pre-batch store == direct call
      val viaStore = Dedup.minhashCandidatesIncremental(
          Dedup.signatures(b, "doc_id", "text"),
          storedA, minEstJaccard = 0.4)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = Dedup.minhashCandidatesIncremental(
          Dedup.signatures(b, "doc_id", "text"),
          Dedup.signatures(a, "doc_id", "text"), minEstJaccard = 0.4)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStore == direct && viaStore.nonEmpty)
      // sidecar must not disable the metadata-only count fast path
      assert(cat.metadataStats("mydb", "docs")._1.contains(docs.count()),
        "zone-map row counts must still answer count(*) with the sidecar present")
      // compactor must leave the sidecar untouched
      val sigFiles = new File(SignatureStore.dir(root, "mydb", "docs"))
      def countSigParquets: Int = {
        def walk(f: File): Int =
          if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
          else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        walk(sigFiles)
      }
      val sigsBefore = countSigParquets
      LakeCompactor.compact(spark, root, "mydb", "docs")
      assert(countSigParquets == sigsBefore)
      assert(SignatureStore.load(spark, root, "mydb", "docs")
        .get.count() == docs.count())
    } finally q.stop()
  }

  test("dedupThenAppend: per-label idempotence and empty-store bootstrap") {
    import spark.implicits._
    import graft.operators.Dedup
    val root = tempDir("sig-batch-lake").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val a = docs.filter(col("doc_id") < 250)
    val b = docs.filter(col("doc_id") >= 250)
    // bootstrap: empty store → within-batch pairs only, store = a's sigs
    val p0 = SignatureStore.dedupThenAppend(root, "mydb", "t", a,
        "doc_id", "text", batchLabel = "b0", minEstJaccard = 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val aOnly = Dedup.minhashCandidates(a, "doc_id", "text", minEstJaccard = 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p0 == aOnly)
    // replay of the SAME label overwrites, not duplicates
    SignatureStore.dedupThenAppend(root, "mydb", "t", a,
      "doc_id", "text", batchLabel = "b0", minEstJaccard = 0.4)
    assert(SignatureStore.load(spark, root, "mydb", "nosuch").isEmpty)
    assert(SignatureStore.load(spark, root, "mydb", "t").get.count() == a.count())
    // second batch: (new,new) + (new,stored) only
    val p1 = SignatureStore.dedupThenAppend(root, "mydb", "t", b,
        "doc_id", "text", batchLabel = "b1", minEstJaccard = 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidates(docs, "doc_id", "text", minEstJaccard = 0.4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((p0 union p1) == full)
    assert(SignatureStore.load(spark, root, "mydb", "t").get.count() == docs.count())
  }

  test("micro-batches land catalogued, queryable, prunable; compaction folds them") {
    import spark.implicits._
    val stage = tempDir("ingest-src").toPath
    val root = tempDir("ingest-lake").toString
    val ckpt = tempDir("ingest-ckpt").toString

    def stageBatch(name: String, dayOffset: Int, n: Int, tag: String): Unit = {
      val tmp = tempDir("ingest-tmp").toPath
      (0 until n).map(j => (T0 + dayOffset * DAY_NS + j * 1000000L, s"$tag$j", j * 1.0))
        .toDF("time", "k", "v").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, stage.resolve(name))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }

    stageBatch("b0.parquet", 0, 30, "a")
    val srv = new FakeRedisServer
    try {
      val cat = new RedisCatalog(s"redis://localhost:${srv.port}")
      val schema = new org.apache.spark.sql.types.StructType()
        .add("time", "long").add("k", "string").add("v", "double")
      val stream = spark.readStream.schema(schema).parquet(stage.toString)
      val q = LakeIngest.start(stream, root, "mydb", "ing", ckpt,
        catalog = Some(cat))
      try {
        q.processAllAvailable()
        val engine = new Engine(spark, cat) // reads via the redis index
        assert(engine.query("SELECT count(*) AS n FROM mydb.ing", "")
          .collect().head.getLong(0) == 30L)

        stageBatch("b1.parquet", 1, 20, "b") // second batch, next day
        q.processAllAvailable()
        assert(engine.query("SELECT count(*) AS n FROM mydb.ing", "")
          .collect().head.getLong(0) == 50L)
        // zone maps are live: a day-2 window prunes to day-2 files only
        val pruned = cat.prunedPaths("mydb", "ing",
          Some((T0 + DAY_NS, T0 + 2 * DAY_NS - 1)))
        assert(pruned.nonEmpty &&
          pruned.forall(_.contains("date=2024-01-16")))
        // json-backend discovery works from the merged metadata.json too
        assert(new Engine(spark, new Catalog(root))
          .query("SELECT count(*) AS n FROM mydb.ing " +
            "WHERE time >= '2024-01-16T00:00:00Z'", "")
          .collect().head.getLong(0) == 20L)

        stageBatch("b2.parquet", 0, 10, "c") // third batch back on day 1
        q.processAllAvailable()
      } finally q.stop()

      // day-1 folder now holds 2 batch files → compaction folds them
      val day1 = new File(s"$root/mydb/ing/date=2024-01-15")
      assert(day1.listFiles().count(_.getName.endsWith(".parquet")) == 2)
      LakeCompactor.compact(spark, root, "mydb", "ing", catalog = Some(cat))
      assert(day1.listFiles().count(_.getName.endsWith(".parquet")) == 1)
      val engine = new Engine(spark, cat)
      assert(engine.query("SELECT count(*) AS n FROM mydb.ing", "")
        .collect().head.getLong(0) == 60L)
      assert(cat.prunedPaths("mydb", "ing", None).forall(p => new File(p).isFile))
      cat.close()
    } finally srv.stop()
  }

  test("artifact sidecar: build-once, read-from-disk, stale generations vacuumed") {
    import spark.implicits._
    import graft.operators.ArtifactStore
    // grace 0: this test pins the reclaim path synchronously (the
    // age-gate itself is pinned by the dedicated vacuum test below)
    val prevGrace = sys.props.get("graft.artifacts.vacuumGraceMs")
    sys.props("graft.artifacts.vacuumGraceMs") = "0"
    try {
    // an owned lake: one parquet table + a literal `_artifacts` sidecar
    val lake = tempDir("art-lake").toString
    val tableDir = new File(lake, "docs.parquet").getAbsolutePath
    val sidecar = Some(new File(lake, "_artifacts").getAbsolutePath)
    (0L until 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(tableDir)

    def docs = spark.read.parquet(tableDir)
    var builds = 0
    def art() = ArtifactStore.readOrBuild(spark, lake, "lenfp",
      Seq(docs), explicitRoot = sidecar) {
      builds += 1
      docs.select(col("doc_id"), length(col("text")).as("len"))
    }
    val first = art().orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(builds == 1 && first.size == 50)
    // the sidecar is a real on-disk generation a FRESH process would
    // read: parquet files + _SUCCESS under _artifacts/lenfp/fp=...
    val gens1 = ArtifactStore.generations(spark, lake, "lenfp", sidecar)
    assert(gens1.size == 1, s"want one generation, got $gens1")
    // second call: same fingerprint → no rebuild, frame scans the
    // stored parquet (no lineage to the builder plan)
    val again = art()
    assert(builds == 1, "second call re-built instead of reading the store")
    // the scan's root paths, not the plan string: Spark truncates the
    // location in the string under a long enough checkout path
    val roots = again.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("/_artifacts/")),
      s"returned frame does not scan the sidecar: $roots")
    assert(again.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq == first)
    // regenerate the lake in place: new fingerprint → rebuild, and the
    // vacuum (the compactor-style maintenance) drops the stale
    // generation — exactly one survives
    Thread.sleep(1100)
    (0L until 60L).map(i => (i, s"other $i!")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(tableDir)
    val rebuilt = art()
    assert(builds == 2, "regenerated lake was served the stale artifact")
    assert(rebuilt.count() == 60)
    val gens2 = ArtifactStore.generations(spark, lake, "lenfp", sidecar)
    assert(gens2.size == 1 && gens2 != gens1,
      s"vacuum left stale generations: $gens2 (was $gens1)")
    } finally prevGrace match {
      case Some(v) => sys.props("graft.artifacts.vacuumGraceMs") = v
      case None => sys.props.remove("graft.artifacts.vacuumGraceMs")
    }
  }

  test("vacuum age-gates: recent stale gens and foreign staging survive") {
    import spark.implicits._
    import graft.operators.ArtifactStore
    val prevGrace = sys.props.get("graft.artifacts.vacuumGraceMs")
    val lake = tempDir("art-gate").toString
    val tableDir = new File(lake, "t.parquet").getAbsolutePath
    val sidecar = Some(new File(lake, "_artifacts").getAbsolutePath)
    def regen(n: Long): Unit = {
      Thread.sleep(1100) // distinct mtime → distinct fingerprint
      (0L until n).toDF("id").write.mode("overwrite").parquet(tableDir)
    }
    def docs = spark.read.parquet(tableDir)
    def art() = ArtifactStore.readOrBuild(spark, lake, "gatefp",
      Seq(docs), explicitRoot = sidecar)(
      docs.select(col("id"), (col("id") + 1).as("y")))
    try {
      sys.props("graft.artifacts.vacuumGraceMs") = "3600000" // 1 h
      regen(10); assert(art().count() == 10)
      // a foreign staging dir (another process mid-write): fresh
      // mtime, must survive a graced vacuum
      val artDir = new File(sidecar.get, "gatefp")
      val foreign = new File(artDir, ".tmp-deadbeef-external")
      assert(foreign.mkdirs())
      // lake regenerated → new fingerprint builds, but within the
      // grace the superseded generation (a lazy reader may still
      // scan it) and the foreign staging both survive
      regen(20); assert(art().count() == 20)
      assert(ArtifactStore.generations(spark, lake, "gatefp", sidecar)
        .size == 2, "graced vacuum deleted a recent stale generation")
      assert(foreign.isDirectory, "graced vacuum deleted foreign staging")
      // grace 0: the next build's vacuum reclaims both
      sys.props("graft.artifacts.vacuumGraceMs") = "0"
      regen(30); assert(art().count() == 30)
      assert(ArtifactStore.generations(spark, lake, "gatefp", sidecar)
        .size == 1, "post-grace vacuum left stale generations")
      assert(!foreign.exists(), "post-grace vacuum left dead staging")
    } finally prevGrace match {
      case Some(v) => sys.props("graft.artifacts.vacuumGraceMs") = v
      case None => sys.props.remove("graft.artifacts.vacuumGraceMs")
    }
  }

  test("read path reclaims a superseded generation without another build") {
    import spark.implicits._
    import graft.operators.ArtifactStore
    val prevGrace = sys.props.get("graft.artifacts.vacuumGraceMs")
    val lake = tempDir("art-read").toString
    val tableDir = new File(lake, "t.parquet").getAbsolutePath
    val sidecar = Some(new File(lake, "_artifacts").getAbsolutePath)
    def regen(n: Long): Unit = {
      Thread.sleep(1100)
      (0L until n).toDF("id").write.mode("overwrite").parquet(tableDir)
    }
    def docs = spark.read.parquet(tableDir)
    def art() = ArtifactStore.readOrBuild(spark, lake, "readfp",
      Seq(docs), explicitRoot = sidecar)(
      docs.select(col("id"), (col("id") + 1).as("y")))
    try {
      // malformed grace override must not throw out of any path —
      // falls back to the default (review fix: NumberFormatException
      // escaped the vacuum's IOException-only catches)
      sys.props("graft.artifacts.vacuumGraceMs") = "15m"
      regen(10); assert(art().count() == 10)
      // lake regenerated ONCE, then stable: the new build marks the
      // old generation superseded but (grace 1 h) keeps it
      sys.props("graft.artifacts.vacuumGraceMs") = "3600000"
      regen(20); assert(art().count() == 20)
      assert(ArtifactStore.generations(spark, lake, "readfp", sidecar)
        .size == 2)
      // no further build ever happens; an ORDINARY READ past the
      // grace must reclaim the leak (review fix: the vacuum only ran
      // in the build branch, so a once-regenerated-then-stable lake
      // leaked its old generation forever)
      sys.props("graft.artifacts.vacuumGraceMs") = "0"
      assert(art().count() == 20)
      assert(ArtifactStore.generations(spark, lake, "readfp", sidecar)
        .size == 1, "read-path vacuum did not reclaim the superseded gen")
    } finally prevGrace match {
      case Some(v) => sys.props("graft.artifacts.vacuumGraceMs") = v
      case None => sys.props.remove("graft.artifacts.vacuumGraceMs")
    }
  }

  test("vacuumOrphans reclaims renamed families; read path clears stale markers") {
    import spark.implicits._
    import graft.operators.ArtifactStore
    val prevGrace = sys.props.get("graft.artifacts.vacuumGraceMs")
    sys.props("graft.artifacts.vacuumGraceMs") = "0"
    try {
      val lake = tempDir("art-orph").toString
      val tableDir = new File(lake, "t.parquet").getAbsolutePath
      val sidecar = Some(new File(lake, "_artifacts").getAbsolutePath)
      (0L until 20L).toDF("id").write.mode("overwrite").parquet(tableDir)
      def docs = spark.read.parquet(tableDir)
      def build(name: String) = ArtifactStore.readOrBuild(spark, lake, name,
        Seq(docs), explicitRoot = sidecar)(
        docs.select(col("id"), (col("id") * 2).as("y")))
      // v1 ships, then the builder bumps to v2: v1's dir is orphaned
      build("thing-v1"); build("thing-v2")
      assert(new File(sidecar.get, "thing-v1").isDirectory)
      val removed = ArtifactStore.vacuumOrphans(spark, lake,
        live = Set("thing-v2"), explicitRoot = sidecar)
      assert(removed == Seq("thing-v1"), s"removed: $removed")
      assert(!new File(sidecar.get, "thing-v1").exists())
      assert(new File(sidecar.get, "thing-v2").isDirectory,
        "live artifact must survive the orphan sweep")
      // the compactor carries the sweep in its maintenance cycle:
      // stage an owned-lake layout (db/table/_artifacts) and bump
      build("again-v1")
      val owned = tempDir("art-owned").toString
      val tdir = new File(new File(owned, "db"), "t")
      assert(tdir.mkdirs())
      (0L until 5L).toDF("id").coalesce(1).write.mode("overwrite")
        .parquet(new File(tdir, "p").getAbsolutePath)
      val ownedSidecar = new File(tdir, "_artifacts")
      org.apache.commons.io.FileUtils.copyDirectory(
        new File(sidecar.get), ownedSidecar)
      val (_, orphans) = ArtifactStore.compactWithArtifacts(spark, owned,
        "db", "t", artifactsLive = Set("thing-v2"))
      assert(orphans.toSet == Set("again-v1"),
        s"compactor sweep removed: $orphans")
      assert(new File(ownedSidecar, "thing-v2").isDirectory)
      assert(!new File(ownedSidecar, "again-v1").exists())
      // a `.superseded` marker on the CURRENT generation (lake rolled
      // back to an old fingerprint) must be cleared by the read path,
      // or the next supersede would reclaim it with zero grace
      val gen = ArtifactStore.generations(spark, lake, "thing-v2", sidecar).head
      val marker = new File(new File(new File(sidecar.get, "thing-v2"), gen),
        ".superseded")
      assert(marker.createNewFile())
      build("thing-v2") // hit path
      assert(!marker.exists(), "read path must clear the stale marker")
    } finally prevGrace match {
      case Some(v) => sys.props("graft.artifacts.vacuumGraceMs") = v
      case None => sys.props.remove("graft.artifacts.vacuumGraceMs")
    }
  }

  test("artifact store: concurrent misses build once; in-memory inputs refused") {
    import spark.implicits._
    import graft.operators.ArtifactStore
    val lake = tempDir("art-conc").toString
    val tableDir = new File(lake, "t.parquet").getAbsolutePath
    (0L until 20L).toDF("id").write.mode("overwrite").parquet(tableDir)
    def docs = spark.read.parquet(tableDir)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    // 8 threads race the same cold artifact: the per-path lock must
    // serialize the miss so exactly one build/write happens and no
    // thread reads a half-committed generation
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val rows = Await.result(Future.sequence((1 to 8).map(_ => Future {
      ArtifactStore.readOrBuild(spark, lake, "conc", Seq(docs)) {
        builds.incrementAndGet()
        docs.select(col("id"), (col("id") * 2).as("y"))
      }.count()
    })), Duration.Inf)
    assert(rows.forall(_ == 20L))
    assert(builds.get() == 1, s"raced to ${builds.get()} builds")
    // file-less inputs must be refused, not silently keyed by nothing
    val mem = Seq(1L, 2L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.readOrBuild(spark, lake, "memart", Seq(mem))(mem)
    }
    assert(e.getMessage.contains("file-backed"))
  }

  test("qA3/qA4 media artifacts land in the store and the queries read it") {
    import graft.operators.ArtifactStore
    // point the default store root at a temp dir (the bench lakes are
    // read-only testdata — placement note in ArtifactStore scaladoc)
    val prev = sys.props.get("graft.artifacts.root")
    val tmpRoot = tempDir("art-root").toString
    sys.props("graft.artifacts.root") = tmpRoot
    try {
      val dir = "/root/testdata/sf0.001"
      // other suites in this JVM may have warmed the in-memory tier;
      // drop it so the queries exercise the durable store
      graft.operators.FrameCache.clearForTesting()
      val qa3 = graft.queries.Pipeline.queries("qA3_image_neardup")(spark, dir)
      assert(qa3.count() > 0)
      val qa4 = graft.queries.Pipeline.queries("qA4_image_knn")(spark, dir)
      assert(qa4.count() > 0)
      // both artifact families persisted a generation under the root
      assert(ArtifactStore.generations(spark, dir, "qA3dhash-v1").size == 1)
      assert(ArtifactStore.generations(spark, dir, "qA4feats-v1").size == 1)
      // and the generation is under OUR temp root, never the lake
      assert(ArtifactStore.root(dir).startsWith(tmpRoot))
      assert(!new File(dir, "_artifacts").exists(),
        "store wrote into the read-only lake")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.root") = v
        case None => sys.props.remove("graft.artifacts.root")
      }
    }
  }
}
