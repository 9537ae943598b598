package graft

import java.io.File
import org.apache.spark.sql.SparkSession

/**
 * Small-file compaction for a lake measurement — the maintenance
 * companion to [[LakeWriter]]. Streaming/append ingestion leaves many
 * small parquet files per partition folder (the reference's ecosystem
 * runs a merge process for the same reason — see the `gigapi/v2 merge`
 * dependency in /root/reference/module/init.go:23-55); at scan time
 * every extra file costs a footer read and a tiny input split, which
 * at 100 TB dominates the scan setup.
 *
 * Per partition folder with more than one parquet file:
 *   1. the folder's files are read (one distributed job per folder —
 *      only folders that NEED compaction are ever read) and rewritten
 *      as ceil(bytes / targetFileBytes) files into the folder's
 *      `tmp/` subdirectory — which the catalog walk SKIPS by the
 *      reference's half-written-data convention (queryClient.go:496-499),
 *      so a concurrent reader never sees the staging output;
 *   2. the staged files move into the folder, the old files are
 *      deleted, and the folder's `metadata.json` zone map is rebuilt
 *      from the new files' stats;
 *   3. the catalog backend (if any) gets the new paths registered and
 *      the replaced paths deregistered.
 *
 * Not transactional: a reader racing step 2 can hit a deleted file —
 * the same exposure the reference's fs layout has. The window is one
 * folder, not the table.
 */
object LakeCompactor {

  /** @return (folders compacted, files before, files after) */
  def compact(spark: SparkSession, root: String, db: String, table: String,
              timeCol: String = "time",
              targetFileBytes: Long = 128L * 1024 * 1024,
              catalog: Option[CatalogBackend] = None): (Int, Int, Int) = {
    Tables.configure(spark)
    val tableDir = new File(new File(root, db), table)
    require(tableDir.isDirectory, s"no such table dir: $tableDir")

    def partitionFolders(dir: File): Seq[File] = {
      val kids = Option(dir.listFiles()).toSeq.flatten
      val here = if (kids.exists(CatalogBackend.isParquet)) Seq(dir) else Nil
      here ++ kids.filter(d => d.isDirectory && !CatalogBackend.skipDir(d.getName))
        .flatMap(partitionFolders)
    }

    var folders = 0; var before = 0; var after = 0
    partitionFolders(tableDir).foreach { folder =>
      val old = folder.listFiles().filter(CatalogBackend.isParquet).toSeq
      before += old.size
      if (old.size <= 1) { after += old.size }
      else {
        folders += 1
        val totalBytes = old.map(_.length()).sum
        val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
        val staging = new File(new File(folder, "tmp"),
          s"compact-${java.util.UUID.randomUUID()}")
        spark.read.parquet(old.map(_.getAbsolutePath): _*)
          .coalesce(nOut)
          .write.parquet(staging.getAbsolutePath)
        val staged = staging.listFiles().filter(CatalogBackend.isParquet).toSeq
        // move staged files in (fresh names can't collide with old ones)
        val moved = staged.map { f =>
          val dst = new File(folder, f.getName)
          java.nio.file.Files.move(f.toPath, dst.toPath)
          dst
        }
        org.apache.commons.io.FileUtils.deleteDirectory(staging)
        // stats for the new files only (metadata-sized collect)
        val stats = CatalogBackend.fileStats(
          spark.read.parquet(moved.map(_.getAbsolutePath): _*), timeCol)
        old.foreach(_.delete()) // readers switch to the compacted files
        LakeWriter.writeFolderMeta(folder, stats) // stale entries drop
        catalog.foreach { c =>
          c.register(db, table, stats)
          c.deregister(db, table, old.map(_.getAbsolutePath))
        }
        after += moved.size
      }
    }
    (folders, before, after)
  }

  /** Compact PLUS artifact-sidecar maintenance in one maintenance
    * cycle: after the small-file pass, reclaim orphaned artifact
    * families under the table's `_artifacts` sidecar (a builder
    * version bump strands the old name's generations forever
    * otherwise — the per-artifact vacuum never sees sibling names).
    * `artifactsLive` is the set of artifact names the CURRENT code
    * builds; anything else under the sidecar is deleted once
    * quiescent past the ArtifactStore grace window.
    * @return (compaction triple, orphaned artifact names removed) */
  def compactWithArtifacts(spark: SparkSession, root: String, db: String,
                           table: String, artifactsLive: Set[String],
                           timeCol: String = "time",
                           targetFileBytes: Long = 128L * 1024 * 1024,
                           catalog: Option[CatalogBackend] = None)
      : ((Int, Int, Int), Seq[String]) = {
    val c = compact(spark, root, db, table, timeCol, targetFileBytes, catalog)
    val sidecar = new File(new File(new File(root, db), table), "_artifacts")
    val removed =
      if (!sidecar.isDirectory) Nil
      else graft.operators.ArtifactStore.vacuumOrphans(spark,
        sidecar.getAbsolutePath, artifactsLive,
        explicitRoot = Some(sidecar.getAbsolutePath))
    (c, removed)
  }
}
