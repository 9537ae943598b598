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
 *      as ceil(bytes / [[CatalogBackend.TargetFileBytes]]) files into the folder's
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
              catalog: Option[CatalogBackend] = None): (Int, Int, Int) = {
    Tables.configure(spark)
    val tableDir = new File(new File(root, db), table)
    require(tableDir.isDirectory, s"no such table dir: $tableDir")

    var folders = 0; var before = 0; var after = 0
    CatalogBackend.dataFolders(tableDir)(_ => Some(())).foreach { case (folder, _, old) =>
      before += old.size
      if (old.size <= 1) { after += old.size }
      else {
        folders += 1
        val totalBytes = old.map(_.length()).sum
        val nOut = math.max(1,
          math.ceil(totalBytes.toDouble / CatalogBackend.TargetFileBytes).toInt)
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
          spark.read.parquet(moved.map(_.getAbsolutePath): _*))
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
}
