package graft

import java.io.File
import graft.CatalogBackend.{FileStat, skipDir}

/**
 * Lake catalog: resolves `db.table` to a minimal list of parquet files
 * using directory layout + per-folder `metadata.json` zone maps.
 *
 * Mirrors the reference's catalog/pruning layer semantics
 * (/root/reference/querier/queryClient.go:340-391,436-539):
 *  - a database is a directory under the root; a table ("measurement")
 *    a directory under that;
 *  - `tmp/` directories are skipped as half-written (:496-499);
 *  - a folder-level `metadata.json` carries `{min_time, max_time,
 *    files:[{path, min_time, max_time, ...}]}` — int64 epoch-ns zone
 *    maps at folder and file granularity (:340-356);
 *  - a folder whose [min,max] misses the query range is skipped
 *    without listing its files; same per file (:370-383);
 *  - files not covered by any metadata.json are kept (no stats → no
 *    pruning, correctness preserved — pruning is an optimization
 *    only, quirk §2.3-7).
 *
 * Everything here comes from ONE recursive walk ([[files]]): the
 * on-disk parquet files, each with its sidecar entry attached. The
 * listing decides which files exist (a sidecar entry whose file is
 * gone counts nowhere); the sidecar supplies their stats.
 *
 * This is driver-side path pruning BEFORE `spark.read.parquet`, the
 * Spark-idiomatic analog of the reference's scan planning: at 100 TB
 * the file listing is O(metadata), and everything that survives
 * pruning still gets Catalyst partition pruning + parquet row-group
 * min/max pushdown below it.
 */
class Catalog(val root: String) extends CatalogBackend {

  private def subdirs(f: File): Seq[File] =
    Option(f.listFiles()).toSeq.flatten.filter(d => d.isDirectory && !skipDir(d.getName))

  def databases: Seq[String] = subdirs(new File(root)).map(_.getName).sorted

  def tables(db: String): Seq[String] =
    subdirs(new File(root, db)).map(_.getName).sorted

  private def tableDir(db: String, table: String) = new File(new File(root, db), table)

  /** The walk: every parquet file under the table dir with its sidecar
    * entry (an all-None [[FileStat]] when none covers it), zone-map
    * pruned when `range` is given — a folder whose sidecar bounds miss
    * the range is skipped without listing it. None for a missing table. */
  private def walk(db: String, table: String,
                   range: Option[(Long, Long)]): Option[Seq[FileStat]] =
    Some(tableDir(db, table)).filter(_.isDirectory).map { dir =>
      CatalogBackend.dataFolders(dir) { folder =>
        val sidecar = CatalogBackend.readSidecar(folder)
        if (sidecar.exists(!_._1.overlaps(range))) None // folder-level skip
        else Some(sidecar.toSeq.flatMap(_._2).map(e => new File(e.path).getName -> e).toMap)
      }.flatMap { case (_, entries, files) =>
        files.map { f =>
          entries.getOrElse(f.getName, FileStat("", None, None)).copy(path = f.getAbsolutePath)
        }.filter(_.overlaps(range))
      }
    }

  /** Parquet files of `db.table` with their zone-map stats, pruned to `range`. */
  def files(db: String, table: String,
            range: Option[(Long, Long)] = None): Seq[FileStat] =
    walk(db, table, range).getOrElse(Nil)

  def prunedPaths(db: String, table: String,
                  range: Option[(Long, Long)]): Seq[String] =
    files(db, table, range).map(_.path).sorted

  def tableExists(db: String, table: String): Boolean = tableDir(db, table).isDirectory

  // An uncovered file's all-None entry already makes both aggregates
  // unprovable; a missing table is unprovable, not empty.
  override def metadataStats(db: String, table: String)
      : (Option[Long], Option[(Long, Long)]) =
    walk(db, table, None).fold[(Option[Long], Option[(Long, Long)])]((None, None))(
      CatalogBackend.statsOf)

  override def metadataRangeCount(db: String, table: String,
                                  range: (Long, Long)): Option[Long] =
    walk(db, table, None).flatMap(CatalogBackend.rangeCountOf(_, range))
}
