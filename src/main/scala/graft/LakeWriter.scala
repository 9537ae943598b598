package graft

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Lake sink: writes a measurement back into the catalogued lake with
 * the reference's on-disk contract (SURVEY.md §1.1) —
 * `{root}/{db}/{table}/date=YYYY-MM-DD/` parquet files plus per-folder
 * `metadata.json` zone maps `{min_time, max_time, row_count,
 * files:[...]}` (queryClient.go:340-356) — so anything written here is
 * immediately time-prunable by `Catalog`.
 *
 * Scale shape: one distributed write partitioned by the derived date
 * column (Hive layout → native partition pruning), then one small
 * aggregate (per-file min/max/count over the written files' stats
 * query) to emit the zone maps. No data passes through the driver.
 */
object LakeWriter {

  /**
   * 16-bit-per-column Morton (Z-order) code: each column is hashed to
   * 16 bits and the bits of up to 4 columns are interleaved. Hashing
   * (rather than ranking) keeps it a pure per-row expression — no
   * extra pass to compute quantiles — at the cost of clustering by
   * hash locality instead of value locality, which is the right trade
   * for point-lookup-style skipping (equality predicates).
   */
  def mortonCode(cols: Seq[Column]): Column = {
    require(cols.nonEmpty && cols.size <= 4, "zorder supports 1-4 columns")
    val k = cols.size
    val bits16 = cols.map(c => abs(hash(c)).bitwiseAND(0xFFFF))
    (0 until 16).foldLeft(lit(0L)) { (acc, bit) =>
      bits16.zipWithIndex.foldLeft(acc) { case (a, (b, ci)) =>
        a.bitwiseOR(shiftleft(
          shiftright(b, bit).bitwiseAND(1).cast("long"), bit * k + ci))
      }
    }
  }

  /** Write `df` (with the int64-ns [[CatalogBackend.TimeCol]]) as a lake
    * measurement. `hourPartitions=true` adds the reference's `hour=HH`
    * level below `date=` (queryClient.go:597-607 layout). */
  def write(root: String, db: String, table: String, df: DataFrame,
            mode: SaveMode = SaveMode.Overwrite,
            hourPartitions: Boolean = false,
            bloomFilterCols: Seq[String] = Nil,
            zorderCols: Seq[String] = Nil,
            catalog: Option[CatalogBackend] = None): Unit = {
    val spark = df.sparkSession
    Tables.configure(spark)
    val tableDir = s"$root/$db/$table"
    val ts = timestamp_micros(expr(s"${CatalogBackend.TimeCol} div 1000"))
    val withDate = df.withColumn("date", date_format(ts, "yyyy-MM-dd"))
    val (partCols, toWrite) =
      if (hourPartitions)
        (Seq("date", "hour"), withDate.withColumn("hour", date_format(ts, "HH")))
      else (Seq("date"), withDate)
    // optional Z-order clustering: rows sorted by interleaved bits of
    // the given columns, so parquet row-group min/max stats stay tight
    // on EVERY zorder column at once (multi-dimensional data skipping —
    // a linear sort only keeps the leading column's stats tight)
    val clustered =
      if (zorderCols.nonEmpty)
        toWrite.sortWithinPartitions(mortonCode(zorderCols.map(col)))
      else toWrite
    // optional parquet bloom filters: point predicates on high-cardinality
    // columns (ids, session keys) skip row groups the zone maps can't
    val writer = bloomFilterCols.foldLeft(clustered.write.mode(mode)) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    // Append is incremental: snapshot the file set before the write so
    // the stats/registration pass below covers ONLY the delta — an
    // O(new files) pass, not an O(table) rescan of all history. The
    // listing is the catalog's: a file staged under `tmp/` (a compaction
    // racing this write) or a `_` sidecar is no part of the delta.
    val local = isLocalUri(tableDir)
    def listed(): Set[String] = CatalogBackend.dataFolders(localFile(tableDir))(_ => Some(()))
      .flatMap(_._3).map(_.getAbsolutePath).toSet
    val before: Set[String] =
      if (local && mode == SaveMode.Append) listed() else Set.empty
    writer.partitionBy(partCols: _*).parquet(tableDir)
    // zone maps: min/max time per newly written file. On a non-local
    // lake (no walkable listing) fall back to the whole-table scan;
    // register is idempotent by path, so that stays correct.
    val statsSource =
      if (local) {
        val delta = (listed() -- before).toSeq.sorted
        if (delta.isEmpty) None else Some(spark.read.parquet(delta: _*))
      } else Some(spark.read.parquet(tableDir))
    val written = statsSource.map(CatalogBackend.fileStats).getOrElse(Nil)
    // publish to the active catalog backend too (same stats as the
    // zone maps) — a redis-indexed lake sees the new files without a
    // filesystem walk; the json backend's no-op register is covered by
    // the metadata.json written below. Overwrite first drops the old
    // entries: the fresh part files have new names, so stale paths to
    // deleted files would otherwise survive in the index.
    catalog.foreach { c =>
      if (mode == SaveMode.Overwrite) c.clear(db, table)
      c.register(db, table, written)
    }
    if (local) written.groupBy(e => new File(e.path).getParentFile)
      .foreach { case (folder, entries) => writeFolderMeta(folder, entries) }
  }

  /** file: (or bare-path) URIs keep their filesystem path; any other
    * scheme keeps the FULL uri string — `new URI(p).getPath` would drop
    * scheme+authority and feed the catalog `/key` for `s3a://bucket/key`. */
  private[graft] def catalogPath(uriStr: String): String = {
    val u = scala.util.Try(new java.net.URI(uriStr)).toOption
    u match {
      case Some(x) if x.getScheme == null || x.getScheme == "file" => x.getPath
      case _ => uriStr
    }
  }

  private def isLocalUri(p: String): Boolean =
    scala.util.Try(new java.net.URI(p)).toOption
      .forall(u => u.getScheme == null || u.getScheme == "file")

  /** Local filesystem File for a bare path OR a file:// URI — a
    * file:// root passed to `new File(string)` would resolve nothing
    * and the delta listing would silently come back empty. */
  private def localFile(p: String): File = new File(catalogPath(p))

  /**
   * Write (or incrementally merge) a folder's `metadata.json` from
   * entries for files in it: entries for files re-written in this
   * commit replace their old entry by name; entries for untouched
   * files survive, so an Append publishes its delta without losing the
   * folder's history. Folder-level min/max/row_count are recomputed
   * over the merged set.
   */
  private[graft] def writeFolderMeta(folder: File,
      newEntries: Seq[CatalogBackend.FileStat]): Unit = {
    val named = newEntries.map(e => e.copy(path = new File(e.path).getName))
    val newNames = named.map(_.path).toSet
    // drop prior entries whose file no longer exists (overwritten dirs)
    val prior = CatalogBackend.readSidecar(folder).toSeq.flatMap(_._2)
      .filterNot(e => newNames(e.path) || !new File(folder, e.path).isFile)
    CatalogBackend.writeSidecar(folder, prior ++ named)
  }
}
