package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Catalog backend abstraction — the reference selects its metadata
 * index implementation by config (`json` → filesystem metadata.json
 * walk, `redis` → redis-backed index), see
 * /root/reference/querier/queryClient.go:418-432 (table index) and
 * :660-666 (db index). [[Catalog]] is the `json` backend;
 * [[RedisCatalog]] is the `redis` one. [[Engine]] works against this
 * trait so the two are interchangeable.
 */
trait CatalogBackend {
  def databases: Seq[String]
  def tables(db: String): Seq[String]

  /**
   * Parquet paths for `db.table`, pruned to files whose zone map
   * overlaps `range` (inclusive epoch-ns bounds). Files with no stats
   * MUST be kept — pruning is an optimization, never a filter.
   */
  def prunedPaths(db: String, table: String, range: Option[(Long, Long)]): Seq[String]

  def tableExists(db: String, table: String): Boolean

  /**
   * Writer-side hook: record newly written files for `db.table` so
   * the backend can serve them from `prunedPaths` (and, with row
   * counts, from `metadataStats`). Default is a no-op — the json
   * backend discovers files from the `metadata.json` zone maps the
   * writer already leaves on disk; index-server backends (redis)
   * override this to publish entries. `LakeWriter.write(catalog =
   * Some(…))` calls it after a commit, keeping the backends
   * interchangeable end-to-end.
   */
  def register(db: String, table: String,
               entries: Seq[CatalogBackend.FileStat]): Unit = ()

  /**
   * Both metadata aggregates from ONE metadata pass:
   * (provable row count, provable (min_time, max_time)). Each side is
   * independently None when unprovable: the count when any file lacks
   * a row_count stat, the bounds when any file lacks time stats (it
   * could extend the range) or the table is empty (min/max of no rows
   * is NULL; let the scan produce it). Lets the engine answer
   * unfiltered `count(*)`/`min(time)`/`max(time)` without touching a
   * byte of parquet.
   */
  def metadataStats(db: String, table: String)
      : (Option[Long], Option[(Long, Long)]) = (None, None)

  /**
   * Exact row count of `db.table` restricted to the INCLUSIVE time
   * range — provable only when every file is either fully inside the
   * range (counts whole) or fully outside it (counts zero): one
   * partially-overlapping or stat-less file ⇒ None ⇒ scan. The
   * day-aligned lake layout makes day/hour-bucketed counts provable
   * in the common case.
   */
  def metadataRangeCount(db: String, table: String,
                         range: (Long, Long)): Option[Long] = None

  /**
   * Writer-side hook: drop specific file entries (a compactor removing
   * the files it just replaced). Default no-op, like `register`.
   */
  def deregister(db: String, table: String, paths: Seq[String]): Unit = ()

  /**
   * Writer-side hook: drop every registered file entry for `db.table`.
   * Called by `LakeWriter.write` before `register` when the write mode
   * is Overwrite — the fresh part files have new names, so without a
   * clear the index would keep stale paths to deleted files and a
   * subsequent read of `prunedPaths` would fail on them. Default no-op
   * (the json backend's index IS the on-disk state the overwrite
   * already replaced).
   */
  def clear(db: String, table: String): Unit = ()
}

object CatalogBackend {
  /** One file's zone-map entry: path + stats, each None when unknown.
    * The one in-memory form of a `metadata.json` file entry, a redis
    * stats-hash value and a writer's per-file aggregate. */
  case class FileStat(path: String, minTime: Option[Long],
                      maxTime: Option[Long], rowCount: Option[Long] = None) {
    def bounds: Option[(Long, Long)] =
      for (mn <- minTime; mx <- maxTime) yield (mn, mx)

    /** Overlap test on inclusive zone-map bounds (missing stats ⇒ keep:
      * pruning is an optimization, never a filter). */
    def overlaps(range: Option[(Long, Long)]): Boolean = range.forall {
      case (start, end) => maxTime.forall(_ >= start) && minTime.forall(_ <= end)
    }
  }

  // ---- the lake contract ----

  /** Every lake table's time column, int64 epoch-ns (reference
    * queryClient.go:32,314): written, zone-mapped, pruned and put first. */
  val TimeCol = "time"

  /** The database of a query that names none (reference server.go:183-189). */
  val DefaultDb = "mydb"

  /** The size the compactor rewrites a folder's files toward. */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Directories no lake walk enters: `tmp/` holds half-written data
    * (reference convention, queryClient.go:496-499); `_`/`.` prefixes
    * are hidden sidecars (Hadoop convention — Spark's own FileIndex
    * ignores them too, e.g. the `_signatures` dedup store). */
  def skipDir(name: String): Boolean =
    name == "tmp" || name.startsWith("_") || name.startsWith(".")

  def isParquet(f: File): Boolean = f.isFile && f.getName.endsWith(".parquet")

  /** The one listing of a table's data: every folder under `tableDir`
    * that [[skipDir]] lets a walk into and that holds parquet files, with
    * those files. `enter` sees each folder before it is listed: None
    * skips the folder and everything below it, `Some(a)` lists it and
    * hands `a` back beside its files. Nil for a missing directory. */
  def dataFolders[A](tableDir: File)(enter: File => Option[A]): Seq[(File, A, Seq[File])] = {
    def visit(dir: File): Seq[(File, A, Seq[File])] = enter(dir).toSeq.flatMap { a =>
      val here = Option(dir.listFiles()).toSeq.flatten
      val files = here.filter(isParquet)
      (if (files.isEmpty) Nil else Seq((dir, a, files))) ++
        here.filter(d => d.isDirectory && !skipDir(d.getName)).flatMap(visit)
    }
    if (tableDir.isDirectory) visit(tableDir) else Nil
  }

  // ---- zone-map JSON: sidecar file entries and redis stats-hash values ----

  private[graft] val json = new ObjectMapper()

  /** Entry encoder, fields in the sidecar's order
    * `path,row_count,min_time,max_time`; an empty path and each unknown
    * stat are left out. */
  def toJson(e: FileStat): ObjectNode = {
    val n = json.createObjectNode()
    if (e.path.nonEmpty) n.put("path", e.path)
    e.rowCount.foreach(n.put("row_count", _))
    e.minTime.foreach(n.put("min_time", _))
    e.maxTime.foreach(n.put("max_time", _))
    n
  }

  /** Entry decoder: an absent path is "", an absent or non-numeric stat None. */
  def fromJson(n: JsonNode): FileStat = {
    def stat(f: String) = Option(n.get(f)).filter(_.isNumber).map(_.asLong())
    FileStat(Option(n.get("path")).map(_.asText()).getOrElse(""),
      stat("min_time"), stat("max_time"), stat("row_count"))
  }

  /** A folder's `metadata.json` sidecar: the folder-level zone map and
    * the file entries (paths as written: bare file names). None when
    * the folder has no readable sidecar. */
  def readSidecar(dir: File): Option[(FileStat, Seq[FileStat])] = {
    val f = new File(dir, "metadata.json")
    if (!f.isFile) None
    else scala.util.Try(json.readTree(f)).toOption.map { m =>
      (fromJson(m), Option(m.get("files")).toSeq.flatMap(_.elements().asScala).map(fromJson))
    }
  }

  /** Write a folder's sidecar over `entries` (bare file names) as
    * `{type,row_count,min_time,max_time,files}`: the folder row_count
    * sums the known counts, the folder bounds span the entries that
    * have them. */
  def writeSidecar(dir: File, entries: Seq[FileStat]): Unit = {
    val bs = entries.flatMap(_.bounds)
    val doc = json.createObjectNode().put("type", "parquet")
    doc.setAll[ObjectNode](toJson(FileStat("", bs.map(_._1).minOption,
      bs.map(_._2).maxOption, Some(entries.flatMap(_.rowCount).sum))))
    doc.putArray("files").addAll(entries.map(toJson).asJava)
    Files.writeString(new File(dir, "metadata.json").toPath, json.writeValueAsString(doc))
  }

  /** Per-file zone-map entries of the files `df` reads: one
    * min/max/count aggregate over `input_file_name()`, collecting
    * O(#files) rows — metadata, not data. Paths are
    * [[LakeWriter.catalogPath]]s; a file whose time values are ALL
    * NULL gets no bounds (kept unpruned) instead of an NPE after its
    * data is already on disk. */
  def fileStats(df: DataFrame): Seq[FileStat] =
    df.select(col(TimeCol), input_file_name().as("file"))
      .groupBy(col("file"))
      .agg(min(TimeCol), max(TimeCol), count(lit(1)))
      .collect().toSeq.map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        FileStat(LakeWriter.catalogPath(r.getString(0)), opt(1), opt(2), Some(r.getLong(3)))
      }

  /** (provable count, provable bounds) over per-file entries — each
    * side independently None when any entry lacks its stat. Empty
    * entries ⇒ count 0 but no bounds (min/max of no rows is NULL; a
    * scan must produce it). */
  def statsOf(es: Seq[FileStat]): (Option[Long], Option[(Long, Long)]) = {
    val cnt = if (es.exists(_.rowCount.isEmpty)) None else Some(es.flatMap(_.rowCount).sum)
    val bs = es.map(_.bounds)
    val bounds =
      if (es.isEmpty || bs.exists(_.isEmpty)) None
      else Some((bs.flatten.map(_._1).min, bs.flatten.map(_._2).max))
    (cnt, bounds)
  }

  /** Provable row count within the INCLUSIVE range: files fully
    * inside count whole, fully outside count zero; a partial overlap
    * or a stat-less entry makes the count unprovable. */
  def rangeCountOf(es: Seq[FileStat], range: (Long, Long)): Option[Long] = {
    val (lo, hi) = range
    es.foldLeft(Option(0L)) { (acc, e) =>
      e.bounds match {
        case Some((mn, mx)) =>
          if (mx < lo || mn > hi) acc // fully outside
          else if (mn >= lo && mx <= hi) for (a <- acc; c <- e.rowCount) yield a + c
          else None // partial overlap: the range splits this file
        case None => None // no time stats: can't classify the file
      }
    }
  }
}
