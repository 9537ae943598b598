package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Test-lake table access.
 *
 * The reference engine's `time` contract is int64 epoch-nanoseconds
 * (see /root/reference/querier/queryClient.go:32,314 — literals are
 * rewritten to `epoch_ns(...)` so they compare against an int64 column).
 * Spark's TimestampType is microseconds and rejects parquet NANOS
 * columns outright, so we read nanosecond timestamp columns as raw
 * LongType (`spark.sql.legacy.parquet.nanosAsLong`) — full fidelity,
 * matching the reference's own representation.
 *
 * The physical annotation of the lake's `ts` column is NOT under our
 * control (the test lake has shipped both TIMESTAMP(NANOS) and
 * timestamp[us] across regenerations), so [[load]] normalizes every
 * timestamp-typed `ts` to the same int64-ns contract via exact
 * integer µs→ns math — downstream operators always see LongType ns
 * regardless of which annotation the files carry (TsEncodingSpec is
 * the canary that pins this across encodings).
 */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session configs every graft read path wants; all runtime-settable. */
  def configure(spark: SparkSession): Unit = {
    // events.ts is TIMESTAMP(NANOS) — read as int64 ns, the reference's contract.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Write µs-int64 timestamps (not INT96) so the oracle compare sees
    // identical logical values to DuckDB's TIMESTAMP results.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // re-derive native timestamp comparisons from int64-ns predicates so
    // time-range filters keep skipping parquet row groups. Registered in
    // extraOptimizations ONLY when the session doesn't already carry the
    // rule — a GraftExtensions session injects it into the main optimizer
    // batch, and registering it twice would pay a redundant (if no-op)
    // tree traversal per query. The injected-rule probe walks the
    // optimizer's batch list once per session and is memoized (weakly,
    // so stopped sessions don't pin).
    if (!spark.experimental.extraOptimizations.exists(_ eq plans.NsTimeFilterPushdown))
      regLock.synchronized { // settle the concurrent-first-query race:
        // an unsynchronized check-then-append could register twice
        if (!spark.experimental.extraOptimizations.exists(_ eq plans.NsTimeFilterPushdown)
            && !extensionInjected(spark))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ plans.NsTimeFilterPushdown
      }
  }

  private val regLock = new Object

  private val extensionChecked = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private def extensionInjected(spark: SparkSession): Boolean =
    extensionChecked.computeIfAbsent(spark, s =>
      s.sessionState.optimizer.batches
        .exists(_.rules.exists(_ eq plans.NsTimeFilterPushdown)))

  /** One test-lake table: a footer-memo read ([[readEvolving]]) of
    * `{dir}/{name}.parquet`, so a rewritten file is seen by the next
    * load and only a file's first sight costs a footer read. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readEvolving(spark, Seq(s"$dir/$name.parquet"), Seq("ts"))

  /**
   * Enforce the int64-ns `ts` contract regardless of the file's
   * physical timestamp annotation: NANOS-annotated files arrive as
   * LongType already (nanosAsLong, pass-through); µs-annotated files
   * arrive as TimestampType (isAdjustedToUTC) or TimestampNTZType
   * (wall-clock) and are converted with exact integer math —
   * `unix_micros(ts) * 1000`. The NTZ→LTZ cast is lossless because
   * the session time zone is pinned to UTC in [[configure]].
   *
   * Range note: int64 ns spans 1677–2262 — the reference engine's own
   * contract limit (its `time` column is int64 epoch-ns). A µs file
   * can physically carry timestamps beyond that; they would wrap in
   * the conversion, exactly as they would overflow the reference.
   * Lake data is in-range by contract; no guard is added.
   */
  private[graft] def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, unix_micros}
    df.schema.fields.find(_.name.equalsIgnoreCase(colName)) match {
      case Some(f) if f.dataType == TimestampType || f.dataType == TimestampNTZType =>
        df.withColumn(f.name, unix_micros(col(f.name).cast(TimestampType)) * 1000L)
      case _ => df
    }
  }

  /** Register every table as a temp view (for the SQL-form queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  // ---- schema-evolving reads (union_by_name parity) -------------------

  import org.apache.spark.sql.types._
  import org.apache.spark.sql.functions.{col, lit}

  /** DuckDB-style widening for union_by_name: integers widen to the
    * larger integer, any numeric mix involving fractions widens to
    * double (float only when both are float), anything vs string
    * degrades to string (the reference's marshaling rule, §1.3). */
  private val intRank: Map[DataType, Int] =
    Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
  private def numeric(t: DataType): Boolean =
    intRank.contains(t) || t == FloatType || t == DoubleType

  private[graft] def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (x, y) if intRank.contains(x) && intRank.contains(y) =>
      if (intRank(x) >= intRank(y)) x else y
    case (x, y) if numeric(x) && numeric(y) => DoubleType
    case (StringType, _) | (_, StringType) => StringType
    case (x, y) => throw new IllegalArgumentException(s"cannot widen $x vs $y")
  }

  /**
   * `read_parquet([...], union_by_name=true)` parity: Spark's
   * `mergeSchema` refuses the int32/int64 merges DuckDB widens through
   * (CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE), so files are grouped by
   * footer schema, each group is read once, casts are applied to the
   * widened union schema, and groups union by name with nulls for
   * missing columns. Schemas come from the driver-side footer memo
   * ([[footerSchema]]) and are handed to each group's scan, so
   * resolving them launches no Spark job — the data itself is still
   * read exactly once, distributed.
   */
  def readEvolving(spark: SparkSession, paths: Seq[String],
                   timeCols: Seq[String] = LakeTimeCols): DataFrame =
    readGroups(spark, schemaGroups(spark, paths), timeCols)

  /** The lake's time column and the events table's `ts`. */
  private val LakeTimeCols = Seq("ts", CatalogBackend.TimeCol)

  /** The schema [[readEvolving]] gives `paths` by default, from the
    * footer memo and one file per schema group: the full file set is
    * never listed or scanned (the empty-window answer over a whole table). */
  def evolvingSchema(spark: SparkSession, paths: Seq[String]): StructType =
    readGroups(spark, schemaGroups(spark, paths).map { case (s, ps) => (s, ps.take(1)) },
      LakeTimeCols).schema

  /** `paths` grouped by memoized footer schema, path order kept within a group. */
  private def schemaGroups(spark: SparkSession,
                           paths: Seq[String]): Seq[(StructType, Seq[String])] = {
    configure(spark)
    val conf = spark.sessionState.newHadoopConf()
    paths.map(p => (footerSchema(spark, p, conf), p))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
  }

  private def readGroups(spark: SparkSession, groups: Seq[(StructType, Seq[String])],
                         timeCols: Seq[String]): DataFrame = {
    // The int64-ns normalization must happen PER RAW-SCHEMA GROUP,
    // before widening: a table holding both a NANOS-annotated file
    // (LongType via nanosAsLong) and a µs-timestamp file would
    // otherwise hit widen(LongType, TimestampType) — unwidenable —
    // exactly when the annotation drift lands mid-table. Groups stay
    // keyed by the RAW footer schema (mixed-annotation files must not
    // share one parquet scan), while the widened union runs over the
    // POST-normalization types.
    val dfs = groups.map { case (schema, ps) =>
      timeCols.foldLeft(spark.read.schema(schema).parquet(ps: _*))(normalizeTs)
    }
    if (dfs.size == 1) return dfs.head
    // widened union-by-name schema over all file groups
    val merged = scala.collection.mutable.LinkedHashMap[String, DataType]()
    dfs.foreach(_.schema.fields.foreach { f =>
      merged(f.name) = merged.get(f.name).map(widen(_, f.dataType)).getOrElse(f.dataType)
    })
    dfs.map { df =>
      val have = df.schema.fieldNames.toSet
      df.select(merged.toSeq.map { case (name, dt) =>
        if (have(name)) col(name).cast(dt).as(name)
        else lit(null).cast(dt).as(name)
      }: _*)
    }.reduce(_.unionByName(_))
  }

  // ---- footer-schema memo ----------------------------------------------

  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.parquet.schema.MessageType
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetReadSupport, ParquetToSparkSchemaConverter}

  private val SparkRowMetaKey = ParquetReadSupport.SPARK_METADATA_KEY

  /** What Spark's schema inference reads from a footer, and nothing
    * that depends on a session conf: the parquet schema and Spark's
    * row-metadata JSON (absent in files other writers produced). */
  private final case class FooterMeta(parquet: MessageType, sparkRowMeta: Option[String])

  // Keyed by (file, length, mtime), so an in-place rewrite misses and a
  // compaction's new files are read fresh; LRU-bounded.
  private val MaxFooters = 4096
  private val footers =
    new java.util.LinkedHashMap[(String, Long, Long), FooterMeta](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), FooterMeta]): Boolean =
        size() > MaxFooters
    }

  /**
   * The Spark schema of one parquet path, converted by the function
   * Spark's own inference uses (`ParquetFileFormat.readSchemaFromFooter`)
   * under the session's current confs (`nanosAsLong`, `binaryAsString`,
   * …), so `spark.read.schema(footerSchema(spark, p)).parquet(p)`
   * has exactly the schema of `spark.read.parquet(p)`. The footer
   * itself is read on the driver at most once per (file, length,
   * mtime); a concurrent duplicate read is harmless. No Spark job. A
   * directory resolves to the file Spark's inference would read. A
   * missing path throws `FileNotFoundException`.
   */
  def footerSchema(spark: SparkSession, path: String): StructType =
    footerSchema(spark, path, spark.sessionState.newHadoopConf())

  private def footerSchema(spark: SparkSession, path: String, conf: Configuration): StructType = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val st = inferenceFile(path, conf)
    val key = (st.getPath.toString, st.getLen, st.getModificationTime)
    val meta = Option(footers.synchronized(footers.get(key))).getOrElse {
      val fm = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)
        .getFileMetaData
      val m = FooterMeta(fm.getSchema, Option(fm.getKeyValueMetaData.get(SparkRowMetaKey)))
      footers.synchronized(footers.put(key, m))
      m
    }
    val kv = new java.util.HashMap[String, String]()
    meta.sparkRowMeta.foreach(kv.put(SparkRowMetaKey, _))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(st.getPath, new ParquetMetadata(
        new FileMetaData(meta.parquet, kv, null), java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `path` itself, or for a directory the file Spark's non-merging
    * inference reads: the first data file of its recursive listing in
    * path order (hidden `_`/`.` names skipped, `_k=v` partition dirs
    * kept). */
  private def inferenceFile(path: String, conf: Configuration): FileStatus = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) return st
    def visible(n: String) = !(n.startsWith(".") || (n.startsWith("_") && !n.contains("=")))
    def leaves(d: FileStatus): Seq[FileStatus] =
      fs.listStatus(d.getPath).toSeq.filter(c => visible(c.getPath.getName))
        .flatMap(c => if (c.isDirectory) leaves(c) else Seq(c))
    leaves(st).minByOption(_.getPath.toString)
      .getOrElse(throw new java.io.FileNotFoundException(s"no parquet file under $path"))
  }

  /** Test hook: number of memoized footers. */
  private[graft] def footerCount: Int = footers.synchronized(footers.size())
}
