package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TimeRangeExtract.TimeRange

/**
 * The query engine: the Spark analog of the reference's
 * `QueryClient.Query` lifecycle (/root/reference/querier/queryClient.go:713-877):
 *
 *   normalize → SHOW intercepts → parse (Catalyst, not regexes) →
 *   catalog file pruning by extracted time range → splice the pruned
 *   scan's plan into the FROM position → run the user SQL → fallback
 *   pass-through for table-free SQL.
 *
 * `query` holds NO session-global state (no temp views): each request
 * builds a self-contained plan, so the engine is safe under the HTTP
 * server's concurrent dispatch.
 *
 * Differences from the reference, by design (documented quirk fixes):
 *  - an empty pruned file set yields an empty DataFrame with the
 *    table's schema instead of an error (quirk §2.3-6);
 *  - the plan-based time extraction replaces 16 regexes (O2) and the
 *    FROM-rewrite string surgery (O8) becomes a logical-plan splice.
 */
class Engine(val spark: SparkSession, val catalog: CatalogBackend,
             val defaultDb: String = "mydb", val timeCol: String = "time") {

  graft.functions.Compat.register(spark)
  Tables.configure(spark)

  import TimeRangeExtract._

  def showDatabases(): DataFrame = {
    import spark.implicits._
    catalog.databases.toDF("database_name")
  }

  def showTables(db: String): DataFrame = {
    import spark.implicits._
    catalog.tables(db).toDF("table_name")
  }

  /** Read a table from its (optionally time-pruned) file list. */
  def readTable(db: String, table: String, range: Option[(Long, Long)]): DataFrame = {
    val paths = catalog.prunedPaths(db, table, range)
    if (paths.nonEmpty) {
      // union_by_name=true analog: schema-evolving multi-file scan with
      // DuckDB-style type widening (Tables.readEvolving). A FOREIGN
      // table whose `time` column is physically timestamp-annotated is
      // normalized to the int64-ns contract here (same conversion as
      // the events `ts` drift fix) so the rewritten epoch-ns
      // comparisons analyze; NsTimeFilterPushdown then restores the
      // parquet pushdown for the range predicate.
      Tables.readEvolving(spark, paths, Seq("ts", "time", timeCol).distinct)
    } else {
      val all = catalog.prunedPaths(db, table, None)
      if (all.isEmpty) spark.emptyDataFrame
      else { // empty result with the table's real schema (quirk §2.3-6 fix),
        // from memoized footers: no scan or listing of the whole table
        val schema = Tables.evolvingSchema(spark, all, Seq("ts", "time", timeCol).distinct)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
    }
  }

  /**
   * Execute a query against the lake. `db` resolution mirrors the
   * reference: explicit argument > default "mydb"
   * (/root/reference/querier/server.go:183-189).
   */
  def query(sql0: String, db0: String = ""): DataFrame = {
    val sql = sql0.trim.replaceAll("\\s+", " ")
    val db = if (db0.nonEmpty) db0 else defaultDb
    val upper = sql.toUpperCase.stripSuffix(";").trim
    if (upper == "SHOW DATABASES") return showDatabases()
    if (upper == "SHOW TABLES") return showTables(db)
    // SHOW TABLES FROM|IN <db> — SQL-level alternative to the ?db= param
    if (upper.startsWith("SHOW TABLES FROM ") || upper.startsWith("SHOW TABLES IN "))
      return showTables(sql.stripSuffix(";").trim.split("\\s+").last)

    val parsed = scala.util.Try(parse(spark, sql)).toOption
    // EXPLAIN <q> / DESCRIBE [QUERY] <q> hold their query plan outside
    // `children`: unwrap, run the full pipeline (pruning, splice,
    // literal rewrite) on the inner query, and re-wrap at the end —
    // the reference supports both implicitly through DuckDB delegation
    val (wrap, planOpt): (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]) =
      parsed match {
        case Some(e: org.apache.spark.sql.execution.command.ExplainCommand) =>
          (p => e.copy(logicalPlan = p), Some(e.logicalPlan))
        case Some(d: org.apache.spark.sql.execution.command.DescribeQueryCommand) =>
          (p => d.copy(plan = p), Some(d.plan))
        case other => (identity, other)
      }
    // metadata-only count: an unfiltered `SELECT count(*) FROM t` is
    // answered from the catalog's per-file row_count stats — zero bytes
    // of parquet touched — when every file is covered (the reference's
    // metadata.json carries row_count for exactly this). Command
    // wrappers (EXPLAIN/DESCRIBE) must show the real plan, so skip.
    if (parsed == planOpt) // not unwrapped from a command
      planOpt.flatMap(Engine.metadataAggTarget(_, timeCol)).foreach {
        case (parts, specs, timeFiltered) =>
          val (d, t) =
            if (parts.size == 1) (db, parts.head)
            else (parts.dropRight(1).mkString("."), parts.last)
          if (catalog.tableExists(d, t)) {
            val needCount = specs.exists(_._1 == Engine.MetaCount)
            val needBounds = specs.exists(s =>
              s._1 == Engine.MetaMinTime || s._1 == Engine.MetaMaxTime)
            // zone maps are int64-ns by the lake contract; a table whose
            // time column is TimestampType would scan to timestamps, so
            // the LongType answer would be wrong — verify the type from
            // ONE memoized parquet footer (no data scan, no Spark job)
            val boundsTypeOk = !needBounds ||
              catalog.prunedPaths(d, t, None).headOption.forall { p =>
                scala.util.Try(Tables.footerSchema(spark, p)).toOption
                  .flatMap(_.fields.find(_.name.equalsIgnoreCase(timeCol)))
                  .exists(_.dataType == org.apache.spark.sql.types.LongType)
              }
            val (metaCnt, metaBounds) =
              if (timeFiltered) {
                // specs are count-only here (matcher guarantees it);
                // the WHERE is exactly a time range, represented
                // inclusively by extract's normalization
                val rangeCnt = extract(planOpt.get, timeCol).asTuple
                  .flatMap(catalog.metadataRangeCount(d, t, _))
                (rangeCnt, None)
              } else catalog.metadataStats(d, t)
            val cnt = if (needCount) metaCnt else Some(0L)
            val bounds =
              if (!boundsTypeOk) None
              else if (needBounds) metaBounds
              else Some((0L, 0L))
            for (n <- cnt; (mn, mx) <- bounds) {
              val values = specs.map {
                case (Engine.MetaCount, _)   => n
                case (Engine.MetaMinTime, _) => mn
                case (Engine.MetaMaxTime, _) => mx
              }
              return spark.createDataFrame(
                java.util.Collections.singletonList(
                  org.apache.spark.sql.Row(values: _*): org.apache.spark.sql.Row),
                org.apache.spark.sql.types.StructType(specs.map { case (_, nm) =>
                  org.apache.spark.sql.types.StructField(
                    nm, org.apache.spark.sql.types.LongType, nullable = false)
                }))
            }
          }
      }

    // CTE names shadow lake tables: `WITH x AS (…) SELECT … FROM x`
    // must resolve x to the CTE even when a lake table x exists. The
    // shadowing is SCOPED to each UnresolvedWith's own subtree — a CTE
    // named x inside one subquery must not suppress a lake table x
    // referenced bare in a different scope of the same statement.
    val seen = scala.collection.mutable.Buffer[(Seq[String], Option[String])]()
    planOpt.foreach(Engine.rewriteScoped(_, Set.empty, (r, scope, alias) => {
      if (!(r.multipartIdentifier.size == 1 &&
            scope.contains(r.multipartIdentifier.head.toLowerCase)))
        seen += ((r.multipartIdentifier, alias))
      None
    }))
    def toDbTable(parts: Seq[String]): (String, String) = parts match {
      case Seq(d, t) => (d, t)
      case Seq(t) => (db, t)
      case other => (other.dropRight(1).mkString("."), other.last)
    }
    // occurrences keep their FROM-clause alias (per-occurrence pruning
    // for multi-occurrence tables); rels is the distinct table set
    val occurrences = seen.toSeq
      .map { case (parts, alias) => (toDbTable(parts), alias) }
      .distinct
      .filter { case ((d, t), _) => catalog.tableExists(d, t) }
    val rels = occurrences.map(_._1).distinct
    if (rels.isEmpty)
      return spark.sql(sql) // table-free or non-lake SQL → pass-through (O10)

    // Resolve EVERY referenced lake table to its pruned, analyzed scan
    // plan (joins across measurements work like any single-table
    // query). Zone-map pruning is alias-aware: `m.time >= …` tightens
    // only the relation aliased `m`; unqualified `time` predicates
    // attribute only in single-relation queries. Mis-attribution would
    // drop rows; the WHERE clause still filters either way (quirk
    // §2.3-7).
    val perRel: Map[String, TimeRange] =
      extractPerRelation(planOpt.get, timeCol)
    val perAlias: Map[String, TimeRange] =
      extractPerAlias(planOpt.get, timeCol)
    val tableOccurrenceCount: Map[(String, String), Int] =
      occurrences.groupBy { case ((d, t), _) => (d.toLowerCase, t.toLowerCase) }
        .view.mapValues(_.size).toMap
    // table (last name, lowercase) → "its time column is int64 ns";
    // only tables that HAVE a time column appear. Same-name tables in
    // different dbs share a key — AND'ed, so a mixed pair never gets
    // the long-side rewrite applied to its timestamp side.
    val timeIsLong = scala.collection.mutable.Map[String, Boolean]()
    // (db, table, alias) → pruned analyzed plan. Kept entirely
    // query-local: no session-global temp views, so concurrent queries
    // on one table with different time ranges can never observe each
    // other's pruned file set (the reference is likewise safe
    // per-request because DuckDB gets self-contained SQL —
    // server.go:142). A single-occurrence table prunes by its
    // per-table range (incl. unqualified attribution); each occurrence
    // of a MULTI-occurrence table prunes by its own statement-unique
    // alias's qualified predicates, or not at all.
    val prunedPlans: Map[(String, String, Option[String]),
                         org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
      occurrences.map { case ((relDb, table), alias) =>
        val key = (relDb.toLowerCase, table.toLowerCase)
        val pruneRange =
          if (tableOccurrenceCount(key) == 1)
            perRel.get(table.toLowerCase).flatMap(_.asTuple)
          else alias.flatMap(perAlias.get).flatMap(_.asTuple)
        val tableDf = readTable(relDb, table, pruneRange)
        tableDf.schema.fields.find(_.name.equalsIgnoreCase(timeCol)).foreach { f =>
          val isLong = f.dataType == org.apache.spark.sql.types.LongType
          val k = table.toLowerCase
          timeIsLong(k) = timeIsLong.getOrElse(k, true) && isLong
        }
        (relDb.toLowerCase, table.toLowerCase, alias) ->
          tableDf.queryExecution.analyzed
      }.toMap
    val anyLongTime = timeIsLong.values.exists(identity)
    // Splice each pruned plan directly into its `UnresolvedRelation`
    // position on the PARSED PLAN — the analog of the reference's
    // FROM-clause splice (O8), but done as a plan transform instead of
    // regex surgery over the SQL text, so a 'mydb.meas' string literal
    // or a column named `mydb` is never corrupted. The splice is
    // wrapped in SubqueryAlias(table, db) so `events.c` and
    // `mydb.events.c` qualify naturally. Subquery plans are rewritten
    // too; CTE references are left alone. A self-join splices the same
    // analyzed subtree twice — the analyzer's DeduplicateRelations
    // re-aliases one side, as for `df.join(df)`.
    def relKey(parts: Seq[String]): (String, String) =
      if (parts.size == 1) (db.toLowerCase, parts.head.toLowerCase)
      else (parts.dropRight(1).mkString(".").toLowerCase, parts.last.toLowerCase)
    val renamed = Engine.rewriteScoped(planOpt.get, Set.empty, (r, scope, alias) =>
      if (r.multipartIdentifier.size == 1 &&
          scope.contains(r.multipartIdentifier.head.toLowerCase)) None
      else {
        val (d, t) = relKey(r.multipartIdentifier)
        prunedPlans.get((d, t, alias)).map { pruned =>
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
            org.apache.spark.sql.catalyst.AliasIdentifier(t, Seq(d)), pruned)
        }
      })
    // O9 analog: if any time column is int64 ns, rewrite time-vs-
    // string/timestamp literal comparisons to long-literal form —
    // alias-scoped so a TimestampType `time` on another relation in
    // the same plan keeps its native literal semantics
    val finalPlan = if (anyLongTime) {
      val aliases = TimeRangeExtract.aliasMap(planOpt.get)
      // unqualified `time` (or an unresolvable qualifier, e.g. a
      // multi-table subquery alias): rewrite only when EVERY time-
      // bearing relation in the plan is long — otherwise ambiguous
      val allLong = timeIsLong.values.forall(identity)
      rewriteTimeLiterals(renamed, timeCol, attributable = parts =>
        if (parts.size >= 2) {
          val q = parts.dropRight(1).mkString(".").toLowerCase
          aliases.get(q).flatMap(timeIsLong.get).getOrElse(allLong)
        } else allLong)
    } else renamed
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, wrap(finalPlan))
  }
}

object Engine {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

  private[graft] sealed trait MetaAgg
  private[graft] case object MetaCount extends MetaAgg
  private[graft] case object MetaMinTime extends MetaAgg
  private[graft] case object MetaMaxTime extends MetaAgg

  /**
   * Matches EXACTLY `SELECT <aggs> FROM <single relation>` — no WHERE,
   * no grouping, no DISTINCT/FILTER — where every projection is
   * count(*|1), min(timeCol) or max(timeCol), and returns the
   * relation's name parts plus (agg kind, output column name) per
   * projection (explicit alias, or Spark's auto-name). These are the
   * aggregates the catalog metadata can answer without a scan.
   */
  private[graft] def metadataAggTarget(plan: LogicalPlan, timeCol: String)
      : Option[(Seq[String], Seq[(MetaAgg, String)], Boolean)] = {
    import graft.TimeRangeExtract.isExactTimeRange
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def kindOf(e: Expression): Option[(MetaAgg, String)] = e match {
      case f: UnresolvedFunction
          if !f.isDistinct && f.filter.isEmpty =>
        (f.nameParts.map(_.toLowerCase), f.arguments) match {
          // count(t.*) is NOT count(*): Spark expands a qualified star
          // to count(col1, col2, …), which skips rows with any null
          case (Seq("count"), Seq(s: UnresolvedStar)) if s.target.isEmpty =>
            Some((MetaCount, "count(1)"))
          case (Seq("count"), Seq(Literal(1, _)))     => Some((MetaCount, "count(1)"))
          // auto-name uses the SCHEMA's column case (what a real scan's
          // resolved attribute would yield), not the query's case
          case (Seq("min"), Seq(a: UnresolvedAttribute))
              if a.nameParts.size == 1 &&
                a.nameParts.head.equalsIgnoreCase(timeCol) =>
            Some((MetaMinTime, s"min($timeCol)"))
          case (Seq("max"), Seq(a: UnresolvedAttribute))
              if a.nameParts.size == 1 &&
                a.nameParts.head.equalsIgnoreCase(timeCol) =>
            Some((MetaMaxTime, s"max($timeCol)"))
          case _ => None
        }
      case _ => None
    }
    def named(ne: Expression): Option[(MetaAgg, String)] = ne match {
      case Alias(c, n)          => kindOf(c).map { case (k, _) => (k, n) }
      case ua: UnresolvedAlias  => kindOf(ua.child)
      case _                    => None
    }
    // pre-analysis, a global aggregate is still a Project (the parser
    // leaves GlobalAggregates conversion to the analyzer)
    val shape = plan match {
      case org.apache.spark.sql.catalyst.plans.logical.Project(nes, child)
          if nes.nonEmpty => Some((nes, child))
      case Aggregate(Seq(), nes, child, _) if nes.nonEmpty => Some((nes, child))
      case _ => None
    }
    shape.flatMap { case (nes, child0) =>
      // one WHERE layer is allowed IF it is exactly a time range and
      // the only aggregate is count — then the zone maps can still
      // answer, via metadataRangeCount
      val (child, filtered) = child0 match {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c)
            if isExactTimeRange(cond, timeCol) => (c, true)
        case c => (c, false)
      }
      val rel = child match {
        case r: UnresolvedRelation => Some(r.multipartIdentifier)
        case SubqueryAlias(_, r: UnresolvedRelation) => Some(r.multipartIdentifier)
        case _ => None
      }
      val kinds = nes.map(named)
      if (kinds.exists(_.isEmpty)) None
      else if (filtered && kinds.flatten.exists(_._1 != MetaCount)) None
      else rel.map(r => (r, kinds.flatten, filtered))
    }
  }

  /**
   * Traverse `plan` (including subquery expressions) with CTE-scope
   * tracking: `replace` is offered every `UnresolvedRelation` together
   * with the set of CTE names in scope AT THAT POSITION and the name
   * of its immediate `SubqueryAlias` parent (if any — the FROM-clause
   * alias of that occurrence), and may return a substitute subtree. A
   * CTE's names are in scope for the UnresolvedWith's child and for
   * its own definitions (so later/recursive CTEs can reference
   * earlier ones) — but NOT for sibling scopes, unlike a
   * statement-global name set.
   */
  private[graft] def rewriteScoped(plan: LogicalPlan, scope: Set[String],
      replace: (UnresolvedRelation, Set[String], Option[String]) => Option[LogicalPlan]): LogicalPlan =
    plan match {
      case w: UnresolvedWith =>
        // CTE visibility is SEQUENTIAL: a definition sees earlier
        // definitions but NOT later ones — `WITH a AS (SELECT * FROM
        // x), x AS (...)`: inside a, x is the lake table, not the
        // sibling CTE. A definition's OWN name is visible to itself
        // only under WITH RECURSIVE; a non-recursive `WITH meas AS
        // (SELECT * FROM meas ...)` reads the lake table, as in
        // standard SQL. The child sees all of them.
        val all = scope ++ w.cteRelations.map(_._1.toLowerCase)
        val selfVisible = if (w.allowRecursion) 1 else 0
        val newDefs = w.cteRelations.zipWithIndex.map { case ((n, d, m), i) =>
          val visible = scope ++
            w.cteRelations.take(i + selfVisible).map(_._1.toLowerCase)
          (n, rewriteScoped(d, visible, replace).asInstanceOf[SubqueryAlias], m)
        }
        w.copy(child = rewriteScoped(w.child, all, replace),
          cteRelations = newDefs)
      case sa @ SubqueryAlias(ident, r: UnresolvedRelation) =>
        replace(r, scope, Some(ident.name.toLowerCase))
          .map(sub => sa.copy(child = sub)).getOrElse(sa)
      // DESCRIBE [QUERY] <q> / EXPLAIN <q> hold their query outside
      // `children`, so the generic recursion never reaches the lake
      // relations in them
      case d: org.apache.spark.sql.execution.command.DescribeQueryCommand =>
        d.copy(plan = rewriteScoped(d.plan, scope, replace))
      case e: org.apache.spark.sql.execution.command.ExplainCommand =>
        e.copy(logicalPlan = rewriteScoped(e.logicalPlan, scope, replace))
      case r: UnresolvedRelation => replace(r, scope, None).getOrElse(r)
      case other =>
        other.mapChildren(rewriteScoped(_, scope, replace))
          .transformExpressionsDown {
            case se: SubqueryExpression =>
              se.withNewPlan(rewriteScoped(se.plan, scope, replace))
          }
    }
}
