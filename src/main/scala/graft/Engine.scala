package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TimeRangeExtract.TimeRange

/**
 * The query engine: the Spark analog of the reference's
 * `QueryClient.Query` lifecycle (reference querier/queryClient.go:713-877):
 *
 *   normalize → SHOW intercepts → parse (Catalyst, not regexes) →
 *   metadata-only answers → ONE walk of the parsed plan that carries
 *   each relation's time conjuncts down its own path and splices a
 *   zone-map-pruned scan at every lake-table position → int64-ns
 *   literal rewrite → run → pass-through for table-free SQL.
 *
 * Pruning is invisible: a conjunct reaches a scan only through nodes
 * that commute with a filter on the raw column (TimeRangeExtract.pushDown),
 * so the pruned plan returns exactly what an unpruned scan would.
 *
 * `query` holds NO session-global state (no temp views): each request
 * builds a self-contained plan, so the engine is safe under the HTTP
 * server's concurrent dispatch.
 *
 * Two plan profiles. The spliced plan is analyzed in the engine's
 * session. A query (not a command: the temp view or cached table a
 * command makes belongs in the engine's session) whose leaves read at
 * most the session's `spark.sql.files.openCostInBytes` (Spark's own
 * estimate of what opening one file costs, 4 MB by default; see
 * [[Engine.inputBytes]]) runs in the engine's small-request clone
 * ([[Engine.SmallProfile]]): one shuffle partition, no adaptive
 * execution, no whole-stage code generation, no broadcast join, and
 * each spliced lake table read as one partition. Under that size a
 * request's cost is Spark's fixed per-job, per-stage and per-compile
 * cost, not its data: adaptive execution submits every query stage as
 * its own job, a sort over several shuffle partitions adds a
 * range-sampling job, and each new time window's literals cost a
 * Janino compile of whole-stage code. A table read as one partition
 * (a `Repartition(1, shuffle = false)` under its alias, which plans as
 * `CoalesceExec(1)` and reports a single partition) satisfies every
 * distribution an aggregate, a sort or a sort-merge join asks for, so
 * the request plans no exchange: one stage and one task instead of
 * three of each and shuffle files on disk. One task can read it all,
 * since the input is at most one file's open cost. A broadcast join
 * would run its build side as a job of its own; with broadcast off a
 * join of two one-partition reads is a sort-merge join in the same
 * stage. Coalescing moves no rows, and filters and column pruning
 * still reach the parquet scan below it. Above it the cost per row wins,
 * and a row costs more without whole-stage code, so a larger request
 * plans in the engine's session. `ProfileProbe` (test sources) timed
 * both profiles over one file of 0.25 to 8 MB on a 4-core host. The
 * crossover depends on the shape and on whether the window's literals
 * were compiled before: a group-by breakdown crossed at 4-6 MB for a
 * repeated window and was still 28% faster in the clone at 8 MB for a
 * new one; a raw-row export was 8-35 ms slower in the clone for a
 * repeated window at every size, and faster for a new window up to
 * 6 MB. The mean of the four crosses at about 8 MB, so one file's open
 * cost errs on the side of the engine's session. Tuning
 * `openCostInBytes` moves this line as well as the packing of files
 * into scan splits.
 *
 * Differences from the reference, by design (documented quirk fixes):
 *  - an empty pruned file set yields an empty DataFrame with the
 *    table's schema instead of an error (quirk §2.3-6);
 *  - the plan-based time extraction replaces 16 regexes (O2) and the
 *    FROM-rewrite string surgery (O8) becomes a logical-plan splice.
 */
class Engine(val spark: SparkSession, val catalog: CatalogBackend) {

  graft.functions.Compat.register(spark)
  Tables.configure(spark)
  // cloned on the first small request, so after the registrations above
  private lazy val smallProfile = new Engine.SmallProfile(spark)

  import TimeRangeExtract._
  import CatalogBackend.{DefaultDb, TimeCol}

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
      Tables.readEvolving(spark, paths)
    } else {
      val all = catalog.prunedPaths(db, table, None)
      if (all.isEmpty) spark.emptyDataFrame
      else { // empty result with the table's real schema (quirk §2.3-6 fix),
        // from memoized footers: no scan or listing of the whole table; a
        // local relation, so its size (none) is known to the profile choice
        val schema = Tables.evolvingSchema(spark, all)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      }
    }
  }

  /**
   * Execute a query against the lake. `db` resolution mirrors the
   * reference: explicit argument > default "mydb"
   * (/root/reference/querier/server.go:183-189).
   */
  def query(sql0: String, db0: String = ""): DataFrame = splice(sql0, db0) match {
    case Left(answer) => answer
    case Right(Engine.Spliced(analyzed, wrap)) =>
      val small = analyzed match {
        // a command's effects (a temp view, a cached table) belong to the
        // engine's session; after analysis its query is no longer a child,
        // so its input would count as nothing
        case _: org.apache.spark.sql.catalyst.plans.logical.Command => false
        case q => Engine.inputBytes(q) <= spark.sessionState.conf.filesOpenCostInBytes
      }
      // EXPLAIN or DESCRIBE wraps the plan the profile chose: the one that runs
      val plan = wrap(if (small) Engine.SmallProfile.plan(analyzed) else analyzed)
      org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(
        if (small) smallProfile.session() else spark, plan)
  }

  /**
   * Everything [[query]] does before it chooses a plan profile: the
   * answer itself where no lake plan is needed (SHOW, metadata, SQL
   * that reads no lake table), or the spliced plan analyzed in the
   * engine's session.
   */
  private[graft] def splice(sql0: String, db0: String): Either[DataFrame, Engine.Spliced] = {
    val sql = sql0.trim.replaceAll("\\s+", " ")
    val db = if (db0.nonEmpty) db0 else DefaultDb
    val upper = sql.toUpperCase.stripSuffix(";").trim
    if (upper == "SHOW DATABASES") return Left(showDatabases())
    if (upper == "SHOW TABLES") return Left(showTables(db))
    // SHOW TABLES FROM|IN <db> — SQL-level alternative to the ?db= param
    if (upper.startsWith("SHOW TABLES FROM ") || upper.startsWith("SHOW TABLES IN "))
      return Left(showTables(sql.stripSuffix(";").trim.split("\\s+").last))

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
      planOpt.flatMap(Engine.metadataAggTarget).foreach {
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
                  .flatMap(_.fields.find(_.name.equalsIgnoreCase(TimeCol)))
                  .exists(_.dataType == org.apache.spark.sql.types.LongType)
              }
            val (metaCnt, metaBounds) =
              if (timeFiltered) {
                // specs are count-only here (matcher guarantees it);
                // the WHERE is exactly a time range, represented
                // inclusively by extract's normalization
                val rangeCnt = extract(planOpt.get).asTuple
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
              return Left(spark.createDataFrame(
                java.util.Collections.singletonList(
                  org.apache.spark.sql.Row(values: _*): org.apache.spark.sql.Row),
                org.apache.spark.sql.types.StructType(specs.map { case (_, nm) =>
                  org.apache.spark.sql.types.StructField(
                    nm, org.apache.spark.sql.types.LongType, nullable = false)
                })))
            }
          }
      }

    if (planOpt.isEmpty) return Left(spark.sql(sql)) // unparseable: Spark reports it
    // One walk splices every lake-table occurrence (the reference's
    // FROM-clause splice, O8, done on the parsed plan instead of the SQL
    // text, so a 'mydb.meas' string literal or a column named `mydb` is
    // never corrupted). Each occurrence reads its own pruned scan, bounded
    // by the time conjuncts that reached it along its own path, wrapped in
    // SubqueryAlias(table, db) so `events.c` and `mydb.events.c` qualify.
    // CTE names in scope at a position shadow lake tables there. The walk
    // records each occurrence's time type under its FROM qualifiers for
    // the literal rewrite; same-named keys are AND'ed, so a mixed pair
    // never gets the long-side rewrite applied to its timestamp side.
    val timeIsLong = scala.collection.mutable.Map[String, Boolean]()
    var lakeTables = 0
    val spliced = Engine.rewriteScoped(planOpt.get, (r, scope, alias, cmps) => {
      val parts = r.multipartIdentifier
      val (d, t) = if (parts.size == 1) (db, parts.head)
        else (parts.dropRight(1).mkString("."), parts.last)
      if ((parts.size == 1 && scope.contains(t.toLowerCase)) || !catalog.tableExists(d, t)) None
      else {
        lakeTables += 1
        val tableDf = readTable(d, t, TimeRange.of(cmps).asTuple)
        tableDf.schema.fields.find(_.name.equalsIgnoreCase(TimeCol)).foreach { f =>
          val isLong = f.dataType == org.apache.spark.sql.types.LongType
          val qualifiers = alias.fold(Seq(t, s"$d.$t"))(Seq(_)) ++
            cmps.map(_.attr.nameParts.dropRight(1).mkString(".")).filter(_.nonEmpty)
          qualifiers.map(_.toLowerCase).foreach(k =>
            timeIsLong(k) = timeIsLong.getOrElse(k, true) && isLong)
        }
        val read = org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
          org.apache.spark.sql.catalyst.AliasIdentifier(t.toLowerCase, Seq(d.toLowerCase)),
          tableDf.queryExecution.analyzed)
        read.setTagValue(Engine.LakeRead, ())
        Some(read)
      }
    })
    if (lakeTables == 0)
      return Left(spark.sql(sql)) // table-free or non-lake SQL → pass-through (O10)
    // O9 analog: if any time column is int64 ns, rewrite time-vs-
    // string/timestamp literal comparisons to long-literal form —
    // qualifier-scoped so a TimestampType `time` on another relation in
    // the same plan keeps its native literal semantics. An unqualified
    // `time`, or an unknown qualifier, is rewritten only when EVERY
    // time-bearing relation in the plan is long.
    val allLong = timeIsLong.values.forall(identity)
    val finalPlan =
      if (!timeIsLong.values.exists(identity)) spliced
      else rewriteTimeLiterals(spliced, attributable = parts =>
        timeIsLong.getOrElse(parts.dropRight(1).mkString(".").toLowerCase, allLong))
    // analyzed here, so temp views and functions registered on this
    // session after its small-profile clone was made still resolve
    val analyzed = spark.sessionState.executePlan(finalPlan).analyzed match {
      // a temp view keeps the spliced plan, as `Dataset.createTempView`
      // makes one: its SQL text names lake tables Spark's catalog lacks
      case v: org.apache.spark.sql.execution.command.CreateViewCommand
          if v.viewType != org.apache.spark.sql.catalyst.analysis.PersistedView =>
        v.copy(originalText = None)
      case p => p
    }
    Right(Engine.Spliced(analyzed, wrap))
  }
}

object Engine {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
  import graft.TimeRangeExtract.TimeCmp

  /** A lake query after the splice: its plan analyzed in the engine's
    * session, and the EXPLAIN or DESCRIBE around a plan of it, if any. */
  private[graft] final case class Spliced(analyzed: LogicalPlan, wrap: LogicalPlan => LogicalPlan)

  /** Marks the `SubqueryAlias` over each spliced lake-table read. */
  private[graft] val LakeRead = org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.lakeRead")

  private[graft] sealed trait MetaAgg
  private[graft] case object MetaCount extends MetaAgg
  private[graft] case object MetaMinTime extends MetaAgg
  private[graft] case object MetaMaxTime extends MetaAgg

  /**
   * What the plan's leaves read, subqueries included: the listed bytes
   * of a file scan's files, and Spark's own size estimate of any other
   * leaf, which is `spark.sql.defaultSizeInBytes` (Long.MaxValue unless
   * set) where the size is unknown, as for an RDD or a catalog table
   * without statistics. A BigInt, so unknown sizes add up without
   * overflow. A CTE reference counts nothing: its definition is counted.
   */
  private[graft] def inputBytes(plan: LogicalPlan): BigInt =
    plan.collectWithSubqueries {
      case _: org.apache.spark.sql.catalyst.plans.logical.CTERelationRef => BigInt(0)
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation] =>
        BigInt(l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation].location.sizeInBytes)
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l.stats.sizeInBytes
    }.sum

  /**
   * The small-request plan profile of an engine: a `cloneSession()` of
   * the engine's session that plans with one shuffle partition, no
   * adaptive execution, no whole-stage code generation and no broadcast
   * join, over a plan whose lake-table reads [[SmallProfile.plan]] made
   * one partition each. [[session]] first copies over
   * every conf and experimental rule set on the parent since the last
   * call, so the clone differs from its parent only in [[Overrides]].
   */
  private[graft] final class SmallProfile(parent: SparkSession) {
    private val small = org.apache.spark.sql.graftbridge.ColumnBridge.cloneSession(parent)
    @volatile private var copied = Map.empty[String, String]

    def session(): SparkSession = {
      val confs = parent.sessionState.conf.getAllConfs
      if (confs != copied) synchronized {
        if (confs != copied) {
          // override keys are never unset or flipped, so a concurrent
          // small request always plans with the four overrides
          val target = confs ++ SmallProfile.Overrides
          val conf = small.sessionState.conf
          val current = conf.getAllConfs
          (current.keySet -- target.keySet).foreach(conf.unsetConf)
          target.foreach { case (k, v) => if (!current.get(k).contains(v)) conf.setConfString(k, v) }
          copied = confs
        }
      }
      val (from, to) = (parent.experimental, small.experimental)
      if (to.extraOptimizations ne from.extraOptimizations) to.extraOptimizations = from.extraOptimizations
      if (to.extraStrategies ne from.extraStrategies) to.extraStrategies = from.extraStrategies
      small
    }
  }

  private[graft] object SmallProfile {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    import org.apache.spark.sql.internal.SQLConf
    val Overrides: Map[String, String] = Map(
      SQLConf.SHUFFLE_PARTITIONS.key -> "1",
      SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
      SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
      SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> "-1")

    /** The analyzed plan of a small request with each spliced lake-table
      * read coalesced to one partition, subqueries included; a read
      * answered from memory is left as it is. */
    def plan(analyzed: LogicalPlan): LogicalPlan = analyzed.transformUpWithSubqueries {
      case a: SubqueryAlias if a.getTagValue(LakeRead).isDefined && !a.child.isInstanceOf[LocalRelation] =>
        a.copy(child = Repartition(1, shuffle = false, a.child))
    }
  }

  /**
   * Matches EXACTLY `SELECT <aggs> FROM <single relation>` — no WHERE,
   * no grouping, no DISTINCT/FILTER — where every projection is
   * count(*|1), min(time) or max(time), and returns the
   * relation's name parts plus (agg kind, output column name) per
   * projection (explicit alias, or Spark's auto-name). These are the
   * aggregates the catalog metadata can answer without a scan.
   */
  private[graft] def metadataAggTarget(plan: LogicalPlan)
      : Option[(Seq[String], Seq[(MetaAgg, String)], Boolean)] = {
    import graft.CatalogBackend.TimeCol
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
                a.nameParts.head.equalsIgnoreCase(TimeCol) =>
            Some((MetaMinTime, s"min($TimeCol)"))
          case (Seq("max"), Seq(a: UnresolvedAttribute))
              if a.nameParts.size == 1 &&
                a.nameParts.head.equalsIgnoreCase(TimeCol) =>
            Some((MetaMaxTime, s"max($TimeCol)"))
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
            if isExactTimeRange(cond) => (c, true)
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
   * The one walk over a parsed plan (including subquery expressions),
   * with CTE-scope tracking and the time conjuncts carried down each
   * path. `replace` is offered every `UnresolvedRelation` together with
   * the set of CTE names in scope AT THAT POSITION, the name of its
   * immediate `SubqueryAlias` parent (if any — the FROM-clause alias of
   * that occurrence) and the time conjuncts that reach it
   * (`TimeRangeExtract.pushDown`/`reaching`), and may return a
   * substitute subtree. A CTE's names are in scope for the
   * UnresolvedWith's child and for its own definitions (so later or
   * recursive CTEs can reference earlier ones) — but NOT for sibling
   * scopes, unlike a statement-global name set. CTE definitions and
   * subquery expressions start with no carried conjuncts: a filter
   * outside them says nothing about their rows.
   */
  private[graft] def rewriteScoped(plan: LogicalPlan,
      replace: (UnresolvedRelation, Set[String], Option[String], Seq[TimeCmp]) =>
        Option[LogicalPlan]): LogicalPlan = {
    def walk(p: LogicalPlan, scope: Set[String], carried: Seq[TimeCmp]): LogicalPlan = p match {
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
          (n, walk(d, visible, Nil).asInstanceOf[SubqueryAlias], m)
        }
        w.copy(child = walk(w.child, all, carried), cteRelations = newDefs)
      case sa @ SubqueryAlias(ident, r: UnresolvedRelation) =>
        val cmps = TimeRangeExtract.reaching(r.multipartIdentifier,
          TimeRangeExtract.pushDown(sa, carried).head)
        replace(r, scope, Some(ident.name.toLowerCase), cmps)
          .map(sub => sa.copy(child = sub)).getOrElse(sa)
      // DESCRIBE [QUERY] <q> / EXPLAIN <q> hold their query outside
      // `children`, so the generic recursion never reaches the lake
      // relations in them
      case d: org.apache.spark.sql.execution.command.DescribeQueryCommand =>
        d.copy(plan = walk(d.plan, scope, Nil))
      case e: org.apache.spark.sql.execution.command.ExplainCommand =>
        e.copy(logicalPlan = walk(e.logicalPlan, scope, Nil))
      case r: UnresolvedRelation =>
        replace(r, scope, None, TimeRangeExtract.reaching(r.multipartIdentifier, carried))
          .getOrElse(r)
      case other =>
        val down = TimeRangeExtract.pushDown(other, carried)
        other.withNewChildren(other.children.zip(down).map { case (c, cs) => walk(c, scope, cs) })
          .transformExpressionsDown {
            case se: SubqueryExpression => se.withNewPlan(walk(se.plan, scope, Nil))
          }
    }
    walk(plan, Set.empty, Nil)
  }
}
