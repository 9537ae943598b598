package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import graft.CatalogBackend.TimeCol

/**
 * The time-predicate pass over a parsed Catalyst plan.
 *
 * Replaces the reference's 16 regex patterns and its FROM-clause string
 * surgery (reference querier/queryClient.go:185-337, 849-856): the
 * SQL is parsed with Spark's ANTLR parser, and one matcher, [[timeCmp]],
 * normalizes every comparison of the time column against a
 * literal-valued operand — either operand order, equality, BETWEEN, and
 * every reference literal form (bare string, `cast(… as timestamp)`,
 * `epoch_ns('…'::TIMESTAMP)`, `epoch_ns(cast(…))`). Its three readers
 * are [[extract]] (scan bounds), [[isExactTimeRange]] (the metadata
 * count's proof obligation) and [[rewriteTimeLiterals]] (the int64-ns
 * literal rewrite).
 *
 * Pruning attribution is per relation occurrence, along that
 * occurrence's own path: `Engine.rewriteScoped` walks the plan once,
 * asking [[pushDown]] which time conjuncts each node hands to each
 * child, and splices the pruned scan at each lake-table position with
 * the conjuncts that [[reaching]] lets through. A conjunct passes only
 * nodes that commute with a filter on the raw column, so pruning can
 * never change a result; the original WHERE still executes afterwards
 * (reference quirk §2.3-7).
 */
object TimeRangeExtract {

  /** Inclusive ns bounds; None = unbounded on that side. */
  case class TimeRange(start: Option[Long], end: Option[Long]) {
    def isEmpty: Boolean = start.isEmpty && end.isEmpty
    def asTuple: Option[(Long, Long)] =
      if (isEmpty) None else Some((start.getOrElse(Long.MinValue), end.getOrElse(Long.MaxValue)))
    /** Both ranges at once: the tighter bound on each side. */
    def and(o: TimeRange): TimeRange =
      TimeRange(Seq(start, o.start).flatten.maxOption, Seq(end, o.end).flatten.minOption)
  }
  object TimeRange {
    def of(cmps: Seq[TimeCmp]): TimeRange =
      cmps.map(_.range).foldLeft(TimeRange(None, None))(_ and _)
  }

  /** One side of a time comparison: the literal-ish operand, and whether
    * the bound excludes it. */
  case class Bound(value: Expression, strict: Boolean) {
    lazy val ns: Option[Long] = lit(value)
  }

  /**
   * A `time`-vs-literal comparison, normalized: the time attribute as
   * written (casts stripped) and a bound on each side. `at` is the
   * qualifier the comparison carries at the current plan position —
   * the attribute's own qualifier where it was harvested, re-qualified
   * by the walk as it passes aliases and projections.
   */
  case class TimeCmp(attr: UnresolvedAttribute, lo: Option[Bound], hi: Option[Bound],
                     at: Seq[String]) {
    /** Inclusive ns range; strict bounds saturate at the Long extremes —
      * a wrap-around would invert the bound and prune everything. */
    def range: TimeRange = TimeRange(
      lo.flatMap(b => b.ns.map(x => if (b.strict && x != Long.MaxValue) x + 1 else x)),
      hi.flatMap(b => b.ns.map(x => if (b.strict && x != Long.MinValue) x - 1 else x)))
    /** The range REPRESENTS the comparison, not merely bounds it: every
      * bound evaluates, and no strict bound saturated. */
    def isExact: Boolean = Seq(lo, hi).flatten.forall(b =>
      b.ns.exists(x => !b.strict || (x != Long.MinValue && x != Long.MaxValue)))
    /** The same comparison over the bare column, with each evaluable
      * bound as an epoch-ns long literal. */
    def asNsComparison: Expression = {
      def v(b: Bound): Expression = b.ns.map(Literal(_)).getOrElse(b.value)
      if (lo.isDefined && lo == hi) EqualTo(attr, v(lo.get))
      else Seq(
        lo.map(b => if (b.strict) GreaterThan(attr, v(b)) else GreaterThanOrEqual(attr, v(b))),
        hi.map(b => if (b.strict) LessThan(attr, v(b)) else LessThanOrEqual(attr, v(b)))
      ).flatten.reduce(And)
    }
  }

  /** The one matcher: `e` as a comparison of the [[TimeCol]] against
    * another operand — `time op v`, `v op time`, `time = v`,
    * `time BETWEEN v AND w` (the parser leaves BETWEEN as an unresolved
    * function call) or `NOT` around a one-sided one. Whether a bound
    * evaluates is the reader's concern. */
  def timeCmp(e: Expression): Option[TimeCmp] = {
    def isTime(x: Expression): Option[UnresolvedAttribute] = x match {
      case a: UnresolvedAttribute if a.nameParts.last.equalsIgnoreCase(TimeCol) => Some(a)
      case Cast(c, _, _, _) => isTime(c)
      case _ => None
    }
    def cmp(x: Expression, lo: Option[Bound], hi: Option[Bound]): Option[TimeCmp] =
      isTime(x).map(a => TimeCmp(a, lo, hi, a.nameParts.dropRight(1)))
    def incl(v: Expression) = Some(Bound(v, strict = false))
    def excl(v: Expression) = Some(Bound(v, strict = true))
    e match {
      case GreaterThanOrEqual(l, r) => cmp(l, incl(r), None).orElse(cmp(r, None, incl(l)))
      case GreaterThan(l, r) => cmp(l, excl(r), None).orElse(cmp(r, None, excl(l)))
      case LessThanOrEqual(l, r) => cmp(l, None, incl(r)).orElse(cmp(r, incl(l), None))
      case LessThan(l, r) => cmp(l, None, excl(r)).orElse(cmp(r, excl(l), None))
      case EqualTo(l, r) => cmp(l, incl(r), incl(r)).orElse(cmp(r, incl(l), incl(l)))
      case f: UnresolvedFunction
          if f.nameParts.last.equalsIgnoreCase("between") && f.arguments.size == 3 =>
        cmp(f.arguments.head, incl(f.arguments(1)), incl(f.arguments(2)))
      // a negated one-sided bound is the flipped bound: NOT (time >= v)
      // is time < v (both reject a NULL time); a negated equality or
      // BETWEEN is two ranges and stays unmatched
      case Not(inner) => timeCmp(inner).collect {
        case c @ TimeCmp(_, Some(b), None, _) => c.copy(lo = None, hi = Some(b.copy(strict = !b.strict)))
        case c @ TimeCmp(_, None, Some(b), _) => c.copy(lo = Some(b.copy(strict = !b.strict)), hi = None)
      }
      case _ => None
    }
  }

  private def conjuncts(cond: Expression): Seq[Expression] = cond match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  def parse(spark: SparkSession, sql: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  /** Time bounds from the conjunctive time comparisons of every
    * Filter in the plan, unattributed: for a plan that reads one
    * relation through one filter (the metadata count's shape). */
  def extract(plan: LogicalPlan): TimeRange =
    TimeRange.of(plan.collect { case Filter(cond, _) => conjuncts(cond) }.flatten
      .flatMap(timeCmp))

  /**
   * True iff `cond` is a conjunction of time comparisons whose bounds
   * all evaluate, so the extracted TimeRange REPRESENTS the condition,
   * not merely bounds it. A single other conjunct returns false: the
   * metadata count fast path must not treat a broader condition as its
   * time-range projection.
   */
  def isExactTimeRange(cond: Expression): Boolean =
    conjuncts(cond).forall(c => timeCmp(c).exists(_.isExact))

  // ---- the per-occurrence walk -------------------------------------------

  /** `q` names `name` the way a column qualifier may: a non-empty
    * suffix (`meas` or `mydb.meas` for `mydb.meas`). */
  private def qualifies(q: Seq[String], name: Seq[String]): Boolean =
    q.nonEmpty && name.takeRight(q.size).corresponds(q)(_ equalsIgnoreCase _)

  /** Column-bearing leaves: an unqualified column is attributable only
    * when exactly one of them lies below. */
  private def relationCount(p: LogicalPlan): Int =
    p.collectLeaves().count(!_.isInstanceOf[OneRowRelation])

  /** Where a projection's `time` output comes from, as the qualifier the
    * conjuncts above it take on: a lone bare (or same-named aliased)
    * attribute, or a lone star, passes the input column through; a
    * computed, ambiguous or absent `time` yields None. An unaliased
    * expression over `time` counts as computed `time` (Spark names
    * `cast(time AS …)` after its child). A window function makes every
    * row depend on the rows a filter would drop, so it yields None too. */
  private def timeSource(list: Seq[Expression]): Option[Seq[String]] = {
    def isT(a: UnresolvedAttribute) = a.nameParts.last.equalsIgnoreCase(TimeCol)
    val windowed = list.exists(_.exists {
      case _: WindowExpression | _: UnresolvedWindowExpression => true
      case _ => false
    })
    val named = list.filter {
      case a: UnresolvedAttribute => isT(a)
      case Alias(_, n) => n.equalsIgnoreCase(TimeCol)
      case _: UnresolvedStar => false
      case e => e.exists { case a: UnresolvedAttribute => isT(a); case _ => false }
    }
    val stars = list.collect { case s: UnresolvedStar => s }
    def passed(e: Expression): Option[UnresolvedAttribute] = e match {
      case a: UnresolvedAttribute => Some(a)
      case Alias(a: UnresolvedAttribute, _) if isT(a) => Some(a)
      case _ => None
    }
    (named, stars) match {
      case _ if windowed => None
      case (Seq(e), Seq()) => passed(e).map(_.nameParts.dropRight(1))
      case (Seq(), Seq(star)) => Some(star.target.getOrElse(Nil))
      case _ => None
    }
  }

  /**
   * The time conjuncts `node` hands to each of its children, given the
   * ones `carried` into it from above. A conjunct passes only nodes that
   * commute with a filter on the raw column:
   *  - Filter adds its own conjuncts — an unqualified one only when
   *    exactly one relation lies below;
   *  - SubqueryAlias re-qualifies its own name away and drops conjuncts
   *    naming anything else;
   *  - Sort passes everything;
   *  - Join passes the qualified ones to both sides, where each
   *    SubqueryAlias or relation keeps only its own — the harvested
   *    comparisons reject NULLs, so outer joins are safe, and nothing
   *    above a semi or anti join can name its right side. An
   *    unqualified one cannot be attributed to a side, so it stops;
   *  - a Project passes them when it passes `time` through, bare or by
   *    a star.
   * Any other node (Aggregate, Limit, Offset, Window, Generate, Sample,
   * Union, Distinct, column-renaming aliases, …) hands down nothing, and
   * so does a Project computing `time` or a window function.
   */
  def pushDown(node: LogicalPlan, carried: Seq[TimeCmp]): Seq[Seq[TimeCmp]] = {
    def each(cs: Seq[TimeCmp]) = node.children.map(_ => cs)
    node match {
      case Filter(cond, child) =>
        val attributable = relationCount(child) == 1
        each(carried ++ conjuncts(cond).flatMap(timeCmp)
          .filter(c => !c.range.isEmpty && (c.at.nonEmpty || attributable)))
      case SubqueryAlias(ident, _) =>
        each(carried.flatMap { c =>
          if (c.at.isEmpty) Some(c)
          else if (qualifies(c.at, ident.qualifier :+ ident.name)) Some(c.copy(at = Nil))
          else None
        })
      case _: Sort => each(carried)
      case _: Join => each(carried.filter(_.at.nonEmpty))
      case Project(list, _) =>
        each(timeSource(list).toSeq.flatMap(q => carried.map(_.copy(at = q))))
      case _ => each(Nil)
    }
  }

  /** The carried conjuncts that apply to a relation named `name`: the
    * unqualified ones and those qualified by its name. */
  def reaching(name: Seq[String], carried: Seq[TimeCmp]): Seq[TimeCmp] =
    carried.filter(c => c.at.isEmpty || qualifies(c.at, name))

  /** One relation occurrence the walk reached outside CTE scope, with
    * its FROM-clause alias and the range of the conjuncts reaching it. */
  case class Occurrence(name: Seq[String], alias: Option[String], range: TimeRange)

  def occurrences(plan: LogicalPlan): Seq[Occurrence] = {
    val found = Seq.newBuilder[Occurrence]
    Engine.rewriteScoped(plan, (r, scope, alias, cmps) => {
      val name = r.multipartIdentifier
      if (!(name.size == 1 && scope.contains(name.head.toLowerCase)))
        found += Occurrence(name, alias, TimeRange.of(cmps))
      None
    })
    found.result()
  }

  /** Per-table view of [[occurrences]], keyed by lowercase table name. A
    * table that occurs more than once gets no range here (each
    * occurrence still prunes by its own path in the engine). */
  def extractPerRelation(plan: LogicalPlan): Map[String, TimeRange] =
    occurrences(plan).groupBy(_.name.last.toLowerCase).map {
      case (t, Seq(o)) => t -> o.range
      case (t, _) => t -> TimeRange(None, None)
    }

  /** Per-alias view of [[occurrences]]: the range of each occurrence
    * whose FROM-clause alias is unique in the statement. */
  def extractPerAlias(plan: LogicalPlan): Map[String, TimeRange] =
    occurrences(plan).groupBy(_.alias).collect {
      case (Some(a), Seq(o)) => a -> o.range
    }

  /**
   * Analog of the reference's timestamp-literal rewrite (O9,
   * querier/queryClient.go:849-850): on a plan querying an int64-ns
   * time column, replace string/timestamp literals compared against it
   * with their epoch-ns long value — so `time >= '2024-01-10'` becomes
   * a plain long comparison (pushed down to parquet). Done as a
   * Catalyst plan transform, not string surgery.
   *
   * `attributable` scopes the rewrite to attributes that belong to a
   * LongType-time relation: in a join between an int64-ns lake table
   * and a TimestampType-time table, the timestamp side's literals must
   * NOT be rewritten to ns longs — that would be a silently wrong
   * comparison.
   */
  def rewriteTimeLiterals(plan: LogicalPlan,
                          attributable: Seq[String] => Boolean = _ => true): LogicalPlan = {
    val rule: PartialFunction[Expression, Expression] = Function.unlift { (e: Expression) =>
      timeCmp(e)
        .filter(c => attributable(c.attr.nameParts) &&
          Seq(c.lo, c.hi).flatten.exists(_.ns.isDefined))
        .map(_.asNsComparison)
    }
    // apply inside subquery plans too — `transformAllExpressions` alone
    // never reaches a Filter nested in an EXISTS/IN subquery expression.
    // CTE definitions live OUTSIDE `children` (UnresolvedWith keeps them
    // as inner children), so they get their own recursion — without it a
    // time literal inside `WITH x AS (… WHERE time < '…')` stays a
    // string and the int64 comparison fails at runtime.
    plan.transformDownWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, d, m) =>
          (n, rewriteTimeLiterals(d, attributable).asInstanceOf[SubqueryAlias], m)
        })
      case p => p.transformExpressions(rule)
    }
  }

  /** Literal-ish expression → epoch ns, if statically evaluable. */
  private def lit(e: Expression): Option[Long] = e match {
    // TIMESTAMP 'x' literals are already-evaluated epoch-µs longs
    case Literal(us: Long, t) if t.typeName.startsWith("timestamp") => Some(us * 1000L)
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(s, t) if s != null && t.typeName == "string" =>
      parseTimeLiteral(s.toString)
    case Cast(c, _, _, _) => lit(c)
    case f: UnresolvedFunction
        if f.nameParts.lastOption.exists(_.equalsIgnoreCase("epoch_ns")) =>
      f.arguments.headOption.flatMap(lit)
    case _ => None
  }

  /**
   * Accepted time-literal formats (reference
   * querier/queryClient.go:241-243,269-271,291-293): RFC3339(Nano)
   * with zone, and naive `2006-01-02T15:04:05[.fff]` (UTC-assumed,
   * `T` or space). Date-only also accepted.
   */
  def parseTimeLiteral(s0: String): Option[Long] = {
    val s = s0.trim
    def inst(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000000L + i.getNano
    scala.util.Try(inst(java.time.Instant.parse(s))).toOption
      .orElse(scala.util.Try(inst(java.time.OffsetDateTime.parse(s).toInstant)).toOption)
      .orElse(scala.util.Try {
        val norm = if (s.contains(' ')) s.replaceFirst(" ", "T") else s
        inst(java.time.LocalDateTime.parse(norm).toInstant(java.time.ZoneOffset.UTC))
      }.toOption)
      .orElse(scala.util.Try {
        inst(java.time.LocalDate.parse(s).atStartOfDay.toInstant(java.time.ZoneOffset.UTC))
      }.toOption)
      .orElse(scala.util.Try(s.toLong).toOption)
  }
}
