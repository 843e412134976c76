package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** LogicalPlan -> SQL text for the rewritten-query subset, tuned to render
  * the reference's 19 rewrite goldens VERBATIM under its own minified
  * comparison (AbstractBasicTest.java:128-162: whitespace collapsed,
  * backticks stripped, `( ` / ` )` / ` ,` normalized).
  *
  * The reference's rewrite API returns SQL strings
  * (SecurityContext.java:126-167); Spark has no reliable plan->SQL printer,
  * so this renderer restates the ANALYZED rewritten plan in the reference's
  * textual conventions — execution always uses the plan itself, never this
  * text. The conventions it reproduces (each pinned by SqlGoldenSpec):
  *
  *  - Row filters injected INSIDE a table's SubqueryAlias are HOISTED into
  *    the enclosing select's WHERE, AND-composed left-to-right in FROM/join
  *    order after the original predicate, which is parenthesized exactly
  *    when it is an OR (Calcite's precedence-driven unparse).
  *  - Unqualified attributes in hoisted conditions are qualified with the
  *    table's alias (RowFilterVisitor.java:100-102's qualification step);
  *    already-qualified attributes print `<last qualifier>.<name>`.
  *  - Mask projections render as derived tables
  *    `(SELECT ..., CAST(fn(col) AS TYPE) AS col, ... FROM cat.db.t) AS a`
  *    with UNQUALIFIED inner columns and the policy's transformer text
  *    verbatim (recorded on the Alias by DataMaskRule under [[MaskSqlTag]]
  *    — the built expression keeps only normalized arguments). Mask calls
  *    in the user's own query render as the registered call.
  *  - Analyzer-inserted casts are stripped; literals print in Calcite style
  *    (booleans uppercase, decimals plain); `count(1)` prints `COUNT(*)`.
  *  - `INSERT INTO sink (SELECT ...)` with Calcite's automatic parentheses.
  *  - IN / EXISTS / scalar subqueries render their own plan by the same
  *    rules, so the filters and masks injected inside them show in the text.
  */
object SqlRenderer {

  /** Set by DataMaskRule on each generated mask Alias: the reference-exact
    * output text `CAST(<transformer> AS <TYPE>) AS <col>`.
    */
  val MaskSqlTag: TreeNodeTag[String] = TreeNodeTag[String]("graft.mask.sql")

  def toSql(plan: LogicalPlan): String = renderTop(plan)

  // ---------------------------------------------------------------- plans

  private def renderTop(plan: LogicalPlan): String = plan match {
    case i: InsertIntoStatement =>
      val table = i.table match {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.mkString(".")
        case other => leafName(other).getOrElse(other.nodeName)
      }
      s"INSERT INTO $table ( ${renderTop(i.query)} )"
    case a: AppendData =>
      s"INSERT INTO ${shortRelName(a.table)} ( ${renderTop(stripNoopProject(a.query))} )"
    case other => renderSelect(other)
  }

  /** The analyzer inserts an output-reconciliation Project above an INSERT
    * body; when it is a pure passthrough stacked on the user's own select
    * (Project/Aggregate), skip it. A passthrough Project directly over a
    * FROM subtree is the user's star expansion and must render.
    */
  private def stripNoopProject(p: LogicalPlan): LogicalPlan = p match {
    case Project(cols, child @ (_: Project | _: Aggregate))
      if cols.length == child.output.length &&
        cols.zip(child.output).forall {
          case (a: AttributeReference, b) => a.exprId == b.exprId
          case (Alias(a: AttributeReference, n), b) =>
            a.exprId == b.exprId && n == b.name
          case _ => false
        } => stripNoopProject(child)
    case other => other
  }

  private def renderSelect(plan0: LogicalPlan): String = plan0 match {
    case Sort(order, _, child, _) =>
      s"${renderSelect(child)} ORDER BY ${order.map(o => exprText(o.child) +
        (if (o.direction == Descending) " DESC" else "")).mkString(", ")}"
    case GlobalLimit(n, LocalLimit(_, child)) =>
      s"${renderSelect(child)} LIMIT ${exprText(n)}"
    case Project(cols, child) =>
      val (from, where) = fromAndWhere(child)
      s"SELECT ${cols.map(namedText).mkString(", ")} FROM $from$where"
    case Aggregate(group, agg, child, _) =>
      val (from, where) = fromAndWhere(child)
      val g = if (group.isEmpty) ""
        else s" GROUP BY ${group.map(exprText).mkString(", ")}"
      s"SELECT ${agg.map(namedText).mkString(", ")} FROM $from$where$g"
    case other =>
      val (from, where) = fromAndWhere(other)
      s"SELECT * FROM $from$where"
  }

  /** FROM + WHERE of a select body: the child may be a user Filter above the
    * FROM tree; injected (tagged) filters inside table aliases hoist out of
    * the tree and AND after it, left-to-right.
    */
  private def fromAndWhere(child: LogicalPlan): (String, String) = {
    val (userCond, fromTree) = child match {
      case f: Filter if !PlanShapes.isInjected(f) => (Some(f.condition), f.child)
      case other => (None, other)
    }
    val (fromSql, hoisted) = renderFrom(fromTree)
    // an OR at the top of the original WHERE is parenthesized exactly when
    // injected filters are AND-ed after it (the reference's
    // implicit-parenthesization golden, RewriteRowFilterTest.java:130-154);
    // standing alone it prints bare, as Calcite's precedence unparse does
    val conds = userCond.map { c =>
      val s = exprText(c)
      if (hoisted.nonEmpty && c.isInstanceOf[Or]) s"( $s )" else s
    }.toSeq ++ hoisted
    val where = if (conds.isEmpty) "" else s" WHERE ${conds.mkString(" AND ")}"
    (fromSql, where)
  }

  /** Renders a FROM-position subtree; returns (sql, hoisted filter texts in
    * left-to-right table order).
    */
  private def renderFrom(plan: LogicalPlan): (String, Seq[String]) = plan match {
    case Join(left, right, joinType, cond, _) =>
      val jt = joinType match {
        case Inner => "JOIN"
        case LeftOuter => "LEFT JOIN"
        case RightOuter => "RIGHT JOIN"
        case FullOuter => "FULL JOIN"
        case other => s"${other.sql} JOIN"
      }
      val (l, lh) = renderFrom(left)
      val (r, rh) = renderFrom(right)
      val on = cond.map(c => s" ON ${exprText(c)}").getOrElse("")
      (s"$l $jt $r$on", lh ++ rh)
    case sa @ SubqueryAlias(_, _) => renderAliased(sa)
    case leaf: LeafNode => (leafName(leaf).getOrElse(leaf.nodeName), Nil)
    case other => (s"( ${renderSelect(other)} )", Nil)
  }

  /** A SubqueryAlias chain over a base table, possibly with injected
    * filters and/or a mask projection inside, or a user-written derived
    * table. `aliasName` is the OUTERMOST alias (the name the reference
    * qualifies with).
    */
  private def renderAliased(sa: SubqueryAlias): (String, Seq[String]) = {
    val aliasName = sa.identifier.name
    // descend: collect injected filters, find what the chain bottoms out in
    def walk(p: LogicalPlan, conds: Seq[Expression]):
        (LogicalPlan, Seq[Expression]) = p match {
      case f: Filter if PlanShapes.isInjected(f) => walk(f.child, conds :+ f.condition)
      case inner: SubqueryAlias => walk(inner.child, conds)
      case other => (other, conds)
    }
    val (bottom, conds) = walk(sa.child, Nil)
    val qualifiedConds = conds.map(c => exprText(c, forceQualifier = Some(aliasName)))
    bottom match {
      // masked table: derived-table text with the base table inside
      case p @ Project(cols, base) if PlanShapes.isInjected(p) =>
        val baseName = tablePath(sa).orElse(leafName(base)).getOrElse(base.nodeName)
        val inner = cols.map(maskedColText).mkString(", ")
        (s"( SELECT $inner FROM $baseName ) AS $aliasName", qualifiedConds)
      // plain base table (filters, if any, hoisted)
      case base if PlanShapes.isBaseTable(base) =>
        val baseName = tablePath(sa).orElse(leafName(base)).getOrElse(base.nodeName)
        (s"$baseName AS $aliasName", qualifiedConds)
      // user-written derived table
      case other =>
        (s"( ${renderSelect(other)} ) AS $aliasName", qualifiedConds)
    }
  }

  /** The full catalog path of the table under an alias chain: the INNERMOST
    * SubqueryAlias's identifier (the analyzer records the resolved
    * `cat.db.table` there), or the alias's own identifier when it is the
    * only one.
    */
  private def tablePath(sa: SubqueryAlias): Option[String] = {
    def innermost(p: LogicalPlan): Option[SubqueryAlias] = p match {
      case s: SubqueryAlias => innermost(s.child).orElse(Some(s))
      case f: Filter => innermost(f.child)
      case pr: Project if PlanShapes.isInjected(pr) => innermost(pr.child)
      case _ => None
    }
    innermost(sa).map { s =>
      (s.identifier.qualifier :+ s.identifier.name).mkString(".")
    }
  }

  private def leafName(plan: LogicalPlan): Option[String] = plan match {
    case v: View => Some(v.desc.identifier.table)
    case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
      Some(r.multipartIdentifier.mkString("."))
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.identifier.map(_.toString)
    case _ => None
  }

  private def shortRelName(rel: LogicalPlan): String = rel match {
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      r.identifier.map(_.name()).getOrElse(r.name)
    case other => leafName(other).getOrElse(other.nodeName)
  }

  // ---------------------------------------------------------- expressions

  /** A masked projection's column: the reference-exact text recorded by
    * DataMaskRule for transformed columns, the bare (unqualified) name for
    * passthroughs.
    */
  private def maskedColText(e: NamedExpression): String = e match {
    case a: Alias => a.getTagValue(MaskSqlTag).getOrElse(namedText(a))
    case ar: AttributeReference => ar.name
    case other => namedText(other)
  }

  private def namedText(e: NamedExpression): String = e match {
    case a: Alias => s"${exprText(a.child)} AS ${a.name}"
    case other => exprText(other)
  }

  private def exprText(e: Expression): String = exprText(e, None)

  /** `forceQualifier`: qualify UNQUALIFIED attribute references with this
    * alias — the reference's condition-qualification step for hoisted row
    * filters.
    */
  private def exprText(e: Expression, forceQualifier: Option[String]): String = {
    def t(x: Expression): String = x match {
      case ar: AttributeReference =>
        ar.qualifier.lastOption.orElse(forceQualifier) match {
          case Some(q) => s"$q.${ar.name}"
          case None => ar.name
        }
      case Alias(child, name) => s"${t(child)} AS $name"
      // analyzer-inserted casts (type coercion) are invisible in SQL text
      case c: Cast => t(c.child)
      case Literal(null, _) => "NULL"
      case l @ Literal(v, dt) => dt match {
        case org.apache.spark.sql.types.BooleanType =>
          v.toString.toUpperCase(java.util.Locale.ROOT)
        case org.apache.spark.sql.types.StringType => s"'${v.toString}'"
        case _: org.apache.spark.sql.types.DecimalType => v.toString
        case _ => l.sql
      }
      case And(l, r) =>
        def side(x: Expression): String =
          if (x.isInstanceOf[Or]) s"( ${t(x)} )" else t(x)
        s"${side(l)} AND ${side(r)}"
      case Or(l, r) => s"${t(l)} OR ${t(r)}"
      case EqualTo(l, r) => s"${t(l)} = ${t(r)}"
      case GreaterThan(l, r) => s"${t(l)} > ${t(r)}"
      case GreaterThanOrEqual(l, r) => s"${t(l)} >= ${t(r)}"
      case LessThan(l, r) => s"${t(l)} < ${t(r)}"
      case LessThanOrEqual(l, r) => s"${t(l)} <= ${t(r)}"
      case Not(EqualTo(l, r)) => s"${t(l)} <> ${t(r)}"
      // subquery expressions render their plan, injected policies included
      case OuterReference(a) => t(a)
      case i: InSubquery => s"${inLhs(i)} IN ( ${renderSelect(i.query.plan)} )"
      case Not(i: InSubquery) => s"${inLhs(i)} NOT IN ( ${renderSelect(i.query.plan)} )"
      case e: Exists => s"EXISTS ( ${renderSelect(e.plan)} )"
      case Not(e: Exists) => s"NOT EXISTS ( ${renderSelect(e.plan)} )"
      case sq: ScalarSubquery => s"( ${renderSelect(sq.plan)} )"
      // the mask kernel renders as the registered call it was built from
      case m: graft.functions.MaskRegion =>
        s"${m.prettyName}(${m.callArgs.map(t).mkString(", ")})"
      case ae: AggregateExpression => ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) if !ae.isDistinct => "COUNT(*)"
        case Count(args) =>
          s"COUNT(${if (ae.isDistinct) "DISTINCT " else ""}${args.map(t).mkString(", ")})"
        case f =>
          s"${f.prettyName.toUpperCase(java.util.Locale.ROOT)}(${f.children.map(t).mkString(", ")})"
      }
      case other => other.sql
    }
    def inLhs(i: InSubquery): String =
      if (i.values.length == 1) t(i.values.head) else i.values.map(t).mkString("(", ", ", ")")
    t(e)
  }
}
