package graft.plans

import graft.AccessDecision
import graft.policy.PolicyView
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Plan-level equivalents of the reference's AST visitors.
  *
  * The reference rewrites SQL text between Calcite's validator and Flink's
  * planner (RowFilterVisitor.java:45-106, DataMaskVisitor.java:54-157). Here
  * the same semantics are Catalyst rules that inject `Filter` / `Project`
  * nodes directly above each policied base-table scan:
  *
  *   - RowFilterRule:  SubqueryAlias(t, scan)  ->  SubqueryAlias(t, Filter(cond, scan))
  *   - DataMaskRule:   SubqueryAlias(t, [Filter*,] scan)
  *                       ->  SubqueryAlias(t, [Filter*,] Project(maskedCols, scan))
  *
  * Masked columns get fresh exprIds and every reference above the scan is
  * rewritten to them (via `transformUpWithNewOutput`), so every operator above
  * — including a row filter injected first — transparently reads masked
  * values. That reproduces the reference's `mixedRewrite` composition where
  * the injected WHERE sits outside the mask subquery
  * (SecurityContext.java:154-167, MixedRewriteTest.java:101-134). (Re-using
  * the original exprIds instead is NOT safe: the masked Project's output then
  * equals its child's output and the optimizer's RemoveNoopOperators strips
  * the mask away.)
  *
  * Both rules emit resolved nodes: an injected condition is analyzed against
  * its scan alone (names, functions, subqueries, type coercion), and a mask
  * is built resolved. That replaces the reference's string re-parse round
  * trip, and the plan they return needs one `checkAnalysis`, not a second
  * analysis. [[Enforcement]] composes them for both enforcement modes.
  *
  * Re-entrancy (the reference's javassist `custom` flag hack,
  * SecurityContext.java:67-90) is a plain TreeNodeTag here, and each
  * injected node also records the principal it was injected for.
  *
  * Every injection or refusal is a [[graft.AccessDecision]], recorded by
  * the rule (or the column-deny gate) that makes it; [[Enforcement]]
  * returns a statement's decisions with its plan, and they are the audit
  * trail's one source. No decision is read back from the plan.
  *
  * The rules read policies through a [[graft.policy.PolicyView]]. Callers
  * pass one [[graft.policy.PolicyManager.view]] per statement, in both
  * modes, so every scan of it is decided against the same policy snapshot
  * and the same instant.
  *
  * Scale note: rules run once per query on the driver; the injected Filter
  * sits directly above the scan, so Catalyst pushes predicates into the
  * Parquet reader and prunes masked-but-unreferenced columns — at 100 TB the
  * security layer adds zero extra shuffles or passes.
  *
  * ENFORCEMENT BOUNDARY (pinned by GraftSecurityExtensionsSpec's adversarial
  * tests): policies attach to catalog table identifiers, exactly like the
  * reference (and Ranger/Hive). Inside that boundary, enforcement covers any
  * reference to the table — joins, subqueries, EXISTS, UNION legs, CTAS/INSERT
  * bodies (the query a V1 command embeds gets the column-deny gate, the
  * rules and the audit, through [[Enforcement.unwrap]]), the source and the
  * condition and assignment subqueries of row-level DML
  * ([[DmlSecurityRewrite]]) — and new queries
  * stay enforced even when a scan is answered from a
  * cache populated before the policy existed (the injected nodes sit above the
  * matched cache subtree). Row-level DML (UPDATE, DELETE, MERGE) on a table
  * with any policy for the principal runs only through
  * `SecurityContext.rewriteDml`/`executeDml`; anywhere else, in either mode,
  * [[Enforcement]] refuses it. A Dataset's own actions keep the plan it was
  * analyzed with; a query derived from it is enforced for the principal that
  * enforced the handle and fails closed for any other.
  * Outside the boundary: a direct `spark.read.parquet(path)` of the table's
  * files never passes through a catalog identifier and is NOT rewritten, and
  * a DataFrame handle built or cached before a policy was added keeps serving
  * its own raw rows. Both are storage/lifecycle concerns the engine cannot
  * see — deployments must pair table policies with storage ACLs denying
  * raw-path access, the same split Ranger documents for Hive. Policy
  * conditions run with DEFINER RIGHTS in both modes: a table read inside an
  * injected filter's condition gets no policies of its own (it is the policy
  * author's code, not the principal's query, and cannot recurse into cycles).
  */
object SecurityTags {
  val RowFilterApplied: TreeNodeTag[Boolean] = TreeNodeTag[Boolean]("graft.rowFilterApplied")
  val MaskApplied: TreeNodeTag[Boolean] = TreeNodeTag[Boolean]("graft.maskApplied")
  // the principal an injected node was injected for: a reused handle is
  // never enforced again, so another principal must not inherit it
  val Principal: TreeNodeTag[String] = TreeNodeTag[String]("graft.principal")
}

/** Resolves which (catalog, database) a bare single-part table reference
  * belongs to, mirroring the reference's implicit hive.default qualification.
  */
final case class TableScope(catalog: String, database: String)

/** Plan-shape predicates shared by the security rules and [[SqlRenderer]] —
  * one list of "what counts as a base table", so the rules and the renderer
  * can never drift apart on it.
  */
object PlanShapes {
  /** A scan of a named table: the alias directly over a leaf relation or a
    * (temp) view. Derived tables have Project/Filter/... children and are
    * excluded — policies reach the tables inside them instead, exactly like
    * the reference's visitor (RowFilterVisitor.java:71-79).
    */
  def isBaseTable(p: LogicalPlan): Boolean = p match {
    case _: View => true // temp/SQL views (resolved by construction)
    case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
    case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
    case _: org.apache.spark.sql.catalyst.catalog.HiveTableRelation => true
    case l: LeafNode if l.nodeName.contains("StreamingRelation") => l.resolved
    // NOT a plain LeafNode match: `(VALUES ...) AS t` puts a LocalRelation
    // under the alias, and an inline alias must never collide with a policy
    // on a real table of the same name. Unresolved relations (also leaves)
    // must not match while the rules run inside the analyzer.
    case _ => false
  }

  /** A node the security rules injected: a row filter or a mask projection. */
  def isInjected(p: LogicalPlan): Boolean = p match {
    case f: Filter => f.getTagValue(SecurityTags.RowFilterApplied).contains(true)
    case pr: Project => pr.getTagValue(SecurityTags.MaskApplied).contains(true)
    case _ => false
  }

  /** `f` applied to every subquery plan in `plan` outside injected nodes:
    * the one way both rules reach subqueries, so a policy condition, new or
    * from a reused handle, keeps definer rights.
    */
  def mapSubqueryPlans(plan: LogicalPlan)(f: LogicalPlan => LogicalPlan): LogicalPlan =
    plan.transformUp {
      case p if !isInjected(p) => p.transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(f(s.plan))
      }
    }

  /** (catalog, db, table) of a table's name parts (`qualifier :+ name` of a
    * SubqueryAlias, or a parsed relation's identifier); missing qualifiers
    * get the scope's defaults, like Flink's validator qualifying bare names.
    * The one qualification the rules, the column-deny check, [[Enforcement]]
    * and [[DmlSecurityRewrite]] share.
    */
  def tableParts(nameParts: Seq[String], scope: TableScope): (String, String, String) =
    nameParts match {
      case Seq(t) => (scope.catalog, scope.database, t)
      case Seq(db, t) => (scope.catalog, db, t)
      case ps => (ps.head, ps.init.last, ps.last)
    }
}

/** Column-level deny violation scan, the gate [[Enforcement]] runs before
  * either rule: which base-table scans have an active
  * [[graft.policy.ColumnDenyPolicy]] column that the query READS.
  *
  * References are collected from the plan ABOVE each scan only — a temp
  * view's internal projections are not the user reading a column — and
  * from inside subquery expressions. Nodes the security rules themselves
  * injected (tagged Filter/mask Project) don't count as reads either: a
  * policy's filter condition or a full-width mask projection touching the
  * denied column is engine machinery, not the principal's query (definer
  * rights). Injected nodes reach this check only from a reused handle that
  * was already enforced: nested analyses do not enforce.
  */
object ColumnDenyCheck {
  /** The scan chain under a SubqueryAlias once engine-injected nodes are
    * stripped: Some(nodes from alias child down to the base table, base
    * included) when a base table is at the bottom. The chain's outputs
    * matter because the mask projection re-keys masked columns to fresh
    * exprIds — a reference above it uses the fresh id, a reference to a
    * passthrough column the original; denied-column ids are collected from
    * every node in the chain so both resolve.
    */
  private def injectedChain(p: LogicalPlan): Option[Seq[LogicalPlan]] = p match {
    case n if PlanShapes.isInjected(n) => injectedChain(n.children.head).map(n +: _)
    case b if PlanShapes.isBaseTable(b) => Some(Seq(b))
    case _ => None
  }

  /** One COLUMN_DENY decision (cat.db.table, the referenced denied
    * columns) per violating scan.
    *
    * VIEW semantics (the bypass a naive boundary leaves open): a view
    * projecting a denied column (`CREATE VIEW v AS SELECT price AS p FROM
    * orders`) must deny `SELECT p FROM v` — the view's internal reference
    * IS the user's read, performed on their behalf. But a view's internals
    * must not count WHOLESALE either: a stored plan that merely PASSES
    * every column through (the normalized-timestamp temp views here) would
    * then deny unrelated queries. Resolution: after the user-plan walk,
    * each view's internals are walked DEMAND-DRIVEN — inside a view, a
    * Project entry contributes its references only when its output is
    * itself demanded (by the user or by a node above it in the view), the
    * standard column-pruning argument; every non-Project node contributes
    * all its references (a Filter/Aggregate inside the view executes
    * regardless of the select list — touching the column is reading it,
    * the fail-closed reading Hive's column authorization uses).
    */
  def violations(plan: LogicalPlan, user: String, policies: PolicyView,
      scope: TableScope): Seq[AccessDecision] = {
    // fast path: no column-deny policies at all -> skip the plan walk
    // (driver-side and plan-sized either way, but this runs per query)
    if (!policies.hasColumnDenies) return Nil
    val scans = plan.collectWithSubqueries {
      case SubqueryAlias(id, child) if injectedChain(child).isDefined =>
        (PlanShapes.tableParts(id.qualifier :+ id.name, scope), injectedChain(child).get)
    }
    val denied = scans.map { case (parts, chain) =>
      (parts, chain, policies.deniedColumns(user, parts._1, parts._2, parts._3))
    }.filter(_._3.nonEmpty)
    if (denied.isEmpty) return Nil
    // phase 1: exprIds referenced in the USER's plan — stop descent at each
    // base-table scan (noting views for phase 2), skip injected nodes' own
    // expressions, descend into subquery expressions
    val ids = scala.collection.mutable.Set.empty[ExprId]
    // queued views carry the demand KNOWN AT QUEUE TIME: Some(explicit)
    // from a demanded context (possibly empty — processing re-derives from
    // `ids` and falls back to conservative when still empty), None from a
    // conservative context (everything inside counts)
    val views = scala.collection.mutable.Buffer.empty[(View, Option[Set[ExprId]])]
    def noteIfView(chain: Seq[LogicalPlan],
        demand: Option[Set[ExprId]]): Unit = chain.last match {
      case v: View => views += ((v, demand)); ()
      case _ => ()
    }
    def walk(p: LogicalPlan): Unit = {
      if (!PlanShapes.isInjected(p)) p.expressions.foreach(_.foreach {
        case a: AttributeReference => ids += a.exprId; ()
        case s: SubqueryExpression => walk(s.plan)
        case _ => ()
      })
      // EXCEPT/INTERSECT compare FULL rows of both sides: every output
      // column of both children is read even when the user's select list
      // (which carries only the LEFT child's exprIds, per SetOperation
      // output semantics) never names it — without this a denied column in
      // the right branch, or an unselected one in the left, flows into the
      // set comparison unchecked.
      p match {
        case s: SetOperation =>
          s.children.foreach(c => ids ++= c.output.map(_.exprId))
        case _ => ()
      }
      p.children.foreach {
        case SubqueryAlias(_, child) if injectedChain(child).isDefined =>
          noteIfView(injectedChain(child).get, Some(Set.empty))
        case c => walk(c)
      }
    }
    walk(plan)
    // phase 2: demand-driven descent into each view's stored plan
    def refsOf(e: org.apache.spark.sql.catalyst.expressions.Expression,
        into: scala.collection.mutable.Set[ExprId]): Unit = e.foreach {
      case a: AttributeReference => into += a.exprId; ()
      // subquery plans inside a view: conservative full walk (fail-closed)
      case s: SubqueryExpression => walkDemand(s.plan, None); ()
      case _ => ()
    }
    // demanded None = everything counts (conservative mode)
    def walkDemand(p: LogicalPlan, demanded: Option[Set[ExprId]]): Unit = p match {
      case pr: Project =>
        val kept = demanded match {
          case Some(d) => pr.projectList.filter(ne => d.contains(ne.toAttribute.exprId))
          case None => pr.projectList
        }
        val refs = scala.collection.mutable.Set.empty[ExprId]
        kept.foreach(refsOf(_, refs))
        ids ++= refs
        walkDemand(pr.child, demanded.map(_ => refs.toSet))
      case SubqueryAlias(_, child) if injectedChain(child).isDefined =>
        noteIfView(injectedChain(child).get, demanded) // nested view scan: queue it
      case v: View =>
        views += ((v, demanded)); () // bare nested view (defensive): queue it
      case u: Union =>
        // Union output adopts branch-1 exprIds; demand maps POSITIONALLY
        // onto every branch, else branches 2..n see an empty demand set
        u.children.foreach { c =>
          val mapped = demanded.map { d =>
            c.output.zipWithIndex.collect {
              case (a, i) if d.contains(u.output(i).exprId) => a.exprId
            }.toSet
          }
          walkDemand(c, mapped)
        }
      case s: SetOperation =>
        // full-row comparison: every column of both sides is read
        s.children.foreach(walkDemand(_, None))
      case d: Distinct =>
        // row-wide dedup reads every output column regardless of demand
        walkDemand(d.child, Some(d.child.output.map(_.exprId).toSet))
      case _: LeafNode =>
        () // a leaf's expressions are its OUTPUT DEFINITION (LogicalRDD /
           // LocalRelation carry their attributes as constructor args),
           // not references — counting them would deny every view column
      case other =>
        val refs = scala.collection.mutable.Set.empty[ExprId]
        other.expressions.foreach(refsOf(_, refs))
        ids ++= refs
        other.children.foreach(walkDemand(_, demanded.map(_ ++ refs)))
    }
    // queue semantics: a view's internals may queue deeper views; each runs
    // with the demand visible at ITS processing time (ids only ever grows,
    // so late processing is the fail-closed direction). A view whose
    // resolved demand is EMPTY still feeds the plan's data flow (a bare
    // set-op branch whose exprIds the parent never adopts, SELECT 1 FROM v)
    // — demanded-mode would skip its internals entirely, the exact
    // fail-open a view bypass needs, so empty demand falls back to the
    // conservative walk.
    var i = 0
    while (i < views.length) {
      val (v, queuedDemand) = views(i); i += 1
      queuedDemand match {
        case None => walkDemand(v.child, None)
        case Some(explicit) =>
          val d = v.output.map(_.exprId).toSet
            .filter(id => ids.contains(id) || explicit.contains(id))
          if (d.isEmpty) walkDemand(v.child, None)
          else walkDemand(v.child, Some(d))
      }
    }
    denied.flatMap { case ((cat, db, table), chain, cols) =>
      val hit = chain.flatMap(_.output)
        .filter(a => cols.exists(_.equalsIgnoreCase(a.name)) && ids.contains(a.exprId))
        .map(_.name).distinct
      if (hit.isEmpty) None
      else Some(AccessDecision("COLUMN_DENY", s"$cat.$db.$table", hit.mkString(",")))
    }
  }
}

/** Injects row-level-security filters for `user` (reference:
  * RowFilterVisitor.java:45-125). Each injected `Filter(cond, scan)` is
  * analyzed on its own — the scan is already analyzed, so this costs
  * O(condition), not O(query) — and goes in resolved, IN/EXISTS/scalar
  * subqueries, functions and type coercion included. Each injection
  * appends its ROW_FILTER (or ROW_DENY) decision to [[decisions]].
  */
final case class RowFilterRule(
    spark: SparkSession,
    user: String,
    policies: PolicyView,
    scope: TableScope,
    /** true: inject ONLY deny decisions (condition `false` on denied
      * tables), skipping allow-filters — the deny gate the mask-only entry
      * points run, so `dfDataMask`/`rewriteDataMask` alone can never return
      * rows of a denied table (fail-open relative to Ranger otherwise)
      * while still not smuggling row-filter semantics into a mask-only API.
      */
    denyOnly: Boolean = false
) extends Rule[LogicalPlan] {

  /** The decisions this instance made, in walk order. */
  val decisions = scala.collection.mutable.ArrayBuffer.empty[AccessDecision]

  // an already-filtered alias holds the injected Filter, not a base table
  private val pf: PartialFunction[LogicalPlan, LogicalPlan] = {
    case sa @ SubqueryAlias(id, child) if PlanShapes.isBaseTable(child) =>
      val (cat, db, table) = PlanShapes.tableParts(id.qualifier :+ id.name, scope)
      // deny checked FIRST and recorded as the deny it is (ROW_DENY):
      // rowFilterConditions also collapses to `false` under an active deny,
      // but the trail must distinguish a deny decision from an ordinary
      // allow-filter that happens to be `false`
      val denied = policies.isDenied(user, cat, db, table)
      val conds =
        if (denied) Seq("false")
        else if (denyOnly) Seq.empty
        else policies.rowFilterConditions(user, cat, db, table)
      conds match {
        case Seq() => sa
        case conds =>
          val cond = FilterConditions.parse(spark, user, cat, db, table, conds)
          val filter = spark.sessionState.executePlan(Filter(cond, child)).analyzed
            .asInstanceOf[Filter]
          filter.setTagValue(SecurityTags.RowFilterApplied, true)
          filter.setTagValue(SecurityTags.Principal, user)
          decisions +=
            (if (denied) AccessDecision("ROW_DENY", s"$cat.$db.$table", "DENY")
            else AccessDecision("ROW_FILTER", s"$cat.$db.$table", conds.mkString(" AND ")))
          SubqueryAlias(id, filter)
      }
  }

  // one walk of the whole query, view bodies and subquery plans included;
  // the condition of an injected filter, new or from a reused handle, is
  // never entered (definer rights). A command's embedded query is
  // [[Enforcement]]'s to unwrap.
  override def apply(plan: LogicalPlan): LogicalPlan =
    PlanShapes.mapSubqueryPlans(plan)(apply).transformUp(pf)
}

/** A row-filter policy's conditions parsed into their conjunction. */
private object FilterConditions {
  def parse(spark: SparkSession, user: String, cat: String, db: String,
      table: String, conds: Seq[String]): Expression =
    conds.map { c =>
      try spark.sessionState.sqlParser.parseExpression(c)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"row-filter policy for user '$user' on $cat.$db.$table has " +
            s"an unparseable condition: $c", e)
      }
    }.reduceLeft[Expression](And(_, _))
}

/** Injects masking projections for `user` (reference:
  * DataMaskVisitor.java:54-157). For each scan of a policied table, builds a
  * full-width Project where masked columns become
  * `CAST(transformer(col) AS originalType) AS col` with a fresh exprId,
  * other columns pass through. MASK_NULL -> typed null, MASK_NONE ->
  * passthrough (the reference would NPE on these, DataMaskVisitor.java:97-98).
  * Each masked scan appends one DATA_MASK decision (its matched columns and
  * mask types, in output order) to [[decisions]].
  */
final case class DataMaskRule(
    spark: SparkSession,
    user: String,
    policies: PolicyView,
    scope: TableScope,
    /** false (default): reference semantics — injected row filters sit above
      * the mask and evaluate over MASKED values (SecurityContext.java:154-167).
      * true: Ranger-style composition — the masked Project wraps the injected
      * filter chain, so row filters evaluate over RAW values and only the
      * query's output is masked (the divergence switch of SURVEY §7.3).
      */
    filterOnRaw: Boolean = false,
    /** Also record identity-only scans in [[decisions]]: every matched
      * policy MASK_NONE (or a CUSTOM passthrough), so no Project is built,
      * yet a matched policy is still an access decision a Ranger-style
      * trail records. [[Enforcement]] sets it.
      */
    auditIdentity: Boolean = false
) extends Rule[LogicalPlan] {

  /** The decisions this instance made, in walk order. */
  val decisions = scala.collection.mutable.ArrayBuffer.empty[AccessDecision]

  /** Resolve a parsed transformer template against the scan's output. The
    * mask family's builders insert their own input casts, so the result is
    * fully resolved without an analyzer round trip — required because
    * transformUpWithNewOutput needs resolved outputs to propagate mappings.
    */
  private def resolveMaskExpr(raw: Expression, base: LogicalPlan): Expression = {
    val resolver = spark.sessionState.conf.resolver
    raw.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        base.resolve(u.nameParts, resolver).getOrElse(
          throw new IllegalArgumentException(
            s"mask transformer references unknown column ${u.name}"))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        // Keep any database/catalog qualifier in a custom transformer: a
        // template calling db.fn(col) must not silently resolve to the
        // unqualified fn.
        val fid = f.nameParts match {
          case Seq(fn) => org.apache.spark.sql.catalyst.FunctionIdentifier(fn)
          case Seq(db, fn) => org.apache.spark.sql.catalyst.FunctionIdentifier(fn, Some(db))
          case Seq(cat, db, fn) =>
            org.apache.spark.sql.catalyst.FunctionIdentifier(fn, Some(db), Some(cat))
          case other => throw new IllegalArgumentException(
            s"mask transformer function name too deeply qualified: ${other.mkString(".")}")
        }
        spark.sessionState.catalog.lookupFunction(fid, f.arguments)
    }
  }

  private def maskedProject(base: LogicalPlan, cat: String, db: String,
      table: String): Option[(LogicalPlan, Seq[(Attribute, Attribute)])] = {
    val mapping = Seq.newBuilder[(Attribute, Attribute)]
    // the matched policies, in output-column order (MASK_NONE passthroughs
    // too — a matched policy is an access decision even when the
    // transformation is identity)
    val audited = Seq.newBuilder[String]
    var any = false
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    // the session time zone on every cast that needs one (the cast back,
    // and a template's own, e.g. TIMESTAMP -> DATE): resolved as built
    def castBack(attr: Attribute, e: Expression): Expression =
      Cast(e, attr.dataType).transform {
        case z: TimeZoneAwareExpression if z.timeZoneId.isEmpty => z.withTimeZone(tz)
      }
    def aliasAs(attr: Attribute, cast: Expression): NamedExpression = {
      any = true
      val a = Alias(cast, attr.name)(qualifier = attr.qualifier)
      mapping += attr -> a.toAttribute
      a
    }
    val cols: Seq[NamedExpression] = base.output.map { attr =>
      policies.dataMaskType(user, cat, db, table, attr.name) match {
        case Some(t) if t.name.equalsIgnoreCase("MASK_NONE") =>
          audited += s"${attr.name}=${t.name}"
          attr
        case Some(t) if t.name.equalsIgnoreCase("MASK_NULL") =>
          audited += s"${attr.name}=${t.name}"
          val a = aliasAs(attr, castBack(attr, Literal(null, attr.dataType)))
          // renderer text: keep the CAST-back-to-declared-type convention
          // (DataMaskVisitor.java:131) — exprText strips casts otherwise
          a.setTagValue(SqlRenderer.MaskSqlTag,
            s"CAST(NULL AS ${attr.dataType.sql}) AS ${attr.name}")
          a
        case Some(t) =>
          t.transformerFor(s"`${attr.name}`") match {
            case Some(tpl) =>
              audited += s"${attr.name}=${t.name}"
              val cast = castBack(attr,
                resolveMaskExpr(spark.sessionState.sqlParser.parseExpression(tpl), base))
              // no analyzer pass runs over the template, so one that needs
              // implicit coercion (`{col} + 0.5` over INT) stays unresolved
              if (!cast.resolved) throw new IllegalArgumentException(
                s"mask ${t.name} for user '$user' on $cat.$db.$table column ${attr.name}: " +
                  s"template `${t.transformer.mkString}` does not resolve without " +
                  "implicit type coercion; cast its operands explicitly")
              val a = aliasAs(attr, cast)
              // the reference-exact output text for SqlRenderer's golden
              // parity: the policy's transformer template verbatim, CAST
              // back to the declared type (DataMaskVisitor.java:131)
              a.setTagValue(SqlRenderer.MaskSqlTag,
                s"CAST(${t.transformerFor(attr.name).get} AS ${attr.dataType.sql}) AS ${attr.name}")
              a
            case None => attr // CUSTOM without transformer: passthrough
          }
        case None => attr
      }
    }
    val matched = audited.result()
    if (any || (auditIdentity && matched.nonEmpty))
      decisions += AccessDecision("DATA_MASK", s"$cat.$db.$table", matched.mkString(","))
    if (!any) None
    else {
      val p = Project(cols, base)
      p.setTagValue(SecurityTags.MaskApplied, true)
      p.setTagValue(SecurityTags.Principal, user)
      Some((p, mapping.result()))
    }
  }

  /** Descend through filters already injected above the scan (row-filter rule
    * runs first) and wrap the base relation itself, so filters evaluate over
    * masked values — the reference's fixed composition order. References in
    * those filters are remapped onto the masked output.
    */
  private def injectUnderFilters(p: LogicalPlan, cat: String, db: String,
      table: String): Option[(LogicalPlan, Seq[(Attribute, Attribute)])] = p match {
    case f: Filter if filterOnRaw =>
      // Ranger-style: wrap the whole (injected) filter chain in the masked
      // Project. The filters below keep their raw attribute references; only
      // operators above see the masked, fresh-exprId output. Filter.output ==
      // scan output, so maskedProject builds directly over the chain.
      def bottomIsBase(q: LogicalPlan): Boolean = q match {
        case g: Filter => bottomIsBase(g.child)
        case b => PlanShapes.isBaseTable(b)
      }
      if (bottomIsBase(f)) maskedProject(f, cat, db, table) else None
    case f: Filter =>
      injectUnderFilters(f.child, cat, db, table).map { case (nc, mapping) =>
        // copies keep the filter's tags
        val masked = AttributeMap(mapping)
        (f.withNewChildren(Seq(nc)).transformExpressions {
          case a: AttributeReference => masked.getOrElse(a, a)
        }, mapping)
      }
    case base if PlanShapes.isBaseTable(base) => maskedProject(base, cat, db, table)
    case _ => None // an injected mask Project included: re-entrancy guard
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // mask tables referenced inside subquery expressions (EXISTS/IN/scalar)
    // first — transformUpWithNewOutput does not descend into them
    val masked = PlanShapes.mapSubqueryPlans(plan)(apply).transformUpWithNewOutput {
      case sa @ SubqueryAlias(id, child) =>
        val (cat, db, table) = PlanShapes.tableParts(id.qualifier :+ id.name, scope)
        injectUnderFilters(child, cat, db, table) match {
          case Some((newChild, mapping)) => (SubqueryAlias(id, newChild), mapping)
          case None => (sa, Nil)
        }
    }
    // references remapped above a mask keep the raw column's nullability;
    // bring them in line with their producers, as the analyzer's own
    // nullability pass would (a MASK_NULL of a NOT NULL column is nullable)
    org.apache.spark.sql.catalyst.analysis.UpdateAttributeNullability(masked)
  }
}

/** The one enforcement path, run once per statement on its analyzed plan
  * by both modes — [[graft.SecurityContext]]'s read entry points and the
  * [[GraftSecurityExtensions]] analyzer rule. It unwraps the statement's
  * query once ([[unwrap]]), then runs the column-deny gate (a denial throws
  * [[graft.ColumnAccessDeniedException]] carrying its violations), row
  * filters (or, with `rowFilters = false`, only the deny decisions), and
  * masks in the reference order or over raw filter values, and rebuilds the
  * command around the result. The modes differ only in where the
  * principal, the policy view and the scope come from. Returns the
  * rewritten plan and the decisions made: the row filters' (and denies')
  * first, then the masks', each in the rules' walk order.
  */
object Enforcement {
  import org.apache.spark.sql.execution.command.{CreateDataSourceTableAsSelectCommand, InsertIntoDataSourceDirCommand}
  import org.apache.spark.sql.execution.datasources.{InsertIntoDataSourceCommand, SaveIntoDataSourceCommand}

  // set while a pass runs on this thread: the analyses the pass starts
  // itself (an injected filter's condition) belong to it
  private val active = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private[plans] def running: Boolean = active.get

  /** The query a statement runs and how to put a rewritten one back. V1
    * leaf commands (CTAS, save, insert-into-dir, ...) embed their query as
    * an innerChild, NOT a child, so tree traversals never see it; for any
    * other plan the query is the plan itself. The command constructors
    * assert `query.resolved`, which the rules' output is.
    */
  def unwrap(plan: LogicalPlan): (LogicalPlan, LogicalPlan => LogicalPlan) = plan match {
    case c: CreateDataSourceTableAsSelectCommand => (c.query, q => c.copy(query = q))
    case c: InsertIntoDataSourceCommand => (c.query, q => c.copy(query = q))
    case c: SaveIntoDataSourceCommand => (c.query, q => c.copy(query = q))
    case c: InsertIntoDataSourceDirCommand => (c.query, q => c.copy(query = q))
    case other => (other, identity)
  }

  /** `body` as part of an enforcement pass: the extension's rule skips the
    * analyses it starts. [[graft.SecurityContext.rewriteDml]] analyzes the
    * statement it has already constrained this way.
    */
  private[graft] def pass[T](body: => T): T = {
    val outer = active.get
    active.set(true)
    try body finally active.set(outer)
  }

  def apply(spark: SparkSession, user: String, policies: PolicyView,
      scope: TableScope, plan: LogicalPlan, rowFilters: Boolean = true,
      masks: Boolean = true, filterOnRaw: Boolean = false): (LogicalPlan, Seq[AccessDecision]) =
    pass {
      val (query, rebuild) = unwrap(plan)
      failClosed(user, policies, scope, query, rowFilters, masks)
      val denied = ColumnDenyCheck.violations(query, user, policies, scope)
      if (denied.nonEmpty) throw graft.ColumnAccessDeniedException(user, denied, "the query")
      val rows = RowFilterRule(spark, user, policies, scope, denyOnly = !rowFilters)
      val filtered = rows(query)
      if (!masks) (rebuild(filtered), rows.decisions.toSeq)
      else {
        val mask = DataMaskRule(spark, user, policies, scope, filterOnRaw, auditIdentity = true)
        (rebuild(mask(filtered)), (rows.decisions ++ mask.decisions).toSeq)
      }
    }

  /** The plans enforcement cannot rewrite, refused instead of run
    * unenforced: a node injected for another principal (a handle enforced
    * for one user, reused in a query derived under another, would keep the
    * first user's filters and skip the second's), an UNKNOWN leaf that
    * embeds a query over a table this call would enforce anything on, and a
    * row-level write (UPDATE, DELETE, MERGE) to a table with any policy for
    * the principal. The analyzer has already turned such a write into a
    * group replacement (`ReplaceData`) or a delta (`WriteDelta`) that reads
    * its target as a bare relation no rule sees, and a filter injected
    * under that read would delete the rows it hides when the group is
    * replaced; [[DmlSecurityRewrite]] constrains the parsed statement
    * instead.
    */
  private def failClosed(user: String, policies: PolicyView, scope: TableScope,
      query: LogicalPlan, rowFilters: Boolean, masks: Boolean): Unit = {
    rowLevelTarget(query, scope).foreach { case (c, d, t) =>
      if (enforcesAny(user, policies, c, d, t)) throw new UnsupportedOperationException(
        s"row-level ${query.nodeName} on $c.$d.$t, a table with policies for user " +
          s"'$user', runs only through rewriteDml/executeDml — refusing to execute it unenforced")
    }
    val reused = query.collectFirstWithSubqueries {
      case p if PlanShapes.isInjected(p) && !p.getTagValue(SecurityTags.Principal).contains(user) => p
    }
    if (reused.isDefined) throw new UnsupportedOperationException(
      s"the query reuses a plan enforced for another principal; user '$user' " +
        "must run it afresh — refusing to execute it under that principal's policies")
    if (query.children.isEmpty) {
      val tables = policiedTables(user, policies, scope,
        query.innerChildren.collect { case p: LogicalPlan => p }, rowFilters, masks)
      if (tables.nonEmpty) throw new UnsupportedOperationException(
        s"${query.nodeName} embeds a query over policied table(s) " +
          s"${tables.mkString(", ")} that the security " +
          "rules cannot rewrite — refusing to execute it unenforced")
    }
  }

  /** (catalog, db, table) of the V2 table a row-level write at the root of
    * `plan` targets, rewritten by the analyzer or not; None for any other
    * root.
    */
  private def rowLevelTarget(plan: LogicalPlan,
      scope: TableScope): Option[(String, String, String)] = {
    import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val target = plan match {
      case w: RowLevelWrite => Some(w.originalTable)
      case u: UpdateTable => Some(u.table)
      case d: DeleteFromTable => Some(d.table)
      case m: MergeIntoTable => Some(m.targetTable)
      case _ => None
    }
    target.map(EliminateSubqueryAliases(_)).collect {
      case DataSourceV2Relation(_, _, Some(cat), Some(id), _, _) =>
        PlanShapes.tableParts((cat.name +: id.namespace.toSeq) :+ id.name, scope)
    }
  }

  /** Whether `user` has anything to enforce on the table: a deny or a
    * column deny, a row filter unless `rowFilters` is off, a mask unless
    * `masks` is off.
    */
  private def enforcesAny(user: String, policies: PolicyView, c: String, d: String,
      t: String, rowFilters: Boolean = true, masks: Boolean = true): Boolean =
    policies.isDenied(user, c, d, t) ||
      (rowFilters && policies.rowFilterConditions(user, c, d, t).nonEmpty) ||
      (masks && policies.hasDataMask(user, c, d, t)) ||
      policies.deniedColumns(user, c, d, t).nonEmpty

  /** The names of the base tables `plans` read (view bodies and subquery
    * plans included) that have anything to enforce for `user`.
    */
  private[plans] def policiedTables(user: String, policies: PolicyView,
      scope: TableScope, plans: Seq[LogicalPlan], rowFilters: Boolean = true,
      masks: Boolean = true): Seq[String] =
    plans.flatMap(_.collectWithSubqueries {
      case SubqueryAlias(id, child) if PlanShapes.isBaseTable(child) =>
        PlanShapes.tableParts(id.qualifier :+ id.name, scope)
    }).collect {
      case (c, d, t) if enforcesAny(user, policies, c, d, t, rowFilters, masks) => t
    }.distinct
}

/** Security rewrite for ROW-LEVEL DML — MERGE INTO / UPDATE / DELETE
  * against tables that implement `SupportsRowLevelOperations` (e.g.
  * [[graft.sources.GraftMemoryCatalog]]'s tables).
  *
  * The reference's only DML surface is `INSERT INTO ... SELECT`, where the
  * rewrite reaches inside the SELECT body (RewriteRowFilterTest.java:484-541,
  * RewriteDataMaskTest.java:363-436 — both ported). MERGE/UPDATE/DELETE are
  * the modern CDC-upsert equivalents, and the policy contract extends
  * naturally:
  *
  *   - ROW FILTER on the TARGET: constrains which existing rows the user
  *     can TOUCH. The filter is AND-ed into the condition of every
  *     matched / not-matched-by-source action (and the UPDATE/DELETE WHERE
  *     clause), so a row outside the user's filter is matched-but-untouched:
  *     it can never be updated or deleted, and because it still MATCHES,
  *     a WHEN NOT MATCHED insert cannot smuggle in a duplicate of it.
  *     (This is visible-but-untouchable write semantics, deliberately NOT
  *     Postgres-RLS invisible-row semantics — an invisible match would
  *     duplicate rather than protect.) Inserted values are not gated by the
  *     target's row filter, matching the reference's INSERT handling.
  *   - DENY on the target: the statement fails closed before planning.
  *   - ROW FILTER / MASK / COLUMN DENY on the SOURCE (MERGE) and in the
  *     statement's SUBQUERIES (`WHERE k IN (SELECT ...)`, a scalar
  *     subquery in SET): each is a read like any other and goes through
  *     [[Enforcement]], so it feeds only visible rows and masked values
  *     into the statement, and one reading a denied column fails closed. A
  *     correlated subquery cannot be analyzed on its own; it fails closed
  *     when it reads a table with any policy for the user.
  *   - COLUMN DENY: any reference to a denied column of the target (or of
  *     a source base table) in the statement's expressions fails closed.
  *     References are collected pre-resolution, so a BARE name that could
  *     resolve to either side checks against both — a fail-closed
  *     over-approximation, never fail-open.
  *
  * The injection happens on the PARSED plan (target conditions stay
  * unresolved until the caller analyzes the statement), because Catalyst's
  * analyzer rewrites these commands into `ReplaceData` group-replacement
  * plans during analysis — after that the action structure is gone.
  * Injected target conditions are qualified with the target's alias so they
  * can never capture a same-named source column.
  *
  * Scale note: the rewritten statement plans exactly like the unsecured
  * one plus a pushed-down predicate per action — group-based MERGE is one
  * full-outer join either way, and the injected conditions ride the merge
  * rows; no extra shuffle or pass (the SecurityTaxProbe argument applies
  * unchanged).
  */
final case class DmlSecurityRewrite(
    spark: SparkSession,
    user: String,
    policies: PolicyView,
    scope: TableScope
) {

  import org.apache.spark.sql.AnalysisException
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}

  /** The statement's decisions, in the order made: the target constraint,
    * then the source's and each subquery's ([[Enforcement]]). A denial
    * carries its own decision on the exception it throws.
    */
  val decisions = scala.collection.mutable.ArrayBuffer.empty[AccessDecision]

  /** (cat, db, table, reference qualifier) of a parsed named table: the
    * qualifier is the alias if the table is aliased, the table name
    * otherwise.
    */
  private val named: PartialFunction[LogicalPlan, (String, String, String, String)] = {
    case SubqueryAlias(id, r: UnresolvedRelation) => withQualifier(r, id.name)
    case r: UnresolvedRelation => withQualifier(r, r.multipartIdentifier.last)
  }

  private def withQualifier(r: UnresolvedRelation, q: String): (String, String, String, String) = {
    val (c, d, t) = PlanShapes.tableParts(r.multipartIdentifier, scope)
    (c, d, t, q)
  }

  private def targetOf(plan: LogicalPlan): (String, String, String, String) =
    named.applyOrElse(plan, (other: LogicalPlan) => throw new UnsupportedOperationException(
      s"row-level DML target must be a named table, got ${other.nodeName}"))

  private def qualify(q: String, e: Expression): Expression = e.transform {
    case a: UnresolvedAttribute if a.nameParts.length == 1 =>
      UnresolvedAttribute(q +: a.nameParts)
  }

  /** The target's combined row-filter condition for `user`, alias-qualified;
    * None when unpolicied. Fails closed on an active DENY.
    */
  private def targetConstraint(cat: String, db: String, table: String,
      qualifier: String): Option[Expression] = {
    if (policies.isDenied(user, cat, db, table))
      throw new graft.ColumnAccessDeniedException(
        s"user '$user' is denied rows of $cat.$db.$table — row-level DML " +
          "against a denied table fails closed",
        Seq(AccessDecision("ROW_DENY", s"$cat.$db.$table", "DENY")))
    val conds = policies.rowFilterConditions(user, cat, db, table)
    if (conds.isEmpty) None
    else {
      val cond = FilterConditions.parse(spark, user, cat, db, table, conds)
      decisions += AccessDecision("ROW_FILTER", s"$cat.$db.$table",
        s"${conds.mkString(" AND ")} (DML target constraint)")
      Some(qualify(qualifier, cond))
    }
  }

  private def and(cond: Option[Expression], extra: Expression): Option[Expression] =
    Some(cond.map(And(_, extra)).getOrElse(extra))

  private def constrain(actions: Seq[MergeAction], f: Expression): Seq[MergeAction] =
    actions.map {
      case a: UpdateAction => a.copy(condition = and(a.condition, f))
      case a: UpdateStarAction => a.copy(condition = and(a.condition, f))
      case a: DeleteAction => a.copy(condition = and(a.condition, f))
      case other => other // insert actions: not an existing-row touch
    }

  /** Fail closed when any expression of the statement references a denied
    * column of the target (refs qualified with the target alias, or bare)
    * or of a source base table (refs qualified with that table's
    * alias/name, or bare). Pre-resolution name matching — bare names check
    * against every side they COULD resolve to.
    */
  private def enforceColumnDeny(target: (String, String, String, String),
      sources: Seq[(String, String, String, String)],
      exprs: Seq[Expression]): Unit = {
    val refs = exprs.flatMap(_.collect {
      case a: UnresolvedAttribute => a.nameParts
    })
    def hits(cat: String, db: String, table: String, qual: String): Seq[String] = {
      val denied = policies.deniedColumns(user, cat, db, table)
        .map(_.toLowerCase)
      if (denied.isEmpty) Nil
      else refs.collect {
        case Seq(col) if denied.contains(col.toLowerCase) => col
        case Seq(q, col) if q.equalsIgnoreCase(qual) &&
          denied.contains(col.toLowerCase) => col
      }.distinct
    }
    val violations = (target +: sources).flatMap { case (c, d, t, q) =>
      val h = hits(c, d, t, q)
      if (h.isEmpty) Nil else Seq(AccessDecision("COLUMN_DENY", s"$c.$d.$t", h.mkString(",")))
    }
    if (violations.nonEmpty)
      throw graft.ColumnAccessDeniedException(user, violations, "the DML statement")
  }

  /** A read of the statement (the MERGE source, a subquery), analyzed
    * standalone, through the read path, [[Enforcement]]: the column-deny
    * gate, row filters and masks (all emit resolved nodes). The surrounding
    * (still-parsed) statement resolves around the returned subtree. Its
    * decisions go into [[decisions]]; a denial throws out, as the
    * statement's own column denials do.
    */
  private def enforced(analyzed: LogicalPlan): LogicalPlan = {
    val (secured, made) = Enforcement(spark, user, policies, scope, analyzed)
    decisions ++= made
    secured
  }

  /** `statement` with every subquery plan in its own expressions read
    * through [[Enforcement]]. A subquery that does not analyze on its own
    * (a correlated one) is left to the statement's analysis when it reads
    * no policied table, and fails closed when it does: its tables are
    * resolved one by one, views expanded. Callers add the target constraint
    * afterwards, so a policy condition keeps definer rights.
    */
  private def secureSubqueries[P <: LogicalPlan](statement: P): P =
    statement.transformExpressions {
      case s: SubqueryExpression => analyzedAlone(s.plan) match {
        case Some(analyzed) => s.withNewPlan(enforced(analyzed))
        case None =>
          val tables = Enforcement.policiedTables(user, policies, scope,
            s.plan.collectWithSubqueries { case r: UnresolvedRelation => r }.flatMap(analyzedAlone))
          if (tables.nonEmpty) throw new UnsupportedOperationException(
            "a correlated subquery of the DML statement reads policied table(s) " +
              s"${tables.mkString(", ")} — refusing to execute it unenforced")
          s
      }
    }.asInstanceOf[P]

  private def analyzedAlone(plan: LogicalPlan): Option[LogicalPlan] =
    try Some(spark.sessionState.executePlan(plan).analyzed)
    catch { case _: AnalysisException => None }

  /** Rewrite one parsed row-level DML statement. Returns the modified
    * parsed plan (caller analyzes + executes).
    */
  def apply(parsed: LogicalPlan): LogicalPlan = parsed match {
    case m: MergeIntoTable =>
      val target @ (cat, db, table, qualifier) = targetOf(m.targetTable)
      // every base table of the source, under its nearest alias and its name
      enforceColumnDeny(target, m.sourceTable.collect(named),
        Seq(m.mergeCondition) ++
          (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
            .flatMap(a => a.condition.toSeq ++ (a match {
              case u: UpdateAction => u.assignments.flatMap(x => Seq(x.key, x.value))
              case i: InsertAction => i.assignments.flatMap(x => Seq(x.key, x.value))
              case _ => Nil
            })))
      val constraint = targetConstraint(cat, db, table, qualifier)
      val source = enforced(spark.sessionState.executePlan(m.sourceTable).analyzed)
      val secured = secureSubqueries(m.copy(sourceTable = source))
      constraint.fold(secured)(f => secured.copy(
        matchedActions = constrain(secured.matchedActions, f),
        notMatchedBySourceActions = constrain(secured.notMatchedBySourceActions, f)))
    case u: UpdateTable =>
      val target @ (cat, db, table, qualifier) = targetOf(u.table)
      enforceColumnDeny(target, Nil,
        u.condition.toSeq ++ u.assignments.flatMap(a => Seq(a.key, a.value)))
      val constraint = targetConstraint(cat, db, table, qualifier)
      val secured = secureSubqueries(u)
      constraint.fold(secured)(f => secured.copy(condition = and(secured.condition, f)))
    case d: DeleteFromTable =>
      val target @ (cat, db, table, qualifier) = targetOf(d.table)
      enforceColumnDeny(target, Nil, Seq(d.condition))
      val constraint = targetConstraint(cat, db, table, qualifier)
      val secured = secureSubqueries(d)
      constraint.fold(secured)(f => secured.copy(condition = And(secured.condition, f)))
    case other => throw new UnsupportedOperationException(
      s"not a row-level DML statement: ${other.nodeName} " +
        "(use the query rewrite entry points for reads, execute() for DDL/INSERT)")
  }
}
