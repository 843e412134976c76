package graft

import graft.functions.MaskFunctions
import graft.plans.{DataMaskRule, DmlSecurityRewrite, RowFilterRule, TableScope}
import graft.policy.{PolicyManager, PolicyView}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.types.StructType

/** One audit record: a query submission (action QUERY, obj = which rewrite
  * API, detail = the statement) or a policy application the rewrite
  * performed (action ROW_FILTER / DATA_MASK, obj = cat.db.table, detail =
  * the injected condition / the col=MASK_TYPE list). `seq` is the call
  * order — deterministic for a fresh context.
  */
case class AuditEntry(seq: Long, principal: String, action: String,
    obj: String, detail: String)

/** Thrown when a query references a column an active
  * [[graft.policy.ColumnDenyPolicy]] denies to the principal — analysis-time
  * and FAIL-CLOSED: a denied column never degrades to a silent null or a
  * mask (a masked read is still a read). The denial is recorded in the
  * audit trail (action COLUMN_DENY) before the throw.
  */
class ColumnAccessDeniedException(message: String) extends RuntimeException(message)

/** User-facing facade — the Spark-native equivalent of the reference's
  * SecurityContext (SecurityContext.java:126-242).
  *
  * Lifecycle per query: parse -> analyze -> inject (RowFilterRule then
  * DataMaskRule) -> re-analyze -> execute. The re-analysis replaces the
  * reference's SQL-string round trip (toString + Flink re-parse,
  * SecurityContext.java:134) and gives name resolution, star expansion and
  * type coercion of injected policy expressions for free.
  */
final class SecurityContext(
    val spark: SparkSession,
    val policyManager: PolicyManager = new PolicyManager,
    defaultCatalog: String = "spark_catalog",
    defaultDatabase: String = "default"
) {
  MaskFunctions.register(spark)
  graft.functions.VectorFunctions.register(spark)

  private var scope = TableScope(defaultCatalog, defaultDatabase)

  /** Make `catalog`.`database` current — the reference's `useCatalog`
    * (SecurityContext.java:116-121 registers a catalog and issues USE
    * CATALOG): bare table names in queries resolve there, and policy
    * lookups qualify bare names with the same scope, so policies keyed on
    * the catalog keep matching. The catalog must be registered
    * (`spark.sql.catalog.<name>` — e.g. [[graft.sources.GraftMemoryCatalog]])
    * or be `spark_catalog`.
    */
  def useCatalog(catalog: String, database: String = "default"): Unit = {
    spark.sql(s"USE `$catalog`.`$database`")
    scope = TableScope(catalog, database)
  }

  /** Parse a single SQL statement (the parser rejects multi-statement input,
    * mirroring ParserImplExtension.java:74).
    */
  def parseSql(sql: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  /** Parse a scalar/boolean expression fragment (reference parseExpression,
    * ParserImplExtension.java:54-58).
    */
  def parseExpression(sql: String): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  private def analyzed(plan: LogicalPlan): LogicalPlan =
    spark.sessionState.executePlan(plan).analyzed

  // --- audit trail (the Ranger model the reference's PolicyManager names
  // as intent: every rewrite is an access decision worth recording) ---

  private val auditBuf = scala.collection.mutable.ArrayBuffer.empty[AuditEntry]

  /** Record the submission plus every policy application found in the
    * rewritten plan (the rules leave `SecurityTags.*Audit` breadcrumbs at
    * each injection site; collectWithSubqueries also reaches plans inside
    * EXISTS/IN/scalar subquery expressions), plus any identity-only mask
    * decisions the rule reported out-of-band (MASK_NONE-only scans build no
    * Project to tag — [[graft.plans.DataMaskRule.identityAudit]]); those
    * follow the plan-collected rows. Driver-side, bounded by the number of
    * policied scans in the plan — never data-sized. Appends take one
    * monitor so concurrent rewrites through a shared context cannot corrupt
    * the buffer or duplicate seq values (seq derives from size at append).
    */
  private def recordAudit(user: String, api: String, sql: String,
      plan: LogicalPlan, identityMasks: Seq[String] = Nil): LogicalPlan = {
    val decisions = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.getTagValue(graft.plans.SecurityTags.RowFilterAudit).isDefined =>
        ("ROW_FILTER", f.getTagValue(graft.plans.SecurityTags.RowFilterAudit).get)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.getTagValue(graft.plans.SecurityTags.RowDenyAudit).isDefined =>
        ("ROW_DENY", f.getTagValue(graft.plans.SecurityTags.RowDenyAudit).get)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if p.getTagValue(graft.plans.SecurityTags.MaskAudit).isDefined =>
        ("DATA_MASK", p.getTagValue(graft.plans.SecurityTags.MaskAudit).get)
    } ++ identityMasks.map(("DATA_MASK", _))
    auditBuf.synchronized {
      auditBuf += AuditEntry(auditBuf.size.toLong, user, "QUERY", api, sql)
      decisions.foreach { case (action, crumb) =>
        val Array(obj, detail) = crumb.split("\\|", 2)
        auditBuf += AuditEntry(auditBuf.size.toLong, user, action, obj, detail)
      }
    }
    plan
  }

  /** The audit trail as a DataFrame (seq, principal, action, obj, detail),
    * in call order. Identity-only mask matches record as ordinary DATA_MASK
    * decisions (detail `col=MASK_NONE`) after their submission's
    * plan-collected rows.
    */
  def auditLog: DataFrame = {
    import spark.implicits._
    auditBuf.synchronized(auditBuf.toSeq).toDF()
  }

  def clearAudit(): Unit = auditBuf.synchronized(auditBuf.clear())

  /** Catalog schema lookup (reference getTable, SecurityContext.java:253-292). */
  def getTable(table: String): StructType = spark.table(table).schema

  // --- column-deny enforcement (Ranger column-level deny) ---

  /** Fail CLOSED when the analyzed plan references a column an active
    * [[graft.policy.ColumnDenyPolicy]] denies to `user`: record the denial
    * (audit action COLUMN_DENY, after the submission's QUERY row) and throw
    * [[ColumnAccessDeniedException]] — an analysis-time error, never a
    * silent null or a mask (deny beats mask at any specificity). References
    * are collected from the plan ABOVE each base-table scan only (a temp
    * view's INTERNAL projections don't count as the user reading a column),
    * including subquery expressions; `SELECT *` expands to every column
    * during analysis, so a star over a denied column fails too. A query
    * touching only the table's other columns passes untouched. Runs on the
    * user's plan BEFORE any rewrite, in every rewrite entry point.
    */
  private def enforceColumnDeny(user: String, api: String, sql: String,
      plan: LogicalPlan, policies: PolicyView): Unit = {
    val violations =
      graft.plans.ColumnDenyCheck.violations(plan, user, policies, scope)
    if (violations.nonEmpty) {
      auditBuf.synchronized {
        auditBuf += AuditEntry(auditBuf.size.toLong, user, "QUERY", api, sql)
        violations.foreach { case (obj, cols) =>
          auditBuf += AuditEntry(auditBuf.size.toLong, user, "COLUMN_DENY",
            obj, cols.mkString(","))
        }
      }
      throw new ColumnAccessDeniedException(
        s"user '$user' is denied column(s) " +
          violations.map { case (o, cs) => s"$o.(${cs.mkString(",")})" }.mkString("; ") +
          " — the query references them and fails closed")
    }
  }

  /** Parse + analyze + column-deny gate — the shared front of every rewrite
    * entry point (deny beats both rewrites, so it runs first).
    */
  private def checkedPlan(user: String, api: String, sql: String,
      policies: PolicyView): LogicalPlan = {
    val base = analyzed(parseSql(sql))
    enforceColumnDeny(user, api, sql, base, policies)
    base
  }

  // --- rewrite-only API (reference SecurityContext.java:126-167). Each
  // entry point takes ONE policy view and decides the whole query against
  // it: a concurrent policy write or a window closing mid-rewrite cannot
  // split the query's decisions between two policy sets. ---

  def rewriteRowFilter(user: String, sql: String): LogicalPlan = {
    val policies = policyManager.view()
    recordAudit(user, "row_filter", sql,
      analyzed(RowFilterRule(spark, user, policies, scope)(
        checkedPlan(user, "row_filter", sql, policies))))
  }

  def rewriteDataMask(user: String, sql: String): LogicalPlan = {
    val policies = policyManager.view()
    // deny gate (denyOnly row-filter pass): the mask-only entry point must
    // never return rows of a DENIED table — without it, dfDataMask alone
    // would be fail-open relative to Ranger semantics
    val denyGated = RowFilterRule(spark, user, policies, scope,
      denyOnly = true)(checkedPlan(user, "data_mask", sql, policies))
    val rule = DataMaskRule(spark, user, policies, scope, auditIdentity = true)
    recordAudit(user, "data_mask", sql,
      analyzed(rule(denyGated)), rule.identityAudit.toSeq)
  }

  /** Row filter BEFORE mask — fixed order, filters see masked values
    * (SecurityContext.java:154-167).
    */
  def mixedRewrite(user: String, sql: String): LogicalPlan = {
    val policies = policyManager.view()
    val filtered = RowFilterRule(spark, user, policies, scope)(
      checkedPlan(user, "mixed", sql, policies))
    val rule = DataMaskRule(spark, user, policies, scope, auditIdentity = true)
    recordAudit(user, "mixed", sql,
      analyzed(rule(filtered)), rule.identityAudit.toSeq)
  }

  /** Ranger-style composition (the divergence switch of SURVEY §7.3): row
    * filters evaluate over RAW column values; masking applies to the output
    * only. Use when a policy filters on a column that is also masked and the
    * reference's filter-sees-masked-values quirk is not wanted.
    */
  def mixedRewriteRawFilter(user: String, sql: String): LogicalPlan = {
    val policies = policyManager.view()
    val filtered = RowFilterRule(spark, user, policies, scope)(
      checkedPlan(user, "mixed_raw_filter", sql, policies))
    val rule = DataMaskRule(spark, user, policies, scope, filterOnRaw = true,
      auditIdentity = true)
    recordAudit(user, "mixed_raw_filter", sql,
      analyzed(rule(filtered)), rule.identityAudit.toSeq)
  }

  // --- rewrite-to-SQL API (best-effort text, for diffing/goldens; the
  // reference returns SQL strings, SecurityContext.java:126-167) ---

  def rewriteRowFilterSql(user: String, sql: String): String =
    graft.plans.SqlRenderer.toSql(rewriteRowFilter(user, sql))

  def rewriteDataMaskSql(user: String, sql: String): String =
    graft.plans.SqlRenderer.toSql(rewriteDataMask(user, sql))

  def mixedRewriteSql(user: String, sql: String): String =
    graft.plans.SqlRenderer.toSql(mixedRewrite(user, sql))

  // --- DataFrame API ---

  def dfRowFilter(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, rewriteRowFilter(user, sql))

  def dfDataMask(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, rewriteDataMask(user, sql))

  def dfMixed(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, mixedRewrite(user, sql))

  def dfMixedRawFilter(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, mixedRewriteRawFilter(user, sql))

  // --- row-level DML API (MERGE INTO / UPDATE / DELETE on tables with
  // SupportsRowLevelOperations — beyond-reference surface; the reference's
  // only DML is INSERT INTO ... SELECT, handled by the read rewrites'
  // embedded-query path). Policy contract in [[graft.plans.DmlSecurityRewrite]]:
  // target row filters constrain which existing rows the user can touch,
  // source reads get the full filter+mask rewrite, deny/column-deny fail
  // closed. ---

  /** Parse + security-rewrite + analyze one DML statement; audits the
    * submission, the target constraint, and every source-side policy
    * application. Throws [[ColumnAccessDeniedException]] fail-closed on
    * denied tables/columns (after auditing the denial).
    */
  def rewriteDml(user: String, sql: String): LogicalPlan = {
    val rule = DmlSecurityRewrite(spark, user, policyManager.view(), scope)
    def crumbs(): Seq[(String, String)] = rule.dmlAudit.toSeq.map { c =>
      val Array(action, rest) = c.split("\\|", 2)
      (action, rest)
    }
    val rewritten =
      try rule(parseSql(sql))
      catch { case e: ColumnAccessDeniedException =>
        auditBuf.synchronized {
          auditBuf += AuditEntry(auditBuf.size.toLong, user, "QUERY", "dml", sql)
          crumbs().foreach { case (action, crumb) =>
            val Array(obj, detail) = crumb.split("\\|", 2)
            auditBuf += AuditEntry(auditBuf.size.toLong, user, action, obj, detail)
          }
        }
        throw e
      }
    // source-side rule applications carry the ordinary plan tags; the
    // target-side constraint (a condition rewrite, no plan node to tag)
    // arrives through the rule's crumb buffer
    val plan = analyzed(rewritten)
    val tagged = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.getTagValue(graft.plans.SecurityTags.RowFilterAudit).isDefined =>
        ("ROW_FILTER", f.getTagValue(graft.plans.SecurityTags.RowFilterAudit).get)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project
          if p.getTagValue(graft.plans.SecurityTags.MaskAudit).isDefined =>
        ("DATA_MASK", p.getTagValue(graft.plans.SecurityTags.MaskAudit).get)
    }.distinct // the merge rewrite replays the source subtree into several
               // plan positions (join leg, cardinality check) — one policy
               // decision, one audit row
    auditBuf.synchronized {
      auditBuf += AuditEntry(auditBuf.size.toLong, user, "QUERY", "dml", sql)
      (crumbs() ++ tagged).foreach { case (action, crumb) =>
        val Array(obj, detail) = crumb.split("\\|", 2)
        auditBuf += AuditEntry(auditBuf.size.toLong, user, action, obj, detail)
      }
    }
    plan
  }

  /** Rewrite + run one DML statement (the write executes eagerly). */
  def executeDml(user: String, sql: String): Unit = {
    GraftSqlShims.ofRows(spark, rewriteDml(user, sql)).collect()
    ()
  }

  // --- execute API (reference SecurityContext.java:190-242) ---

  val DefaultFetchSize = 10

  /** Direct execution, no rewrite (DDL, baseline queries). */
  def execute(sql: String): Seq[Row] = execute(sql, DefaultFetchSize)
  def execute(sql: String, size: Int): Seq[Row] =
    fetch(GraftSqlShims.ofRows(spark, parseSql(sql)), size)

  def executeRowFilter(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfRowFilter(user, sql), size)

  def executeDataMask(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfDataMask(user, sql), size)

  def mixedExecute(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfMixed(user, sql), size)

  def mixedExecuteRawFilter(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfMixedRawFilter(user, sql), size)

  /** fetch-N without collecting the full result (SecurityContext.java:235-242
    * iterates; here `limit` is planned, so only N rows cross the driver
    * boundary — at scale this is a LocalLimit pushed to executors).
    */
  private def fetch(df: DataFrame, size: Int): Seq[Row] =
    if (df.schema.isEmpty) { df.collect(); Seq.empty } // commands (INSERT/DDL)
    else df.limit(size).collect().toSeq
}
