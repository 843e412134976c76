package graft

import graft.functions.MaskFunctions
import graft.plans.{DmlSecurityRewrite, Enforcement, TableScope}
import graft.policy.PolicyManager
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
  * mask (a masked read is still a read). `violations` holds the denied
  * (cat.db.table, columns); [[SecurityContext]] records each as a
  * COLUMN_DENY audit row before passing the exception on.
  */
class ColumnAccessDeniedException(message: String,
    val violations: Seq[(String, Seq[String])] = Nil) extends RuntimeException(message)

object ColumnAccessDeniedException {
  /** The one wording of a column denial: `what` ("the query", "the DML
    * statement") references the (cat.db.table, columns) `violations`.
    */
  def apply(user: String, violations: Seq[(String, Seq[String])],
      what: String): ColumnAccessDeniedException =
    new ColumnAccessDeniedException(s"user '$user' is denied column(s) " +
      violations.map { case (o, cs) => s"$o.(${cs.mkString(",")})" }.mkString("; ") +
      s" — $what references them and fails closed", violations)
}

/** User-facing facade — the Spark-native equivalent of the reference's
  * SecurityContext (SecurityContext.java:126-242).
  *
  * Lifecycle per query: parse -> analyze -> enforce (column-deny gate,
  * RowFilterRule, DataMaskRule: [[graft.plans.Enforcement]], the path the
  * auto-enforcement extension runs too) -> checkAnalysis -> execute. The
  * rules emit resolved nodes, so the rewritten plan is checked once and
  * marked analyzed instead of analyzed a second time; that replaces the
  * reference's SQL-string round trip (toString + Flink re-parse,
  * SecurityContext.java:134).
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

  /** Record one submission (action QUERY) and the access decisions it
    * produced, each an (action, "cat.db.table|detail") crumb. Driver-side,
    * bounded by the number of policied scans in the plan — never
    * data-sized. Appends take one monitor so concurrent rewrites through a
    * shared context cannot corrupt the buffer or duplicate seq values (seq
    * derives from size at append).
    */
  private def audit(user: String, api: String, sql: String,
      decisions: Seq[(String, String)]): Unit = auditBuf.synchronized {
    auditBuf += AuditEntry(auditBuf.size.toLong, user, "QUERY", api, sql)
    decisions.foreach { case (action, crumb) =>
      val Array(obj, detail) = crumb.split("\\|", 2)
      auditBuf += AuditEntry(auditBuf.size.toLong, user, action, obj, detail)
    }
  }

  /** The policy applications the rules tagged in a rewritten plan
    * (`SecurityTags.*Audit` breadcrumbs at each injection site), found in
    * the statement's query ([[graft.plans.Enforcement.unwrap]], so a CTAS
    * body counts); collectWithSubqueries also reaches plans inside
    * EXISTS/IN/scalar subquery expressions.
    */
  private def planDecisions(plan: LogicalPlan): Seq[(String, String)] = {
    import graft.plans.SecurityTags._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    Enforcement.unwrap(plan)._1.collectWithSubqueries {
      case f: Filter => f.getTagValue(RowFilterAudit).map("ROW_FILTER" -> _)
        .orElse(f.getTagValue(RowDenyAudit).map("ROW_DENY" -> _))
      case p: Project => p.getTagValue(MaskAudit).map("DATA_MASK" -> _)
    }.flatten
  }

  /** The COLUMN_DENY audit rows of a denial. */
  private def denials(e: ColumnAccessDeniedException): Seq[(String, String)] =
    e.violations.map { case (obj, cols) => "COLUMN_DENY" -> s"$obj|${cols.mkString(",")}" }

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

  /** The one read rewrite behind every entry point: parse, analyze, then
    * [[graft.plans.Enforcement]] against ONE policy view — a concurrent
    * policy write or a window closing mid-rewrite cannot split the query's
    * decisions between two policy sets. A column denial records the
    * submission and its COLUMN_DENY rows, then throws
    * [[ColumnAccessDeniedException]]. The rewritten plan is checked once
    * and marked analyzed; the audit then records the submission, the
    * decisions tagged in the plan, and any identity-only mask decisions
    * (MASK_NONE-only scans build no Project to tag —
    * [[graft.plans.DataMaskRule.identityAudit]]) after them.
    */
  private def rewrite(user: String, api: String, sql: String,
      rowFilters: Boolean = true, masks: Boolean = true,
      filterOnRaw: Boolean = false): LogicalPlan = {
    val (plan, identityMasks) =
      try Enforcement(spark, user, policyManager.view(), scope, analyzed(parseSql(sql)),
        rowFilters = rowFilters, masks = masks, filterOnRaw = filterOnRaw)
      catch { case e: ColumnAccessDeniedException =>
        audit(user, api, sql, denials(e))
        throw e
      }
    GraftSqlShims.checkedAnalyzed(spark, plan)
    audit(user, api, sql, planDecisions(plan) ++ identityMasks.map("DATA_MASK" -> _))
    plan
  }

  // --- rewrite-only API (reference SecurityContext.java:126-167) ---

  def rewriteRowFilter(user: String, sql: String): LogicalPlan =
    rewrite(user, "row_filter", sql, masks = false)

  /** Masks behind the deny gate (deny decisions only, no allow-filters):
    * the mask-only entry point must never return rows of a DENIED table —
    * without it, dfDataMask alone would be fail-open relative to Ranger.
    */
  def rewriteDataMask(user: String, sql: String): LogicalPlan =
    rewrite(user, "data_mask", sql, rowFilters = false)

  /** Row filter BEFORE mask — fixed order, filters see masked values
    * (SecurityContext.java:154-167).
    */
  def mixedRewrite(user: String, sql: String): LogicalPlan = rewrite(user, "mixed", sql)

  /** Ranger-style composition (the divergence switch of SURVEY §7.3): row
    * filters evaluate over RAW column values; masking applies to the output
    * only. Use when a policy filters on a column that is also masked and the
    * reference's filter-sees-masked-values quirk is not wanted.
    */
  def mixedRewriteRawFilter(user: String, sql: String): LogicalPlan =
    rewrite(user, "mixed_raw_filter", sql, filterOnRaw = true)

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
    val rewritten =
      try rule(parseSql(sql))
      catch { case e: ColumnAccessDeniedException =>
        audit(user, "dml", sql, rule.dmlAudit.toSeq ++ denials(e))
        throw e
      }
    // source-side rule applications carry the ordinary plan tags; the
    // target-side constraint (a condition rewrite, no plan node to tag)
    // arrives through the rule's crumb buffer. The merge rewrite replays the
    // source subtree into several plan positions (join leg, cardinality
    // check) — one policy decision, one audit row.
    val plan = analyzed(rewritten)
    audit(user, "dml", sql, rule.dmlAudit.toSeq ++ planDecisions(plan).distinct)
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
