package graft

import graft.functions.MaskFunctions
import graft.plans.{DmlSecurityRewrite, Enforcement, TableScope}
import graft.policy.PolicyManager
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.types.StructType

/** One access decision: `action` ROW_FILTER, ROW_DENY, DATA_MASK or
  * COLUMN_DENY on table `obj` (cat.db.table); `detail` is the injected
  * condition, `DENY`, the `col=MASK_TYPE` list or the denied columns.
  */
final case class AccessDecision(action: String, obj: String, detail: String)

/** One audit record: a query submission (action QUERY, obj = which rewrite
  * API, detail = the statement), then each [[AccessDecision]] it made
  * (ROW_FILTER, ROW_DENY, DATA_MASK, COLUMN_DENY) in the order
  * [[graft.plans.Enforcement]] makes them: row filters and denies
  * first, then masks, each in the rules' walk order (subquery plans first,
  * then the query bottom-up); row-level DML puts its target constraint
  * first. Only decisions the statement made are recorded: a plan reused
  * through a temp view over an already-enforced handle is not audited
  * again. `seq` is the call order; the trail keeps the newest 16,384
  * records, and `seq` keeps counting across evictions.
  */
case class AuditEntry(seq: Long, principal: String, action: String,
    obj: String, detail: String)

/** Thrown FAIL-CLOSED at analysis time when a query references a column an
  * active [[graft.policy.ColumnDenyPolicy]] denies to the principal (a
  * denied column never degrades to a silent null or a mask: a masked read
  * is still a read), or when row-level DML targets a denied table.
  * `decisions` holds its COLUMN_DENY (or ROW_DENY) decisions, which
  * [[SecurityContext]] audits after the submission's QUERY row and any
  * decision made before the refusal, then passes the exception on.
  */
class ColumnAccessDeniedException(message: String,
    val decisions: Seq[AccessDecision] = Nil) extends RuntimeException(message)

object ColumnAccessDeniedException {
  /** The one wording of a column denial: `what` ("the query", "the DML
    * statement") references the `denied` columns.
    */
  def apply(user: String, denied: Seq[AccessDecision],
      what: String): ColumnAccessDeniedException =
    new ColumnAccessDeniedException(s"user '$user' is denied column(s) " +
      denied.map(d => s"${d.obj}.(${d.detail})").mkString("; ") +
      s" — $what references them and fails closed", denied)

  /** The same, from (cat.db.table, columns) pairs. */
  def apply(user: String, cols: Seq[(String, Seq[String])], what: String)(implicit
      d: DummyImplicit): ColumnAccessDeniedException =
    apply(user, cols.map(c => AccessDecision("COLUMN_DENY", c._1, c._2.mkString(","))), what)
}

/** The newest `capacity` audit records, the oldest evicted first. `seq`
  * counts every record since the last `clear`, so the retained tail stays
  * dense. One monitor keeps a submission's records contiguous and every
  * seq unique under concurrent rewrites.
  */
private[graft] final class AuditTrail(capacity: Int) {
  private val entries = new java.util.ArrayDeque[AuditEntry]()
  private var next = 0L

  /** One submission (action QUERY) and the decisions it made. */
  def record(user: String, api: String, sql: String,
      decisions: Seq[AccessDecision]): Unit = synchronized {
    def add(action: String, obj: String, detail: String): Unit = {
      if (entries.size == capacity) entries.removeFirst()
      entries.addLast(AuditEntry(next, user, action, obj, detail))
      next += 1
    }
    add("QUERY", api, sql)
    decisions.foreach(d => add(d.action, d.obj, d.detail))
  }

  def snapshot: Seq[AuditEntry] = synchronized(entries.toArray(Array.empty[AuditEntry]).toSeq)

  def clear(): Unit = synchronized { entries.clear(); next = 0 }
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

  private val trail = new AuditTrail(capacity = 1 << 14)

  /** The audit trail as a DataFrame of [[AuditEntry]] rows, in call order. */
  def auditLog: DataFrame = {
    import spark.implicits._
    trail.snapshot.toDF()
  }

  def clearAudit(): Unit = trail.clear()

  /** Catalog schema lookup (reference getTable, SecurityContext.java:253-292). */
  def getTable(table: String): StructType = spark.table(table).schema

  /** The one read rewrite behind every entry point: parse, analyze, then
    * [[graft.plans.Enforcement]] against ONE policy view — a concurrent
    * policy write or a window closing mid-rewrite cannot split the query's
    * decisions between two policy sets. The rewritten plan is checked once
    * and marked analyzed. The audit records the submission and the
    * decisions made, a denial's included, before a
    * [[ColumnAccessDeniedException]] is passed on.
    */
  private def rewrite(user: String, api: String, sql: String,
      rowFilters: Boolean = true, masks: Boolean = true,
      filterOnRaw: Boolean = false): LogicalPlan = {
    val (plan, decisions) =
      try Enforcement(spark, user, policyManager.view(), scope, analyzed(parseSql(sql)),
        rowFilters = rowFilters, masks = masks, filterOnRaw = filterOnRaw)
      catch { case e: ColumnAccessDeniedException =>
        trail.record(user, api, sql, e.decisions)
        throw e
      }
    GraftSqlShims.checkedAnalyzed(spark, plan)
    trail.record(user, api, sql, decisions)
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
    * submission, the target constraint, and every policy application of the
    * source and of the statement's subqueries. Throws
    * [[ColumnAccessDeniedException]] fail-closed on denied tables/columns
    * (after auditing the denial). The whole rewrite is one enforcement
    * pass ([[graft.plans.Enforcement.pass]]): in a session with
    * [[graft.plans.GraftSecurityExtensions]] the extension's rule, which
    * refuses row-level DML on a policied table, skips its analyses.
    */
  def rewriteDml(user: String, sql: String): LogicalPlan = Enforcement.pass {
    val rule = DmlSecurityRewrite(spark, user, policyManager.view(), scope)
    val rewritten =
      try rule(parseSql(sql))
      catch { case e: ColumnAccessDeniedException =>
        trail.record(user, "dml", sql, rule.decisions.toSeq ++ e.decisions)
        throw e
      }
    val plan = analyzed(rewritten)
    trail.record(user, "dml", sql, rule.decisions.toSeq)
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
