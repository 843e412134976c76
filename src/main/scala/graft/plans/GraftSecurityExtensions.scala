package graft.plans

import graft.functions.MaskFunctions
import graft.policy.PolicyManager
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.AnalysisContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.{ResetCommand, SetCommand}

/** Auto-enforcing mode (SURVEY §7.8): inject the security rules into the
  * analyzer so every query — including raw `spark.sql` — is policy-checked
  * for the session's current user. Ranger/Lakeguard style, replacing the
  * reference's explicit `executeRowFilter(...)` call discipline.
  *
  * Usage:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftSecurityExtensions)...
  *   // or spark.sql.extensions=graft.plans.GraftSecurityExtensions
  *   GraftSecurityExtensions.policies.addPolicy(...)
  *   spark.conf.set("spark.graft.user", "user_A")   // session-scoped
  *   spark.sql("SELECT * FROM orders")              // filtered + masked
  * }}}
  *
  * One post-hoc resolution rule runs [[Enforcement]], the path
  * [[graft.SecurityContext]] runs, once per statement: after the analyzer's
  * fixed point and after `DataSourceAnalysis`, so INSERT and CTAS bodies
  * are already write commands whose query [[Enforcement.unwrap]] reaches;
  * nested analyses defer to the outermost. An unset/empty `spark.graft.user`
  * disables enforcement (internal queries, admin sessions).
  *
  * The principal is bound by the embedding application, never by SQL text
  * (Lakeguard's session-bound identity). While a principal is set, one
  * check rule refuses SQL that assigns or resets `spark.graft.user`,
  * `spark.graft.catalog` or `spark.graft.database` (`SET key=value`,
  * `RESET key`, a bare `RESET`) before it runs; `SET key` still reads a
  * value. The application changes them through the `spark.conf` API. The
  * two scope keys stay keys rather than being derived from the session's
  * current catalog and namespace: they qualify a bare temp-view name for
  * policy lookup, and a `USE` in SQL text must not move that scope.
  */
class GraftSecurityExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPostHocResolutionRule(new GraftSecurityExtensions.Enforce(_))
    e.injectCheckRule(s => GraftSecurityExtensions.bindPrincipal(s, _))
  }
}

object GraftSecurityExtensions {
  /** Process-wide policy store for extension-mode sessions. Embedding apps
    * that need isolation can still use [[graft.SecurityContext]] with their
    * own manager.
    */
  val policies: PolicyManager = new PolicyManager

  val UserKey = "spark.graft.user"
  val CatalogKey = "spark.graft.catalog"
  val DatabaseKey = "spark.graft.database"

  /** The extension's one analyzer rule: [[Enforcement]] for the session's
    * user against one policy view, skipped in a nested analysis (a view
    * body, a subquery plan, or one [[Enforcement]] started) and on a plan
    * that reads no relation (every Dataset action's encoder bind is one):
    * such a plan holds no policied scan and no injected node, so it takes
    * no policy view. A column denial throws out of analysis.
    */
  final class Enforce(session: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = currentUser(session) match {
      case Some(u) if !nested =>
        MaskFunctions.register(session)
        if (!readsRelation(plan)) plan
        else Enforcement(session, u, policies.view(), scopeOf(session), plan)._1
      case _ => plan
    }
  }

  /** Whether `plan` scans a table or view, subqueries included, or embeds a
    * query (a V1 command's `innerChildren`) that could.
    */
  private def readsRelation(plan: LogicalPlan): Boolean =
    plan.collectFirstWithSubqueries {
      case p if PlanShapes.isBaseTable(p) ||
        p.innerChildren.exists(_.isInstanceOf[LogicalPlan]) => p
    }.isDefined

  private val BoundKeys = Set(UserKey, CatalogKey, DatabaseKey)

  /** The extension's one check rule: while a principal is set, a statement
    * may not assign or reset the principal or scope keys.
    */
  private def bindPrincipal(session: SparkSession, plan: LogicalPlan): Unit =
    if (currentUser(session).isDefined) plan match {
      case SetCommand(Some((key, Some(_)))) if BoundKeys(key) => refuse(s"SET $key")
      case ResetCommand(Some(key)) if BoundKeys(key) => refuse(s"RESET $key")
      case ResetCommand(None) => refuse("RESET")
      case _ =>
    }

  private def refuse(what: String): Nothing = throw new SecurityException(
    s"$what is refused while $UserKey is set: the principal and its scope " +
      "are set by the application, not by SQL")

  private def nested: Boolean = Enforcement.running ||
    AnalysisContext.get.nestedViewDepth > 0 || AnalysisContext.get.outerPlan.isDefined

  private def currentUser(spark: SparkSession): Option[String] =
    Option(spark.conf.get(UserKey, "")).filter(_.nonEmpty)

  private def scopeOf(spark: SparkSession): TableScope =
    TableScope(
      spark.conf.get(CatalogKey, "spark_catalog"),
      spark.conf.get(DatabaseKey, "default"))
}
