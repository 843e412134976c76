package graft.plans

import graft.functions.MaskFunctions
import graft.policy.PolicyManager
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

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
  * The rules run inside the analyzer's resolution fixed point: filters are
  * injected unresolved and resolved by the surrounding batch; masks resolve
  * eagerly. An unset/empty `spark.graft.user` disables enforcement (internal
  * queries, admin sessions).
  */
class GraftSecurityExtensions extends (SparkSessionExtensions => Unit) {
  import GraftSecurityExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule { session =>
      new Rule[LogicalPlan] {
        override def apply(plan: LogicalPlan): LogicalPlan = currentUser(session) match {
          case Some(u) =>
            ensureFunctions(session)
            val s = scopeOf(session)
            // one policy snapshot for both rules of this pass
            val view = policies.view()
            val filtered = RowFilterRule(session, u, view, s, postAnalysis = false)(plan)
            // Masking needs resolved outputs to propagate fresh exprIds; wait
            // for the fixed point to resolve everything (incl. the filter
            // conditions injected above), then the next pass masks.
            if (filtered.resolved) DataMaskRule(session, u, view, s)(filtered)
            else filtered
          case None => plan
        }
      }
    }
    // column-level deny: analysis-time check over the fully-analyzed plan
    // (the rules above have already injected their nodes — ColumnDenyCheck
    // skips tagged machinery, so only the USER's references count). Throws
    // instead of rewriting: a denied column read fails closed, never nulls.
    e.injectCheckRule { session => plan =>
      currentUser(session).foreach { u =>
        val vs = ColumnDenyCheck.violations(plan, u, policies.view(), scopeOf(session))
        if (vs.nonEmpty) throw new graft.ColumnAccessDeniedException(
          s"user '$u' is denied column(s) " +
            vs.map { case (o, cs) => s"$o.(${cs.mkString(",")})" }.mkString("; ") +
            " — the query references them and fails closed")
      }
    }
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

  private def currentUser(spark: SparkSession): Option[String] =
    Option(spark.conf.get(UserKey, "")).filter(_.nonEmpty)

  private def scopeOf(spark: SparkSession): TableScope =
    TableScope(
      spark.conf.get(CatalogKey, "spark_catalog"),
      spark.conf.get(DatabaseKey, "default"))

  // weak keys: this process-wide set must not pin sessions (and their whole
  // sessionState) against garbage collection in long-lived multi-session apps
  private val registered = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def ensureFunctions(spark: SparkSession): Unit =
    if (registered.add(spark)) MaskFunctions.register(spark)
}
