package graft.plans

import graft.{SecurityContext, SparkFunSuite}
import graft.policy.{DenyRowPolicy, RowFilterPolicy}
import graft.sources.GraftMemoryCatalog
import org.apache.spark.sql.SparkSession

/** Row-level DML (UPDATE / DELETE / MERGE) outside `rewriteDml`: the
  * analyzer turns it into a group replacement whose read of the target no
  * security rule sees, so on a table with any policy for the principal it
  * is refused in both modes and leaves every row as it was; on a table with
  * none it runs.
  */
class RowLevelDmlBoundarySpec extends SparkFunSuite {

  private val User = "dml_bound"
  private val Seeded = Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 30L), (4L, "B", 40L))

  /** A fresh `graft_mem.default.<name>` in `s`, seeded with two seg A and
    * two seg B rows.
    */
  private def fresh(s: SparkSession, name: String): String = {
    s.conf.set("spark.sql.catalog.graft_mem", classOf[GraftMemoryCatalog].getName)
    val t = s"graft_mem.default.$name"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (k BIGINT, seg STRING, bal BIGINT)")
    s.sql(s"INSERT INTO $t VALUES (1,'A',10),(2,'B',20),(3,'A',30),(4,'B',40)")
    t
  }

  private def rowsOf(s: SparkSession, t: String): Seq[(Long, String, Long)] = {
    import s.implicits._
    s.table(t).orderBy("k").as[(Long, String, Long)].collect().toSeq
  }

  private def update(t: String) = s"UPDATE $t SET bal = bal + 1000 WHERE bal >= 20"
  private def delete(t: String) = s"DELETE FROM $t WHERE bal >= 20"
  private def merge(t: String) = s"MERGE INTO $t AS t USING (SELECT CAST(2 AS BIGINT) AS k) AS s " +
    "ON t.k = s.k WHEN MATCHED THEN UPDATE SET bal = 999"

  /** A sibling session with the extension (same SparkContext), the
    * principal set; the shared test session is restored afterwards.
    */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sec = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftSecurityExtensions)
      .getOrCreate()
    try body(sec)
    finally {
      sec.conf.unset(GraftSecurityExtensions.UserKey)
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("extension mode refuses UPDATE, DELETE and MERGE on a row-filtered table and runs them on an unpolicied one") {
    withExtensionSession { sec =>
      val t = fresh(sec, "dmlb_ext")
      val open = fresh(sec, "dmlb_ext_open")
      val filter = RowFilterPolicy(User, "graft_mem", "default", "dmlb_ext", "seg = 'A'")
      GraftSecurityExtensions.policies.addPolicy(filter)
      try {
        sec.conf.set(GraftSecurityExtensions.UserKey, User)
        Seq(update(t), delete(t), merge(t)).foreach { stmt =>
          val e = intercept[UnsupportedOperationException](sec.sql(stmt))
          assert(e.getMessage.contains("rewriteDml"), stmt)
          sec.conf.unset(GraftSecurityExtensions.UserKey)
          assert(rowsOf(sec, t) == Seeded, stmt)
          sec.conf.set(GraftSecurityExtensions.UserKey, User)
        }
        sec.sql(update(open))
        sec.sql(merge(open))
        sec.sql(delete(open))
        sec.conf.unset(GraftSecurityExtensions.UserKey)
        assert(rowsOf(sec, open) == Seq((1L, "A", 10L)))
      } finally {
        sec.conf.unset(GraftSecurityExtensions.UserKey)
        GraftSecurityExtensions.policies.removePolicy(filter)
      }
    }
  }

  test("executeDml on an extension session still runs, constrained to the row filter") {
    withExtensionSession { sec =>
      val t = fresh(sec, "dmlb_ext_ctx")
      val filter = RowFilterPolicy(User, "graft_mem", "default", "dmlb_ext_ctx", "seg = 'A'")
      GraftSecurityExtensions.policies.addPolicy(filter)
      val c = new SecurityContext(sec)
      c.policyManager.addPolicy(filter)
      try {
        sec.conf.set(GraftSecurityExtensions.UserKey, User)
        c.executeDml(User, update(t))
        sec.conf.unset(GraftSecurityExtensions.UserKey)
        assert(rowsOf(sec, t) ==
          Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 1030L), (4L, "B", 40L)))
      } finally {
        sec.conf.unset(GraftSecurityExtensions.UserKey)
        GraftSecurityExtensions.policies.removePolicy(filter)
      }
    }
  }

  test("context mode refuses DELETE through a read entry point on a row-filtered table") {
    val t = fresh(spark, "dmlb_ctx")
    val c = new SecurityContext(spark)
    c.policyManager.addPolicy(RowFilterPolicy(User, "graft_mem", "default", "dmlb_ctx", "seg = 'A'"))
    intercept[UnsupportedOperationException](c.executeRowFilter(User, delete(t)))
    assert(rowsOf(spark, t) == Seeded)
    val open = fresh(spark, "dmlb_ctx_open")
    c.executeRowFilter(User, delete(open))
    assert(rowsOf(spark, open) == Seq((1L, "A", 10L)))
  }

  test("context mode refuses UPDATE through a read entry point on a row-denied table") {
    val t = fresh(spark, "dmlb_ctx_deny")
    val c = new SecurityContext(spark)
    c.policyManager.addPolicy(DenyRowPolicy(User, "graft_mem", "default", "dmlb_ctx_deny"))
    intercept[UnsupportedOperationException](c.mixedExecute(User, s"UPDATE $t SET bal = 0"))
    assert(rowsOf(spark, t) == Seeded)
  }
}
