package graft.plans

import graft.{ColumnAccessDeniedException, SecurityContext, SparkFunSuite}
import graft.policy.{ColumnDenyPolicy, DataMaskPolicy, DenyRowPolicy, RowFilterPolicy}
import graft.sources.GraftMemoryCatalog

/** Row-level DML (MERGE INTO / UPDATE / DELETE) through the security
  * rewrite, on the DSv2 memory catalog's SupportsRowLevelOperations path.
  * The policy contract under test ([[DmlSecurityRewrite]]): target row
  * filters constrain which EXISTING rows a user can touch
  * (visible-but-untouchable — an out-of-filter matched row is neither
  * modified nor duplicated by a NOT MATCHED insert), source reads get the
  * ordinary filter+mask rewrite, deny/column-deny fail closed.
  */
class SecurityDmlSpec extends SparkFunSuite {
  import spark.implicits._

  private val USER = "analyst"

  spark.conf.set("spark.sql.catalog.graft_mem",
    classOf[GraftMemoryCatalog].getName)

  /** Fresh target table seeded with 2 in-filter (seg A) and 2 out-of-filter
    * (seg B) rows; returns a context with `seg = 'A'` as USER's row filter.
    */
  private def freshTarget(name: String): SecurityContext = {
    spark.sql(s"DROP TABLE IF EXISTS graft_mem.default.$name")
    spark.sql(s"CREATE TABLE graft_mem.default.$name (k BIGINT, seg STRING, bal BIGINT)")
    spark.sql(s"INSERT INTO graft_mem.default.$name VALUES " +
      "(1,'A',10),(2,'B',20),(3,'A',30),(4,'B',40)")
    val c = new SecurityContext(spark)
    c.policyManager.addPolicy(RowFilterPolicy(
      USER, "graft_mem", "default", name, "seg = 'A'"))
    c
  }

  private def rowsOf(name: String): Seq[(Long, String, Long)] =
    spark.table(s"graft_mem.default.$name").orderBy("k")
      .as[(Long, String, Long)].collect().toSeq

  test("UPDATE touches only rows inside the user's row filter") {
    val c = freshTarget("dml_upd")
    c.executeDml(USER,
      "UPDATE graft_mem.default.dml_upd SET bal = bal + 1000 WHERE bal >= 20")
    // k=3 is A and >= 20 -> updated; k=2/4 are B -> untouchable despite WHERE
    assert(rowsOf("dml_upd") ==
      Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 1030L), (4L, "B", 40L)))
  }

  test("DELETE removes only rows inside the user's row filter") {
    val c = freshTarget("dml_del")
    c.executeDml(USER, "DELETE FROM graft_mem.default.dml_del WHERE bal >= 20")
    assert(rowsOf("dml_del") ==
      Seq((1L, "A", 10L), (2L, "B", 20L), (4L, "B", 40L)))
  }

  test("MERGE cannot modify rows outside the row filter, and cannot duplicate them via NOT MATCHED") {
    val c = freshTarget("dml_mrg")
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.dml_mrg_src")
    spark.sql("CREATE TABLE graft_mem.default.dml_mrg_src (k BIGINT, seg STRING, bal BIGINT)")
    // k=2 matches an out-of-filter target row; k=3 an in-filter one; k=9 is new
    spark.sql("INSERT INTO graft_mem.default.dml_mrg_src VALUES " +
      "(2,'B',222),(3,'A',333),(9,'C',900)")
    c.executeDml(USER,
      """MERGE INTO graft_mem.default.dml_mrg AS t
        |USING graft_mem.default.dml_mrg_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET bal = s.bal
        |WHEN NOT MATCHED THEN INSERT (k, seg, bal) VALUES (s.k, s.seg, s.bal)""".stripMargin)
    // k=2: matched but outside the filter -> NOT updated, NOT duplicated;
    // k=3: matched inside -> updated; k=9: unmatched -> inserted
    assert(rowsOf("dml_mrg") == Seq(
      (1L, "A", 10L), (2L, "B", 20L), (3L, "A", 333L), (4L, "B", 40L),
      (9L, "C", 900L)))
  }

  test("MERGE NOT MATCHED BY SOURCE actions are constrained too") {
    val c = freshTarget("dml_nbs")
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.dml_nbs_src")
    spark.sql("CREATE TABLE graft_mem.default.dml_nbs_src (k BIGINT, seg STRING, bal BIGINT)")
    spark.sql("INSERT INTO graft_mem.default.dml_nbs_src VALUES (1,'A',0)")
    c.executeDml(USER,
      """MERGE INTO graft_mem.default.dml_nbs AS t
        |USING graft_mem.default.dml_nbs_src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET bal = 0
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // unmatched-by-source rows: k=3 (A) deletable, k=2/4 (B) protected
    assert(rowsOf("dml_nbs") ==
      Seq((1L, "A", 0L), (2L, "B", 20L), (4L, "B", 40L)))
  }

  test("MERGE source reads through the mask rewrite (inserted values arrive masked)") {
    val c = freshTarget("dml_msk")
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.dml_msk_src")
    spark.sql("CREATE TABLE graft_mem.default.dml_msk_src (k BIGINT, seg STRING, bal BIGINT)")
    spark.sql("INSERT INTO graft_mem.default.dml_msk_src VALUES (9,'Zed1',900)")
    c.policyManager.addPolicy(DataMaskPolicy(
      USER, "graft_mem", "default", "dml_msk_src", "seg", "MASK"))
    c.executeDml(USER,
      """MERGE INTO graft_mem.default.dml_msk AS t
        |USING graft_mem.default.dml_msk_src AS s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, seg, bal) VALUES (s.k, s.seg, s.bal)""".stripMargin)
    assert(rowsOf("dml_msk").find(_._1 == 9L).map(_._2).contains("Xxxn"))
  }

  test("a denied user's DML fails closed before planning") {
    val c = freshTarget("dml_deny")
    c.policyManager.addPolicy(DenyRowPolicy(USER, "graft_mem", "default", "dml_deny"))
    intercept[ColumnAccessDeniedException] {
      c.executeDml(USER, "DELETE FROM graft_mem.default.dml_deny WHERE k = 1")
    }
    assert(rowsOf("dml_deny").size == 4) // nothing touched
  }

  test("column deny fails closed on DML referencing the column") {
    val c = freshTarget("dml_cdeny")
    c.policyManager.addPolicy(ColumnDenyPolicy(
      USER, "graft_mem", "default", "dml_cdeny", "bal"))
    intercept[ColumnAccessDeniedException] {
      c.executeDml(USER,
        "UPDATE graft_mem.default.dml_cdeny SET bal = 0 WHERE k = 1")
    }
    // a statement not touching the denied column passes
    c.executeDml(USER,
      "UPDATE graft_mem.default.dml_cdeny SET seg = 'A' WHERE k = 3")
    assert(rowsOf("dml_cdeny").map(_._3) == Seq(10L, 20L, 30L, 40L))
  }

  test("a MERGE source subquery reading a denied column fails closed; a source not reading it merges") {
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.sm_t")
    spark.sql("CREATE TABLE graft_mem.default.sm_t (k BIGINT, seg STRING, amt BIGINT)")
    spark.sql("INSERT INTO graft_mem.default.sm_t VALUES (1,'A',10)")
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.sm_s")
    spark.sql("CREATE TABLE graft_mem.default.sm_s (k BIGINT, seg STRING, bal BIGINT)")
    spark.sql("INSERT INTO graft_mem.default.sm_s VALUES (9,'Z',900)")
    val c = new SecurityContext(spark)
    c.policyManager.addPolicy(ColumnDenyPolicy(USER, "graft_mem", "default", "sm_s", "bal"))
    def merge(source: String, value: String): Unit = c.executeDml(USER,
      s"""MERGE INTO graft_mem.default.sm_t t USING $source s ON t.k = s.k
         |WHEN NOT MATCHED THEN INSERT (k, seg, amt) VALUES (s.k, s.seg, $value)""".stripMargin)
    intercept[ColumnAccessDeniedException] {
      merge("(SELECT k, seg, bal AS b FROM graft_mem.default.sm_s)", "s.b")
    }
    assert(rowsOf("sm_t") == Seq((1L, "A", 10L))) // nothing written
    assert(c.auditLog.collect().exists(r =>
      r.getString(2) == "COLUMN_DENY" && r.getString(3) == "graft_mem.default.sm_s"))
    merge("graft_mem.default.sm_s", "0")
    assert(rowsOf("sm_t") == Seq((1L, "A", 10L), (9L, "Z", 0L)))
  }

  test("an unpolicied user has full DML access; audit records the decisions") {
    val c = freshTarget("dml_free")
    c.executeDml("admin", "DELETE FROM graft_mem.default.dml_free WHERE seg = 'B'")
    assert(rowsOf("dml_free").map(_._1) == Seq(1L, 3L))
    // the policied user's statement audits QUERY + target ROW_FILTER
    c.clearAudit()
    c.executeDml(USER, "DELETE FROM graft_mem.default.dml_free WHERE bal > 1000")
    val audit = c.auditLog.collect().map(r => (r.getString(2), r.getString(3)))
    assert(audit.contains(("QUERY", "dml")))
    assert(audit.exists { case (a, o) =>
      a == "ROW_FILTER" && o == "graft_mem.default.dml_free" })
  }

  /** Fresh unpolicied target `name` and source `name_s`, both seeded with
    * the four rows of [[freshTarget]]; returns a context with no policies.
    */
  private def freshPair(name: String): SecurityContext = {
    Seq(name, s"${name}_s").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_mem.default.$t")
      spark.sql(s"CREATE TABLE graft_mem.default.$t (k BIGINT, seg STRING, bal BIGINT)")
      spark.sql(s"INSERT INTO graft_mem.default.$t VALUES " +
        "(1,'A',10),(2,'B',20),(3,'A',30),(4,'B',40)")
    }
    new SecurityContext(spark)
  }

  private def actions(c: SecurityContext): Seq[(String, String)] =
    c.auditLog.collect().toSeq.map(r => (r.getString(2), r.getString(3)))

  test("a DELETE condition subquery reading a denied column fails closed") {
    val c = freshPair("dq_cd")
    c.policyManager.addPolicy(ColumnDenyPolicy(USER, "graft_mem", "default", "dq_cd_s", "bal"))
    intercept[ColumnAccessDeniedException] {
      c.executeDml(USER, "DELETE FROM graft_mem.default.dq_cd " +
        "WHERE k IN (SELECT k FROM graft_mem.default.dq_cd_s WHERE bal > 25)")
    }
    assert(rowsOf("dq_cd").map(_._1) == Seq(1L, 2L, 3L, 4L)) // nothing deleted
    assert(actions(c) == Seq(("QUERY", "dml"), ("COLUMN_DENY", "graft_mem.default.dq_cd_s")))
  }

  test("a DELETE condition subquery sees only the rows of its table's row filter") {
    val c = freshPair("dq_rf")
    c.policyManager.addPolicy(RowFilterPolicy(USER, "graft_mem", "default", "dq_rf_s", "seg = 'A'"))
    c.executeDml(USER, "DELETE FROM graft_mem.default.dq_rf " +
      "WHERE k IN (SELECT k FROM graft_mem.default.dq_rf_s)")
    assert(rowsOf("dq_rf").map(_._1) == Seq(2L, 4L)) // only the visible k = 1, 3
    assert(c.auditLog.collect().toSeq.map(r => (r.getString(2), r.getString(3), r.getString(4))) ==
      Seq(("QUERY", "dml", "DELETE FROM graft_mem.default.dq_rf " +
        "WHERE k IN (SELECT k FROM graft_mem.default.dq_rf_s)"),
        ("ROW_FILTER", "graft_mem.default.dq_rf_s", "seg = 'A'")))
  }

  test("an UPDATE condition subquery over a row-denied table touches nothing") {
    val c = freshPair("dq_rd")
    c.policyManager.addPolicy(DenyRowPolicy(USER, "graft_mem", "default", "dq_rd_s"))
    c.executeDml(USER, "UPDATE graft_mem.default.dq_rd SET bal = 0 " +
      "WHERE k IN (SELECT k FROM graft_mem.default.dq_rd_s)")
    assert(rowsOf("dq_rd").map(_._3) == Seq(10L, 20L, 30L, 40L))
    assert(actions(c) == Seq(("QUERY", "dml"), ("ROW_DENY", "graft_mem.default.dq_rd_s")))
  }

  test("a correlated DML subquery fails closed over a policied table and runs over an unpolicied one") {
    val c = freshPair("dq_co")
    c.policyManager.addPolicy(RowFilterPolicy(USER, "graft_mem", "default", "dq_co_s", "seg = 'A'"))
    val sql = "DELETE FROM graft_mem.default.dq_co t WHERE EXISTS " +
      "(SELECT 1 FROM graft_mem.default.dq_co_s s WHERE s.k = t.k AND s.bal > 25)"
    intercept[UnsupportedOperationException](c.executeDml(USER, sql))
    assert(rowsOf("dq_co").map(_._1) == Seq(1L, 2L, 3L, 4L))
    c.executeDml("admin", sql)
    assert(rowsOf("dq_co").map(_._1) == Seq(1L, 2L))
  }

  test("a MERGE source self-joining a row-filtered table audits one ROW_FILTER per scan, as the read does") {
    val c = freshPair("dq_sj")
    c.policyManager.addPolicy(RowFilterPolicy(USER, "graft_mem", "default", "dq_sj_s", "seg = 'A'"))
    val source = "SELECT a.k, a.seg, b.bal FROM graft_mem.default.dq_sj_s a " +
      "JOIN graft_mem.default.dq_sj_s b ON a.k = b.k"
    def filters(): Int = {
      val n = actions(c).count(_ == ("ROW_FILTER", "graft_mem.default.dq_sj_s"))
      c.clearAudit()
      n
    }
    c.dfRowFilter(USER, source)
    assert(filters() == 2)
    c.executeDml(USER,
      s"""MERGE INTO graft_mem.default.dq_sj AS t USING ($source) AS s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET bal = s.bal + 1""".stripMargin)
    assert(filters() == 2)
    assert(rowsOf("dq_sj").map(_._3) == Seq(11L, 20L, 31L, 40L))
  }

  test("rewriteDml rejects a non-DML statement") {
    val c = freshTarget("dml_rej")
    intercept[UnsupportedOperationException] {
      c.rewriteDml(USER, "SELECT * FROM graft_mem.default.dml_rej")
    }
  }
}
