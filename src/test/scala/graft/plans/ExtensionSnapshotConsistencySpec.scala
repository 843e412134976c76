package graft.plans

import graft.SparkFunSuite
import graft.policy.{DataMaskPolicy, DenyRowPolicy, RowFilterPolicy}
import org.apache.spark.sql.SparkSession

/** One extension-mode statement is decided against one policy snapshot,
  * view bodies included: a policy set that changes while the statement is
  * analyzed cannot split its decisions between the old set and the new
  * one. The change is made from inside the manager's clock, which the
  * extension reads once per statement when it takes its policy view.
  */
class ExtensionSnapshotConsistencySpec extends SparkFunSuite {

  test("a deny and a mask added mid-analysis apply from the next statement, view bodies included") {
    spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sec = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftSecurityExtensions)
      .getOrCreate()
    val pm = GraftSecurityExtensions.policies
    val saved = pm.clock
    val (user, cat, db) = ("xsnap_u", "spark_catalog", "default")
    val tables = Seq("xsnap_left", "xsnap_right")
    def drop(): Unit = {
      sec.sql("DROP VIEW IF EXISTS xsnap_view")
      tables.foreach { t =>
        sec.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"spark-warehouse/$t"))
      }
    }
    val filter = RowFilterPolicy(user, cat, db, "xsnap_left", "id < 5")
    val deny = DenyRowPolicy(user, cat, db, "xsnap_right")
    val mask = DataMaskPolicy(user, cat, db, "xsnap_left", "name", "MASK_NULL")
    try {
      drop()
      sec.range(0, 10).selectExpr("CAST(id AS INT) AS id", "concat('name_', id) AS name")
        .write.saveAsTable("xsnap_left")
      sec.range(0, 10).selectExpr("CAST(id AS INT) AS id", "id * 10 AS score")
        .write.saveAsTable("xsnap_right")
      sec.sql("CREATE VIEW xsnap_view AS SELECT id, name FROM xsnap_left")
      pm.addPolicy(filter)
      val calls = new java.util.concurrent.atomic.AtomicInteger()
      pm.clock = () => {
        if (calls.getAndIncrement() == 0) {
          pm.addPolicy(deny)
          pm.addPolicy(mask)
        }
        saved()
      }
      val sql = "SELECT l.id, l.name, r.score FROM xsnap_view l " +
        "JOIN xsnap_right r ON l.id = r.id ORDER BY l.id"
      sec.conf.set(GraftSecurityExtensions.UserKey, user)

      // first statement: decided entirely under the policy set it started with
      val firstDf = sec.sql(sql)
      val viewsTaken = calls.get() // before collect() analyzes its encoder
      val first = firstDf.collect().toSeq
      assert(first.map(_.getInt(0)) == (0 until 5), "the deny added mid-analysis split the statement")
      assert(first.forall(_.getString(1) != null), "the mask added mid-analysis leaked into this statement")
      assert(viewsTaken == 1, "one policy view per statement")
      // the action's encoder bind reads no relation, so it takes no view
      assert(calls.get() == 1, "collect() took a second policy view")

      // next statement: the new set, whole
      assert(sec.sql(sql).collect().isEmpty)
      assert(sec.sql("SELECT name FROM xsnap_view").collect().forall(_.isNullAt(0)))
    } finally {
      pm.clock = saved
      Seq(filter, deny, mask).foreach(pm.removePolicy)
      sec.conf.unset(GraftSecurityExtensions.UserKey)
      drop()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
