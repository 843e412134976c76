package graft.plans

import graft.SparkFunSuite
import graft.policy.RowFilterPolicy
import org.apache.spark.sql.SparkSession

/** The principal is bound by the application: in extension mode, SQL text
  * can neither clear, reset nor switch `spark.graft.user`, nor move the
  * policy scope, while a principal is set.
  */
class PrincipalBindingSpec extends SparkFunSuite {

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

  private val filter = RowFilterPolicy("rp_a", "spark_catalog", "default", "rp_t", "region = 'bj'")

  test("SQL SET/RESET of the principal or scope keys is refused while a principal is set") {
    withExtensionSession { sec =>
      import sec.implicits._
      sec.sql("DROP TABLE IF EXISTS rp_t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/rp_t"))
      Seq((1, "bj"), (2, "hz")).toDF("id", "region").write.saveAsTable("rp_t")
      GraftSecurityExtensions.policies.addPolicy(filter)
      try {
        sec.conf.set(GraftSecurityExtensions.UserKey, "rp_a")
        def ids(): Seq[Int] = sec.sql("SELECT id FROM rp_t").as[Int].collect().sorted.toSeq
        assert(ids() == Seq(1))
        Seq("SET spark.graft.user=", "RESET spark.graft.user",
          "SET spark.graft.user=admin_nobody", "SET spark.graft.database=x",
          "RESET").foreach { stmt =>
          intercept[SecurityException](sec.sql(stmt))
          assert(sec.conf.get(GraftSecurityExtensions.UserKey) == "rp_a", stmt)
          assert(!sec.conf.getOption(GraftSecurityExtensions.DatabaseKey).contains("x"), stmt)
          assert(ids() == Seq(1), stmt)
        }
        // reading a key stays allowed
        assert(sec.sql("SET spark.graft.user").collect().head.getString(1) == "rp_a")
      } finally {
        sec.conf.unset(GraftSecurityExtensions.UserKey)
        GraftSecurityExtensions.policies.removePolicy(filter)
        sec.sql("DROP TABLE IF EXISTS rp_t")
      }
    }
  }

  test("with no principal set, SQL SET and RESET run freely") {
    withExtensionSession { sec =>
      sec.sql("SET spark.graft.database=x")
      assert(sec.conf.get(GraftSecurityExtensions.DatabaseKey) == "x")
      sec.sql("RESET spark.graft.database")
      assert(sec.conf.getOption(GraftSecurityExtensions.DatabaseKey).isEmpty)
      sec.sql("SET spark.graft.user=")
      sec.sql("RESET")
      assert(sec.conf.getOption(GraftSecurityExtensions.UserKey).forall(_.isEmpty))
    }
  }
}
