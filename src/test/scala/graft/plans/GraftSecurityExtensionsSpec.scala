package graft.plans

import graft.SparkFunSuite
import graft.policy.{DataMaskPolicy, RowFilterPolicy}
import org.apache.spark.sql.SparkSession

/** Auto-enforcement: raw spark.sql on a session built with the extensions is
  * policy-checked for the conf'd user.
  */
class GraftSecurityExtensionsSpec extends SparkFunSuite {

  test("raw spark.sql is filtered and masked for the session user") {
    spark // force shared context up first
    // getOrCreate returns the active session, ignoring extensions — clear it
    // so a sibling session (same SparkContext) is created with ours.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sec = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftSecurityExtensions)
      .getOrCreate()
    try {
      assert(sec ne spark)
      import sec.implicits._
      Seq((1, "Jack", "beijing"), (2, "Sally", "hangzhou"))
        .toDF("id", "customer_name", "region")
        .createOrReplaceTempView("sec_orders")

      GraftSecurityExtensions.policies.addPolicy(
        RowFilterPolicy("ext_user", "spark_catalog", "default", "sec_orders", "region = 'beijing'"))
      GraftSecurityExtensions.policies.addPolicy(
        DataMaskPolicy("ext_user", "spark_catalog", "default", "sec_orders", "customer_name", "MASK"))

      // no user set -> untouched
      assert(sec.sql("SELECT * FROM sec_orders").count() == 2)

      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_user")
      val got = sec.sql("SELECT id, customer_name, region FROM sec_orders").collect()
      assert(got.map(_.toSeq).toSeq == Seq(Seq(1, "Xxxx", "beijing")))

      // repeated analysis of the same view stays idempotent (single filter)
      val again = sec.sql("SELECT customer_name FROM sec_orders WHERE id = 1").collect()
      assert(again.map(_.getString(0)).toSeq == Seq("Xxxx"))

      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_user")
      // policied table inside an EXISTS must be filtered in extension mode
      // too; the OUTER table here has no policy, so any leak is visible
      Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("sec_outer")
      Seq((1, "x"), (2, "y")).toDF("id", "tag").createOrReplaceTempView("sec_refs")
      GraftSecurityExtensions.policies.addPolicy(
        RowFilterPolicy("ext_user", "spark_catalog", "default", "sec_refs", "id = 1"))
      val ex = sec.sql(
        """SELECT id FROM sec_outer o
          |WHERE EXISTS (SELECT 1 FROM sec_refs r WHERE r.id = o.id)""".stripMargin)
        .collect().map(_.getInt(0)).toSeq
      assert(ex == Seq(1)) // id=2 matches sec_refs raw data but not the policy

      // CTAS in extension mode: the leaf command's embedded query must be
      // rewritten too — the persisted table proves it
      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_user")
      sec.sql("DROP TABLE IF EXISTS ext_ctas")
      sec.sql("CREATE TABLE ext_ctas USING parquet AS SELECT id, customer_name, region FROM sec_orders")
      sec.conf.unset(GraftSecurityExtensions.UserKey) // read the raw persisted data
      try {
        val ctas = sec.sql("SELECT * FROM ext_ctas").collect().map(_.toSeq).toSeq
        assert(ctas == Seq(Seq(1, "Xxxx", "beijing")))
      } finally sec.sql("DROP TABLE IF EXISTS ext_ctas")

      // switching users re-evaluates policies per query — no plan leaks
      // from the previous user's analysis
      GraftSecurityExtensions.policies.addPolicy(
        RowFilterPolicy("ext_user_b", "spark_catalog", "default", "sec_orders", "region = 'hangzhou'"))
      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_user_b")
      val gotB = sec.sql("SELECT id, customer_name, region FROM sec_orders").collect()
      assert(gotB.map(_.toSeq).toSeq == Seq(Seq(2, "Sally", "hangzhou"))) // no mask policy for B

      sec.conf.unset(GraftSecurityExtensions.UserKey)
      assert(sec.sql("SELECT * FROM sec_orders").count() == 2)
    } finally {
      sec.conf.unset(GraftSecurityExtensions.UserKey)
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("adversarial bypass surfaces: path read, pre-policy cache, mixed union") {
    spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sec = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftSecurityExtensions)
      .getOrCreate()
    val loc = java.nio.file.Files.createTempDirectory("graft_bypass").toString
    try {
      import sec.implicits._

      // (a) catalog reads are policied; a DIRECT PATH read of the same files
      // is NOT — policies attach to table identifiers, not storage. This is
      // the documented boundary (same as Ranger/Hive column security):
      // storage-level ACLs must deny raw access to enforced tables' files.
      Seq((1, "Jack", "beijing"), (2, "Sally", "hangzhou"))
        .toDF("id", "customer_name", "region")
        .write.mode("overwrite").parquet(loc)
      sec.sql("DROP TABLE IF EXISTS bypass_t")
      sec.sql(s"CREATE TABLE bypass_t (id INT, customer_name STRING, region STRING) USING parquet LOCATION '$loc'")
      GraftSecurityExtensions.policies.addPolicy(
        RowFilterPolicy("ext_adv", "spark_catalog", "default", "bypass_t", "region = 'beijing'"))
      GraftSecurityExtensions.policies.addPolicy(
        DataMaskPolicy("ext_adv", "spark_catalog", "default", "bypass_t", "customer_name", "MASK"))
      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_adv")
      val viaCatalog = sec.sql("SELECT * FROM bypass_t").collect().map(_.toSeq).toSeq
      assert(viaCatalog == Seq(Seq(1, "Xxxx", "beijing")))
      val viaPath = sec.read.parquet(loc)
      assert(viaPath.count() == 2) // bypass pinned: full raw data
      assert(viaPath.filter($"customer_name" === "Sally").count() == 1) // unmasked

      // (b) a DataFrame cached BEFORE the policy keeps serving raw data to
      // its holder — but the cache must NOT hijack new catalog queries: the
      // injected filter/mask sit above the scan subtree, so the policied
      // query stays filtered even when the scan is answered from the cache.
      sec.conf.unset(GraftSecurityExtensions.UserKey)
      Seq((1, "Jack", "beijing"), (2, "Sally", "hangzhou"))
        .toDF("id", "customer_name", "region")
        .createOrReplaceTempView("cache_t")
      val cached = sec.table("cache_t").cache()
      assert(cached.count() == 2) // materialize pre-policy
      GraftSecurityExtensions.policies.addPolicy(
        RowFilterPolicy("ext_adv", "spark_catalog", "default", "cache_t", "region = 'beijing'"))
      GraftSecurityExtensions.policies.addPolicy(
        DataMaskPolicy("ext_adv", "spark_catalog", "default", "cache_t", "customer_name", "MASK"))
      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_adv")
      val fresh = sec.sql("SELECT * FROM cache_t").collect().map(_.toSeq).toSeq
      assert(fresh == Seq(Seq(1, "Xxxx", "beijing"))) // no cache hijack
      // the handle's own action keeps the plan it was analyzed with (the
      // bypass pinned); a query derived from it is enforced
      assert(cached.collect().map(_.toSeq).toSet ==
        Set(Seq(1, "Jack", "beijing"), Seq(2, "Sally", "hangzhou")))
      assert(cached.count() == 1)
      cached.unpersist()

      // (c) UNION of policied + unpolicied: each leg enforced independently —
      // the unpolicied leg must not inherit the filter, the policied leg must
      // not escape through the set operation.
      Seq((10, "Open", "shanghai")).toDF("id", "customer_name", "region")
        .createOrReplaceTempView("open_t")
      val un = sec.sql(
        """SELECT id, customer_name, region FROM bypass_t
          |UNION ALL
          |SELECT id, customer_name, region FROM open_t""".stripMargin)
        .collect().map(_.toSeq).toSet
      assert(un == Set(Seq(1, "Xxxx", "beijing"), Seq(10, "Open", "shanghai")))
    } finally {
      sec.conf.unset(GraftSecurityExtensions.UserKey)
      sec.sql("DROP TABLE IF EXISTS bypass_t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("column deny fails raw spark.sql closed in extension mode; masked tables unaffected") {
    spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val sec = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftSecurityExtensions)
      .getOrCreate()
    try {
      import sec.implicits._
      Seq((1, "Jack", 50.5, "beijing"), (2, "Sally", 15.0, "hangzhou"))
        .toDF("id", "customer_name", "price", "region")
        .createOrReplaceTempView("cd_orders")
      GraftSecurityExtensions.policies.addPolicy(graft.policy.ColumnDenyPolicy(
        "ext_cd", "spark_catalog", "default", "cd_orders", "price"))
      // a mask on ANOTHER column must not trip the check (the injected
      // full-width mask projection references price, but that is engine
      // machinery, not the user's read — the extension-mode trap)
      GraftSecurityExtensions.policies.addPolicy(DataMaskPolicy(
        "ext_cd", "spark_catalog", "default", "cd_orders", "customer_name", "MASK"))
      // and a row filter CONDITION naming other columns is machinery too
      GraftSecurityExtensions.policies.addPolicy(RowFilterPolicy(
        "ext_cd", "spark_catalog", "default", "cd_orders", "region = 'beijing'"))

      // no user -> untouched
      assert(sec.sql("SELECT id, price FROM cd_orders").count() == 2)

      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_cd")
      // other columns flow, filtered + masked as usual
      val ok = sec.sql("SELECT id, customer_name FROM cd_orders").collect()
      assert(ok.map(_.toSeq).toSeq == Seq(Seq(1, "Xxxx")))
      // explicit read, star expansion and predicate read all fail closed
      intercept[graft.ColumnAccessDeniedException] {
        sec.sql("SELECT id, price FROM cd_orders").collect()
      }
      intercept[graft.ColumnAccessDeniedException] {
        sec.sql("SELECT * FROM cd_orders").collect()
      }
      intercept[graft.ColumnAccessDeniedException] {
        sec.sql("SELECT id FROM cd_orders WHERE price > 10").collect()
      }
      // another user is untouched
      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_other")
      assert(sec.sql("SELECT id, price FROM cd_orders").count() == 2)
    } finally {
      sec.conf.unset(GraftSecurityExtensions.UserKey)
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  /** A sibling session with the extension (same SparkContext); `body` runs
    * with it, and the shared test session is restored afterwards.
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

  test("INSERT INTO ... SELECT and insertInto write filtered, masked rows in extension mode") {
    withExtensionSession { sec =>
      import sec.implicits._
      Seq((1, "Jack", "beijing"), (2, "Sally", "hangzhou"))
        .toDF("id", "customer_name", "region")
        .createOrReplaceTempView("pr_orders")
      GraftSecurityExtensions.policies.addPolicy(
        RowFilterPolicy("ext_ins", "spark_catalog", "default", "pr_orders", "region = 'beijing'"))
      GraftSecurityExtensions.policies.addPolicy(
        DataMaskPolicy("ext_ins", "spark_catalog", "default", "pr_orders", "customer_name", "MASK"))
      sec.sql("DROP TABLE IF EXISTS pr_sink")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/pr_sink"))
      sec.sql("CREATE TABLE pr_sink (id INT, customer_name STRING, region STRING) USING parquet")
      try {
        sec.conf.set(GraftSecurityExtensions.UserKey, "ext_ins")
        sec.sql("INSERT INTO pr_sink SELECT id, customer_name, region FROM pr_orders")
        sec.table("pr_orders").write.insertInto("pr_sink")
        sec.conf.unset(GraftSecurityExtensions.UserKey) // read the raw sink
        val sunk = sec.table("pr_sink").collect().map(_.toSeq).toSeq
        assert(sunk == Seq(Seq(1, "Xxxx", "beijing"), Seq(1, "Xxxx", "beijing")))
      } finally sec.sql("DROP TABLE IF EXISTS pr_sink")
    }
  }

  test("extension mode: a CUSTOM transformer that needs implicit coercion fails with an error naming the policy") {
    withExtensionSession { sec =>
      import sec.implicits._
      Seq((1, "beijing")).toDF("id", "region").createOrReplaceTempView("co_orders")
      GraftSecurityExtensions.policies.registerMaskType(graft.policy.DataMaskType(
        103, "MASK_PLUS_HALF_EXT", "", "", Some("{col} + 0.5")))
      GraftSecurityExtensions.policies.addPolicy(DataMaskPolicy(
        "ext_co", "spark_catalog", "default", "co_orders", "id", "MASK_PLUS_HALF_EXT"))
      sec.conf.set(GraftSecurityExtensions.UserKey, "ext_co")
      val e = intercept[Exception](sec.sql("SELECT id, region FROM co_orders").collect())
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: IllegalArgumentException => i }
      assert(cause.nonEmpty, e)
      Seq("ext_co", "spark_catalog.default.co_orders", "id", "MASK_PLUS_HALF_EXT", "{col} + 0.5")
        .foreach(s => assert(cause.get.getMessage.contains(s), cause.get.getMessage))
    }
  }

  test("extension mode: IN and scalar subqueries, CREATE VIEW, INSERT OVERWRITE DIRECTORY, deny in a subquery") {
    withExtensionSession { sec =>
      import sec.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_cov").toString
      sec.sql("DROP VIEW IF EXISTS cov_view")
      sec.sql("DROP TABLE IF EXISTS cov_orders")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/cov_orders"))
      // a catalog table: a persistent view may not reference a temp view
      Seq((1, "Jack", 50.5, "beijing"), (2, "Sally", 15.0, "hangzhou"))
        .toDF("id", "customer_name", "price", "region")
        .write.saveAsTable("cov_orders")
      Seq(1, 2).toDF("id").createOrReplaceTempView("cov_ids")
      GraftSecurityExtensions.policies.addPolicy(
        RowFilterPolicy("ext_cov", "spark_catalog", "default", "cov_orders", "region = 'beijing'"))
      GraftSecurityExtensions.policies.addPolicy(
        DataMaskPolicy("ext_cov", "spark_catalog", "default", "cov_orders", "customer_name", "MASK"))
      GraftSecurityExtensions.policies.addPolicy(graft.policy.ColumnDenyPolicy(
        "ext_cov", "spark_catalog", "default", "cov_orders", "price"))
      try {
        sec.conf.set(GraftSecurityExtensions.UserKey, "ext_cov")
        // IN subquery: id 2 exists in the raw table but not under the filter
        val in = sec.sql("SELECT id FROM cov_ids WHERE id IN (SELECT id FROM cov_orders)")
          .collect().map(_.getInt(0)).toSeq
        assert(in == Seq(1))
        // scalar subquery: filtered and masked
        val scalar = sec.sql("SELECT (SELECT max(customer_name) FROM cov_orders) AS n")
          .collect().map(_.getString(0)).toSeq
        assert(scalar == Seq("Xxxx"))
        // a persistent view over the policied table reads enforced
        sec.sql("CREATE VIEW cov_view AS SELECT id, customer_name, region FROM cov_orders")
        val viewed = sec.sql("SELECT * FROM cov_view").collect().map(_.toSeq).toSeq
        assert(viewed == Seq(Seq(1, "Xxxx", "beijing")))
        // INSERT OVERWRITE DIRECTORY writes filtered, masked files
        sec.sql(s"INSERT OVERWRITE DIRECTORY '$dir' USING parquet " +
          "SELECT id, customer_name, region FROM cov_orders")
        // a denied column read inside a subquery fails closed
        intercept[graft.ColumnAccessDeniedException] {
          sec.sql("SELECT id FROM cov_ids WHERE id IN (SELECT id FROM cov_orders WHERE price > 10)")
            .collect()
        }
        sec.conf.unset(GraftSecurityExtensions.UserKey) // read the raw files
        val written = sec.read.parquet(dir).collect().map(_.toSeq).toSeq
        assert(written == Seq(Seq(1, "Xxxx", "beijing")))
      } finally {
        sec.conf.unset(GraftSecurityExtensions.UserKey)
        sec.sql("DROP VIEW IF EXISTS cov_view")
        sec.sql("DROP TABLE IF EXISTS cov_orders")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }
  }
}
