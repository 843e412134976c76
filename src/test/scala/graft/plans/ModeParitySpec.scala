package graft.plans

import graft.{ColumnAccessDeniedException, SecurityContext, SparkFunSuite}
import graft.policy.{ColumnDenyPolicy, DataMaskPolicy, RowFilterPolicy}
import org.apache.spark.sql.{Row, SparkSession}

/** Both enforcement modes decide every statement the same way: each case
  * runs once through [[SecurityContext.mixedExecute]] and once as raw
  * `spark.sql` (or a DataFrame query) under [[GraftSecurityExtensions]],
  * and both must return the expected rows or the same denial.
  *
  * The context runs on the extension's own session with no user set (so
  * the extension stays out of its way) and on the extension's policy
  * manager, so the two modes see one fixture and one policy set.
  */
class ModeParitySpec extends SparkFunSuite {

  private val User = "mp_u"
  private val Scope = "spark_catalog.default"
  private val Tables = Seq("mp_t", "mp_allowed", "mp_masked", "mp_c", "mp_cm", "mp_ctas")
  private val Views = Seq("mp_v", "mp_bal")
  private val Dir = new java.io.File("spark-warehouse/mp_dir").getAbsolutePath

  private def rows(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq)

  /** Rows, or the message of the column denial the statement failed with. */
  private def attempt(run: => Seq[Row]): Either[String, Seq[Seq[Any]]] =
    try Right(rows(run))
    catch { case e: ColumnAccessDeniedException => Left(e.getMessage) }

  private def denial(cols: (String, Seq[String])*): Either[String, Seq[Seq[Any]]] =
    Left(ColumnAccessDeniedException(User, cols, "the query").getMessage)

  /** A sibling session with the extension (same SparkContext, so catalog
    * tables and persistent views are shared); `body` runs with it, and the
    * shared test session is restored afterwards.
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

  /** Catalog tables, views and policies of every case, built with no user
    * set; drops them again after `body`.
    */
  private def withFixture(sec: SparkSession)(body: => Unit): Unit = {
    import sec.implicits._
    def drop(): Unit = {
      Views.foreach(v => sec.sql(s"DROP VIEW IF EXISTS $v"))
      Tables.foreach { t =>
        sec.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"spark-warehouse/$t"))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(Dir))
    }
    drop()
    Seq((1, "Jack", "bj", 10.0), (2, "Sally", "hz", 20.0))
      .toDF("id", "name", "region", "bal").write.saveAsTable("mp_t")
    Seq("bj", "hz").toDF("region").write.saveAsTable("mp_allowed")
    Seq("bj").toDF("region").write.saveAsTable("mp_masked")
    Seq((1, "bj"), (2, "sh")).toDF("id", "region").write.saveAsTable("mp_c")
    Seq((1, "bj"), (2, "sh")).toDF("id", "region").write.saveAsTable("mp_cm")
    Seq(1, 2).toDF("id").createOrReplaceTempView("mp_ids")
    sec.sql("CREATE VIEW mp_v AS SELECT * FROM mp_t")
    sec.sql("CREATE VIEW mp_bal AS SELECT id, bal AS b FROM mp_t")
    sec.sql("CREATE OR REPLACE TEMP VIEW mp_tv AS SELECT * FROM mp_t")
    sec.table("mp_t").createOrReplaceTempView("mp_dfv")
    val pm = GraftSecurityExtensions.policies
    val policies = Seq(
      RowFilterPolicy(User, "spark_catalog", "default", "mp_t", "region = 'bj'"),
      DataMaskPolicy(User, "spark_catalog", "default", "mp_t", "name", "MASK"),
      ColumnDenyPolicy(User, "spark_catalog", "default", "mp_t", "bal"),
      // the principal's own reads of these two are filtered / masked; a
      // policy condition reading them runs with definer rights
      RowFilterPolicy(User, "spark_catalog", "default", "mp_allowed", "region = 'nowhere'"),
      DataMaskPolicy(User, "spark_catalog", "default", "mp_masked", "region", "MASK"),
      RowFilterPolicy(User, "spark_catalog", "default", "mp_c",
        "region IN (SELECT region FROM mp_allowed)"),
      RowFilterPolicy(User, "spark_catalog", "default", "mp_cm",
        "region IN (SELECT region FROM mp_masked)"))
    policies.foreach(pm.addPolicy)
    try body
    finally {
      policies.foreach(pm.removePolicy)
      drop()
    }
  }

  /** One case: `sql` through the context and under the extension (with
    * `derived`, the extension runs a DataFrame query derived from a handle
    * instead), and the outcome both must produce.
    */
  private case class Case(name: String, sql: String,
      expected: Either[String, Seq[Seq[Any]]], derived: Boolean = false)

  private val cases = Seq(
    Case("a derived query over a handle built before the user was set",
      "SELECT id, name, region FROM mp_handle ORDER BY id",
      Right(Seq(Seq(1, "Xxxx", "bj"))), derived = true),
    Case("a pass-through persistent view over a table with a denied column",
      "SELECT id, name FROM mp_v ORDER BY id", Right(Seq(Seq(1, "Xxxx")))),
    Case("a pass-through SQL temp view over a table with a denied column",
      "SELECT id, name FROM mp_tv ORDER BY id", Right(Seq(Seq(1, "Xxxx")))),
    Case("a DataFrame temp view over a policied catalog table",
      "SELECT id, name FROM mp_dfv ORDER BY id", Right(Seq(Seq(1, "Xxxx")))),
    Case("a policy condition with an IN subquery over a row-filtered table",
      "SELECT id FROM mp_c ORDER BY id", Right(Seq(Seq(1)))),
    Case("a policy condition with an IN subquery over a masked table",
      "SELECT id FROM mp_cm ORDER BY id", Right(Seq(Seq(1)))),
    Case("a view that projects the denied column",
      "SELECT id, b FROM mp_bal", denial(s"$Scope.mp_t" -> Seq("bal"))),
    Case("an IN subquery",
      "SELECT id FROM mp_ids WHERE id IN (SELECT id FROM mp_t) ORDER BY id",
      Right(Seq(Seq(1)))),
    Case("an EXISTS subquery",
      "SELECT id FROM mp_ids i WHERE EXISTS (SELECT 1 FROM mp_t t WHERE t.id = i.id) ORDER BY id",
      Right(Seq(Seq(1)))),
    Case("a scalar subquery",
      "SELECT (SELECT max(name) FROM mp_t) AS n", Right(Seq(Seq("Xxxx")))),
    Case("a pass-through view inside a subquery",
      "SELECT id FROM mp_ids WHERE id IN (SELECT id FROM mp_v) ORDER BY id",
      Right(Seq(Seq(1)))),
    Case("a denied column read inside a subquery",
      "SELECT id FROM mp_ids WHERE id IN (SELECT id FROM mp_t WHERE bal > 0)",
      denial(s"$Scope.mp_t" -> Seq("bal"))),
    Case("a CTAS reading a denied column",
      "CREATE TABLE mp_ctas USING parquet AS SELECT id, bal FROM mp_t",
      denial(s"$Scope.mp_t" -> Seq("bal"))),
    Case("INSERT OVERWRITE DIRECTORY reading a denied column",
      s"INSERT OVERWRITE DIRECTORY '$Dir' USING parquet SELECT id, bal FROM mp_t",
      denial(s"$Scope.mp_t" -> Seq("bal"))))

  test("context mode and extension mode return the same rows or the same denial") {
    withExtensionSession { sec =>
      withFixture(sec) {
        val ctx = new SecurityContext(sec, GraftSecurityExtensions.policies)
        // a handle taken before the user is set: the context reads it as a
        // DataFrame temp view, the extension through a query derived from it
        // under the user
        val handle = sec.table("mp_t")
        handle.createOrReplaceTempView("mp_handle")
        def derived = handle.select("id", "name", "region").orderBy("id")
        val results = cases.map { c =>
          val viaContext = attempt(ctx.mixedExecute(User, c.sql, 100))
          sec.conf.set(GraftSecurityExtensions.UserKey, User)
          val viaExtension =
            try attempt(if (c.derived) derived.collect().toSeq else sec.sql(c.sql).collect().toSeq)
            finally sec.conf.unset(GraftSecurityExtensions.UserKey)
          (c, viaContext, viaExtension)
        }
        val wrong = results.collect {
          case (c, viaContext, viaExtension)
              if viaContext != c.expected || viaExtension != c.expected =>
            s"${c.name}: expected ${c.expected}, context $viaContext, extension $viaExtension"
        }
        assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
        assert(!sec.catalog.tableExists("mp_ctas"), "a denied CTAS left its table behind")
      }
    }
  }

  test("a CTAS over a filtered and masked table persists the same rows in both modes, and the context audits its decisions") {
    withExtensionSession { sec =>
      withFixture(sec) {
        val ctx = new SecurityContext(sec, GraftSecurityExtensions.policies)
        val ctas = "CREATE TABLE mp_ctas USING parquet AS SELECT id, name, region FROM mp_t"
        // read raw, with no user set
        def persisted(): Seq[Seq[Any]] =
          try rows(sec.table("mp_ctas").collect().toSeq) finally sec.sql("DROP TABLE mp_ctas")
        ctx.mixedExecute(User, ctas)
        val viaContext = persisted()
        sec.conf.set(GraftSecurityExtensions.UserKey, User)
        try sec.sql(ctas) finally sec.conf.unset(GraftSecurityExtensions.UserKey)
        assert(Seq(viaContext, persisted()) == Seq.fill(2)(Seq(Seq(1, "Xxxx", "bj"))))
        val trail = ctx.auditLog.collect().map(r => (r.getString(2), r.getString(3), r.getString(4)))
        assert(trail.toSeq == Seq(("QUERY", "mixed", ctas),
          ("ROW_FILTER", s"$Scope.mp_t", "region = 'bj'"),
          ("DATA_MASK", s"$Scope.mp_t", "name=MASK")))
      }
    }
  }

  test("a handle enforced for one user fails closed when another user derives a query from it") {
    withExtensionSession { sec =>
      import sec.implicits._
      def drop(): Unit = {
        sec.sql("DROP TABLE IF EXISTS xu_t")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/xu_t"))
      }
      def as[A](user: String)(body: => A): A = {
        sec.conf.set(GraftSecurityExtensions.UserKey, user)
        try body finally sec.conf.unset(GraftSecurityExtensions.UserKey)
      }
      drop()
      Seq((1, "bj"), (2, "hz")).toDF("id", "region").write.saveAsTable("xu_t")
      val pm = GraftSecurityExtensions.policies
      val policies = Seq(
        RowFilterPolicy("xu_a", "spark_catalog", "default", "xu_t", "region = 'bj'"),
        RowFilterPolicy("xu_b", "spark_catalog", "default", "xu_t", "region = 'hz'"))
      policies.foreach(pm.addPolicy)
      try {
        val handle = as("xu_a")(sec.sql("SELECT * FROM xu_t"))
        val e = intercept[UnsupportedOperationException] {
          as("xu_b")(handle.select("id").collect())
        }
        assert(e.getMessage.contains("enforced for another principal"), e.getMessage)
        assert(as("xu_b")(rows(sec.sql("SELECT id FROM xu_t").collect().toSeq)) == Seq(Seq(2)))
        assert(as("xu_a")(rows(handle.select("id").collect().toSeq)) == Seq(Seq(1)))
      } finally {
        policies.foreach(pm.removePolicy)
        drop()
      }
    }
  }

  test("a query derived from an enforced handle leaves its policy conditions with definer rights") {
    withExtensionSession { sec =>
      withFixture(sec) {
        sec.conf.set(GraftSecurityExtensions.UserKey, User)
        try {
          // each handle's filter condition reads a table the user has a
          // policy on; deriving a query walks the enforced plan again
          val derived = Seq("mp_c", "mp_cm").map { t =>
            val handle = sec.sql(s"SELECT * FROM $t")
            t -> rows(handle.select("id").collect().toSeq)
          }
          assert(derived == Seq("mp_c" -> Seq(Seq(1)), "mp_cm" -> Seq(Seq(1))))
        } finally sec.conf.unset(GraftSecurityExtensions.UserKey)
      }
    }
  }

  test("extension mode enforces a statement with IN and EXISTS subqueries in one pass and one policy view") {
    withExtensionSession { sec =>
      withFixture(sec) {
        val pm = GraftSecurityExtensions.policies
        val saved = pm.clock
        val views = new java.util.concurrent.atomic.AtomicInteger()
        sec.conf.set(GraftSecurityExtensions.UserKey, User)
        try {
          pm.clock = () => { views.incrementAndGet(); saved() }
          val df = sec.sql(
            """SELECT id FROM mp_t t
              |WHERE id IN (SELECT id FROM mp_c)
              |  AND EXISTS (SELECT 1 FROM mp_cm c WHERE c.id = t.id)""".stripMargin)
          val enforce = df.queryExecution.tracker.rules(classOf[GraftSecurityExtensions.Enforce].getName)
          // (effective Enforce invocations, policy views taken)
          assert((enforce.numEffectiveInvocations, views.get()) == ((1L, 1)))
          assert(rows(df.collect().toSeq) == Seq(Seq(1)))
        } finally {
          pm.clock = saved
          sec.conf.unset(GraftSecurityExtensions.UserKey)
        }
      }
    }
  }
}
