package graft.plans

import graft.SparkFunSuite
import graft.functions.MaskFunctions
import graft.policy.{DataMaskPolicy, PolicyManager, RowFilterPolicy}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.types._

/** The rules' output contract: RowFilterRule then DataMaskRule over an
  * analyzed plan return a resolved plan — injected conditions and masks
  * included — that needs only `checkAnalysis` before it runs.
  */
class SecurityRuleOutputSpec extends SparkFunSuite {

  private val scope = TableScope("spark_catalog", "default")

  private lazy val pm: PolicyManager = {
    MaskFunctions.register(spark)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("region", StringType),
      StructField("amount", DecimalType(10, 2)),
      StructField("d", DateType),
      StructField("ts", TimestampType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1, "beijing", new java.math.BigDecimal("50.50"),
        java.sql.Date.valueOf("2020-07-30"), ts("2020-07-30 10:08:22")),
      Row(2, "hangzhou", new java.math.BigDecimal("15.00"),
        java.sql.Date.valueOf("2022-12-15"), ts("2022-12-15 12:11:09")))), schema)
      .createOrReplaceTempView("ro_orders")
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("beijing"))),
      StructType(Seq(StructField("region", StringType)))).createOrReplaceTempView("ro_regions")
    val m = new PolicyManager
    m.addPolicy(RowFilterPolicy("ro_in", "spark_catalog", "default", "ro_orders",
      "region IN (SELECT region FROM ro_regions)"))
    m.addPolicy(RowFilterPolicy("ro_fn", "spark_catalog", "default", "ro_orders",
      "upper(region) = 'BEIJING'"))
    m.addPolicy(RowFilterPolicy("ro_cast", "spark_catalog", "default", "ro_orders", "amount > 20"))
    m.addPolicy(DataMaskPolicy("ro_date", "spark_catalog", "default", "ro_orders", "d",
      "MASK_DATE_SHOW_YEAR"))
    m.addPolicy(DataMaskPolicy("ro_date", "spark_catalog", "default", "ro_orders", "ts",
      "MASK_DATE_SHOW_YEAR"))
    m.addPolicy(DataMaskPolicy("ro_null", "spark_catalog", "default", "ro_orders", "id", "MASK_NULL"))
    m
  }

  /** Analyze `sql`, apply both rules, and hand back the rules' output. */
  private def rewritten(user: String, sql: String): LogicalPlan = {
    val policies = pm // registers the tables first
    val analyzed = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(sql)).analyzed
    DataMaskRule(spark, user, policies, scope)(RowFilterRule(spark, user, policies, scope)(analyzed))
  }

  /** Rows of a rewritten plan, run without a second analysis. */
  private def rows(plan: LogicalPlan): Seq[Seq[Any]] =
    GraftSqlShims.ofRows(spark, GraftSqlShims.checkedAnalyzed(spark, plan))
      .collect().map(_.toSeq).toSeq

  test("an IN-subquery, a function-call and an implicitly cast condition come back resolved") {
    for (user <- Seq("ro_in", "ro_fn", "ro_cast")) {
      val plan = rewritten(user, "SELECT id, region FROM ro_orders")
      assert(plan.resolved, s"$user:\n$plan")
      assert(rows(plan) == Seq(Seq(1, "beijing")), user)
    }
  }

  test("MASK_DATE_SHOW_YEAR over a DATE and a TIMESTAMP column comes back resolved") {
    val plan = rewritten("ro_date", "SELECT id, d, ts FROM ro_orders ORDER BY id")
    assert(plan.resolved, plan.toString)
    assert(rows(plan) == Seq(
      Seq(1, java.sql.Date.valueOf("2020-01-01"), java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
      Seq(2, java.sql.Date.valueOf("2022-01-01"), java.sql.Timestamp.valueOf("2022-01-01 00:00:00"))))
  }

  test("a MASK_NULL of a NOT NULL column reads as nullable above the mask") {
    val plan = rewritten("ro_null",
      "SELECT o.id IS NULL, coalesce(o.id, -1) FROM ro_orders o JOIN ro_regions r ON o.region = r.region")
    assert(plan.resolved, plan.toString)
    // every reference agrees with the output that produces it, as after
    // the analyzer's own nullability pass
    val stale = plan.collect { case p =>
      val produced = p.children.flatMap(_.output).map(a => a.exprId -> a.nullable).toMap
      p.expressions.flatMap(_.collect {
        case a: AttributeReference if produced.get(a.exprId).exists(_ != a.nullable) => a
      })
    }.flatten
    assert(stale.isEmpty, plan.toString)
    assert(rows(plan) == Seq(Seq(true, -1)))
  }
}
