package graft

import graft.policy.{DataMaskPolicy, RowFilterPolicy}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Result-level goldens from the reference's execute/rewrite tests
  * (ExecuteRowFilterTest / ExecuteDataMaskTest / MixedExecuteTest,
  * Rewrite*Test structural cases) on the exact seed rows of
  * data/database/mysql_init.sql.
  */
class SecurityContextSpec extends SparkFunSuite {

  private val CAT = "hive"
  private val DB = "default"

  private lazy val ctx: SecurityContext = {
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    seed()
    val pm = c.policyManager
    pm.addPolicy(RowFilterPolicy("user_A", CAT, DB, "orders", "region = 'beijing'"))
    pm.addPolicy(RowFilterPolicy("user_B", CAT, DB, "orders", "region = 'hangzhou'"))
    pm.addPolicy(RowFilterPolicy("user_A", CAT, DB, "products", "name = 'hammer'"))
    pm.addPolicy(RowFilterPolicy("user_A", CAT, DB, "shipments", "is_arrived = FALSE"))
    pm.addPolicy(DataMaskPolicy("user_A", CAT, DB, "orders", "customer_name", "MASK"))
    pm.addPolicy(DataMaskPolicy("user_B", CAT, DB, "orders", "customer_name", "MASK_SHOW_FIRST_4"))
    pm.addPolicy(DataMaskPolicy("user_A", CAT, DB, "products", "name", "MASK_SHOW_LAST_4"))
    // pins the filter-sees-masked-values composition quirk (SURVEY §3 EP2)
    pm.addPolicy(RowFilterPolicy("user_C", CAT, DB, "orders", "customer_name = 'Xxxx'"))
    pm.addPolicy(DataMaskPolicy("user_C", CAT, DB, "orders", "customer_name", "MASK"))
    c
  }

  private def seed(): Unit = {
    val ordersSchema = StructType(Seq(
      StructField("order_id", IntegerType),
      StructField("order_date", TimestampType),
      StructField("customer_name", StringType),
      StructField("product_id", IntegerType),
      StructField("price", DecimalType(10, 5)),
      StructField("order_status", BooleanType),
      StructField("region", StringType)))
    def ts(s: String) = Timestamp.valueOf(s)
    def dec(s: String) = new java.math.BigDecimal(s)
    val orders = Seq(
      Row(10001, ts("2020-07-30 10:08:22"), "Jack", 102, dec("50.50"), false, "beijing"),
      Row(10002, ts("2020-07-30 10:11:09"), "Sally", 105, dec("15.00"), false, "beijing"),
      Row(10003, ts("2020-07-30 12:00:30"), "Edward", 106, dec("25.25"), false, "hangzhou"),
      Row(10004, ts("2022-12-15 12:11:09"), "John", 103, dec("78.00"), false, "hangzhou"),
      Row(10005, ts("2022-12-16 12:00:30"), "Edward", 104, dec("64.00"), false, "shanghai"),
      Row(10006, ts("2022-12-17 23:00:30"), "Jack", 103, dec("20.00"), false, "shanghai"))
    spark.createDataFrame(spark.sparkContext.parallelize(orders), ordersSchema)
      .createOrReplaceTempView("orders")

    val productsSchema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("description", StringType)))
    val products = Seq(
      Row(101, "scooter", "Small 2-wheel scooter"),
      Row(102, "car battery", "12V car battery"),
      Row(103, "12-pack drill bits", "12-pack of drill bits with sizes ranging from #40 to #3"),
      Row(104, "hammer", "12oz carpenter's hammer"),
      Row(105, "hammer", "14oz carpenter's hammer"),
      Row(106, "hammer", "16oz carpenter's hammer"),
      Row(107, "rocks", "box of assorted rocks"),
      Row(108, "jacket", "water resistent black wind breaker"),
      Row(109, "spare tire", "24 inch spare tire"))
    spark.createDataFrame(spark.sparkContext.parallelize(products), productsSchema)
      .createOrReplaceTempView("products")

    val shipmentsSchema = StructType(Seq(
      StructField("shipment_id", IntegerType),
      StructField("order_id", IntegerType),
      StructField("origin", StringType),
      StructField("destination", StringType),
      StructField("is_arrived", BooleanType)))
    val shipments = Seq(
      Row(1001, 10001, "Beijing", "Shanghai", false),
      Row(1002, 10002, "Hangzhou", "Shanghai", false),
      Row(1003, 10003, "Shanghai", "Hangzhou", false))
    spark.createDataFrame(spark.sparkContext.parallelize(shipments), shipmentsSchema)
      .createOrReplaceTempView("shipments")
  }

  private val baseSql = "SELECT order_id, customer_name, product_id, region FROM orders ORDER BY order_id"

  private def rows(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq)

  test("execute without rewrite returns all seed rows") {
    assert(rows(ctx.execute(baseSql)) == Seq(
      Seq(10001, "Jack", 102, "beijing"),
      Seq(10002, "Sally", 105, "beijing"),
      Seq(10003, "Edward", 106, "hangzhou"),
      Seq(10004, "John", 103, "hangzhou"),
      Seq(10005, "Edward", 104, "shanghai"),
      Seq(10006, "Jack", 103, "shanghai")))
  }

  test("row filter: user_A sees only beijing (ExecuteRowFilterTest)") {
    assert(rows(ctx.executeRowFilter("user_A", baseSql)) == Seq(
      Seq(10001, "Jack", 102, "beijing"),
      Seq(10002, "Sally", 105, "beijing")))
  }

  test("row filter: user_B sees only hangzhou") {
    assert(rows(ctx.executeRowFilter("user_B", baseSql)) == Seq(
      Seq(10003, "Edward", 106, "hangzhou"),
      Seq(10004, "John", 103, "hangzhou")))
  }

  test("row filter respects existing WHERE with OR (implicit parenthesization)") {
    val sql = "SELECT order_id, region FROM orders WHERE region = 'beijing' OR region = 'shanghai' ORDER BY order_id"
    // (a OR b) AND region='hangzhou' -> empty for user_B
    assert(ctx.executeRowFilter("user_B", sql).isEmpty)
    assert(rows(ctx.executeRowFilter("user_A", sql)) ==
      Seq(Seq(10001, "beijing"), Seq(10002, "beijing")))
  }

  test("row filter under GROUP BY aggregation (RewriteRowFilterTest:160)") {
    val sql = "SELECT region, count(*) AS cnt FROM orders GROUP BY region ORDER BY region"
    assert(rows(ctx.executeRowFilter("user_A", sql)) == Seq(Seq("beijing", 2L)))
  }

  test("row filter applies per-table across LEFT JOIN (RewriteRowFilterTest:369)") {
    val sql = """SELECT o.order_id, o.customer_name, p.name
                |FROM orders AS o LEFT JOIN products AS p ON o.product_id = p.id
                |ORDER BY o.order_id""".stripMargin
    assert(rows(ctx.executeRowFilter("user_A", sql)) == Seq(
      Seq(10001, "Jack", null), // product 102 is not a hammer -> filtered off the right side
      Seq(10002, "Sally", "hammer")))
  }

  test("row filter applies on all three joined tables (RewriteRowFilterTest:416)") {
    val sql = """SELECT o.order_id, p.name, s.destination
                |FROM orders AS o
                |LEFT JOIN products AS p ON o.product_id = p.id
                |LEFT JOIN shipments AS s ON o.order_id = s.order_id
                |ORDER BY o.order_id""".stripMargin
    assert(rows(ctx.executeRowFilter("user_A", sql)) == Seq(
      Seq(10001, null, "Shanghai"),
      Seq(10002, "hammer", "Shanghai")))
  }

  test("row filter reaches inside FROM-subquery (RewriteRowFilterTest:307)") {
    val sql = """SELECT order_id, region FROM
                |  (SELECT * FROM orders WHERE order_status = FALSE) AS t
                |ORDER BY order_id""".stripMargin
    assert(rows(ctx.executeRowFilter("user_A", sql)) ==
      Seq(Seq(10001, "beijing"), Seq(10002, "beijing")))
  }

  test("data mask: user_A sees MASK-ed customer_name (ExecuteDataMaskTest)") {
    assert(rows(ctx.executeDataMask("user_A", baseSql)) == Seq(
      Seq(10001, "Xxxx", 102, "beijing"),
      Seq(10002, "Xxxxx", 105, "beijing"),
      Seq(10003, "Xxxxxx", 106, "hangzhou"),
      Seq(10004, "Xxxx", 103, "hangzhou"),
      Seq(10005, "Xxxxxx", 104, "shanghai"),
      Seq(10006, "Xxxx", 103, "shanghai")))
  }

  test("data mask: user_B sees MASK_SHOW_FIRST_4 (ExecuteDataMaskTest)") {
    assert(rows(ctx.executeDataMask("user_B", baseSql)) == Seq(
      Seq(10001, "Jack", 102, "beijing"),
      Seq(10002, "Sallx", 105, "beijing"),
      Seq(10003, "Edwaxx", 106, "hangzhou"),
      Seq(10004, "John", 103, "hangzhou"),
      Seq(10005, "Edwaxx", 104, "shanghai"),
      Seq(10006, "Jack", 103, "shanghai")))
  }

  test("data mask through SELECT * star expansion") {
    val got = ctx.executeDataMask("user_A", "SELECT * FROM orders ORDER BY order_id", 1).head
    assert(got.length == 7)
    assert(got.getString(2) == "Xxxx") // customer_name masked, other cols intact
    assert(got.getInt(0) == 10001)
    assert(got.getDecimal(4) == new java.math.BigDecimal("50.50000"))
  }

  test("data mask on both sides of a join with table aliases (RewriteDataMaskTest:164)") {
    val sql = """SELECT o.order_id, o.customer_name, p.name
                |FROM orders AS o LEFT JOIN products AS p ON o.product_id = p.id
                |ORDER BY o.order_id""".stripMargin
    val got = rows(ctx.executeDataMask("user_A", sql))
    // MASK_SHOW_LAST_4 on products.name: 'car battery' -> 'xxx xxxtery'
    // (otherChar -1 retains the space), 'hammer' -> 'xxmmer'
    assert(got.head == Seq(10001, "Xxxx", "xxx xxxtery"))
    assert(got(1) == Seq(10002, "Xxxxx", "xxmmer"))
  }

  test("data mask reaches inside FROM-subquery (RewriteDataMaskTest:216)") {
    val sql = """SELECT customer_name FROM
                |  (SELECT * FROM orders WHERE region = 'beijing') AS t
                |ORDER BY customer_name""".stripMargin
    assert(rows(ctx.executeDataMask("user_A", sql)) == Seq(Seq("Xxxx"), Seq("Xxxxx")))
  }

  test("data mask across a three-way join (RewriteDataMaskTest:294)") {
    val sql = """SELECT o.order_id, o.customer_name, p.name, s.destination
                |FROM orders AS o
                |LEFT JOIN products AS p ON o.product_id = p.id
                |LEFT JOIN shipments AS s ON o.order_id = s.order_id
                |WHERE o.order_id = 10001
                |ORDER BY o.order_id""".stripMargin
    // user_A masks orders.customer_name (MASK) and products.name
    // (MASK_SHOW_LAST_4) — both sides of the join chain masked independently
    assert(rows(ctx.executeDataMask("user_A", sql)) ==
      Seq(Seq(10001, "Xxxx", "xxx xxxtery", "Shanghai"))) // 'car battery', last 4 shown
  }

  test("mixed: user_A filter + mask (MixedExecuteTest:76)") {
    assert(rows(ctx.mixedExecute("user_A", baseSql, 2)) == Seq(
      Seq(10001, "Xxxx", 102, "beijing"),
      Seq(10002, "Xxxxx", 105, "beijing")))
  }

  test("mixed: user_B filter + mask_show_first_4 (MixedExecuteTest:98)") {
    assert(rows(ctx.mixedExecute("user_B", baseSql)) == Seq(
      Seq(10003, "Edwaxx", 106, "hangzhou"),
      Seq(10004, "John", 103, "hangzhou")))
  }

  test("mixed composition quirk: row filter evaluates over MASKED values") {
    // user_C filters customer_name = 'Xxxx' (a masked value). The reference's
    // fixed order puts the filter outside the mask subquery, so it matches all
    // rows whose MASKED name is 'Xxxx' — both Jacks AND John (all 4-letter
    // capitalized names collide post-mask). SURVEY §3 EP2 /
    // MixedRewriteTest.java:101-134.
    assert(rows(ctx.mixedExecute("user_C", baseSql)) == Seq(
      Seq(10001, "Xxxx", 102, "beijing"),
      Seq(10004, "Xxxx", 103, "hangzhou"),
      Seq(10006, "Xxxx", 103, "shanghai")))
  }

  test("MASK_NULL nullifies, MASK_NONE passes through") {
    val c = ctx
    c.policyManager.addPolicy(DataMaskPolicy("user_N", CAT, DB, "orders", "customer_name", "MASK_NULL"))
    c.policyManager.addPolicy(DataMaskPolicy("user_N", CAT, DB, "orders", "region", "MASK_NONE"))
    val got = rows(c.executeDataMask("user_N", baseSql, 1))
    assert(got == Seq(Seq(10001, null, 102, "beijing")))
  }

  test("raw-filter composition: row filter sees RAW values, output still masked") {
    val c = ctx
    c.policyManager.addPolicy(RowFilterPolicy("user_R", CAT, DB, "orders", "customer_name = 'Jack'"))
    c.policyManager.addPolicy(DataMaskPolicy("user_R", CAT, DB, "orders", "customer_name", "MASK"))
    // reference order: the filter evaluates the MASKED name — 'Jack' never
    // matches a masked value, so the result is empty
    assert(rows(c.mixedExecute("user_R", baseSql)).isEmpty)
    // Ranger-style order: the filter matches the two raw Jacks; the output
    // column is still masked
    assert(rows(c.mixedExecuteRawFilter("user_R", baseSql)) == Seq(
      Seq(10001, "Xxxx", 102, "beijing"),
      Seq(10006, "Xxxx", 103, "shanghai")))
    // idempotency: re-applying the raw-order rewrite plan leaves it unchanged
    val once = c.mixedRewriteRawFilter("user_R", baseSql)
    val twice = graft.plans.DataMaskRule(spark, "user_R", c.policyManager,
      graft.plans.TableScope(CAT, DB), filterOnRaw = true)(once)
    assert(twice.sameResult(once))
  }

  test("CUSTOM transformer: unqualified function resolves; bogus qualifier fails loudly") {
    val c = ctx
    c.policyManager.registerMaskType(graft.policy.DataMaskType(
      100, "MASK_UPPER", "Uppercase", "test custom transformer", Some("upper({col})")))
    c.policyManager.addPolicy(DataMaskPolicy("user_Q", CAT, DB, "orders", "customer_name", "MASK_UPPER"))
    assert(rows(c.executeDataMask("user_Q", baseSql, 1)) ==
      Seq(Seq(10001, "JACK", 102, "beijing")))
    // a db-qualified name must NOT silently resolve to the bare temp function
    c.policyManager.registerMaskType(graft.policy.DataMaskType(
      101, "MASK_QUALIFIED", "", "", Some("nosuchdb.mask_hash({col})")))
    c.policyManager.addPolicy(DataMaskPolicy("user_Q2", CAT, DB, "orders", "customer_name", "MASK_QUALIFIED"))
    intercept[Exception](c.executeDataMask("user_Q2", baseSql, 1))
  }

  test("CUSTOM transformer that needs implicit coercion fails with an error naming the policy") {
    val c = ctx
    c.policyManager.registerMaskType(graft.policy.DataMaskType(
      102, "MASK_PLUS_HALF", "", "", Some("{col} + 0.5")))
    c.policyManager.addPolicy(DataMaskPolicy("user_Q3", CAT, DB, "orders", "order_id", "MASK_PLUS_HALF"))
    val e = intercept[IllegalArgumentException](c.executeDataMask("user_Q3", baseSql, 1))
    Seq("user_Q3", "hive.default.orders", "order_id", "MASK_PLUS_HALF", "{col} + 0.5")
      .foreach(s => assert(e.getMessage.contains(s), e.getMessage))
  }

  test("INSERT INTO ... SELECT applies the rewrite inside the insert body") {
    val c = ctx
    spark.sql("DROP TABLE IF EXISTS order_sink")
    // a previously-failed run can leave the managed location behind
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/order_sink"))
    spark.sql("""CREATE TABLE order_sink (order_id INT, customer_name STRING, region STRING)
                | USING parquet""".stripMargin)
    c.mixedExecute("user_A",
      "INSERT INTO order_sink SELECT order_id, customer_name, region FROM orders")
    val sunk = spark.table("order_sink").orderBy("order_id").collect().map(_.toSeq).toSeq
    assert(sunk == Seq(
      Seq(10001, "Xxxx", "beijing"),
      Seq(10002, "Xxxxx", "beijing")))
    spark.sql("DROP TABLE IF EXISTS order_sink")
  }

  test("INSERT INTO ... SELECT over a FROM-subquery rewrites the inner select (RewriteRowFilterTest:511)") {
    val c = ctx
    spark.sql("DROP TABLE IF EXISTS order_sink2")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/order_sink2"))
    spark.sql("CREATE TABLE order_sink2 (order_id INT, region STRING) USING parquet")
    c.executeRowFilter("user_A",
      """INSERT INTO order_sink2
        |SELECT order_id, region FROM
        |  (SELECT * FROM orders WHERE order_status = FALSE) AS t""".stripMargin)
    val sunk = spark.table("order_sink2").orderBy("order_id").collect().map(_.toSeq).toSeq
    assert(sunk == Seq(Seq(10001, "beijing"), Seq(10002, "beijing")))
    spark.sql("DROP TABLE IF EXISTS order_sink2")
  }

  test("GROUP BY and joins over a masked column operate on masked values") {
    // 'Jack' and 'John' both mask to 'Xxxx'-shaped values: Jack→Xxxx,
    // John→Xxxx — groups must form on the MASKED value, proving aggregation
    // runs downstream of the mask projection (no raw-value leak via counts)
    val got = rows(ctx.executeDataMask("user_A",
      "SELECT customer_name, count(*) AS cnt FROM orders GROUP BY customer_name ORDER BY customer_name"))
    assert(got == Seq(
      Seq("Xxxx", 3), // Jack(2) + John(1) collapse into one masked group
      Seq("Xxxxx", 1), // Sally
      Seq("Xxxxxx", 2))) // Edward x2
  }

  test("CREATE TABLE AS SELECT applies the rewrite inside the query") {
    ctx.execute("DROP TABLE IF EXISTS ctas_orders")
    ctx.mixedExecute("user_A",
      "CREATE TABLE ctas_orders USING parquet AS SELECT order_id, customer_name, region FROM orders")
    try {
      // the PERSISTED data is already filtered and masked — a reader with no
      // policies cannot recover what user_A was not allowed to see
      val persisted = spark.table("ctas_orders").orderBy("order_id").collect()
      assert(persisted.map(_.toSeq).toSeq == Seq(
        Seq(10001, "Xxxx", "beijing"),
        Seq(10002, "Xxxxx", "beijing")))
    } finally ctx.execute("DROP TABLE IF EXISTS ctas_orders")
  }

  test("INSERT OVERWRITE DIRECTORY applies the rewrite (leaf command path)") {
    val dir = tempDir("graft_iod").toString
    ctx.mixedExecute("user_A",
      s"INSERT OVERWRITE DIRECTORY '$dir' USING parquet SELECT order_id, customer_name, region FROM orders")
    val persisted = spark.read.parquet(dir).orderBy("order_id").collect()
    assert(persisted.map(_.toSeq).toSeq == Seq(
      Seq(10001, "Xxxx", "beijing"),
      Seq(10002, "Xxxxx", "beijing")))
  }

  test("getTable returns the catalog schema (CommonTest.testGetTable)") {
    val schema = ctx.getTable("orders")
    assert(schema.fieldNames.toSeq == Seq(
      "order_id", "order_date", "customer_name", "product_id", "price", "order_status", "region"))
    assert(schema("price").dataType == DecimalType(10, 5))
  }

  test("multi-statement input is rejected (ParserImplExtension.java:74)") {
    intercept[Exception](ctx.parseSql("SELECT 1; SELECT 2"))
  }

  test("no policies -> plans untouched for unknown user") {
    assert(rows(ctx.mixedExecute("nobody", baseSql)).size == 6)
  }

  test("policies apply to persistent catalog tables (3-part qualified names)") {
    val c = ctx
    spark.sql("DROP TABLE IF EXISTS cat_orders")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/cat_orders"))
    spark.sql("CREATE TABLE cat_orders (order_id INT, customer_name STRING, region STRING) USING parquet")
    spark.sql("INSERT INTO cat_orders VALUES (1, 'Jack', 'beijing'), (2, 'Sally', 'hangzhou')")
    // policy keyed on the table's real catalog+db, not the context defaults
    c.policyManager.addPolicy(RowFilterPolicy(
      "cat_user", "spark_catalog", "default", "cat_orders", "region = 'beijing'"))
    c.policyManager.addPolicy(DataMaskPolicy(
      "cat_user", "spark_catalog", "default", "cat_orders", "customer_name", "MASK"))
    val got = rows(c.mixedExecute("cat_user",
      "SELECT order_id, customer_name, region FROM spark_catalog.default.cat_orders ORDER BY order_id"))
    assert(got == Seq(Seq(1, "Xxxx", "beijing")))
    // bare name resolves through the session catalog too
    val bare = rows(c.mixedExecute("cat_user",
      "SELECT order_id, customer_name, region FROM cat_orders ORDER BY order_id"))
    assert(bare == Seq(Seq(1, "Xxxx", "beijing")))
    spark.sql("DROP TABLE IF EXISTS cat_orders")
  }

  test("injected row filter pushes into the parquet scan; mask prunes columns") {
    // the 100 TB argument, checked at the physical plan: the injected policy
    // predicate must reach PushedFilters of the parquet scan, and the
    // full-width mask Project must not defeat column pruning
    graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "customer")
    val c2 = new SecurityContext(spark)
    c2.policyManager.addPolicy(RowFilterPolicy(
      "u", "spark_catalog", "default", "customer", "c_mktsegment = 'BUILDING'"))
    c2.policyManager.addPolicy(DataMaskPolicy(
      "u", "spark_catalog", "default", "customer", "c_name", "MASK"))
    val physical = c2.dfMixed("u", "SELECT c_custkey, c_name FROM customer")
      .queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("c_mktsegment"),
      s"policy predicate not pushed to the scan:\n$physical")
    assert(!physical.contains("c_comment"),
      s"unreferenced column not pruned from the scan:\n$physical")
  }

  test("policy filter pushes under the curation funnel's scan (sec_pipeline_curate composition)") {
    // the security Project (mask) sits between the funnel and the relation;
    // the injected RLS predicate must still reach the parquet scan's
    // PushedFilters, and the funnel's column needs must prune the scan
    graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val c2 = new SecurityContext(spark)
    c2.policyManager.addPolicy(RowFilterPolicy(
      "curator", "spark_catalog", "default", "documents", "lang = 'en'"))
    c2.policyManager.addPolicy(DataMaskPolicy(
      "curator", "spark_catalog", "default", "documents", "source", "MASK_HASH"))
    val secured = c2.dfMixed("curator",
      "SELECT doc_id, text, source FROM documents")
    // qualityFilter is the funnel's gate WITHOUT curate's checkpoint barrier
    // (the barrier wraps the already-pushed-down scan in a LogicalRDD, so
    // the batch plan string can't show it; the checkpointed stage runs the
    // IDENTICAL scan asserted here)
    val funneled = graft.operators.TextAnalysis.qualityFilter(secured, "text",
      minWords = 30, minStopHits = 1)
      .select("doc_id", "text")
    val physical = funneled.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("lang"),
      s"policy predicate not pushed under the funnel:\n$physical")
    // the funnel needs (doc_id, text) + the filter column; the masked but
    // unconsumed source column must be pruned out of the scan
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(physical).getOrElse("")
    assert(!readSchema.contains("source"),
      s"masked-but-unused column not pruned from the funnel scan:\n$readSchema")
  }

  test("policies on base tables apply through persistent SQL views (no view bypass)") {
    val c = ctx
    spark.sql("DROP VIEW IF EXISTS pv_view")
    spark.sql("DROP TABLE IF EXISTS pv_orders")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("spark-warehouse/pv_orders"))
    spark.sql("CREATE TABLE pv_orders (order_id INT, customer_name STRING, region STRING) USING parquet")
    spark.sql("INSERT INTO pv_orders VALUES (1, 'Jack', 'beijing'), (2, 'Sally', 'hangzhou')")
    spark.sql("CREATE VIEW pv_view AS SELECT * FROM pv_orders")
    c.policyManager.addPolicy(RowFilterPolicy(
      "pv_user", "spark_catalog", "default", "pv_orders", "region = 'beijing'"))
    c.policyManager.addPolicy(DataMaskPolicy(
      "pv_user", "spark_catalog", "default", "pv_orders", "customer_name", "MASK"))
    try {
      // querying the VIEW must still enforce the BASE table's policies —
      // the classic view-indirection ACL hole
      val got = rows(c.mixedExecute("pv_user",
        "SELECT order_id, customer_name, region FROM pv_view ORDER BY order_id"))
      assert(got == Seq(Seq(1, "Xxxx", "beijing")))
    } finally {
      spark.sql("DROP VIEW IF EXISTS pv_view")
      spark.sql("DROP TABLE IF EXISTS pv_orders")
    }
  }

  test("policies apply to temp views whose stored plan is derived (Project over source)") {
    // a temp view registered from a transformed DataFrame (e.g. the events
    // view with its ts-normalizing withColumn) resolves to a View whose child
    // is a Project, not a bare relation — enforcement must not silently skip
    // it (that would be a security bypass, not an error)
    import org.apache.spark.sql.functions.col
    spark.table("orders").withColumn("price_x2", col("price") * 2)
      .createOrReplaceTempView("orders_derived")
    val c2 = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c2.policyManager.addPolicy(RowFilterPolicy("u", CAT, DB, "orders_derived", "region = 'beijing'"))
    c2.policyManager.addPolicy(DataMaskPolicy("u", CAT, DB, "orders_derived", "customer_name", "MASK"))
    val got = rows(c2.mixedExecute("u",
      "SELECT order_id, customer_name, region FROM orders_derived ORDER BY order_id"))
    assert(got == Seq(
      Seq(10001, "Xxxx", "beijing"),
      Seq(10002, "Xxxxx", "beijing")))
  }

  test("rules pass through UNION, window functions, EXISTS without breaking") {
    val c = ctx
    // UNION of a policied and non-policied scan: filter+mask apply per branch
    val u = rows(c.mixedExecute("user_A",
      """SELECT customer_name, region FROM orders WHERE region = 'beijing'
        |UNION ALL
        |SELECT customer_name, region FROM orders
        |ORDER BY customer_name, region""".stripMargin, 20))
    assert(u.size == 4) // 2 (filtered branch) + 2 (filtered branch again)
    assert(u.forall(r => r.head.toString.startsWith("X")))
    // window function over a filtered scan
    val w = rows(c.executeRowFilter("user_A",
      """SELECT order_id, row_number() OVER (ORDER BY order_id) AS rn
        |FROM orders ORDER BY order_id""".stripMargin))
    assert(w.map(_.map(_.toString)) == Seq(Seq("10001", "1"), Seq("10002", "2")))
    // EXISTS subquery against a policied table
    val e = rows(c.executeRowFilter("user_A",
      """SELECT order_id FROM orders o
        |WHERE EXISTS (SELECT 1 FROM shipments s WHERE s.order_id = o.order_id)
        |ORDER BY order_id""".stripMargin))
    assert(e == Seq(Seq(10001), Seq(10002)))
  }

  test("row filter reaches tables inside EXISTS/IN subquery expressions") {
    val c = ctx
    // user_S sees only Shanghai-bound shipments; order 10003's shipment goes
    // to Hangzhou, so the EXISTS must not match it.
    c.policyManager.addPolicy(RowFilterPolicy(
      "user_S", CAT, DB, "shipments", "destination = 'Shanghai'"))
    val e = rows(c.executeRowFilter("user_S",
      """SELECT order_id FROM orders o
        |WHERE EXISTS (SELECT 1 FROM shipments s WHERE s.order_id = o.order_id)
        |ORDER BY order_id""".stripMargin))
    assert(e == Seq(Seq(10001), Seq(10002))) // without the fix: 10003 leaks
    val in = rows(c.executeRowFilter("user_S",
      """SELECT order_id FROM orders
        |WHERE order_id IN (SELECT order_id FROM shipments)
        |ORDER BY order_id""".stripMargin))
    assert(in == Seq(Seq(10001), Seq(10002)))
  }

  test("inline VALUES aliased as a policied table name is not policied") {
    // a derived alias is not the catalog table `orders`; the policy must not
    // fire (it would otherwise fail analysis: no `region` column here)
    val got = rows(ctx.executeRowFilter("user_A",
      "SELECT a, b FROM (VALUES (1, 2), (3, 4)) AS orders(a, b) ORDER BY a"))
    assert(got == Seq(Seq(1, 2), Seq(3, 4)))
  }

  test("policies apply to both sides of a self-join") {
    val got = rows(ctx.mixedExecute("user_A",
      """SELECT a.order_id, a.customer_name, b.customer_name AS other_name
        |FROM orders a JOIN orders b ON a.region = b.region AND a.order_id < b.order_id
        |ORDER BY a.order_id""".stripMargin))
    // beijing rows only (both sides filtered), both name columns masked
    assert(got == Seq(Seq(10001, "Xxxx", "Xxxxx")))
  }

  test("mask reaches tables inside scalar subqueries") {
    val got = ctx.executeDataMask("user_A",
      "SELECT (SELECT max(customer_name) FROM orders) AS m").head.getString(0)
    assert(got == "Xxxxxx") // max over MASKED names, not raw ones
  }

  test("policies apply through CTEs (WITH clause)") {
    val got = rows(ctx.mixedExecute("user_A",
      """WITH t AS (SELECT * FROM orders)
        |SELECT order_id, customer_name FROM t ORDER BY order_id""".stripMargin))
    assert(got == Seq(Seq(10001, "Xxxx"), Seq(10002, "Xxxxx")))
  }

  test("policies apply under LATERAL VIEW explode") {
    val got = rows(ctx.mixedExecute("user_A",
      """SELECT order_id, customer_name, w
        |FROM orders LATERAL VIEW explode(split(region, 'j')) t AS w
        |ORDER BY order_id, w""".stripMargin))
    // beijing rows only, exploded over the generated column, names masked
    assert(got == Seq(
      Seq(10001, "Xxxx", "bei"), Seq(10001, "Xxxx", "ing"),
      Seq(10002, "Xxxxx", "bei"), Seq(10002, "Xxxxx", "ing")))
  }

  test("policies apply under PIVOT") {
    val got = rows(ctx.mixedExecute("user_A",
      """SELECT * FROM (SELECT region, customer_name FROM orders)
        |PIVOT (count(*) FOR region IN ('beijing', 'hangzhou'))
        |ORDER BY customer_name""".stripMargin))
    // only beijing rows survive the filter; grouping keys are MASKED names
    assert(got == Seq(Seq("Xxxx", 1, null), Seq("Xxxxx", 1, null)))
  }

  test("policies apply under DISTINCT") {
    val got = rows(ctx.mixedExecute("user_A",
      "SELECT DISTINCT customer_name FROM orders ORDER BY customer_name"))
    assert(got == Seq(Seq("Xxxx"), Seq("Xxxxx")))
  }

  test("rewrite-to-SQL renderer shows injected filter and mask (golden-style)") {
    // temp-view fixture: no catalog path, but the reference's conventions
    // hold — alias-qualified columns, hoisted WHERE, mask subquery text.
    // The verbatim 19-golden parity (catalog-resolved 3-part names) is
    // SqlGoldenSpec's job.
    val sql = "SELECT order_id, customer_name FROM orders"
    val rf = ctx.rewriteRowFilterSql("user_A", sql)
    assert(rf ==
      "SELECT orders.order_id, orders.customer_name FROM orders AS orders " +
        "WHERE orders.region = 'beijing'")
    val dm = ctx.rewriteDataMaskSql("user_A", sql)
    // reference golden shape: mask subquery with CAST(mask(col) AS type) AS col
    assert(dm.contains("CAST(mask(customer_name) AS STRING) AS customer_name"))
    assert(dm.startsWith("SELECT orders.order_id, orders.customer_name FROM ( SELECT"))
    val mx = ctx.mixedRewriteSql("user_A", sql)
    assert(mx.contains("CAST(mask(customer_name) AS STRING)") &&
      mx.contains("WHERE orders.region = 'beijing'"))
  }

  test("renderer keeps the typed CAST for MASK_NULL columns") {
    val c2 = new SecurityContext(spark)
    c2.policyManager.addPolicy(graft.policy.DataMaskPolicy(
      "user_A", "spark_catalog", "default", "orders", "customer_name", "MASK_NULL"))
    val dm = c2.rewriteDataMaskSql("user_A",
      "SELECT order_id, customer_name FROM orders")
    // the reference's convention (DataMaskVisitor.java:131): CAST back to
    // the declared type — not an untyped bare NULL
    assert(dm.contains("CAST(NULL AS STRING) AS customer_name"), dm)
  }

  test("audit trail: submission + per-scan decisions, filter before mask") {
    ctx // force seed() so the views exist
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(RowFilterPolicy("user_A", CAT, DB, "orders", "region = 'beijing'"))
    c.policyManager.addPolicy(DataMaskPolicy("user_A", CAT, DB, "orders", "customer_name", "MASK"))
    c.dfMixed("user_A", "SELECT order_id, customer_name FROM orders")
    val got = c.auditLog.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (0L, "user_A", "QUERY", "mixed", "SELECT order_id, customer_name FROM orders"),
      (1L, "user_A", "ROW_FILTER", "hive.default.orders", "region = 'beijing'"),
      (2L, "user_A", "DATA_MASK", "hive.default.orders", "customer_name=MASK")))
    // a principal with no policies leaves only the submission row
    c.dfMixed("nobody", "SELECT order_id FROM orders")
    assert(c.auditLog.count() == 4)
    c.clearAudit()
    assert(c.auditLog.count() == 0)
  }

  test("audit trail reaches decisions inside subquery expressions") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(RowFilterPolicy("user_A", CAT, DB, "orders", "region = 'beijing'"))
    c.dfRowFilter("user_A",
      "SELECT id, name FROM products WHERE id IN (SELECT product_id FROM orders)")
    val actions = c.auditLog.collect().map(r => (r.getString(2), r.getString(3)))
    assert(actions.count(_._1 == "ROW_FILTER") == 1)
    assert(actions.contains(("ROW_FILTER", "hive.default.orders")))
  }

  test("audit trail records identity-only mask matches (every matched policy MASK_NONE)") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    // MASK_NONE is still an access decision a Ranger-style trail records,
    // even though no Project is built (the rule reports it out-of-band)
    c.policyManager.addPolicy(DataMaskPolicy("user_A", CAT, DB, "orders",
      "customer_name", "MASK_NONE"))
    c.dfDataMask("user_A", "SELECT order_id, customer_name FROM orders")
    val got = c.auditLog.collect().map(r =>
      (r.getLong(0), r.getString(2), r.getString(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (0L, "QUERY", "data_mask", "SELECT order_id, customer_name FROM orders"),
      (1L, "DATA_MASK", "hive.default.orders", "customer_name=MASK_NONE")))
    // the rewritten output itself is untouched (identity), and a REAL mask
    // alongside still routes decisions through the tagged Project only once
    c.clearAudit()
    c.policyManager.addPolicy(DataMaskPolicy("user_A", CAT, DB, "orders",
      "region", "MASK_HASH"))
    c.dfDataMask("user_A", "SELECT order_id, customer_name, region FROM orders")
    val byAction = c.auditLog.collect().map(r => (r.getString(2), r.getString(4)))
    assert(byAction.count(_._1 == "DATA_MASK") == 1)
    assert(byAction.contains(("DATA_MASK", "customer_name=MASK_NONE,region=MASK_HASH")))
  }

  test("audit trail order: row filters before masks, subquery plans first, then the query bottom-up") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    val pm = c.policyManager
    pm.addPolicy(RowFilterPolicy("user_A", CAT, DB, "orders", "region = 'beijing'"))
    pm.addPolicy(DataMaskPolicy("user_A", CAT, DB, "orders", "customer_name", "MASK"))
    pm.addPolicy(RowFilterPolicy("user_A", CAT, DB, "products", "name = 'hammer'"))
    pm.addPolicy(DataMaskPolicy("user_A", CAT, DB, "products", "name", "MASK_SHOW_LAST_4"))
    pm.addPolicy(RowFilterPolicy("user_A", CAT, DB, "shipments", "is_arrived = FALSE"))
    val sql = "SELECT o.order_id, o.customer_name, p.name FROM orders o " +
      "JOIN products p ON o.product_id = p.id " +
      "WHERE o.order_id IN (SELECT order_id FROM shipments)"
    c.dfMixed("user_A", sql)
    val got = c.auditLog.collect().map(r => (r.getLong(0), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (0L, "QUERY", "mixed"),
      (1L, "ROW_FILTER", "hive.default.shipments"),
      (2L, "ROW_FILTER", "hive.default.orders"),
      (3L, "ROW_FILTER", "hive.default.products"),
      (4L, "DATA_MASK", "hive.default.orders"),
      (5L, "DATA_MASK", "hive.default.products")))
  }

  test("concurrent rewrites through one context keep the audit seq dense and unique") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(RowFilterPolicy("user_A", CAT, DB, "orders", "region = 'beijing'"))
    val threads = (1 to 4).map { _ =>
      new Thread(() => (1 to 10).foreach { _ =>
        c.dfRowFilter("user_A", "SELECT order_id FROM orders")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val seqs = c.auditLog.collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs.size == 80) // 40 submissions + 40 filter decisions
    assert(seqs == (0L until 80L)) // dense, no duplicates, no gaps
  }

  test("column deny fails closed on read, passes other columns, beats the mask") {
    ctx // force seed
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(graft.policy.ColumnDenyPolicy(
      "user_A", CAT, DB, "orders", "price"))
    // deny beats mask at any specificity: the masked read is still a read
    c.policyManager.addPolicy(DataMaskPolicy("user_A", CAT, DB, "orders",
      "price", "MASK_NULL"))
    // a wildcard allow-filter cannot override the deny either
    c.policyManager.addPolicy(RowFilterPolicy("*", CAT, DB, "orders", "order_id > 0"))
    // explicit reference -> analysis-time error in every rewrite entry point
    intercept[ColumnAccessDeniedException] {
      c.dfRowFilter("user_A", "SELECT order_id, price FROM orders")
    }
    intercept[ColumnAccessDeniedException] {
      c.dfDataMask("user_A", "SELECT order_id, price FROM orders")
    }
    intercept[ColumnAccessDeniedException] {
      c.dfMixed("user_A", "SELECT order_id, price FROM orders")
    }
    // SELECT * expands to every column and so fails too
    intercept[ColumnAccessDeniedException] {
      c.dfMixed("user_A", "SELECT * FROM orders")
    }
    // reference via a WHERE predicate / aggregate is still a read
    intercept[ColumnAccessDeniedException] {
      c.dfRowFilter("user_A", "SELECT order_id FROM orders WHERE price > 10")
    }
    intercept[ColumnAccessDeniedException] {
      c.dfRowFilter("user_A", "SELECT sum(price) AS s FROM orders")
    }
    // a subquery expression referencing the denied column is reached
    intercept[ColumnAccessDeniedException] {
      c.dfRowFilter("user_A",
        "SELECT order_id FROM orders o WHERE EXISTS (SELECT 1 FROM orders i WHERE i.price > 10)")
    }
    // other columns flow, with the ordinary rewrites applied
    assert(rows(c.mixedExecute("user_A",
      "SELECT order_id, region FROM orders ORDER BY order_id", 10)).nonEmpty)
    // other principals are untouched
    assert(rows(c.executeRowFilter("user_B",
      "SELECT order_id, price FROM orders ORDER BY order_id", 10)).nonEmpty)
    // denials are audited: one COLUMN_DENY row after each blocked QUERY row
    val trail = c.auditLog.collect().map(r => (r.getString(2), r.getString(4)))
    assert(trail.count(_._1 == "COLUMN_DENY") == 7)
    assert(trail.filter(_._1 == "COLUMN_DENY").forall(_._2 == "price"))
  }

  test("column deny reaches through views (no view bypass), demand-driven (no passthrough false positive)") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(graft.policy.ColumnDenyPolicy(
      "user_A", CAT, DB, "orders", "price"))
    try {
      // (a) the classic view-indirection hole: a view PROJECTING the denied
      // column (renamed, even) — reading the projection is reading the column
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW cd_leak_v AS " +
        "SELECT order_id, price AS p FROM orders")
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A", "SELECT p FROM cd_leak_v")
      }
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A", "SELECT * FROM cd_leak_v")
      }
      // ...but the view's OTHER columns stay readable: demand-driven, the
      // un-demanded projection entry is not a read
      assert(c.executeRowFilter("user_A",
        "SELECT order_id FROM cd_leak_v", 10).nonEmpty)
      // (b) a derived temp view passing EVERY column through (the stored
      // DataFrame-plan shape): unrelated queries must not false-positive
      spark.table("orders")
        .withColumn("oid2", org.apache.spark.sql.functions.col("order_id") * 2)
        .createOrReplaceTempView("cd_pass_v")
      assert(c.executeRowFilter("user_A",
        "SELECT order_id, oid2, region FROM cd_pass_v", 10).nonEmpty)
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A", "SELECT price FROM cd_pass_v")
      }
      // (c) a FILTER inside the view touches the column regardless of the
      // select list — fail-closed: reading the view is reading the column
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW cd_filter_v AS " +
        "SELECT order_id FROM orders WHERE price > 10")
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A", "SELECT order_id FROM cd_filter_v")
      }
      // other principals read everything through every view
      assert(c.executeRowFilter("user_B", "SELECT p FROM cd_leak_v", 10).nonEmpty)
    } finally Seq("cd_leak_v", "cd_pass_v", "cd_filter_v")
      .foreach(v => spark.catalog.dropTempView(v))
  }

  test("column deny reaches through CTEs (user-authored text counts wholesale)") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(graft.policy.ColumnDenyPolicy(
      "user_A", CAT, DB, "orders", "price"))
    // reading the denied column through a CTE is a read
    intercept[ColumnAccessDeniedException] {
      c.dfRowFilter("user_A",
        "WITH x AS (SELECT order_id, price AS p FROM orders) SELECT p FROM x")
    }
    // the CTE TEXT references the denied column, and unlike a stored VIEW
    // it is the querying principal's own text: it counts wholesale, so even
    // a sibling-column read through it is denied (fail-closed; the
    // demand-driven narrowing applies only to views, whose text the
    // principal did not author)
    intercept[ColumnAccessDeniedException] {
      c.dfRowFilter("user_A",
        "WITH x AS (SELECT order_id, price AS p FROM orders) SELECT order_id FROM x")
    }
    // a price-free CTE flows normally
    assert(c.executeRowFilter("user_A",
      "WITH x AS (SELECT order_id, region FROM orders) SELECT order_id FROM x",
      10).nonEmpty)
    // other principals are untouched
    assert(c.executeRowFilter("user_B",
      "WITH x AS (SELECT order_id, price AS p FROM orders) SELECT p FROM x",
      10).nonEmpty)
  }

  test("column deny through set-op branches that never adopt the branch's exprIds") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(graft.policy.ColumnDenyPolicy(
      "user_A", CAT, DB, "orders", "price"))
    try {
      // identical schemas so the analyzer inserts NO Project over either
      // branch: the Union adopts branch-1's exprIds and the leak branch's
      // output is never referenced by name anywhere in the user plan
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW cd_u_ok AS " +
        "SELECT order_id, CAST(0 AS DECIMAL(10,5)) AS p FROM orders")
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW cd_u_leak AS " +
        "SELECT order_id, price AS p FROM orders")
      // bare leak branch under UNION ALL: before the empty-demand fallback
      // this flowed price to the user unchecked (Union output = branch-1
      // ids, so cd_u_leak's demand set resolved empty and its internals
      // were never walked)
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A",
          "SELECT p FROM (SELECT * FROM cd_u_ok UNION ALL SELECT * FROM cd_u_leak) t")
      }
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A",
          "SELECT p FROM (TABLE cd_u_ok UNION ALL TABLE cd_u_leak) t")
      }
      // EXCEPT/INTERSECT read FULL rows of both sides: the right branch's
      // denied column participates in the set comparison even though the
      // plan output carries only left-branch exprIds
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A",
          "SELECT order_id FROM (TABLE cd_u_ok EXCEPT TABLE cd_u_leak) t")
      }
      // ...and an unselected LEFT-side column is read by the comparison too
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A",
          "SELECT order_id FROM (TABLE cd_u_leak INTERSECT ALL TABLE cd_u_ok) t")
      }
      // zero-demand data flow (SELECT 1 FROM v) still executes the view's
      // projection of the denied column: conservative fallback denies
      intercept[ColumnAccessDeniedException] {
        c.dfRowFilter("user_A", "SELECT 1 AS one FROM cd_u_leak")
      }
      // no false positive: the same shapes over clean branches pass
      assert(c.executeRowFilter("user_A",
        "SELECT p FROM (TABLE cd_u_ok UNION ALL TABLE cd_u_ok) t", 10).nonEmpty)
      assert(c.executeRowFilter("user_A",
        "SELECT 1 AS one FROM cd_u_ok", 10).nonEmpty)
      // other principals are untouched through every shape
      assert(c.executeRowFilter("user_B",
        "SELECT p FROM (TABLE cd_u_ok UNION ALL TABLE cd_u_leak) t", 10).nonEmpty)
    } finally Seq("cd_u_ok", "cd_u_leak")
      .foreach(v => spark.catalog.dropTempView(v))
  }

  test("mask-only entry point enforces table-level deny (no fail-open path)") {
    ctx
    val c = new SecurityContext(spark, defaultCatalog = CAT, defaultDatabase = DB)
    c.policyManager.addPolicy(DataMaskPolicy("user_A", CAT, DB, "orders",
      "customer_name", "MASK"))
    c.policyManager.addPolicy(graft.policy.DenyRowPolicy("user_A", CAT, DB, "orders"))
    // before the deny gate, dfDataMask returned ALL (masked) rows of the
    // denied table — Ranger semantics say zero
    assert(c.executeDataMask("user_A",
      "SELECT order_id, customer_name FROM orders", 10).isEmpty)
    // and the decision reads as the deny it is
    val trail = c.auditLog.collect().map(r => (r.getString(2), r.getString(4)))
    assert(trail.contains(("ROW_DENY", "DENY")))
    // other principals still see masked rows through the same entry point
    assert(c.executeDataMask("user_B",
      "SELECT order_id, customer_name FROM orders", 10).nonEmpty)
  }
}
