package graft

import graft.policy.{DataMaskPolicy, DenyRowPolicy, PolicyManager, RowFilterPolicy}

/** One context-mode query is decided against one policy snapshot: a policy
  * set that changes while the query is being rewritten cannot split the
  * query's decisions between the old set and the new one. The change is
  * made from inside the manager's clock, which the context reads once per
  * query when it takes its policy view — the latest point at which a write
  * can land "mid-rewrite".
  */
class PolicySnapshotConsistencySpec extends SparkFunSuite {

  test("a deny and a mask added mid-rewrite apply from the next query, not to this one") {
    spark.range(0, 10).selectExpr("id", "concat('name_', id) AS name")
      .createOrReplaceTempView("snap_left")
    spark.range(0, 10).selectExpr("id", "id * 10 AS score")
      .createOrReplaceTempView("snap_right")
    val pm = new PolicyManager
    val ctx = new SecurityContext(spark, pm)
    val (cat, db) = ("spark_catalog", "default")
    // a windowed filter, so the old linear store consulted the clock on
    // its first lookup and would have let the deny below hit the second scan
    pm.addPolicy(RowFilterPolicy("u", cat, db, "snap_left", "id < 5",
      validFrom = Some("2026-01-01T00:00:00Z")))
    val now = java.time.Instant.parse("2026-06-15T12:00:00Z")
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    pm.clock = () => {
      if (calls.getAndIncrement() == 0) {
        pm.addPolicy(DenyRowPolicy("u", cat, db, "snap_right"))
        pm.addPolicy(DataMaskPolicy("u", cat, db, "snap_left", "name", "MASK_NULL"))
      }
      now
    }
    val sql = "SELECT l.id, l.name, r.score FROM snap_left l JOIN snap_right r ON l.id = r.id ORDER BY l.id"
    def decisions(): Seq[(String, String)] = {
      val log = ctx.auditLog.collect().toSeq
      ctx.clearAudit()
      log.filter(_.getAs[String]("action") != "QUERY")
        .map(r => (r.getAs[String]("action"), r.getAs[String]("obj")))
    }

    // first query: decided entirely under the policy set it started with
    val first = ctx.mixedExecute("u", sql, 100)
    assert(calls.get() >= 1, "the context must read the clock for its view")
    assert(first.map(_.getLong(0)) == (0L until 5L))
    assert(first.forall(_.getString(1) != null), "the mask added mid-rewrite leaked into this query")
    assert(decisions() == Seq("ROW_FILTER" -> s"$cat.$db.snap_left"))

    // next query: the new set, whole
    val second = ctx.mixedExecute("u", sql, 100)
    assert(second.isEmpty)
    assert(decisions().toSet == Set("ROW_FILTER" -> s"$cat.$db.snap_left",
      "ROW_DENY" -> s"$cat.$db.snap_right", "DATA_MASK" -> s"$cat.$db.snap_left"))
  }
}
