package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Receipt for the security layer's "zero extra shuffles or passes" claim
  * (SecurityRules scaladoc; r16 verdict #5): quantifies the security tax on
  * the curation funnel instead of arguing it.
  *
  * Three measurements per probe dir:
  *
  * 1. PLAN PARITY — sec_pipeline_curate's frame vs the hand-written
  *    equivalent (same row filter + mask + provenance join composed
  *    directly on the Catalyst API, no SecurityContext): Exchange count
  *    and parquet PushedFilters must match node-for-node, proving the
  *    policy rewrite adds column expressions and a pushable predicate,
  *    never a shuffle or an extra pass.
  * 2. REWRITE LATENCY — the driver-side policy rewrite alone (parse +
  *    analyze + policy lookup + re-analyze), no execution: the actual tax,
  *    paid once per query regardless of data volume.
  * 3. WARM RUNTIMES of the verdict's named pairs (sec_pipeline_curate vs
  *    pipeline_curate, sec_stream_curate vs stream_curate), 2 reps, rep 2
  *    reported. These pairs are NOT equal work — the sec members add the
  *    en-only row filter (less data), the MASK_HASH projection, and a
  *    provenance join — so their delta is attributed, not expected zero.
  *
  * A separate POLICY-COUNT leg (`policies` argument) measures the rewrite
  * against the size of the policy store instead: ms per
  * `queryExecution.analyzed` of a four-way join over temp views while the
  * store holds N policies that never apply to the querying user, with no
  * user set, in extension mode and in context mode (`dfMixed`), at
  * N = 2k, 20k and 200k.
  *
  * Usage: runMain graft.tools.SecurityTaxProbe
  *        runMain graft.tools.SecurityTaxProbe policies
  * Env:   SPARK_GRAFT_PROBE_DIRS (default /root/testdata/sf0.1,/tmp/sf1,/tmp/sf10)
  *        SPARK_GRAFT_CPUS       local[N] and shuffle partitions (default:
  *                               the JVM's available processors)
  */
object SecurityTaxProbe {
  private def exchanges(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size

  private def scanFilters(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s"pushed=${s.metadata.getOrElse("PushedFilters", "-")} " +
          s"schema=${s.metadata.getOrElse("ReadSchema", "-")}"
    }

  /** Shuffle count + join strategies of the RUNTIME-FINAL plan under AQE:
    * executes the frame (noop sink), then walks the finalized adaptive plan
    * RECURSIVELY through query-stage boundaries (QueryStageExec is a leaf
    * node — a plain collect stops at the first stage). Reused exchanges are
    * not re-counted or re-entered.
    */
  private def aqeFinalSummary(df: DataFrame): (Int, Seq[String]) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.write.format("noop").mode("overwrite").save()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
        case _ => p.children.flatMap(walk)
      }
      p +: inner
    }
    val all = walk(df.queryExecution.executedPlan)
    val shuffles = all.count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
      case _ => false
    }
    val joins = all.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName
    }
    (shuffles, joins)
  }

  private val Views = (0 until 4).map(i => s"taxv$i")
  private val User = "u0"

  /** Eight columns: key, foreign key into the next view, three ints, three
    * strings.
    */
  private def registerViews(s: SparkSession): Unit =
    Views.foreach { v =>
      s.range(0, 1000).selectExpr("id AS k", "(id * 7) % 1000 AS fk", "id % 10 AS a",
        "id % 3 AS b", "id % 17 AS c", "concat('name_', id) AS s1",
        "concat('addr_', id % 91) AS s2", "concat('note_', id % 13) AS s3")
        .createOrReplaceTempView(v)
    }

  /** Decoy `i`: never applies to [[User]]. A tenth sit on the queried views
    * for other users, a fiftieth name a group, the rest other users on
    * 1000 other tables; every other one carries a validity window.
    */
  private def addDecoy(pm: graft.policy.PolicyManager, i: Int): Unit = {
    import graft.policy._
    val (user, table) =
      if (i % 10 == 1) (s"d${i % 5000}", Views(i % Views.size))
      else if (i % 50 == 0) (s"grp${i % 20}", s"decoy_${i % 1000}")
      else (s"d${i % 5000}", s"decoy_${i % 1000}")
    val (from, until) =
      if (i % 2 == 0) (Some("2020-01-01T00:00:00Z"), Some("2099-01-01T00:00:00Z")) else (None, None)
    val (cat, db) = ("spark_catalog", "default")
    i % 4 match {
      case 0 => pm.addPolicy(RowFilterPolicy(user, cat, db, table, "a IS NOT NULL", from, until))
      case 1 => pm.addPolicy(DataMaskPolicy(user, cat, db, table, "s2", "MASK_HASH", from, until))
      case 2 => pm.addPolicy(DenyRowPolicy(user, cat, db, table, from, until))
      case _ => pm.addPolicy(ColumnDenyPolicy(user, cat, db, table, "s3", from, until))
    }
    ()
  }

  /** The policy-count leg (see the object doc). Policies load incrementally
    * up to each count; each mode warms, then reports its median over
    * 21 calls, and the injected filter and mask counts that show the
    * user's own policies still apply.
    */
  private def policyCountLeg(spark: SparkSession): Unit = {
    import graft.plans.GraftSecurityExtensions
    import graft.policy.{DataMaskPolicy, RowFilterPolicy}
    val counts = Seq(2000, 20000, 200000)
    val reps = 21
    val pm = GraftSecurityExtensions.policies
    val ext = spark.newSession()
    val ctx = new graft.SecurityContext(spark.newSession(), pm)
    Seq(spark, ext, ctx.spark).foreach(registerViews)
    ext.conf.set(GraftSecurityExtensions.UserKey, User)
    Views.foreach { v =>
      pm.addPolicy(RowFilterPolicy(User, "spark_catalog", "default", v, "a < 8"))
      pm.addPolicy(DataMaskPolicy(User, "spark_catalog", "default", v, "s1", "MASK"))
    }
    (0 until 20).foreach(g => pm.addUserToGroup(s"d$g", s"grp$g"))
    pm.addUserToGroup(User, "grp0")
    val own = 2 * Views.size
    val sql = "SELECT v0.k, v0.s1, v1.s1, v2.s2, v3.a FROM taxv0 v0 " +
      "JOIN taxv1 v1 ON v0.fk = v1.k JOIN taxv2 v2 ON v1.fk = v2.k " +
      "JOIN taxv3 v3 ON v2.fk = v3.k WHERE v0.b > 0"
    val modes: Seq[(String, () => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
      "no_user" -> (() => spark.sql(sql).queryExecution.analyzed),
      "extension" -> (() => ext.sql(sql).queryExecution.analyzed),
      "context" -> (() => ctx.dfMixed(User, sql).queryExecution.analyzed))
    def injected(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): (Int, Int) = {
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
      import graft.plans.SecurityTags
      (p.collect { case f: Filter if f.getTagValue(SecurityTags.RowFilterApplied).contains(true) => f }.size,
        p.collect { case x: Project if x.getTagValue(SecurityTags.MaskApplied).contains(true) => x }.size)
    }
    // JIT warm-up on Catalyst's and the rules' paths, so the first count is
    // not measured on the warm-up curve
    modes.foreach { case (_, analyze) => (1 to 40).foreach(_ => analyze()) }
    var loaded = 0
    val results = counts.map { n =>
      val t0 = System.nanoTime()
      while (loaded < n - own) { addDecoy(pm, loaded); loaded += 1 }
      val loadS = (System.nanoTime() - t0) / 1e9
      System.gc()
      val ms = modes.map { case (name, analyze) =>
        (1 to 3).foreach(_ => analyze())
        val times = (1 to reps).map { _ =>
          val s0 = System.nanoTime(); analyze(); (System.nanoTime() - s0) / 1e6
        }.sorted
        name -> times(times.size / 2)
      }.toMap
      val (ef, em) = injected(modes(1)._2())
      val (cf, cm) = injected(modes(2)._2())
      println(f"[sectax] policies=$n%d load=$loadS%.2f s " +
        modes.map(m => f"${m._1}=${ms(m._1)}%.1f").mkString(" ") +
        s" ms/analyzed (median of $reps); injected filters/masks ext=$ef/$em ctx=$cf/$cm")
      n -> ms
    }
    val (firstN, first) = results.head
    results.tail.foreach { case (n, ms) =>
      println(s"[sectax] ratio policies=$n vs $firstN: " +
        Seq("extension", "context").map(m => f"$m=${ms(m) / first(m)}%.2fx").mkString(" "))
    }
  }

  def main(args: Array[String]): Unit = {
    val dirs = sys.env.get("SPARK_GRAFT_PROBE_DIRS").map(_.split(",").toSeq)
      .getOrElse(Seq("/root/testdata/sf0.1", "/tmp/sf1", "/tmp/sf10"))
    val policyLeg = args.headOption.contains("policies")
    val extensions = if (policyLeg)
      Seq("spark.sql.extensions" -> classOf[graft.plans.GraftSecurityExtensions].getName)
      else Nil
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString, extensions: _*)
    if (policyLeg) {
      policyCountLeg(spark)
      spark.stop()
      return
    }

    for (dir <- dirs) {
      graft.streaming.StreamOps.configureDrainFor(spark, dir)

      // ---- 1. plan parity: policy-injected vs hand-written ----------------
      // AQE off for the snapshot so both plans are compared pre-runtime
      // (same rule set either way; AQE decisions depend on runtime stats,
      // not on which side wrote the filter)
      def manualCurate(): DataFrame = {
        val d = graft.queries.Tables.df(spark, dir, "documents")
        import org.apache.spark.sql.graft.GraftSqlShims.{columnOf, expressionOf}
        val manualIn = d.filter(col("lang") === "en")
          .select(col("doc_id"), col("text"),
            columnOf(graft.functions.MaskFunctions.maskHash(
              Seq(expressionOf(col("source"))))).as("source"))
        graft.operators.TextAnalysis.curate(
            manualIn, "doc_id", "text", minWords = 30, minStopHits = 1)
          .join(manualIn.select(col("doc_id"), col("source")), "doc_id")
          .orderBy(col("doc_id"))
      }
      graft.SparkUtil.withConfs(spark, "spark.sql.adaptive.enabled" -> "false") {
        val secured = graft.SparkEntry.queries("sec_pipeline_curate")(spark, dir)
        val manual = manualCurate()
        val (es, em) = (exchanges(secured), exchanges(manual))
        println(s"[sectax] $dir plan-parity exchanges: sec=$es manual=$em " +
          (if (es == em) "MATCH" else "MISMATCH"))
        println(s"[sectax] $dir sec scans:    ${scanFilters(secured).mkString(" | ")}")
        println(s"[sectax] $dir manual scans: ${scanFilters(manual).mkString(" | ")}")
      }

      // ---- 1b. AQE-ON plan parity (r17 verdict caveat: the static
      // snapshot pins AQE off, but at 100 TB AQE is on and its skew/
      // coalesce/broadcast decisions are made from runtime stats — if the
      // policied side's stats diverged enough to flip a join strategy or
      // split a skewed partition differently, the parity argument would
      // have daylight). Execute both sides under AQE and compare the
      // FINALIZED plans: materialized shuffle count and join strategies
      // must match. ----
      {
        val (ss, js) = aqeFinalSummary(
          graft.SparkEntry.queries("sec_pipeline_curate")(spark, dir))
        val (ms, mj) = aqeFinalSummary(manualCurate())
        println(s"[sectax] $dir AQE-final shuffles: sec=$ss manual=$ms " +
          (if (ss == ms) "MATCH" else "MISMATCH") +
          s"; joins sec=[${js.mkString(",")}] manual=[${mj.mkString(",")}] " +
          (if (js == mj) "MATCH" else "MISMATCH"))
        graft.SparkUtil.release(spark)
      }

      // ---- 2. rewrite-only latency (driver side, no execution) ------------
      val ctx = new graft.SecurityContext(spark)
      graft.queries.Tables.df(spark, dir, "documents")
        .createOrReplaceTempView("documents_sectax")
      ctx.policyManager.addPolicy(graft.policy.RowFilterPolicy(
        "curator", "spark_catalog", "default", "documents_sectax", "lang = 'en'"))
      ctx.policyManager.addPolicy(graft.policy.DataMaskPolicy(
        "curator", "spark_catalog", "default", "documents_sectax", "source", "MASK_HASH"))
      val sql = "SELECT doc_id, text, source FROM documents_sectax"
      ctx.dfMixed("curator", sql) // warm the rule pipeline once, untimed
      val t0 = System.nanoTime()
      val rewriteReps = 20
      (1 to rewriteReps).foreach(_ => ctx.dfMixed("curator", sql))
      println(f"[sectax] $dir rewrite-only latency: " +
        f"${(System.nanoTime() - t0) / 1e6 / rewriteReps}%.1f ms/query " +
        f"($rewriteReps reps, parse+analyze+policy+inject, no execution)")

      // ---- 3. warm runtimes of the verdict's pairs -------------------------
      for (name <- Seq("pipeline_curate", "sec_pipeline_curate",
          "stream_curate", "sec_stream_curate")) {
        val times = (1 to 2).map { _ =>
          val t = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          val s = (System.nanoTime() - t) / 1e9
          graft.SparkUtil.release(spark)
          s
        }
        println(f"[sectax] $dir $name cold=${times.head}%.2f s warm=${times.last}%.2f s")
      }
    }
    spark.stop()
  }
}
