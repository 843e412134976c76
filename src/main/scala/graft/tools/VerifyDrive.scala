package graft.tools

import graft.functions.MaskFunctions

/** Scratch driver for manual end-to-end verification (not part of the API). */
object VerifyDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString)
    MaskFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .createOrReplaceTempView("customer")
    println("== masked projection over real parquet ==")
    spark.sql(
      """select c_custkey, c_name, mask(c_name) as masked,
        |       mask_show_first_n(c_name, 4, 'x', 'x', 'x', -1, '1') as show4,
        |       mask_hash(c_mktsegment) as seg_hash
        |from customer order by c_custkey limit 5""".stripMargin).show(false)
    println("== date mask over real parquet ==")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .createOrReplaceTempView("orders")
    spark.sql(
      """select o_orderdate, mask(o_orderdate, 'x','x','x',-1,'1',1,0,-1) as year_only
        |from orders order by o_orderkey limit 3""".stripMargin).show(false)
    println("== security context over real parquet ==")
    val ctx = new graft.SecurityContext(spark)
    ctx.policyManager.addPolicy(graft.policy.RowFilterPolicy(
      "analyst", "spark_catalog", "default", "customer", "c_mktsegment = 'BUILDING'"))
    ctx.policyManager.addPolicy(graft.policy.DataMaskPolicy(
      "analyst", "spark_catalog", "default", "customer", "c_name", "MASK_SHOW_LAST_4"))
    ctx.mixedExecute("analyst",
      "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey", 5)
      .foreach(println)
    println("== rewritten plan ==")
    println(ctx.mixedRewrite("analyst",
      "SELECT c_custkey, c_name, c_mktsegment FROM customer").treeString)
    println("== deny-overrides-allow + validity windows over real parquet ==")
    val dctx = new graft.SecurityContext(spark)
    dctx.policyManager.clock = () => java.time.Instant.parse("2026-06-15T12:00:00Z")
    // exact-user allow vs wildcard deny: deny must win
    dctx.policyManager.addPolicy(graft.policy.RowFilterPolicy(
      "analyst", "spark_catalog", "default", "orders", "o_orderstatus = 'F'"))
    dctx.policyManager.addPolicy(graft.policy.DenyRowPolicy(
      "*", "spark_catalog", "default", "orders"))
    // windowed filter on customer: expired one ignored, active one applies
    dctx.policyManager.addPolicy(graft.policy.RowFilterPolicy(
      "analyst", "spark_catalog", "default", "customer", "c_acctbal < 0.0",
      validUntil = Some("2026-01-01T00:00:00Z")))
    dctx.policyManager.addPolicy(graft.policy.RowFilterPolicy(
      "analyst", "spark_catalog", "default", "customer", "c_mktsegment = 'BUILDING'",
      validFrom = Some("2026-01-01T00:00:00Z")))
    val deniedN = dctx.dfRowFilter("analyst", "SELECT o_orderkey FROM orders").count()
    val windowedN = dctx.dfRowFilter("analyst", "SELECT c_custkey FROM customer").count()
    val rawCustN = spark.table("customer").count()
    println(s"denied orders rows=$deniedN; windowed customer rows=$windowedN of $rawCustN")
    assert(deniedN == 0, s"wildcard deny must beat the exact allow-filter, got $deniedN rows")
    assert(windowedN > 0 && windowedN < rawCustN,
      "exactly the in-window filter must apply (expired one ignored)")
    println("== bucketed IVF over real embeddings parquet ==")
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS vd_ivf")
    spark.sql("DROP TABLE IF EXISTS vd_ivf_centroids")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.operators.Similarity.ivfWriteBucketed(emb, "vd_ivf", "vec_id", "embedding",
      nlist = 16, numBuckets = 8)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val topk = graft.operators.Similarity.ivfTopKFromBucketed(spark, "vd_ivf", queries,
      "vec_id", "embedding", "query_id", "qv", k = 3, nprobe = 4)
    topk.show(false)
    val plan = topk.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    println(s"bucket pruning: ${sel.map(_.matched).getOrElse("NOT FOUND — PROBLEM")}")
    val self = topk.filter(col("rank") === 1).select("query_id", "vec_id")
      .collect().map(r => r.getLong(0) == r.getLong(1))
    println(s"self-top1 recall: ${self.count(identity)}/${self.length}")
    spark.sql("DROP TABLE IF EXISTS vd_ivf")
    spark.sql("DROP TABLE IF EXISTS vd_ivf_centroids")
    println("== watermark-flushed streaming sessionization over real events parquet ==")
    import org.apache.spark.sql.functions.expr
    val ev = graft.queries.Tables.df(spark, "/root/testdata/sf0.001", "events")
    // file stream over the same parquet; one batch, then the watermark sits at
    // max(ts): sessions ending > gap before it flush with no further data
    val evStream = graft.streaming.StreamOps.eventsStream(spark, "/root/testdata/sf0.001")
    val flushed = graft.operators.Sessionize.streamingSessionsFlushed(
      spark, evStream, "user_id", "ts", gapSeconds = 1800)
    val fq = flushed.writeStream.outputMode("append")
      .format("memory").queryName("vd_flushed").start()
    try fq.processAllAvailable() finally fq.stop()
    val streamedN = spark.table("vd_flushed").count()
    val batchSessions = graft.operators.Sessionize.sessions(ev, "user_id", "ts", 1800)
    val batchN = batchSessions.count()
    val wmax = ev.agg(org.apache.spark.sql.functions.max(expr("unix_timestamp(ts)")))
      .head().getLong(0)
    val flushableN = batchSessions.filter(col("session_end") + 1800 < wmax).count()
    println(s"streamed=$streamedN batch=$batchN flushable(batch sessions ending >gap before max ts)=$flushableN")
    assert(streamedN >= flushableN && streamedN <= batchN,
      s"flushed count $streamedN outside [$flushableN, $batchN]")
    println("== per-source curation report over real documents parquet ==")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rep = graft.operators.TextAnalysis.sourceReport(
      docs, "doc_id", "text", "source", minWords = 30, minStopHits = 1)
    rep.orderBy(col("source")).show(25, false)
    val repRows = rep.collect()
    assert(repRows.nonEmpty, "source report empty")
    assert(repRows.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "n_docs does not partition the corpus")
    assert(repRows.forall { r =>
      val d = r.getAs[Double]("dup_frac"); val k = r.getAs[Double]("keep_frac")
      d >= 0 && d <= 1 && k >= 0 && k <= 1
    }, "fractions out of [0,1]")
    println("== C4 cleaning + canonical pick + shard assignment over real documents parquet ==")
    // shape multi-line docs from the single-line corpus (as text_c4_filter does)
    import org.apache.spark.sql.functions.{concat, concat_ws, length => flen, lit, octet_length, substring, when}
    val shaped = docs.select(col("doc_id"), concat_ws("\n",
      concat(lit("A first sentence with "), substring(col("text"), 1, 40), lit(" inside.")),
      when(col("doc_id") % 3 === 0, lit("short line"))
        .otherwise(lit("Another full sentence with enough words again.")),
      when(col("doc_id") % 7 === 0, lit("this ends with lorem ipsum boilerplate text"))
        .otherwise(lit("The last line is fine and long enough."))).as("text"))
    val c4 = graft.operators.TextAnalysis.c4Clean(shaped, "doc_id", "text")
    c4.orderBy(col("doc_id")).show(5, false)
    val keepN = c4.filter(col("keep")).count()
    println(s"c4 keep: $keepN/${c4.count()}")
    assert(keepN > 0 && keepN < c4.count(), "c4 gate does not discriminate")
    val dd = docs.select(col("doc_id"), col("text"))
    val planted = dd.unionAll(dd.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val picks = graft.operators.Dedup.canonicalPick(
      graft.operators.Dedup.minhashDedup(planted, "doc_id", "text", threshold = 0.9,
        maxBucket = Int.MaxValue),
      planted, "doc_id", octet_length(col("text")))
    picks.orderBy(col("label")).show(5, false)
    assert(picks.filter(col("keep_id") >= 1000000).count() == 0,
      "a planted clone beat its identical original (tiebreak broken)")
    val sharded = graft.operators.Sampling.shardAssign(docs, "doc_id", 8)
    sharded.groupBy(col("shard")).count().orderBy(col("shard")).show()
    assert(sharded.select("shard").distinct().count() > 1, "all rows in one shard")
    println("== k-means inertia via NearestCentroidDist over real embeddings parquet ==")
    // the codegen'd narrow-map form must reproduce the interpreted
    // zip_with/aggregate fold it replaced, bitwise, on real data
    val (_, cents) = graft.operators.Clustering.kmeans(
      emb, "vec_id", "embedding", k = 8, iters = 3, dim = 64)
    val fast = emb.select(col("vec_id"),
        graft.operators.Clustering.assignCol("embedding", cents).as("cell"),
        graft.operators.Clustering.sqDistCol("embedding", cents).as("d"))
    import spark.implicits._
    val cdf = cents.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "centroid")
    val slow = emb.select(col("vec_id"), col("embedding"),
        graft.operators.Clustering.assignCol("embedding", cents).as("cell"))
      .join(org.apache.spark.sql.functions.broadcast(cdf), "cell")
      .withColumn("d2", expr(
        "aggregate(zip_with(embedding, centroid, (p, q) -> (CAST(p AS DOUBLE) - q) * (CAST(p AS DOUBLE) - q)), CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"))
      .select(col("vec_id"), col("d2"))
    val mismatches = fast.join(slow, "vec_id")
      .filter(col("d") =!= col("d2")).count()
    val nrows = emb.count()
    println(s"inertia bitwise parity: ${nrows - mismatches}/$nrows rows identical")
    assert(mismatches == 0, s"$mismatches rows diverge from the HOF fold")
    val statsPlan = fast.queryExecution.executedPlan.toString
    assert(!statsPlan.contains("Exchange") && !statsPlan.contains("Join"),
      "cell+distance projection must be a pure narrow map (no join, no shuffle)")
    println("narrow-map plan: no Exchange/Join in cell+distance projection")
    // probes
    for (bad <- Seq(
      "select mask('a','b','c','d','e','f','g')", // 7 args: unsupported count
      "select mask(o_orderdate,'x','x','x',-1,'1',o_orderkey,0,-1) from orders" // non-literal day
    )) {
      try { spark.sql(bad).collect(); println(s"PROBE-NO-ERROR: $bad") }
      catch { case e: Throwable =>
        println(s"PROBE-ERROR [$bad]: ${e.getClass.getSimpleName}: ${e.getMessage.linesIterator.next()}") }
    }
    spark.stop()
  }
}
