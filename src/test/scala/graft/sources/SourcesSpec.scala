package graft.sources

import graft.SparkFunSuite
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkFunSuite {
  import spark.implicits._

  private def tmp(prefix: String): String = tempDir(prefix).toString

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def sample = Seq(
    (1L, "alpha", 0.5), (2L, "beta", 1.5), (3L, "gamma", 2.5)
  ).toDF("id", "name", "score")

  test("clustered write: disjoint per-file key ranges, content preserved") {
    val dir = tmp("clustered")
    val df = spark.range(1000).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v")
    graft.sources.Sources.writeClustered(df, dir, Seq("id"), files = 4)
    // every file owns a disjoint id range (that is what lets min/max stats
    // prune whole files), and nothing was lost or duplicated
    val perFile = spark.read.parquet(dir)
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(org.apache.spark.sql.functions.min("id").as("lo"),
        org.apache.spark.sql.functions.max("id").as("hi"),
        org.apache.spark.sql.functions.count("*").as("n"))
      .collect()
    assert(perFile.length == 4)
    val ranges = perFile.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).sortBy(_._1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) => assert(hi < lo2) }
    assert(perFile.map(_.getAs[Long]("n")).sum == 1000L)
    assert(spark.read.parquet(dir).agg(
      org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 499500L)
  }

  test("csv round-trip with explicit schema") {
    val dir = tmp("graft_csv")
    sample.write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    val back = Sources.csv(spark, dir, schema)
    assert(back.schema == schema)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      sample.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("json round-trip with explicit schema prunes unlisted fields") {
    val dir = tmp("graft_json")
    sample.withColumn("extra", lit("noise")).write.mode(SaveMode.Overwrite).json(dir)
    val back = Sources.json(spark, dir, schema)
    assert(back.schema == schema) // `extra` pruned at the scan
    assert(back.count() == 3)
  }

  test("orc round-trip with filter pushdown at the scan") {
    val dir = tmp("graft_orc")
    Sources.writeOrc(sample, dir)
    val back = Sources.orc(spark, dir).filter($"id" > 1)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      sample.filter($"id" > 1).orderBy("id").collect().map(_.toSeq).toSeq)
    // the predicate reaches the ORC scan, same machinery as parquet
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      scan.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = tmp("graft_part")
    Sources.writeParquet(sample.withColumn("part", $"id" % 2), dir, Seq("part"))
    val pruned = Sources.parquet(spark, dir).filter($"part" === 0)
    assert(pruned.select("id").as[Long].collect().toSet == Set(2L))
    // the non-matching partition directory is pruned from the scan
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("part=1") || scan.contains("PartitionFilters"))
  }

  test("bucketed tables join without an exchange") {
    val n = 4
    Sources.writeBucketed(sample, "src_bucketed_a", Seq("id"), n)
    Sources.writeBucketed(sample.withColumnRenamed("name", "name2"), "src_bucketed_b", Seq("id"), n)
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(bcKey)
    try {
      spark.conf.set(bcKey, "-1") // force a sort-merge join on tiny inputs
      val joined = spark.table("src_bucketed_a")
        .join(spark.table("src_bucketed_b"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), s"bucketed join should be shuffle-free:\n$plan")
      assert(joined.count() == 3)
    } finally {
      spark.conf.set(bcKey, saved)
      spark.sql("DROP TABLE IF EXISTS src_bucketed_a")
      spark.sql("DROP TABLE IF EXISTS src_bucketed_b")
    }
  }

  test("insertInto appends through the INSERT path") {
    spark.sql("DROP TABLE IF EXISTS src_insert_t")
    spark.sql("CREATE TABLE src_insert_t (id BIGINT, name STRING, score DOUBLE) USING parquet")
    try {
      Sources.insertInto(sample, "src_insert_t")
      assert(spark.table("src_insert_t").count() == 3)
    } finally spark.sql("DROP TABLE IF EXISTS src_insert_t")
  }

  test("streaming parquet source reads with explicit schema") {
    val dir = tmp("graft_stream_src")
    sample.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    val stream = Sources.parquetStream(spark, dir, sample.schema)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("t_src_stream").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("t_src_stream").count() == 3)
  }
}
