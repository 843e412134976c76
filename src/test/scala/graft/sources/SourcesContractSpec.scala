package graft.sources

import graft.SparkFunSuite
import graft.operators.Multimodal.ImageCodec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Contracts for the round-11 source components: the real image codec, the
  * Kafka-shaped log source, and the in-memory DSv2 catalog.
  */
class SourcesContractSpec extends SparkFunSuite {
  import spark.implicits._

  test("ImageCodec: PNG and BMP round-trip 8-bit gray rasters losslessly") {
    val px = Array.tabulate(64 * 3)(i => (i * 7 % 256).toByte)
    for (fmt <- Seq("png", "bmp")) {
      val bytes = ImageCodec.encodeGray(px, 64, 3, fmt)
      assert(bytes.length > 8, s"$fmt produced no bytes")
      val Some((w, h, out)) = ImageCodec.decodeGray(bytes)
      assert((w, h) == (64, 3), fmt)
      assert(java.util.Arrays.equals(out, px), s"$fmt raster mismatch")
    }
    // PNG magic: a real encoder, not a passthrough
    val png = ImageCodec.encodeGray(px, 64, 3, "png")
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
  }

  test("ImageCodec: corrupt/null payloads decode to None and the zero feature") {
    assert(ImageCodec.decodeGray(null).isEmpty)
    assert(ImageCodec.decodeGray(Array[Byte](1, 2, 3)).isEmpty)
    val (n, feats) = ImageCodec.decodeFeatures("not an image".getBytes)
    assert(n == 0 && feats.forall(_ == 0f))
  }

  test("ImageCodec: features are a normalized 16-bin luma histogram of DECODED pixels") {
    // 4 pixels: 0x00, 0x10, 0x10, 0xFF -> bins 0:1, 1:2, 15:1, each /4
    val px = Array[Byte](0x00, 0x10, 0x10, 0xff.toByte)
    val (n, f) = ImageCodec.decodeFeatures(ImageCodec.encodeGray(px, 2, 2, "png"))
    assert(n == 4)
    assert(f(0) == 0.25f && f(1) == 0.5f && f(15) == 0.25f)
    assert(f.sum == 1.0f)
  }

  test("KafkaShapedLog.schema matches the Spark Kafka source's documented output") {
    // Structured Streaming + Kafka Integration Guide: the source's 7 columns
    val expected = Seq(
      ("key", BinaryType), ("value", BinaryType), ("topic", StringType),
      ("partition", IntegerType), ("offset", LongType),
      ("timestamp", TimestampType), ("timestampType", IntegerType))
    assert(KafkaShapedLog.schema.fields.map(f => (f.name, f.dataType)).toSeq == expected)
  }

  test("KafkaShapedLog: segments replay in append order and decodeJson round-trips typed rows") {
    val dir = tempDir("graft_klog")
    val logDir = new java.io.File(dir, "log")
    val b0 = Seq((1L, "en", 10), (2L, "de", 20)).toDF("doc_id", "lang", "chars")
    val b1 = Seq((3L, "fr", 30)).toDF("doc_id", "lang", "chars")
    KafkaShapedLog.appendSegment(b0, logDir.getPath, "t", 0, "doc_id", Seq("doc_id"))
    KafkaShapedLog.appendSegment(b1, logDir.getPath, "t", 1, "doc_id", Seq("doc_id"))
    // batch-read the log: record shape and offsets
    val raw = spark.read.schema(KafkaShapedLog.schema).parquet(logDir.getPath)
    assert(raw.count() == 3)
    assert(raw.select("topic").distinct().as[String].collect().toSeq == Seq("t"))
    assert(raw.filter(col("offset") >= 1000000L).count() == 1) // segment 1
    // streaming: one segment per micro-batch, decoded rows equal the input
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val decoded = KafkaShapedLog.decodeJson(
      KafkaShapedLog.readStream(spark, logDir.getPath), b0.schema)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Int)]
    val q = decoded.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batches += id
        got ++= batch.select("doc_id", "lang", "chars")
          .as[(Long, String, Int)].collect()
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.size == 2, s"expected 2 micro-batches, got $batches")
    assert(got.sortBy(_._1).toSeq ==
      Seq((1L, "en", 10), (2L, "de", 20), (3L, "fr", 30)))
  }

  test("KafkaShapedLog: Debezium envelope round-trips the changelog shape") {
    // one of each op, with the image rules Debezium documents: c has no
    // before, d has no after, u carries both
    val changes = Seq(
      (1L, "I", null.asInstanceOf[String], 0, "en", 10),
      (2L, "U", "de", 20, "de", 25),
      (3L, "D", "fr", 30, null.asInstanceOf[String], 0))
      .toDF("doc_id", "op", "lang_before", "charsRaw_b", "lang_after", "charsRaw_a")
      .select(col("doc_id"), col("op"),
        when(col("op") =!= "I", col("lang_before")).as("lang_before"),
        when(col("op") =!= "I", col("charsRaw_b")).as("chars_before"),
        when(col("op") =!= "D", col("lang_after")).as("lang_after"),
        when(col("op") =!= "D", col("charsRaw_a")).as("chars_after"))
    val events = KafkaShapedLog.encodeDebezium(changes, "doc_id",
      Seq("lang", "chars"), db = "graft", table = "documents")
    // image nullability per op
    val byOp = events.collect().map(r => r.getString(4) ->
      (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(byOp == Map("c" -> (true, false), "u" -> (false, false),
      "d" -> (false, true)))
    // through the log: value json is a genuine Debezium event
    val dir = tempDir("graft_dbz")
    KafkaShapedLog.appendSegment(events, dir.getPath + "/log", "t", 0,
      "doc_id", Seq("doc_id"))
    val raw = spark.read.schema(KafkaShapedLog.schema)
      .parquet(dir.getPath + "/log")
    val sample = raw.select(col("value").cast("string")).as[String]
      .collect().mkString
    assert(sample.contains("\"op\"") && sample.contains("\"before\"") &&
      sample.contains("\"connector\":\"mysql\""))
    val rowSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("chars", IntegerType)))
    val back = KafkaShapedLog.decodeDebezium(raw, rowSchema, "doc_id")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(4))))
    assert(back.toSeq == Seq(
      (1L, "I", None, Some("en")),
      (2L, "U", Some("de"), Some("de")),
      (3L, "D", Some("fr"), None)))
  }

  test("KafkaShapedLog: Debezium snapshot reads (op r) bootstrap as inserts") {
    val rowSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType)))
    val json =
      """{"before":null,"after":{"doc_id":7,"lang":"en"},
        |"source":{"connector":"mysql","db":"g","table":"d"},
        |"op":"r","ts_ms":1}""".stripMargin.replace("\n", "")
    val log = Seq(json).toDF("v")
      .select(lit(null).cast("binary").as("key"),
        encode(col("v"), "UTF-8").as("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"),
        current_timestamp().as("timestamp"), lit(0).as("timestampType"))
    val out = KafkaShapedLog.decodeDebezium(log, rowSchema, "doc_id").collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 7L && out.head.getString(1) == "I")
  }

  test("KafkaShapedLog: truncate/heartbeat envelope events ('t'/'m') are dropped, not mapped to deletes") {
    val rowSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType)))
    def rec(json: String) = Seq(json).toDF("v")
      .select(lit(null).cast("binary").as("key"),
        encode(col("v"), "UTF-8").as("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"),
        current_timestamp().as("timestamp"), lit(0).as("timestampType"))
    val log = rec("""{"before":null,"after":null,"source":{"connector":"mysql","db":"g","table":"d"},"op":"t","ts_ms":1}""")
      .unionAll(rec("""{"before":null,"after":null,"source":{"connector":"mysql","db":"g","table":"d"},"op":"m","ts_ms":2}"""))
      .unionAll(rec("""{"before":null,"after":{"doc_id":5,"lang":"de"},"source":{"connector":"mysql","db":"g","table":"d"},"op":"c","ts_ms":3}"""))
    val out = KafkaShapedLog.decodeDebezium(log, rowSchema, "doc_id").collect()
    // only the row change survives — a 't'/'m' mapped to 'D' would emit a
    // null-key delete here
    assert(out.length == 1 && out.head.getLong(0) == 5L && out.head.getString(1) == "I")
  }

  test("KafkaShapedLog: envelope schema block carries the emit-time field list; fieldEpochs discovers DDL") {
    val oldChanges = Seq((1L, "I", null.asInstanceOf[String], "en"))
      .toDF("doc_id", "op", "lang_before", "lang_after")
    val newChanges = Seq((2L, "I", null.asInstanceOf[String], "fr",
        null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(9L)))
      .toDF("doc_id", "op", "lang_before", "lang_after", "words_before", "words_after")
    val evOld = KafkaShapedLog.encodeDebezium(oldChanges, "doc_id",
      Seq("lang"), db = "g", table = "d")
    val evNew = KafkaShapedLog.encodeDebezium(newChanges, "doc_id",
      Seq("lang", "words"), db = "g", table = "d")
    val dir = tempDir("graft_ddl")
    KafkaShapedLog.appendSegment(evOld, dir.getPath + "/log", "t", 0, "doc_id", Seq("doc_id"))
    KafkaShapedLog.appendSegment(evNew, dir.getPath + "/log", "t", 1, "doc_id", Seq("doc_id"))
    val raw = spark.read.schema(KafkaShapedLog.schema).parquet(dir.getPath + "/log")
    val epochs = KafkaShapedLog.fieldEpochs(raw).map(_.toSet).toSet
    assert(epochs == Set(Set("doc_id", "lang"), Set("doc_id", "lang", "words")))
    // currentFields: the HEAD (highest-offset) epoch wins in a mixed batch
    // — a late old-schema record must not read as a column drop, and in
    // the drop direction the narrow head epoch must win over wide
    // stragglers
    val mixed = spark.read.schema(KafkaShapedLog.schema).parquet(dir.getPath + "/log")
    assert(KafkaShapedLog.currentFields(mixed).map(_.toSet)
      .contains(Set("doc_id", "lang", "words")))
    KafkaShapedLog.appendSegment(evOld, dir.getPath + "/log2", "t", 0, "doc_id", Seq("doc_id"))
    KafkaShapedLog.appendSegment(evNew, dir.getPath + "/log2", "t", 1, "doc_id", Seq("doc_id"))
    KafkaShapedLog.appendSegment(evOld, dir.getPath + "/log2", "t", 2, "doc_id", Seq("doc_id"))
    val dropped = spark.read.schema(KafkaShapedLog.schema).parquet(dir.getPath + "/log2")
    assert(KafkaShapedLog.currentFields(dropped).map(_.toSet)
      .contains(Set("doc_id", "lang"))) // segment 2 (narrow) is the head
    // schema-less records (no fields block) contribute no epochs
    val bare = Seq("""{"before":null,"after":{"doc_id":1,"lang":"en"},"source":{"connector":"mysql","db":"g","table":"d"},"op":"c","ts_ms":1}""")
      .toDF("v")
      .select(lit(null).cast("binary").as("key"),
        encode(col("v"), "UTF-8").as("value"), lit("t").as("topic"),
        lit(0).as("partition"), lit(0L).as("offset"),
        current_timestamp().as("timestamp"), lit(0).as("timestampType"))
    assert(KafkaShapedLog.fieldEpochs(bare).isEmpty)
  }

  test("GraftMemoryCatalog: 3-part resolution, INSERT INTO, SELECT, truncate-overwrite, DROP") {
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[GraftMemoryCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.kv")
    spark.sql("CREATE TABLE graft_mem.default.kv (k INT, v STRING)")
    spark.sql("INSERT INTO graft_mem.default.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft_mem.default.kv VALUES (3, 'c')")
    val got = spark.table("graft_mem.default.kv").orderBy("k")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
    // filters and aggregates plan over the DSv2 scan like any relation
    assert(spark.sql("SELECT count(*) FROM graft_mem.default.kv WHERE k > 1")
      .as[Long].head() == 2L)
    // INSERT OVERWRITE goes through SupportsTruncate
    spark.sql("INSERT OVERWRITE graft_mem.default.kv VALUES (9, 'z')")
    assert(spark.table("graft_mem.default.kv").as[(Int, String)].collect().toSeq ==
      Seq((9, "z")))
    spark.sql("DROP TABLE graft_mem.default.kv")
    intercept[Exception](spark.table("graft_mem.default.kv").collect())
  }

  test("GraftMemoryCatalog: streaming INSERT (the reference's print-sink shape) appends per epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[GraftMemoryCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.print_sink")
    spark.sql("CREATE TABLE graft_mem.default.print_sink (k INT, v STRING)")
    val mem = MemoryStream[(Int, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        tempDir("graft_ps").toString)
      .toTable("graft_mem.default.print_sink")
    try {
      mem.addData((1, "a")); q.processAllAvailable()
      mem.addData((2, "b"), (3, "c")); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("graft_mem.default.print_sink").orderBy("k")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c")))
    spark.sql("DROP TABLE graft_mem.default.print_sink")
  }

  test("GraftMemoryCatalog: Complete-mode stream REPLACES on every epoch, not just the first") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.catalog.graft_mem",
      classOf[GraftMemoryCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft_mem.default.counts")
    spark.sql("CREATE TABLE graft_mem.default.counts (v STRING, n BIGINT)")
    val mem = MemoryStream[String]
    val agg = mem.toDF().toDF("v").groupBy("v").count().toDF("v", "n")
    val q = agg.writeStream.outputMode("complete")
      .option("checkpointLocation",
        tempDir("graft_cm").toString)
      .toTable("graft_mem.default.counts")
    try {
      mem.addData("a"); q.processAllAvailable()
      mem.addData("a", "b"); q.processAllAvailable()
    } finally q.stop()
    // epoch 2's FULL result only — a truncate-once bug would leave
    // epoch 1's ("a", 1) row unioned in
    val got = spark.table("graft_mem.default.counts").orderBy("v")
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 2L), ("b", 1L)))
    spark.sql("DROP TABLE graft_mem.default.counts")
  }
}
