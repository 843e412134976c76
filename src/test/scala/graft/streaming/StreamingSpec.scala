package graft.streaming

import graft.SparkFunSuite
import graft.policy.{DataMaskPolicy, RowFilterPolicy}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming parity: the reference runs everything on a streaming engine
  * (SecurityContext.java:106-108); our rules are plan-level and apply
  * unchanged to streaming DataFrames.
  */
class StreamingSpec extends SparkFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("windowed aggregation over the events stream drains to memory") {
    val res = StreamOps.runToMemory(spark,
      StreamOps.hourlyTypeCounts(StreamOps.eventsStream(spark, dir)), "t_stream_agg")
    assert(res.count() > 0)
    // buckets align to the hour
    assert(res.filter(expr("minute(bucket) != 0 OR second(bucket) != 0")).count() == 0)
  }

  test("stream-stream interval join matches the batch range join") {
    import spark.implicits._
    val events = StreamOps.eventsStream(spark, dir)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
    val joined = StreamOps.streamIntervalJoin(
      clicks, purchases, Seq("user_id"), "ts", "ts", lowerSec = 0, upperSec = 3599)
      .select(col("event_id"), col("user_id"), col("_r_ts"))
    val got = StreamOps.runToMemory(spark, joined, "t_stream_ivj",
      outputMode = OutputMode.Append())
      .select(col("event_id"), unix_timestamp(col("_r_ts")).as("pts"))
      .as[(Long, Long)].collect().toSet

    // batch truth on the same files: clicks within [purchase, purchase+3599]
    val be = graft.queries.Tables.df(spark, dir, "events")
    val bc = be.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("cts"))
    val bp = be.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_timestamp(col("ts")).as("pts"))
    val want = bc.join(bp, col("user_id") === col("pu") &&
        col("cts") >= col("pts") && col("cts") <= col("pts") + 3599)
      .select(col("event_id"), col("pts")).as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("fence-flushed streaming sessionization equals the batch sessions exactly") {
    val fenced = StreamOps.eventsStreamFenced(spark, dir, fenceAheadSec = 5400)
    val flushed = graft.operators.Sessionize.streamingSessionsFlushed(
      spark, fenced, "user_id", "ts", gapSeconds = 1800)
    val got = StreamOps.runToMemory(spark, flushed.toDF(), "t_fence_sess",
      outputMode = OutputMode.Append(), allowNoDataBatches = true)
      .filter(col("userId") =!= -1L)
      .collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Long]("sessionStart"),
        r.getAs[Long]("sessionEnd"), r.getAs[Long]("nEvents"))).toSet
    val want = graft.operators.Sessionize.sessions(
        graft.queries.Tables.df(spark, dir, "events"), "user_id", "ts", 1800)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    assert(got == want) // no trailing opens left behind: EXACT convergence
    assert(got.nonEmpty)
  }

  test("late replay is dropped BY THE WATERMARK, and only after the one-batch grace") {
    val stream = StreamOps.eventsStreamLateReplay(spark, dir, fenceAheadSec = 7200)
      .withWatermark("ts", "0 seconds")
    val agg = stream.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val saved = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("t_late_drop").start()
    try q.processAllAvailable() finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", saved)
    }
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped > 0, "late rows must be dropped by the watermark " +
      "(numRowsDroppedByWatermark), not merely absent")
    // and the surviving aggregation is exactly the on-time half
    val cutRow = graft.queries.Tables.df(spark, dir, "events")
      .agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head()
    val cut = (cutRow.getLong(0) + cutRow.getLong(1)) / 2
    val got = spark.table("t_late_drop").filter(col("event_type") =!= "__fence__")
    assert(got.filter(unix_timestamp(col("window.end")) <= cut).count() == 0,
      "no fully-below-cut window may survive")
    val want = graft.queries.Tables.df(spark, dir, "events")
      .filter(unix_timestamp(col("ts")) >= cut)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count().count()
    assert(got.count() == want)
  }

  test("streaming dedup drops duplicate keys with watermark-bounded state") {
    val events = StreamOps.eventsStream(spark, dir)
      .withColumn("dup_key", expr("event_id % 100")) // force duplicates
    val deduped = StreamOps.streamingDedup(
      events.select(col("dup_key"), col("ts")), Seq("dup_key"), "ts", "90 days")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("t_stream_dedup").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("t_stream_dedup").count() == 100)
  }

  test("stateful streaming sessionization closes sessions on gaps") {
    import spark.implicits._
    val events = StreamOps.eventsStream(spark, dir)
    val sessions = graft.operators.Sessionize
      .streamingSessions(spark, events, "user_id", "ts", gapSeconds = 1800)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("t_sessions").start()
    try q.processAllAvailable() finally q.stop()
    val closed = spark.table("t_sessions")
    assert(closed.count() > 0)
    // closed streaming sessions are a subset of the batch sessionization
    val batch = graft.operators.Sessionize.sessions(
      graft.queries.Tables.df(spark, dir, "events"), "user_id", "ts", 1800)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    val streamed = closed
      .select($"userId", $"sessionStart", $"sessionEnd", $"nEvents")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed.subsetOf(batch))
  }

  test("late cross-batch event does not regress the open session's end") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val events = mem.toDF()
      .select(col("_1").as("user_id"), timestamp_seconds(col("_2")).as("ts"))
    val sessions = graft.operators.Sessionize
      .streamingSessions(spark, events, "user_id", "ts", gapSeconds = 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("t_late_sessions").start()
    try {
      mem.addData((1L, 100L), (1L, 1000L)); q.processAllAvailable()
      mem.addData((1L, 500L)); q.processAllAvailable() // late, inside session
      mem.addData((1L, 1600L)); q.processAllAvailable() // 1600-1000 <= gap: same session
      mem.addData((1L, 5000L)); q.processAllAvailable() // closes it
    } finally q.stop()
    val closed = spark.table("t_late_sessions")
      .select($"userId", $"sessionStart", $"sessionEnd", $"nEvents")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // without end = max(end, t) the late 500 regressed end to 500 and 1600
    // wrongly opened a second session
    assert(closed == Seq((1L, 100L, 1600L, 4L)))
  }

  test("event-time timeout flushes trailing sessions to batch parity") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val events = mem.toDF()
      .select(col("_1").as("user_id"), timestamp_seconds(col("_2")).as("ts"))
    val sessions = graft.operators.Sessionize
      .streamingSessionsFlushed(spark, events, "user_id", "ts", gapSeconds = 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("t_flushed_sessions").start()
    val data = Seq((1L, 100L), (1L, 200L), (2L, 150L), (1L, 2000L))
    try {
      mem.addData(data.take(3): _*); q.processAllAvailable()
      mem.addData(data(3)); q.processAllAvailable() // gap-closes user 1's first
      // sentinel far past every open session's end + gap: the watermark
      // advance flushes users 1 and 2 with NO further events for them
      mem.addData((9L, 100000L)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_flushed_sessions")
      .filter($"userId" =!= 9L)
      .select($"userId", $"sessionStart", $"sessionEnd", $"nEvents")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Sessionize.sessions(
      data.toDF("user_id", "epoch")
        .select(col("user_id"), timestamp_seconds(col("epoch")).as("ts")),
      "user_id", "ts", 1000)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    // trailing sessions (user 1 @ 2000, user 2 @ 150) included — full parity,
    // not the closed-only subset streamingSessions gives
    assert(streamed == batch)
    assert(batch.contains((1L, 2000L, 2000L, 1L)) && batch.contains((2L, 150L, 150L, 1L)))
  }

  test("streaming incremental dedup drops indexed dups and self-dedups across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about database engines and query optimizers"))
      .toDF("doc_id", "text")
    val tables = Seq("mh_stream_t", "mh_stream_t_sets", "mh_stream_t_meta", "t_incr_sink")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.operators.Dedup.minhashWriteBucketed(corpus, "mh_stream_t",
        "doc_id", "text", numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingIncrementalDedup(stream, "mh_stream_t",
        "doc_id", "text", "t_incr_sink", maxBucket = Int.MaxValue, threshold = 0.7)
      try {
        // batch 1: 101 duplicates corpus doc 1 (dropped); 102 is new (kept,
        // and appended to the index)
        mem.addData(
          (101L, "the quick brown fox jumps over the lazy dog near the river bank today"),
          (102L, "a wholly unique report concerning volcanic geology and magma flows"))
        q.processAllAvailable()
        // batch 2: 103 duplicates batch 1's SURVIVOR 102 — only the extended
        // index can know that; 104 is new
        mem.addData(
          (103L, "a wholly unique report concerning volcanic geology and magma flows"),
          (104L, "yet another fresh subject entirely unrelated to anything indexed"))
        q.processAllAvailable()
      } finally q.stop()
      val kept = spark.table("t_incr_sink").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(102L, 104L))
      // the index grew by exactly the survivors (2 corpus + 2 kept)
      assert(spark.table("mh_stream_t_sets").count() == 4)
      assert(spark.table("mh_stream_t_sets").select("doc_id").as[Long]
        .collect().toSet == Set(1L, 2L, 102L, 104L))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming exact dedup collapses batch dups and extends the hash index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about database engines and query optimizers"))
      .toDF("doc_id", "text")
    val tables = Seq("ex_stream_t", "t_ex_sink")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.operators.Dedup.exactWriteBucketed(corpus, "ex_stream_t",
        "doc_id", "text", numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingExactDedup(stream, "ex_stream_t",
        "doc_id", "text", "t_ex_sink")
      try {
        // batch 1: 101 clones corpus doc 1 (dropped); 102 and 103 are the
        // SAME new content (within-batch collapse keeps only 102)
        mem.addData(
          (101L, "the quick brown fox jumps over the lazy dog near the river bank today"),
          (102L, "a wholly unique report concerning volcanic geology and magma flows"),
          (103L, "a wholly unique report concerning volcanic geology and magma flows"))
        q.processAllAvailable()
        // batch 2: 104 clones batch 1's survivor 102 — only the extended
        // index can know that; 105 is new
        mem.addData(
          (104L, "a wholly unique report concerning volcanic geology and magma flows"),
          (105L, "yet another fresh subject entirely unrelated to anything indexed"))
        q.processAllAvailable()
      } finally q.stop()
      val kept = spark.table("t_ex_sink").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(102L, 105L))
      // the index grew by exactly the survivors' hashes
      assert(spark.table("ex_stream_t").count() == 4)
      assert(spark.table("ex_stream_t").select("id").as[Long].collect().toSet ==
        Set(1L, 2L, 102L, 105L))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming substring dedup drops window-sharing docs and extends the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about database engines and query optimizers"))
      .toDF("doc_id", "text")
    val tables = Seq("ss_stream_t", "ss_stream_t_meta", "t_ss_sink")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.operators.Dedup.substringWriteBucketed(corpus, "ss_stream_t",
        "doc_id", "text", windowTokens = 5, numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingSubstringDedup(stream, "ss_stream_t",
        "doc_id", "text", "t_ss_sink", maxBucket = Int.MaxValue)
      try {
        // batch 1: 101 embeds a 5-token window of corpus doc 1 (dropped);
        // 102 shares nothing (kept, windows appended)
        mem.addData(
          (101L, "xx yy the quick brown fox jumps over zz"),
          (102L, "a wholly unique report concerning volcanic geology and magma flows"))
        q.processAllAvailable()
        // batch 2: 103 clones batch 1's SURVIVOR 102 — only the extended
        // index can know that; 104 is new
        mem.addData(
          (103L, "a wholly unique report concerning volcanic geology and magma flows"),
          (104L, "yet another fresh subject entirely unrelated to anything indexed"))
        q.processAllAvailable()
      } finally q.stop()
      val kept = spark.table("t_ss_sink").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(102L, 104L))
      // the index holds windows for the corpus plus exactly the survivors
      assert(spark.table("ss_stream_t").select("doc_id").as[Long]
        .collect().toSet == Set(1L, 2L, 102L, 104L))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming paragraph dedup drops indexed and cross-batch banners, extends the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, "BANNER\n\nfirst doc body"),
      (2L, "second doc body\n\nFOOTER")).toDF("doc_id", "text")
    val tables = Seq("para_stream_t", "t_para_sink")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.operators.Dedup.paragraphWriteBucketed(corpus, "para_stream_t",
        "doc_id", "text", numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingParagraphDedup(stream, "para_stream_t",
        "doc_id", "text", "t_para_sink")
      try {
        // batch 1: 101 carries the indexed BANNER (dropped) + a new body;
        // 102 is ONLY indexed paragraphs -> no survivors, never sinks
        mem.addData((101L, "BANNER\n\nnovel body one\n\nNEW BANNER"),
          (102L, "BANNER\n\nFOOTER"))
        q.processAllAvailable()
        // batch 2: 103 repeats batch 1's NEW BANNER — only the extended
        // index can know that; its own body survives
        mem.addData((103L, "NEW BANNER\n\nnovel body three"))
        q.processAllAvailable()
      } finally q.stop()
      val sunk = spark.table("t_para_sink")
        .select($"doc_id", $"n_paras", $"n_kept", $"clean_text")
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(sunk.keySet == Set(101L, 103L)) // 102 had zero survivors
      assert(sunk(101L) == ((3L, 2L, "novel body one\n\nNEW BANNER")))
      assert(sunk(103L) == ((2L, 1L, "novel body three"))) // NEW BANNER known via extended index
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming IVF-PQ ingest: micro-batch appends equal one batch append, models never drift") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding")
    val tables = Seq("ivfpq_stream_t", "ivfpq_stream_t_centroids", "ivfpq_stream_t_codebooks",
      "ivfpq_batch_t", "ivfpq_batch_t_centroids", "ivfpq_batch_t_codebooks")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.operators.Similarity.ivfpqWriteBucketed(corpus, "ivfpq_stream_t",
        "vec_id", "embedding", nlist = 2, m = 2, ksub = 4, numBuckets = 4,
        sampleSize = 4, iters = 0)
      val modelsBefore = (spark.table("ivfpq_stream_t_centroids").collect().toSet,
        spark.table("ivfpq_stream_t_codebooks").collect().toSet)
      val mem = MemoryStream[(Long, Array[Float])]
      val stream = mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
      val q = StreamOps.streamingIvfPqIngest(stream, "ivfpq_stream_t", "vec_id", "embedding")
      try {
        mem.addData((101L, Array(1f, 0.1f, 0f, 0f)), (102L, Array(0f, 1f, 0.1f, 0f)))
        q.processAllAvailable()
        mem.addData((103L, Array(0f, 0f, 1f, 0.1f)))
        q.processAllAvailable()
      } finally q.stop()
      // the index grew by exactly the streamed rows; both quantizer side
      // tables are untouched
      assert(spark.table("ivfpq_stream_t").select("vec_id").as[Long]
        .collect().toSet == Set(1L, 2L, 3L, 4L, 101L, 102L, 103L))
      assert((spark.table("ivfpq_stream_t_centroids").collect().toSet,
        spark.table("ivfpq_stream_t_codebooks").collect().toSet) == modelsBefore)
      // batch-path parity: one batch append of the same three rows against a
      // fresh copy of the index yields IDENTICAL rows (cell + codes depend
      // only on the persisted models, never on batch slicing)
      graft.operators.Similarity.ivfpqWriteBucketed(corpus, "ivfpq_batch_t",
        "vec_id", "embedding", nlist = 2, m = 2, ksub = 4, numBuckets = 4,
        sampleSize = 4, iters = 0)
      val oneBatch = Seq((101L, Array(1f, 0.1f, 0f, 0f)), (102L, Array(0f, 1f, 0.1f, 0f)),
        (103L, Array(0f, 0f, 1f, 0.1f))).toDF("vec_id", "embedding")
      graft.operators.Similarity.ivfpqAppendToIndex(oneBatch, "ivfpq_batch_t",
        "vec_id", "embedding")
      val streamRows = spark.table("ivfpq_stream_t")
        .select($"vec_id", $"_cell", $"_codes").as[(Long, Int, Seq[Int])].collect().toSet
      val batchRows = spark.table("ivfpq_batch_t")
        .select($"vec_id", $"_cell", $"_codes").as[(Long, Int, Seq[Int])].collect().toSet
      assert(streamRows == batchRows)
      // and the probe finds the streamed rows through the pruned scan: each
      // streamed vector quantizes to the same codes as its corpus anchor
      // (identical ADC scores), so the anchor wins rank 1 by vec_id
      // tiebreak and the streamed row fills rank 2
      val probes = oneBatch.select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val topTwo = graft.operators.Similarity.ivfpqTopKFromBucketed(spark,
        "ivfpq_stream_t", probes, "vec_id", "query_id", "qv", k = 2, nprobe = 2)
        .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      assert((101L to 103L).forall(q0 => topTwo(q0) == Seq(q0 - 100, q0)), s"got $topTwo")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming BM25 ingest: micro-batch appends probe identically to one batch append") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq((1L, "cat cat dog bird"), (2L, "cat fish")).toDF("doc_id", "text")
    val newDocs = Seq((3L, "dog dog bird cat"), (4L, "fish bird"), (5L, "cat dog"))
    val tables = Seq("bm25_stream_t", "bm25_stream_t_stats", "bm25_stream_t_meta",
      "bm25_batch_t", "bm25_batch_t_stats", "bm25_batch_t_meta")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.operators.Retrieval.bm25WriteBucketed(corpus, "bm25_stream_t",
        "doc_id", "text", numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingBm25Ingest(stream, "bm25_stream_t", "doc_id", "text")
      try {
        mem.addData(newDocs(0)); q.processAllAvailable()
        mem.addData(newDocs(1), newDocs(2)); q.processAllAvailable()
      } finally q.stop()
      // two stats-delta rows landed (one per micro-batch) and the summed
      // corpus statistics equal the batch-append path's
      assert(spark.table("bm25_stream_t_stats").count() === 3) // build + 2 batches
      graft.operators.Retrieval.bm25WriteBucketed(corpus, "bm25_batch_t",
        "doc_id", "text", numBuckets = 4)
      graft.operators.Retrieval.bm25AppendToIndex(newDocs.toDF("doc_id", "text"),
        "bm25_batch_t", "doc_id", "text")
      val queries = Seq((1, "cat"), (2, "bird"), (2, "fish")).toDF("query_id", "term")
      val viaStream = graft.operators.Retrieval.bm25TopKFromIndex(queries,
        "bm25_stream_t", "doc_id", 10).collect().toSet
      val viaBatch = graft.operators.Retrieval.bm25TopKFromIndex(queries,
        "bm25_batch_t", "doc_id", 10).collect().toSet
      assert(viaStream == viaBatch && viaStream.nonEmpty)
      // and both equal the ad-hoc path over the full corpus
      val adhoc = graft.operators.Retrieval.bm25TopK(
        corpus.unionAll(newDocs.toDF("doc_id", "text")), "doc_id", "text",
        queries, 10).collect().toSet
      assert(viaStream == adhoc)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming aggregate maintenance: micro-batched changelog keeps the persisted state equal to recompute") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.ChangeLog
    val prev = Seq((1L, "g1", 10), (2L, "g1", 20), (3L, "g2", 5),
      (4L, "g3", 7)).toDF("id", "g", "v")
    val next = Seq((1L, "g1", 15), (2L, "g2", 20), (3L, "g2", 5),
      (5L, "g4", 9)).toDF("id", "g", "v")
    val tables = Seq("ivm_state_t", "ivm_state_t_staged", "ivm_state_t_old")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      ChangeLog.aggStateWriteBucketed(prev, "ivm_state_t", "g", Seq("v"),
        numBuckets = 4)
      val changes = ChangeLog.fromSnapshotsFull(prev, next, "id", Seq("g", "v"))
        .as[(Long, String, Option[String], Option[Int], Option[String], Option[Int])]
        .collect()
      // hand-split: the U/D rows first, the insert in its own later batch
      val mem = MemoryStream[(Long, String, Option[String], Option[Int], Option[String], Option[Int])]
      val stream = mem.toDF().select(col("_1").as("id"), col("_2").as("op"),
        col("_3").as("g_before"), col("_4").as("v_before"),
        col("_5").as("g_after"), col("_6").as("v_after"))
      val q = StreamOps.streamingAggMaintain(stream, "ivm_state_t", "op",
        "g", Seq("v"))
      try {
        mem.addData(changes.filter(_._2 != "I").toIndexedSeq)
        q.processAllAvailable()
        mem.addData(changes.filter(_._2 == "I").toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      val maintained = spark.table("ivm_state_t")
        .orderBy("g").as[(String, Long, Long)].collect().toSeq
      assert(maintained === Seq(("g1", 1L, 15L), ("g2", 2L, 25L), ("g4", 1L, 9L)))
      // the swap preserved the bucket layout for the next exchange-free join
      val spec = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser
          .parseTableIdentifier("ivm_state_t")).bucketSpec
      assert(spec.exists(s => s.bucketColumnNames == Seq("g") && s.numBuckets == 4))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming semantic dedup drops indexed near-dups and extends the IVF index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val tables = Seq("sem_stream_t", "sem_stream_t_centroids", "t_sem_sink")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.operators.Similarity.ivfWriteBucketed(corpus, "sem_stream_t",
        "vec_id", "embedding", nlist = 2, numBuckets = 4)
      val centroidsBefore = spark.table("sem_stream_t_centroids").collect().toSet
      val mem = MemoryStream[(Long, Array[Float])]
      val stream = mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
      val q = StreamOps.streamingSemanticDedup(stream, "sem_stream_t",
        "vec_id", "embedding", "t_sem_sink", threshold = 0.9,
        maxCell = Int.MaxValue)
      try {
        // batch 1: 101 clones corpus vector 1 (cosine 1.0 -> dropped); 102
        // is orthogonal to everything indexed (kept, appended to the index)
        mem.addData((101L, Array(1f, 0f, 0f, 0f)), (102L, Array(0f, 0f, 1f, 0f)))
        q.processAllAvailable()
        // batch 2: 103 clones batch 1's SURVIVOR 102 — only the extended
        // index can know that; 104 is new
        mem.addData((103L, Array(0f, 0f, 1f, 0f)), (104L, Array(0f, 0f, 0f, 1f)))
        q.processAllAvailable()
      } finally q.stop()
      val kept = spark.table("t_sem_sink").select("vec_id").as[Long].collect().toSet
      assert(kept == Set(102L, 104L))
      // the index grew by exactly the survivors, through the persisted
      // quantizer (no centroid drift)
      assert(spark.table("sem_stream_t").select("vec_id").as[Long]
        .collect().toSet == Set(1L, 2L, 102L, 104L))
      assert(spark.table("sem_stream_t_centroids").collect().toSet == centroidsBefore)
      // batch-path parity: the same two batches pushed through the batch
      // operators against a fresh copy of the original index keep the same
      // ids (the streaming query is foreachBatch over exactly this plan)
      val batches = Seq(
        Seq((101L, Array(1f, 0f, 0f, 0f)), (102L, Array(0f, 0f, 1f, 0f))),
        Seq((103L, Array(0f, 0f, 1f, 0f)), (104L, Array(0f, 0f, 0f, 1f))))
      Seq("sem_stream_b", "sem_stream_b_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      try {
        graft.operators.Similarity.ivfWriteBucketed(corpus, "sem_stream_b",
          "vec_id", "embedding", nlist = 2, numBuckets = 4)
        val batchKept = batches.flatMap { b =>
          val df = b.toDF("vec_id", "embedding")
          val dupIds = graft.operators.Dedup.semanticDedupIncremental(df,
            "sem_stream_b", "vec_id", "embedding", threshold = 0.9,
            maxCell = Int.MaxValue).select(col("batch_id").as("vec_id")).distinct()
          val survivors = df.join(dupIds, Seq("vec_id"), "left_anti")
            .localCheckpoint(eager = false)
          graft.operators.Similarity.ivfAppendToIndex(survivors, "sem_stream_b",
            "vec_id", "embedding")
          survivors.select("vec_id").as[Long].collect().toSeq
        }.toSet
        assert(batchKept == kept)
      } finally Seq("sem_stream_b", "sem_stream_b_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("security rules rewrite streaming plans (filter + mask on a stream)") {
    val events = StreamOps.eventsStream(spark, dir)
    events.createOrReplaceTempView("events_stream")
    val ctx = new graft.SecurityContext(spark)
    ctx.policyManager.addPolicy(RowFilterPolicy(
      "u", "spark_catalog", "default", "events_stream", "event_type = 'purchase'"))
    ctx.policyManager.addPolicy(DataMaskPolicy(
      "u", "spark_catalog", "default", "events_stream", "props", "MASK_HASH"))
    val secured = ctx.dfMixed("u", "SELECT event_id, event_type, props FROM events_stream")
    assert(secured.isStreaming)
    val q = secured.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_sec").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("t_stream_sec")
    assert(out.count() > 0)
    assert(out.filter(col("event_type") =!= "purchase").count() == 0)
    // props masked to sha256 hex
    assert(out.filter(!col("props").rlike("^[0-9a-f]{64}$")).count() == 0)
  }

  test("streaming decontamination drops bench-overlapping docs map-side") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bench = Seq((100L, "the secret benchmark answer is forty two"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val clean = graft.operators.Contamination.dropContaminated(
      stream, bench, "text", n = 5)
    assert(clean.isStreaming)
    val q = clean.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_decontam").start()
    try {
      mem.addData(
        (1L, "nothing in common with any eval suite at all here folks"),
        (2L, "x the secret benchmark answer is forty z leaked"),
        (3L, "another clean document about volcanic geology and magma flows"))
      q.processAllAvailable()
      mem.addData((4L, "clean again"), (5L, "w the secret benchmark answer is forty two w"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("t_stream_decontam").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("streaming quality filter keeps exactly the batch gopher keepers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.queries.Tables.df(spark, dir, "documents")
      .select($"doc_id", $"text").limit(80).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val gated = graft.operators.TextAnalysis.qualityFilter(stream, "text",
      minWords = 30, minStopHits = 1)
    assert(gated.isStreaming)
    val q = gated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_quality").start()
    try {
      mem.addData(docs.take(40): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(40): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_stream_quality").select("doc_id").as[Long]
      .collect().toSet
    // batch reference: the same gate via the curate/gopher path (real docs,
    // both keep and drop outcomes must occur for the test to mean anything)
    val batchDf = docs.toSeq.toDF("doc_id", "text")
    val expected = graft.operators.TextAnalysis.qualityFilter(batchDf, "text",
      minWords = 30, minStopHits = 1).select("doc_id").as[Long].collect().toSet
    val gopher = graft.operators.TextAnalysis.gopherReport(batchDf, "doc_id", "text",
      minWords = 30, minStopHits = 1)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(streamed == expected)
    assert(expected.subsetOf(gopher)) // the gate adds the repetition rules
    assert(expected.nonEmpty && expected.size < docs.length)
    // pass-through schema: survivors keep the input columns, none of the
    // helper columns leak
    assert(spark.table("t_stream_quality").columns.toSeq == Seq("doc_id", "text"))
  }

  test("compression filter and LR scoring run unchanged on a stream (stateless gates)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.queries.Tables.df(spark, dir, "documents")
      .select($"doc_id", $"text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val batchDf = docs.toSeq.toDF("doc_id", "text")
    // a model fitted OFFLINE scores the stream as plain column arithmetic
    val model = graft.operators.QualityModel.trainLR(
      graft.operators.QualityModel.withFeatures(batchDf, "text")
        .withColumn("_y", (octet_length($"text") >= 300).cast("double")),
      graft.operators.QualityModel.featureColumns("text").map(_._1), "_y")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val gated = graft.operators.QualityModel.scoreWithModel(
      graft.operators.TextAnalysis.compressionFilter(stream, "text",
        minRatio = 0.2, maxRatio = 0.8),
      "text", model)
    assert(gated.isStreaming)
    val q = gated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_lr").start()
    try {
      mem.addData(docs.take(30): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(30): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_stream_lr")
      .select("doc_id", "quality_prob", "quality_pred")
      .as[(Long, Double, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val expected = graft.operators.QualityModel.scoreWithModel(
      graft.operators.TextAnalysis.compressionFilter(batchDf, "text", 0.2, 0.8),
      "text", model)
      .select("doc_id", "quality_prob", "quality_pred")
      .as[(Long, Double, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(streamed == expected)
    assert(expected.nonEmpty)
  }

  test("C4 cleaning runs unchanged on a stream and matches the batch output") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // shaped multi-line docs (the corpus is single-line soup, see
    // text_c4_filter): every rule must fire on the streamed data too
    val docs = graft.queries.Tables.df(spark, dir, "documents")
      .select($"doc_id", concat_ws("\n",
        concat(lit("A first sentence with "), substring($"text", 1, 40),
          lit(" inside.")),
        when($"doc_id" % 3 === 0, lit("short line"))
          .otherwise(lit("Another full sentence with enough words again.")),
        when($"doc_id" % 7 === 0,
          lit("this ends with lorem ipsum boilerplate text"))
          .otherwise(lit("The last line is fine and long enough."))).as("text"))
      .limit(60).collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val cleaned = graft.operators.TextAnalysis.c4Clean(stream, "doc_id", "text")
    assert(cleaned.isStreaming) // stateless projection: no watermark needed
    val q = cleaned.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_c4").start()
    try {
      mem.addData(docs.take(30): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(30): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_stream_c4")
      .as[(Long, Int, Int, Boolean, String)].collect().toSet
    val batch = graft.operators.TextAnalysis
      .c4Clean(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Int, Int, Boolean, String)].collect().toSet
    assert(streamed == batch)
    val keeps = streamed.count(_._4)
    assert(keeps > 0 && keeps < docs.length) // both outcomes occur
  }

  test("MG heavy-hitters sketch aggregates a stream in complete mode with the batch guarantees") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.VectorFunctions.register(spark)
    val mem = MemoryStream[String]
    val stream = mem.toDF().select(col("value").as("t"))
    // the sketch is a TypedImperativeAggregate, so it runs as streaming
    // state like any built-in agg: per-batch partials merge into the store
    val q = stream.agg(expr("graft_mg_topk(t, 4)").as("sk"))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("t_stream_mg").start()
    try {
      mem.addData((1 to 300).map(_ => "heavy") ++ (1 to 100).map(i => s"a$i"): _*)
      q.processAllAvailable()
      mem.addData((1 to 300).map(_ => "heavy") ++ (1 to 100).map(i => s"b$i"): _*)
      q.processAllAvailable()
    } finally q.stop()
    val sk = spark.table("t_stream_mg")
      .select(explode(col("sk")).as("e")).select(col("e.term"), col("e.cnt"))
      .as[(String, Long)].collect().toMap
    // N = 800, k = 4 -> threshold 160; "heavy" (f = 600) must be present
    // with an estimate in [600 - 160, 600]
    assert(sk.size <= 4)
    assert(sk.contains("heavy"), s"heavy missing from $sk")
    assert(sk("heavy") <= 600L && sk("heavy") >= 440L, s"bounds violated: $sk")
  }

  test("winnowing runs unchanged on a stream and matches the batch fingerprints") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.queries.Tables.df(spark, dir, "documents")
      .select($"doc_id", $"text").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    // winnow is a pure map-side projection (HOFs over a let-bound array),
    // so fingerprints compute at ingest with no state store and no shuffle
    val fp = graft.operators.TextAnalysis.winnow(stream, "doc_id", "text", k = 4, w = 4)
    assert(fp.isStreaming)
    val q = fp.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_winnow").start()
    try {
      mem.addData(docs.take(20): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(20): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_stream_winnow")
      .as[(Long, Int, Int, Int, String)].collect().toSet
    val batch = graft.operators.TextAnalysis
      .winnow(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", k = 4, w = 4)
      .as[(Long, Int, Int, Int, String)].collect().toSet
    assert(streamed == batch && streamed.size == 40)
  }

  test("bpe tokenization runs unchanged on a stream and matches the batch sequences") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.queries.Tables.df(spark, dir, "documents")
      .select($"doc_id", $"text").limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // a trained tokenizer is a FIXED merge table at ingest time: train on
    // the batch corpus, then tokenize the stream with it
    val merges = graft.operators.Vocab
      .bpeTrain(docs.toSeq.toDF("doc_id", "text"), "text", numMerges = 4)
      .orderBy($"merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val toks = graft.operators.Vocab
      .bpeTokenizeDocs(stream, "doc_id", "text", merges)
    assert(toks.isStreaming) // stateless projection: no watermark needed
    val q = toks.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_bpe").start()
    try {
      mem.addData(docs.take(30): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(30): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_stream_bpe")
      .as[(Long, Seq[String])].collect().toSet
    val batch = graft.operators.Vocab
      .bpeTokenizeDocs(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toSet
    assert(streamed == batch)
    assert(batch.exists(_._2.nonEmpty))
  }

  test("kmeans assignment and upsampling run unchanged on a stream (stateless maps)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = graft.queries.Tables.df(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").limit(40).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // a fitted model is FIXED centroids at ingest time: train on the batch
    // corpus, then assign the stream with the same narrow map
    val (_, cents) = graft.operators.Clustering.kmeans(
      vecs.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 4, iters = 2, dim = 64)
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val assigned = graft.operators.Clustering.assign(stream, "vec_id", "embedding", cents)
    assert(assigned.isStreaming) // centroids ride the expression: no state, no watermark
    val q = assigned.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_kmeans").start()
    try {
      mem.addData(vecs.take(20): _*)
      q.processAllAvailable()
      mem.addData(vecs.drop(20): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_stream_kmeans").as[(Long, Int)].collect().toSet
    val batch = graft.operators.Clustering.assign(
      vecs.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding", cents)
      .as[(Long, Int)].collect().toSet
    assert(streamed == batch && batch.size == 40)

    // upsample: pure row generation, identical per key on stream and batch
    val docsMem = MemoryStream[(Long, String)]
    val docStream = docsMem.toDF().select(col("_1").as("doc_id"), col("_2").as("lang"))
    val up = graft.operators.Sampling.upsample(docStream, "lang",
      Map("en" -> 2, "de" -> 0))
    assert(up.isStreaming)
    val q2 = up.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("t_stream_upsample").start()
    try {
      docsMem.addData((1L, "en"), (2L, "de"), (3L, "fr"))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.table("t_stream_upsample")
      .select("doc_id", "epoch").as[(Long, Int)].collect().toSet
    assert(got == Set((1L, 0), (1L, 1), (3L, 0))) // en x2, de dropped, fr x1
  }

  test("streamingCurate over empty indexes matches the batch curateFull funnel") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Dedup, TextAnalysis}

    // planted corpus, the pipeline_curate_full shape at test scale: a bench
    // slice (every 17th doc), near-dup clones (+1e6, one extra token) and
    // byte-identical exact dups (+2e6) of a sub-slice
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(120)
    val bench = d.filter(col("doc_id") % 17 === 0)
    val origs = d.filter(col("doc_id") % 17 =!= 0)
    val clones = origs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" graftfuzz")).as("text"))
    val exactDups = origs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    val base = origs.unionAll(clones).unionAll(exactDups)

    val expect = TextAnalysis.curateFull(base, bench, "doc_id", "text",
        minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
        jaccardThreshold = 0.9)
      .select("doc_id").as[Long].collect().toSet

    val tables = Seq("cur_ex_idx", "cur_lsh_idx", "cur_lsh_idx_sets",
      "cur_lsh_idx_meta", "cur_sink")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      // EMPTY indexes: the whole corpus arrives through the stream
      Dedup.exactWriteBucketed(base.limit(0).withColumn("k", col("text")),
        "cur_ex_idx", "doc_id", "k", numBuckets = 4)
      Dedup.minhashWriteBucketed(base.limit(0), "cur_lsh_idx", "doc_id",
        "text", numBuckets = 4)

      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
        df.orderBy("doc_id").as[(Long, String)].collect().toSeq
      val ids = origs.select("doc_id").as[Long].collect().sorted
      val median = ids(ids.length / 2)
      val h1 = origs.filter(col("doc_id") < median)
      val h2 = origs.filter(col("doc_id") >= median)
      // batch 2 carries h2 AND its clones: within-batch near-dups, which the
      // batch-LOCAL fuzzy pass must collapse to the min id. batch 3 carries
      // clones/dups of batch-1 docs: cross-batch, only the extended indexes
      // can know them.
      val batches = Seq(
        rows(h1),
        rows(h2.unionAll(clones.filter(col("doc_id") - 1000000 >= median))),
        rows(clones.filter(col("doc_id") - 1000000 < median).unionAll(exactDups)))

      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingCurate(stream, "cur_ex_idx", "cur_lsh_idx",
        "doc_id", "text", "cur_sink", bench = Some(bench),
        minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue, threshold = 0.9)
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()

      val got = spark.table("cur_sink").select("doc_id").as[Long].collect()
      assert(got.length == got.distinct.length) // nothing appended twice
      assert(got.toSet == expect)
      // sink schema is pass-through: no helper columns leak
      assert(spark.table("cur_sink").columns.sorted.toSeq == Seq("doc_id", "text"))
      // the LSH index grew by exactly the final survivors
      assert(spark.table("cur_lsh_idx_sets").select("doc_id").as[Long]
        .collect().toSet == expect)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("reconcileCurate closes the cross-batch a~b~c chain: stream + reconcile equals batch curateFull") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Dedup, TextAnalysis}

    // the known semantic gap, planted exactly: 14 distinct words give 12
    // distinct trigrams; each extension adds one trigram, so at threshold
    // 0.9 the trigram jaccards are a~b 12/13=.923 and b~c 13/14=.929 (both
    // linked) but a~c 12/14=.857 (NOT linked) — a transitive chain whose
    // middle arrives in its own batch
    val base = "the quick brown foxes jumped over seven lazy sleeping dogs near quiet green rivers"
    val a = (1L, base)
    val b = (2L, base + " alpha")
    val c = (3L, base + " alpha betaa")
    val bench = Seq((100L, "completely unrelated benchmark sentence with different words entirely"))
      .toDF("doc_id", "text")
    val all = Seq(a, b, c).toDF("doc_id", "text")

    // batch semantics: one component {a,b,c}, keeper = min id = a
    val expect = TextAnalysis.curateFull(all, bench, "doc_id", "text",
        minWords = 5, minStopHits = 1, maxBucket = Int.MaxValue,
        jaccardThreshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(expect == Set(1L), s"chain premise broken: batch keeps $expect")

    val tables = Seq("rc_ex_idx", "rc_lsh_idx", "rc_lsh_idx_sets",
      "rc_lsh_idx_meta", "rc_sink", "rc_quar")
    // dropForOverwrite: the warehouse directory outlives the per-process
    // catalog; a leftover location would fail the sink's first CREATE
    tables.foreach(graft.sources.Sources.dropForOverwrite(spark, _))
    try {
      Dedup.exactWriteBucketed(all.limit(0).withColumn("k", col("text")),
        "rc_ex_idx", "doc_id", "k", numBuckets = 4)
      Dedup.minhashWriteBucketed(all.limit(0), "rc_lsh_idx", "doc_id",
        "text", numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingCurate(stream, "rc_ex_idx", "rc_lsh_idx",
        "doc_id", "text", "rc_sink", bench = Some(bench),
        minWords = 5, minStopHits = 1, maxBucket = Int.MaxValue,
        threshold = 0.9, quarantineTable = Some("rc_quar"))
      try Seq(a, b, c).foreach { d => mem.addData(d); q.processAllAvailable() }
      finally q.stop()

      // the stream keeps a AND c: b was dropped against a, so c never met
      // its only link; b is quarantined verbatim
      val sink = spark.table("rc_sink").select("doc_id").as[Long].collect().toSet
      assert(sink == Set(1L, 3L), s"stream premise broken: sink = $sink")
      assert(spark.table("rc_quar").select("doc_id").as[Long].collect().toSet
        == Set(2L))

      val lateDrop = StreamOps.reconcileCurate(spark, "rc_sink", "rc_lsh_idx",
          "rc_quar", "doc_id", "text", maxBucket = Int.MaxValue, threshold = 0.9)
      assert(lateDrop.as[Long].collect().toSet == Set(3L))
      // an empty drop set must be a no-op — never a full sink rewrite
      StreamOps.applyReconcile(spark, "rc_sink",
        lateDrop.filter($"doc_id" < 0), "doc_id")
      assert(spark.table("rc_sink").select("doc_id").as[Long].collect().toSet
        == Set(1L, 3L))
      // the actuator half: rewrite the sink without the late drops through
      // the recoverable staged swap
      StreamOps.applyReconcile(spark, "rc_sink", lateDrop, "doc_id")
      val reconciled = spark.table("rc_sink").select("doc_id").as[Long]
        .collect().toSet
      assert(reconciled == expect) // stream + reconcile ≡ batch, applied
      assert(spark.table("rc_sink").columns.sorted.toSeq == Seq("doc_id", "text"))
    } finally (tables :+ "rc_sink_reconciled" :+ "rc_sink_old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming span dedup trims cross-batch duplicated runs and matches the batch semantics") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq((1L, "a b c p q r s d e")).toDF("doc_id", "text")
    val tables = Seq("ssp_idx", "ssp_idx_meta", "ssp_sink")
    tables.foreach(graft.sources.Sources.dropForOverwrite(spark, _))
    try {
      Dedup.spanWriteBucketed(corpus, "ssp_idx", "doc_id", "text",
        windowTokens = 3, numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
      val q = StreamOps.streamingSpanDedup(stream, "ssp_idx", "doc_id", "text",
        "ssp_sink")
      try {
        // batch 1: corpus run trimmed, fresh run 'f g h i j' survives
        mem.addData((12L, "x y p q r s z"), (13L, "f g h i j"))
        q.processAllAvailable()
        // batch 2: doc 14 repeats batch 1's SURVIVING run -> trimmed via
        // the extended index (cross-batch), plus the corpus run again
        mem.addData((14L, "k l f g h i m"), (15L, "p q r s t"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("ssp_sink").orderBy("doc_id")
        .as[(Long, Int, Int, String)].collect().toList
      assert(got == List(
        (12L, 7, 4, "x y z"),
        (13L, 5, 0, "f g h i j"),
        (14L, 7, 4, "k l m"),
        (15L, 5, 4, "t")))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** High-entropy deterministic ASCII text on disjoint per-seed windows —
    * the ChunkSpec generator discipline (low-entropy or seed-shifted texts
    * would share chunks by construction).
    */
  private def chunkText(n: Int, seed: Int): String =
    new String(Array.tabulate(n) { i =>
      var z = i + seed * 1000003L + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ('0' + ((z ^ (z >>> 31)) & 63)).toChar
    })

  test("streaming chunk dedup drops indexed and cross-batch payload clones, extends the index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Multimodal
    def media(df: org.apache.spark.sql.DataFrame) =
      Multimodal.withFakeMedia(df, "doc_id", "text")
    val corpus = Seq((1L, chunkText(1200, 1)), (2L, chunkText(900, 2)))
      .toDF("doc_id", "text")
    val tables = Seq("chk_stream_t", "chk_stream_t_meta", "t_chk_sink")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Multimodal.chunkWriteBucketed(media(corpus), "chk_stream_t",
        "media_id", "payload", numBuckets = 4)
      val mem = MemoryStream[(Long, String)]
      val stream = media(mem.toDF()
        .select(col("_1").as("doc_id"), col("_2").as("text")))
      val q = StreamOps.streamingChunkDedup(stream, "chk_stream_t",
        "media_id", "payload", "t_chk_sink")
      try {
        // batch 1: 101 clones indexed payload 1 (dropped); 102 is fresh
        // (kept, fps appended)
        mem.addData((101L, chunkText(1200, 1)), (102L, chunkText(1000, 9)))
        q.processAllAvailable()
        // batch 2: 103 clones batch 1's SURVIVOR 102 — only the extended
        // index can know that; 104 is fresh
        mem.addData((103L, chunkText(1000, 9)), (104L, chunkText(1100, 14)))
        q.processAllAvailable()
      } finally q.stop()
      val kept = spark.table("t_chk_sink").select("media_id").as[Long]
        .collect().toSet
      assert(kept == Set(102L, 104L))
      assert(spark.table("chk_stream_t").select("id").as[Long]
        .collect().toSet == Set(1L, 2L, 102L, 104L))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("transformWithState running totals converge to the batch aggregate (RocksDB-only, pinned)") {
    import org.apache.spark.sql.functions._
    // happy path: running (count, cents) folded through the arbitrary-state
    // processor equals the plain batch aggregate — batching-invariant by
    // the monotone-counter construction
    val got = graft.SparkUtil.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      graft.streaming.StreamOps.runToMemory(spark,
          graft.streaming.StreamOps.transformWithStateTotals(spark, dir),
          "tws_spec_out",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), expr("max_by(cents, n)").as("cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val exp = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
    // the operator is RocksDB-ONLY: the HDFS-backed default provider must
    // be rejected at query start, not silently accepted with broken state
    val e = intercept[Exception] {
      graft.streaming.StreamOps.runToMemory(spark,
        graft.streaming.StreamOps.transformWithStateTotals(spark, dir),
        "tws_spec_default_out",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null &&
        (m.contains("RocksDB") || m.toLowerCase.contains("provider"))),
      s"expected a state-store-provider rejection, got: ${chain(e).mkString(" | ")}")
  }

  test("table-routed drain equals the memory sink and skips Complete mode") {
    import org.apache.spark.sql.streaming.OutputMode
    val proj = StreamOps.eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val mem = StreamOps.runToMemory(spark, proj, "drain_mem_out",
      outputMode = OutputMode.Append())
      .collect().map(_.toSeq).toSet
    val viaTable = graft.SparkUtil.withConfs(spark,
      "spark.graft.stream.drain" -> "table") {
      StreamOps.runToMemory(spark, proj, "drain_tbl_out",
        outputMode = OutputMode.Append())
    }
    // routed: the parquet table exists and the returned frame reads it
    // (same rows, _batch_id projected away)
    assert(spark.catalog.tableExists("drain_tbl_out_t"))
    assert(viaTable.columns.toSeq == Seq("event_id", "user_id", "event_type"))
    assert(viaTable.collect().map(_.toSeq).toSet == mem)
    // Complete mode must IGNORE the routing: the memory sink replaces its
    // snapshot per batch where a table drain would append duplicates
    val cmpl = graft.SparkUtil.withConfs(spark,
      "spark.graft.stream.drain" -> "table") {
      StreamOps.runToMemory(spark,
        StreamOps.eventsStream(spark, dir).groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt")), "drain_cmpl_out")
    }
    assert(!spark.catalog.tableExists("drain_cmpl_out_t"))
    assert(cmpl.count() > 0)
  }

  test("table-routed drain leaves no checkpoint/ledger residue; dropDrainResidue reclaims the sink") {
    import org.apache.spark.sql.streaming.OutputMode
    def tmpDrainDirs(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
        .getOrElse(Array.empty).filter(_.startsWith("graft_drain_resid_spec")).toSet
    val before = tmpDrainDirs()
    val proj = StreamOps.eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"))
    val out = graft.SparkUtil.withConfs(spark,
      "spark.graft.stream.drain" -> "table") {
      StreamOps.runToMemory(spark, proj, "resid_spec", outputMode = OutputMode.Append())
    }
    val n = out.count()
    assert(n > 0)
    // a 280-query sf10 sweep must not accumulate per-drain residue: the
    // drain's temp checkpoint is deleted on return and the ledger (only
    // needed DURING the drain) is dropped with it
    assert(tmpDrainDirs() == before,
      "table-routed drain left its temp checkpoint dir behind")
    assert(!spark.catalog.tableExists("resid_spec_tl"),
      "table-routed drain left its ledger table behind")
    // the sink table survives the call (the returned frame reads it) and is
    // reclaimed by the harness hook AFTER consumption
    assert(spark.catalog.tableExists("resid_spec_t"))
    StreamOps.dropDrainResidue(spark)
    assert(!spark.catalog.tableExists("resid_spec_t"))
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    assert(!new java.io.File(wh, "resid_spec_t").exists(),
      "dropDrainResidue left the sink's warehouse directory behind")
  }

  test("per-name dropDrainResidue releases ONLY the named drain") {
    import org.apache.spark.sql.streaming.OutputMode
    val proj = StreamOps.eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"))
    val (a, b) = graft.SparkUtil.withConfs(spark,
      "spark.graft.stream.drain" -> "table") {
      (StreamOps.runToMemory(spark, proj, "resid_pn_a", outputMode = OutputMode.Append()),
        StreamOps.runToMemory(spark, proj, "resid_pn_b", outputMode = OutputMode.Append()))
    }
    assert(a.count() > 0)
    // a's frame is consumed; b's is NOT — the per-name release must leave
    // b's sink table readable (the drop-all form would invalidate it)
    StreamOps.dropDrainResidue(spark, "resid_pn_a")
    assert(!spark.catalog.tableExists("resid_pn_a_t"))
    assert(spark.catalog.tableExists("resid_pn_b_t"))
    assert(b.count() > 0, "unconsumed drain must survive a per-name release")
    // unknown / already-dropped names are no-ops
    StreamOps.dropDrainResidue(spark, "resid_pn_a")
    StreamOps.dropDrainResidue(spark, "never_drained")
    // suite teardown: the drop-all form reclaims the rest
    StreamOps.dropDrainResidue(spark)
    assert(!spark.catalog.tableExists("resid_pn_b_t"))
  }

  test("WatermarkSessionizeProcessor.sweep: interval sweep handles out-of-order events honestly") {
    import graft.streaming.WatermarkSessionizeProcessor.sweep
    val gap = 10L
    def events(ts: Long*): Seq[(Long, Long, Long)] = ts.map(t => (t, t, 1L))
    // in-order (the pinned 0-watermark gate regime)
    assert(sweep(events(1L, 5L, 30L, 35L), gap) == List((1L, 5L, 2L), (30L, 35L, 2L)))
    assert(sweep((100L, 105L, 3L) +: events(110L, 200L), gap) ==
      List((100L, 110L, 4L), (200L, 200L, 1L)))
    // out-of-order WITHIN gap of a stored interval: merges and LOWERS start
    // (the signed t - e0 <= gap fold kept start frozen at s0)
    assert(sweep((100L, 105L, 3L) +: events(95L), gap) == List((95L, 105L, 4L)))
    // event INSIDE a stored interval: count grows, boundaries unchanged
    assert(sweep((100L, 120L, 3L) +: events(110L), gap) == List((100L, 120L, 4L)))
    // out-of-order far EARLIER than a stored interval: its own island
    // (the signed fold silently merged it and never lowered session_start —
    // the ADVICE divergence)
    assert(sweep((100L, 105L, 3L) +: events(50L), gap) ==
      List((50L, 50L, 1L), (100L, 105L, 3L)))
    // and a later in-batch event still merges with that EARLIER island,
    // not with the stored interval (full sweep, not an anchor fold)
    assert(sweep((100L, 105L, 3L) +: events(50L, 55L), gap) ==
      List((50L, 55L, 2L), (100L, 105L, 3L)))
    // earlier island bridging INTO a stored interval collapses to one
    assert(sweep((100L, 105L, 3L) +: events(85L, 93L), gap) == List((85L, 105L, 5L)))
    assert(sweep(Nil, gap).isEmpty)
  }

  test("TrailingWindowCountProcessor.sweep: RANGE counts, tie peers, window eviction") {
    import graft.streaming.TrailingWindowCountProcessor.sweep
    val w = 3600L
    // counts include the buffer carried from prior batches
    val (c1, k1) = sweep(Array(100L), Array(3700L), w)
    assert(c1 == Seq((3700L, 2L))) // 100 is inside [100, 3700]
    assert(k1.toSeq == Seq(100L, 3700L))
    // EVICTION: entries a full window below the newest epoch leave the
    // buffer — per-key state is bounded by the window span
    val (c2, k2) = sweep(Array(0L, 100L), Array(5000L), w)
    assert(c2 == Seq((5000L, 1L)))
    assert(k2.toSeq == Seq(5000L), s"0 and 100 must evict, got ${k2.toSeq}")
    // tie PEERS: every event at te counts all events at te (RANGE
    // semantics), and a cross-batch tie re-emits the upgraded count
    val (c3, _) = sweep(Array.empty[Long], Array(10L, 10L, 20L), w)
    assert(c3 == Seq((10L, 2L), (20L, 3L)))
    val (c4, _) = sweep(Array(10L), Array(10L), w)
    assert(c4 == Seq((10L, 2L))) // monotone: max-reduction picks this one
    // exclusive lower edge: an entry exactly window+1 older is out
    val (c5, _) = sweep(Array(0L), Array(w + 1), w)
    assert(c5 == Seq((w + 1, 1L)))
    val (c6, _) = sweep(Array(1L), Array(w + 1), w)
    assert(c6 == Seq((w + 1, 2L)))
    // EVICTION-BOUNDARY CONTRACT (spec-tested, not just narrated): an event
    // arriving a full window BEHIND an already-evicted entry counts against
    // the SURVIVING buffer only. History 0 then w+1 evicts the 0; a
    // straggler at 5 (within window of the evicted 0, full-history truth 2)
    // reads 1 — the same inherent append-mode limit the sessionizer
    // documents, guaranteed unreachable by the gate plan's non-decreasing
    // per-key batch maxima (watermark discipline).
    val (_, kEv) = sweep(Array(0L), Array(w + 1), w)
    assert(kEv.toSeq == Seq(w + 1)) // precondition: 0 is really gone
    val (cLate, kLate) = sweep(kEv, Array(5L), w)
    assert(cLate == Seq((5L, 1L)),
      "straggler must count only the surviving buffer, not resurrect evicted history")
    // and WITHIN one call the merged view is exact: the same pair arriving
    // together counts the old entry before eviction drops it
    val (cTogether, _) = sweep(Array.empty[Long], Array(0L, 5L, w + 1), w)
    assert(cTogether == Seq((0L, 1L), (5L, 2L), (w + 1, 2L))) // 0 outside w+1's window
    // the straggler joins the kept suffix (it is within window of the
    // newest epoch), so a FURTHER event can still count it
    assert(kLate.toSeq == Seq(5L, w + 1))
  }

  test("bootstrap initial state is load-bearing: cold start misses the full-corpus totals") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val r = ev.agg(min(col("event_id")), max(col("event_id"))).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    // negative control: the SAME stream half through the plain (cold)
    // totals processor counts the stream half alone — if this equaled the
    // full aggregate, the bootstrap oracle would prove nothing
    val coldIsFull = graft.SparkUtil.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      import spark.implicits._
      val stream = graft.streaming.StreamOps.eventsStream(spark, dir)
        .filter(col("event_id") >= mid)
        .select(col("user_id"), cents.as("cents")).as[(Long, Long)]
      val cold = stream.groupByKey(_._1)
        .transformWithState(new graft.streaming.RunningTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n", "cents")
      graft.streaming.StreamOps.runToMemory(spark, cold, "twsb_cold_spec_out",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), expr("max_by(cents, n)").as("c"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    }
    val streamedKeys = ev.filter(col("event_id") >= mid)
      .select(col("user_id")).distinct()
    val full = ev.join(streamedKeys, "user_id")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(cents).as("c"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(coldIsFull != full,
      "cold start equals the full aggregate — the bootstrap gate is vacuous")
    // positive: the warm-started processor DOES hit the full totals
    val warm = graft.SparkUtil.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      graft.streaming.StreamOps.runToMemory(spark,
          graft.streaming.StreamOps.transformWithStateTotalsBootstrap(spark, dir, mid),
          "twsb_warm_spec_out",
          outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), expr("max_by(cents, n)").as("c"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    }
    assert(warm == full)
  }

  test("DistinctValuesProcessor carries its ValueState counter across batches (O(1) emission)") {
    import spark.implicits._
    // two staged batches with an overlapping value: the second batch's
    // emission must be the RUNNING distinct count (3), which only holds if
    // the companion ValueState counter persists and increments on
    // first-insert — a counter recomputed from the batch alone would say 2,
    // one double-counting the replayed 'b' would say 4
    val b0 = Seq((7L, "a"), (7L, "b"), (7L, "a")).toDF("user_id", "event_type")
    val b1 = Seq((7L, "b"), (7L, "c")).toDF("user_id", "event_type")
    val got = graft.SparkUtil.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val ev = StreamOps.stagedStream(spark, Seq(b0, b1))
        .select(col("user_id"), col("event_type")).as[(Long, String)]
      val out = ev.groupByKey(_._1)
        .transformWithState(new DistinctValuesProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n_types")
      StreamOps.runToMemory(spark, out, "twsd_counter_spec_out",
        outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
        .as[(Long, Long)].collect().toSet
    }
    assert(got == Set((7L, 2L), (7L, 3L)))
  }

  test("WatermarkSessionizeProcessor.isSealed: strict boundary — equality keeps the interval open") {
    import graft.streaming.WatermarkSessionizeProcessor.isSealed
    val gap = 1800L
    // wm exactly AT (end+gap): an event at that instant still merges — open
    assert(!isSealed(1000L, gap, (1000L + gap) * 1000L))
    // one ms past: sealed (no admissible event can reach end+gap)
    assert(isSealed(1000L, gap, (1000L + gap) * 1000L + 1L))
    // below: open
    assert(!isSealed(1000L, gap, (1000L + gap) * 1000L - 1L))
  }

  test("bounded-disorder sessionize: stragglers LOWER session_start under a nonzero watermark, and under a 0-second one") {
    import org.apache.spark.sql.streaming.OutputMode
    val gap = 1800L
    // --- fixture property: the disorder REACHES the lowering path --------
    // a session whose batch-oracle FIRST event is a straggler
    // (event_id%5==0) and whose SECOND event is on-time in the SAME slice
    // arrives second-event-first: folding the straggler must LOWER the open
    // session's start. Prove such sessions exist, or the gate is vacuous.
    val ev = graft.queries.Tables.df(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("te"))
    val r = ev.agg(min(col("te")), max(col("te"))).head()
    val w = (r.getLong(1) - r.getLong(0)) / 8 + 1
    val bySession = ev
      .withColumn("slice", floor((col("te") - lit(r.getLong(0))) / w).cast("int"))
      .withColumn("delayed", pmod(col("event_id"), lit(5)) === 0)
      .withColumn("is_new", when(coalesce(col("te") -
        lag(col("te"), 1).over(Window.partitionBy(col("user_id"))
          .orderBy(col("te"), col("event_id"))), lit(gap + 1)) > gap, 1).otherwise(0))
      .withColumn("seq", sum(col("is_new")).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("te"), col("event_id"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"), col("seq"))
          .orderBy(col("te"), col("event_id"))))
    val opener = bySession.filter(col("rk") === 1)
      .select(col("user_id"), col("seq"),
        col("delayed").as("d1"), col("slice").as("s1"))
    val second = bySession.filter(col("rk") === 2)
      .select(col("user_id"), col("seq"),
        col("delayed").as("d2"), col("slice").as("s2"))
    val lowering = opener.join(second, Seq("user_id", "seq"))
      .filter(col("d1") && !col("d2") && col("s1") === col("s2"))
      .count()
    assert(lowering > 0,
      "fixture has no straggler-opened session — the late gate proves nothing")
    // --- the nonzero-watermark run equals the batch gaps-and-islands -----
    val got = graft.SparkEntry.queries("stream_tws_sessionize_late")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val oracle = graft.SparkEntry.queries("stream_tws_sessionize")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got == oracle, "disordered feed diverged from the batch sessions")
    // --- a 0-second watermark is exact on this feed too -----------------
    // each straggler arrives one batch late, inside the engine's late-record
    // lag (late rows are judged by the PREVIOUS batch's watermark), so none
    // is dropped; it is folded before its batch's timers fire, and a session
    // flushed in an earlier batch had end + gap below that batch's watermark,
    // which lies below the straggler's own slice — out of its reach
    val (disordered, _) = StreamOps.eventsStreamBoundedDisorder(spark, dir, gap)
    val zero = graft.SparkUtil.withConfs(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      StreamOps.runToMemory(spark,
        StreamOps.transformWithStateSessionsOn(spark, disordered, gap),
        "twssl_zero_spec_out",
        outputMode = OutputMode.Append(), allowNoDataBatches = true)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
        .collect().map(_.toSeq).toSet
    }
    val full = oracle.map {
      case Seq(u, _, n, ss, se) => Seq(u, ss, se, n)
    }.toSet
    assert(zero == full, "0-second watermark diverged from the batch sessions")
  }

  test("two-batch-late stragglers: a 0-second watermark drops them, the admission delay keeps the batch sessions") {
    import spark.implicits._
    // Stragglers held back TWO batches arrive past the engine's one-batch
    // late-record lag, so a 0-second watermark judges them late. A delay of
    // 3 slice widths W admits every one: in batch k the watermark is at
    // most maxts(through slice k-1) - 3W, below slice k-2. And no session a
    // straggler reaches is flushed before it: that needs end + gap below
    // the same watermark, while such a session has end + gap >= the
    // straggler's own time.
    val rnd = new scala.util.Random(20261021L)
    val gap = 1000L
    val slices = 6
    val events = (0 until 240).map(_ =>
      (rnd.nextInt(8).toLong, rnd.nextInt(120000).toLong))
    val (mn, mx) = (events.map(_._2).min, events.map(_._2).max)
    val w = (mx - mn) / slices + 1
    def sliceOf(t: Long): Int = ((t - mn) / w).toInt
    val tagged = events.zipWithIndex.map { case (e, i) => (e, i % 4 == 0) }
    def df(rows: Seq[(Long, Long)]) = rows
      .map { case (u, t) => (u, new java.sql.Timestamp(t * 1000L)) }
      .toDF("user_id", "ts")
    // batch k: slice k on time plus slice k-2's stragglers; the last batch
    // also carries a fence past every session's flush timer
    val parts = (0 until slices + 2).map { k =>
      df(tagged.collect {
        case ((u, t), d) if (sliceOf(t) == k && !d) || (sliceOf(t) == k - 2 && d) => (u, t)
      } ++ (if (k == slices + 1) Seq((-1L, mx + 3 * w + 3 * gap)) else Nil))
    }
    val oracle = events.groupBy(_._1).flatMap { case (u, es) =>
      val ts = es.map(_._2).sorted
      val islands = ts.tail.foldLeft(List((ts.head, ts.head, 1L))) {
        case ((s, e, c) :: rest, t) =>
          if (t - e <= gap) (s, t, c + 1) :: rest else (t, t, 1L) :: (s, e, c) :: rest
        case (Nil, t) => List((t, t, 1L))
      }
      islands.map { case (s, e, c) => Seq[Any](u, s, e, c) }
    }.toSet
    StreamFixture.within("graft_late2") { fx =>
      fx.stage(parts).arriveAll()
      def sessions(delay: String, name: String) = graft.SparkUtil.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        StreamOps.runToMemory(spark,
          StreamOps.transformWithStateSessionsOn(spark, fx.stream(spark), gap,
            watermarkDelay = delay),
          name, outputMode = OutputMode.Append(), allowNoDataBatches = true)
          .filter(col("user_id") =!= -1L)
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"))
          .collect().map(_.toSeq).toSet
      }
      assert(sessions("0 seconds", "twss_late2_zero_out") != oracle,
        "a 0-second watermark kept two-batch-late stragglers: the delay is not load-bearing")
      assert(sessions(s"${3 * w} seconds", "twss_late2_delay_out") == oracle,
        "the admission delay diverged from the batch sessions")
    }
  }

  test("watermark-paced sessionize: randomized bounded-disorder equivalence with the batch fold") {
    import spark.implicits._
    // seeded random corpora under random one-slice-late holdbacks: every
    // (corpus, holdback) draw must reproduce the batch gaps-and-islands
    // exactly — the randomized twin of the fixture gate, same discipline as
    // the jaccard naive-join sweep. Admission/no-premature-flush holds by
    // the same 2W argument as eventsStreamBoundedDisorder for ANY holdback
    // set, so the equivalence is exact, not probabilistic.
    val rnd = new scala.util.Random(20260816L)
    val gap = 1000L
    val slices = 5
    for (round <- 0 until 3) {
      val n = 150 + rnd.nextInt(100)
      val events = (0 until n).map { i =>
        (rnd.nextInt(8).toLong, rnd.nextInt(100000).toLong)
      }
      val (mn, mx) = (events.map(_._2).min, events.map(_._2).max)
      val w = (mx - mn) / slices + 1
      val delayed = events.map(_ => rnd.nextBoolean() && rnd.nextBoolean())
      def df(rows: Seq[(Long, Long)]) = rows
        .map { case (u, t) => (u, new java.sql.Timestamp(t * 1000L)) }
        .toDF("user_id", "ts")
      def sliceOf(t: Long): Int = ((t - mn) / w).toInt
      val tagged = events.zip(delayed)
      val parts = (0 until slices).map { k =>
        df(tagged.collect {
          case ((u, t), d) if (sliceOf(t) == k && !d) || (sliceOf(t) == k - 1 && d) => (u, t)
        })
      } :+ df(tagged.collect { case ((u, t), d) if sliceOf(t) == slices - 1 && d => (u, t) }
        :+ ((-1L, mx + 2 * w + 3 * gap))) // fence flushes every timer
      val got = graft.SparkUtil.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        StreamOps.runToMemory(spark,
          StreamOps.transformWithStateSessionsOn(spark,
            StreamOps.stagedStream(spark, parts), gap,
            watermarkDelay = s"${2 * w} seconds"),
          s"twssl_rand_${round}_out",
          outputMode = OutputMode.Append(), allowNoDataBatches = true)
          .filter(col("user_id") =!= -1L)
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"))
          .collect().map(_.toSeq).toSet
      }
      // batch truth: per-user gaps-and-islands over ALL events
      val oracle = events.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(_._2).sorted
        val islands = ts.tail.foldLeft(List((ts.head, ts.head, 1L))) {
          case ((s, e, c) :: rest, t) =>
            if (t - e <= gap) (s, t, c + 1) :: rest else (t, t, 1L) :: (s, e, c) :: rest
          case (Nil, t) => List((t, t, 1L))
        }
        islands.map { case (s, e, c) => Seq[Any](u, s, e, c) }
      }.toSet
      assert(got == oracle, s"round $round (n=$n) diverged from the batch fold")
    }
  }

  test("DistinctValuesProcessor restores the counter from a pre-counter checkpoint (state-schema migration)") {
    import spark.implicits._
    // incarnation 1 runs the PRE-COUNTER schema (MapState only, the
    // original O(|seen|) emission) against a real checkpoint; incarnation 2
    // restarts the CURRENT processor from that checkpoint — the restored
    // `seen` map is populated but the companion `count` ValueState does not
    // exist yet, so without the keys()-scan fallback the running count
    // would restart near zero and under-report forever (here: emit 1
    // instead of 3 for the second batch)
    StreamFixture.within("graft_twd_migrate") { fx =>
      val sink = "twd_migrate_sink"
      val ledger = "twd_migrate_ledger"
      Seq(sink, ledger).foreach(graft.sources.Sources.dropForOverwrite(spark, _))
      def drain(proc: org.apache.spark.sql.streaming.StatefulProcessor[
          Long, (Long, String), (Long, Long)]): Unit =
        graft.SparkUtil.withConfs(spark,
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          val counts = fx.stream(spark).as[(Long, String)].groupByKey(_._1)
            .transformWithState(proc,
              org.apache.spark.sql.streaming.TimeMode.None(),
              org.apache.spark.sql.streaming.OutputMode.Update())
            .toDF("user_id", "n_types")
          StreamOps.drainToTable(spark, counts, sink, fx.ckpt.getPath, ledger,
            statePartitions = Some(2),
            outputMode = org.apache.spark.sql.streaming.OutputMode.Update())
        }
      fx.stage(Seq(Seq((7L, "a"), (7L, "b")), Seq((7L, "b"), (7L, "c")))
        .map(_.toDF("user_id", "event_type")))
      fx.arrive(1)
      drain(new LegacyDistinctProcessor) // old schema writes the checkpoint
      fx.arrive(1)
      drain(new DistinctValuesProcessor) // new schema restores from it
      val byBatch = spark.table(sink)
        .groupBy(col("_batch_id")).agg(max(col("n_types")).as("n"))
        .orderBy(col("_batch_id"))
        .select(col("n")).as[Long].collect().toSeq
      assert(byBatch == Seq(2L, 3L),
        s"expected running distinct counts Seq(2, 3) across the migration, got $byBatch")
    }
  }
}

/** The DistinctValuesProcessor state schema as it existed BEFORE the
  * companion ValueState counter: MapState only, O(|seen|) emission. Test
  * double for the migration gate above — writes a checkpoint the current
  * processor must restore without under-counting.
  */
class LegacyDistinctProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, Long)] {
  import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues}
  import org.apache.spark.sql.{Encoders}
  @transient private var seen: MapState[String, Boolean] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getMapState[String, Boolean]("seen",
      Encoders.STRING, Encoders.scalaBoolean,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    rows.foreach { case (_, v) =>
      if (!seen.containsKey(v)) seen.updateValue(v, true)
    }
    Iterator.single((key, seen.keys().size.toLong))
  }
}
