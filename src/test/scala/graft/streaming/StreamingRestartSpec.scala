package graft.streaming

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Crash-recovery semantics of the stateful foreachBatch ingests (VERDICT
  * r12 #1: the per-batch append discipline is justified as crash/replay
  * semantics — exercise them). The crash is simulated at the exact window
  * Spark replays for: the micro-batch ran to COMPLETION (every append +
  * ledger row landed) but the engine died before recording the commit —
  * offsets are written before a batch and commits after, so deleting the
  * newest `commits/` entry reproduces any kill between those writes. A
  * restarted query then re-executes that batchId over the same
  * offsets-logged input.
  *
  * Three disciplines, three idempotence mechanisms:
  *  - IVM agg maintain: delta application is NOT idempotent — the
  *    [[StreamOps.BatchLedger]] must skip the replay (the negative control
  *    here proves the replay is real: without the ledger the state
  *    double-applies).
  *  - curate funnel: four parquet appends per batch — the ledger skips all
  *    four wholesale.
  *  - BM25 ingest: replay-idempotent BY CONSTRUCTION (the id guard in
  *    bm25AppendToIndex) — no ledger, replay appends zero postings.
  *
  * The oracled `*_restart` queries run the same protocols end-to-end
  * against DuckDB recomputes; this spec pins the per-table append counts
  * and the negative control, which the hash gate can't express.
  */
class StreamingRestartSpec extends SparkFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("agg maintain: ledger makes commit-loss replay a no-op; WITHOUT it the state double-applies (negative control)") {
    import graft.operators.ChangeLog
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), length(col("text")).as("chars"))
      .limit(200)
    val prev = d.filter(col("doc_id") % 3 =!= 0)
    val next = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 5 === 0, col("chars") + 11)
          .otherwise(col("chars")).as("chars"))
    val changes = ChangeLog.fromSnapshotsFull(prev, next, "doc_id",
      Seq("lang", "chars"))
    assert(!changes.isEmpty, "fixture premise: the snapshot diff has changes")

    def stateRows(table: String): Set[(String, Long, Long)] =
      spark.table(table).collect()
        .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("sum_chars"))).toSet

    def runProtocol(state: String, ledger: Option[String],
        crash: Boolean): Set[(String, Long, Long)] = {
      val tables = Seq(state, s"${state}_staged", s"${state}_old") ++ ledger
      tables.foreach(graft.sources.Sources.dropForOverwrite(spark, _))
      ChangeLog.aggStateWriteBucketed(prev, state, "lang", Seq("chars"),
        numBuckets = 4)
      StreamFixture.within("graft_rst_ivm") { fx =>
        fx.stage(Seq(changes))
        def drain(): Unit = {
          val q = StreamOps.streamingAggMaintain(fx.stream(spark), state, "op", "lang",
            Seq("chars"), checkpointDir = Some(fx.ckpt.getPath), ledgerTable = ledger)
          try q.processAllAvailable() finally q.stop()
        }
        fx.arrive(1); drain()
        if (crash) { fx.crash(); drain() } // replay, no new data
        stateRows(state)
      }
    }

    // control: uninterrupted single application
    val once = runProtocol("rst_ivm_ctl", None, crash = false)
    // with the ledger, the replayed batch is skipped -> state identical
    val guarded = runProtocol("rst_ivm_led", Some("rst_ivm_ledger"), crash = true)
    assert(guarded == once, "ledger-guarded replay must not change the state")
    // ledger holds batch 0 exactly once (the replay did not re-record)
    assert(spark.table("rst_ivm_ledger").collect().map(_.getLong(0)).toSeq == Seq(0L))
    // NEGATIVE CONTROL: without the ledger the same replay double-applies —
    // this is what proves the commit deletion really re-executes the batch
    val unguarded = runProtocol("rst_ivm_raw", None, crash = true)
    assert(unguarded != once,
      "unguarded replay should double-apply; if equal, the replay never happened and the gates are vacuous")
  }

  test("curate funnel: commit-loss replay is a no-op across ALL FOUR appends (sink, quarantine path, both indexes)") {
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(120)
    val bench = d.filter(col("doc_id") % 17 === 0)
    val origs = d.filter(col("doc_id") % 17 =!= 0)
    val clones = origs.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" graftfuzz")).as("text"))
    val base = origs.unionAll(clones)
    val expect = TextAnalysis.curateFull(base, bench, "doc_id", "text",
        minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
        jaccardThreshold = 0.9)
      .select("doc_id").as[Long].collect().toSet

    val tables = Seq("rst_cur_ex", "rst_cur_lsh", "rst_cur_lsh_sets",
      "rst_cur_lsh_meta", "rst_cur_sink", "rst_cur_quar", "rst_cur_ledger")
    tables.foreach(graft.sources.Sources.dropForOverwrite(spark, _))
    try StreamFixture.within("graft_rst_cur") { fx =>
      Dedup.exactWriteBucketed(base.limit(0).withColumn("k", col("text")),
        "rst_cur_ex", "doc_id", "k", numBuckets = 4)
      Dedup.minhashWriteBucketed(base.limit(0), "rst_cur_lsh", "doc_id",
        "text", numBuckets = 4)
      fx.stage(Seq(origs, clones))
      def drain(): Unit = {
        val q = StreamOps.streamingCurate(fx.stream(spark), "rst_cur_ex", "rst_cur_lsh",
          "doc_id", "text", "rst_cur_sink", bench = Some(bench),
          minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
          threshold = 0.9, quarantineTable = Some("rst_cur_quar"),
          checkpointDir = Some(fx.ckpt.getPath), ledgerTable = Some("rst_cur_ledger"))
        try q.processAllAvailable() finally q.stop()
      }
      fx.arrive(1); drain()
      val counts0 = Seq("rst_cur_sink", "rst_cur_quar", "rst_cur_ex",
        "rst_cur_lsh", "rst_cur_lsh_sets", "rst_cur_ledger")
        .map(t => t -> spark.table(t).count()).toMap
      assert(counts0("rst_cur_sink") > 0 && counts0("rst_cur_ex") > 0 &&
        counts0("rst_cur_lsh") > 0, s"batch 0 premise: appends happened ($counts0)")
      // crash after completion; restart with NO new files -> pure replay
      fx.crash(); drain()
      val counts1 = counts0.keys.map(t => t -> spark.table(t).count()).toMap
      assert(counts1 == counts0,
        s"replayed batch must be a no-op across every append: $counts0 -> $counts1")
      // then the clones arrive and curate against the batch-0 index
      fx.arrive(1); drain()
      val got = spark.table("rst_cur_sink").select("doc_id").as[Long].collect()
      assert(got.length == got.distinct.length, "nothing appended twice")
      assert(got.toSet == expect, "restart + replay still lands the batch keeper set")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("RocksDB state store: crash-restart protocol lands identical sessions, with real snapshot artifacts") {
    // the 100 TB state engine (disk-backed, heap-independent) must be
    // invisible to results INCLUDING across a crash-restart: run the
    // session-window phase protocol (commit-drop between phases) under the
    // default heap provider and under RocksDB — same sessions, and the
    // RocksDB checkpoint must hold its own snapshot layout (the proof the
    // provider was engaged, not silently defaulted).
    val ev = StreamOps.fencibleEvents(spark, dir)
    val r = ev.agg(min(unix_timestamp(col("ts"))),
      max(unix_timestamp(col("ts")))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val cut = (mn + mx) / 2
    def runProtocol(provider: Option[String], tag: String): Set[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)] =
        StreamFixture.within(s"graft_rst_sw_$tag") { fx =>
      val sink = s"rst_sw_$tag"; val ledger = s"rst_sw_${tag}_ledger"
      Seq(sink, ledger).foreach(graft.sources.Sources.dropForOverwrite(spark, _))
      fx.stage(Seq(
        ev.filter(unix_timestamp(col("ts")) < cut),
        ev.filter(unix_timestamp(col("ts")) >= cut),
        StreamOps.fenceRow(spark, mx + 5400)))
      def drain(): Unit = {
        val agg = fx.stream(spark).withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n_events"))
        def run(): Unit = StreamOps.drainToTable(spark, agg, sink,
          fx.ckpt.getPath, ledger, statePartitions = Some(4))
        provider match {
          case Some(p) => graft.SparkUtil.withConfs(spark,
            "spark.sql.streaming.stateStore.providerClass" -> p)(run())
          case None => run()
        }
      }
      fx.arrive(1); drain()
      fx.crash()
      fx.arrive(2)
      drain()
      if (provider.isDefined) {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
          else Seq(f)
        val stateFiles = walk(new java.io.File(fx.ckpt, "state")).map(_.getName)
        assert(stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
          s"no RocksDB artifacts under state/: ${stateFiles.take(20)}")
        assert(!stateFiles.exists(_.endsWith(".delta")),
          "HDFS-backed .delta files present — RocksDB provider not engaged")
      }
      val out = spark.table(sink).filter(col("user_id") =!= -1L)
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
        .map(x => (x.getLong(0), x.getTimestamp(1), x.getTimestamp(2), x.getLong(3)))
        .toSet
      Seq(sink, ledger).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      out
    }
    val dflt = runProtocol(None, "dflt")
    val rocks = runProtocol(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocks")
    assert(dflt.nonEmpty)
    assert(rocks == dflt, "state engine must be invisible to results")
  }

  test("idempotentBatchAppend: mid-append crash replay converges row-exactly (the window the ledger leaves open)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS rst_ibs")
    try {
      val b0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      StreamOps.idempotentBatchAppend(b0, "rst_ibs", 0L)
      // simulate a crash MID-append of batch 1: a PARTIAL prefix landed
      // (plain Append — what a torn parquet append leaves behind)
      Seq((4L, "d")).toDF("id", "v").withColumn("_batch_id", lit(1L))
        .write.mode("append").insertInto("rst_ibs")
      assert(spark.table("rst_ibs").count() == 4)
      // the replay of batch 1 carries the FULL batch; dynamic partition
      // overwrite replaces partition _batch_id=1 wholesale — the torn
      // prefix vanishes, nothing duplicates, batch 0 untouched
      val b1 = Seq((4L, "d"), (5L, "e")).toDF("id", "v")
      StreamOps.idempotentBatchAppend(b1, "rst_ibs", 1L)
      val got = spark.table("rst_ibs").select("id", "v").as[(Long, String)]
        .collect().toSet
      assert(got == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
      // a second replay (the commit-loss case) is also a no-op
      StreamOps.idempotentBatchAppend(b1, "rst_ibs", 1L)
      assert(spark.table("rst_ibs").count() == 5)
      // partition pruning on _batch_id works (ingest lineage for free)
      assert(spark.table("rst_ibs").filter(col("_batch_id") === 1L).count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS rst_ibs")
  }

  test("exact-dedup ingest: the family-wide ledger wiring survives commit-loss replay") {
    import spark.implicits._
    import graft.operators.Dedup
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(100)
    Seq("rst_ex_idx", "rst_ex_sink", "rst_ex_ledger")
      .foreach(graft.sources.Sources.dropForOverwrite(spark, _))
    try StreamFixture.within("graft_rst_ex") { fx =>
      Dedup.exactWriteBucketed(d.limit(0).withColumn("k", col("text")),
        "rst_ex_idx", "doc_id", "k", numBuckets = 4)
      // batch 0 = originals; batch 1 = byte-identical +1e6 copies (all must
      // drop against the extended index after the replayed batch 0)
      val copies = d.select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      fx.stage(Seq(d, copies))
      def drain(): Unit = {
        val q = StreamOps.streamingExactDedup(
          fx.stream(spark).withColumn("k", col("text")), "rst_ex_idx", "doc_id", "k",
          "rst_ex_sink", checkpointDir = Some(fx.ckpt.getPath),
          ledgerTable = Some("rst_ex_ledger"))
        try q.processAllAvailable() finally q.stop()
      }
      fx.arrive(1); drain()
      val sink0 = spark.table("rst_ex_sink").count()
      val idx0 = spark.table("rst_ex_idx").count()
      fx.crash(); drain() // pure replay
      assert(spark.table("rst_ex_sink").count() == sink0, "replay re-appended the sink")
      assert(spark.table("rst_ex_idx").count() == idx0, "replay re-extended the index")
      fx.arrive(1); drain()
      // every copy dropped against the (exactly-once) index; sink = originals
      val got = spark.table("rst_ex_sink").select("doc_id").as[Long].collect()
      assert(got.length == got.distinct.length)
      assert(got.toSet == d.select("doc_id").as[Long].collect().toSet)
    } finally Seq("rst_ex_idx", "rst_ex_sink", "rst_ex_ledger")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bm25 ingest: replay appends zero postings (id-guard idempotence, no ledger needed)") {
    import graft.operators.Retrieval
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(150)
    Retrieval.bm25WriteBucketed(d.filter(col("doc_id") % 3 =!= 0),
      "rst_bm25", "doc_id", "text")
    try StreamFixture.within("graft_rst_bm25") { fx =>
      val rest = d.filter(col("doc_id") % 3 === 0)
      fx.stage(Seq(rest))
      def drain(): Unit = {
        val q = StreamOps.streamingBm25Ingest(fx.stream(spark), "rst_bm25", "doc_id",
          "text", checkpointDir = Some(fx.ckpt.getPath))
        try q.processAllAvailable() finally q.stop()
      }
      fx.arrive(1); drain()
      val postings0 = spark.table("rst_bm25").count()
      def nDocs(): Long = spark.table("rst_bm25_stats")
        .agg(sum(col("n_docs"))).head().getLong(0)
      val nDocs0 = nDocs()
      fx.crash(); drain() // replay the ingested batch
      assert(spark.table("rst_bm25").count() == postings0,
        "replay must append zero postings (id guard)")
      assert(nDocs() == nDocs0, "stats must not double-count the replayed docs")
    } finally Seq("rst_bm25", "rst_bm25_meta", "rst_bm25_stats")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
