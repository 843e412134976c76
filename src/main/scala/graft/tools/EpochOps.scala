package graft.tools

import graft.operators.{Dedup, Graph, Multimodal, Sampling, Similarity, Snapshot, TextAnalysis, Timeseries, Vocab}
import org.apache.spark.sql.functions._

/** The PLANS.md per-epoch operator runbook as ONE runnable main — proof the
  * measure → decide → act loop is code, not prose. Builds the persisted
  * indexes for a corpus, simulates one append epoch, and runs every
  * monitoring query the runbook lists, printing one line per decision
  * input. Each read-side step is bounded regardless of corpus size
  * (bucket-local aggregates, sketch merges, |keys|-row plans,
  * fingerprint-width joins); the actuators run only when their measured
  * trigger fires, exactly as a production epoch would schedule them.
  *
  * `sbt "runMain graft.tools.EpochOps [sfDir]"` (default sf0.001).
  */
object EpochOps {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString)
    import spark.implicits._

    val docs = graft.queries.Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val embs = graft.queries.Tables.df(spark, dir, "embeddings")
    // epoch split: the standing corpus vs this epoch's append batch
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)

    val epochTables = Seq("ep_ex_idx", "ep_para_idx", "ep_ivf_idx",
      "ep_ivf_idx_centroids", "ep_ivfpq_idx", "ep_ivfpq_idx_centroids",
      "ep_ivfpq_idx_codebooks", "ep_span_idx", "ep_span_idx_meta",
      "ep_chunk_idx", "ep_chunk_idx_meta",
      "ep_bm25_idx", "ep_bm25_idx_stats", "ep_bm25_idx_meta")
    epochTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // standing state: the persisted index family
    Dedup.exactWriteBucketed(corpus, "ep_ex_idx", "doc_id", "text", numBuckets = 4)
    Dedup.paragraphWriteBucketed(corpus, "ep_para_idx", "doc_id", "text", numBuckets = 4)
    Dedup.spanWriteBucketed(corpus, "ep_span_idx", "doc_id", "text",
      windowTokens = 20, numBuckets = 4)
    Similarity.ivfWriteBucketed(embs.filter(col("vec_id") % 5 =!= 0),
      "ep_ivf_idx", "vec_id", "embedding", nlist = 16, numBuckets = 4)
    // binary-payload side: the chunk-fp index over the corpus' fake media
    Multimodal.chunkWriteBucketed(
      Multimodal.withFakeMedia(corpus, "doc_id", "text"),
      "ep_chunk_idx", "media_id", "payload", numBuckets = 4)
    // lexical retrieval side: the BM25 posting index over the corpus
    graft.operators.Retrieval.bm25WriteBucketed(corpus, "ep_bm25_idx",
      "doc_id", "text", numBuckets = 4)

    // ---- the epoch: ingest the batch through the incremental operators ----
    // EAGER checkpoint before the append: the survivor plan contains an
    // anti-join against the index table, and the append MUTATES that table
    // — a lazy re-evaluation after the append would see its own output and
    // report zero survivors. (The streaming ingests get this ordering for
    // free: their sink write materializes the lazy checkpoint before the
    // index append runs.)
    val exSurvivors = Dedup.exactDedupIncremental(batch, "ep_ex_idx", "doc_id", "text")
      .localCheckpoint(eager = true)
    Dedup.exactAppendToIndex(exSurvivors, "ep_ex_idx", "doc_id", "text")
    // sub-document pass: strip paragraphs the standing corpus already holds,
    // then extend the paragraph index with the survivors' paragraphs
    val paraCleaned = Dedup.dedupParagraphsIncremental(batch, "ep_para_idx",
      "doc_id", "text").localCheckpoint(eager = true) // see the note above
    Dedup.paragraphAppendToIndex(paraCleaned.withColumnRenamed("clean_text", "text"),
      "ep_para_idx", "doc_id", "text")
    // span pass (Lee 2021 ExactSubstr granularity): trim token runs the
    // standing corpus already holds, extend the window index with survivors
    val spanCleaned = Dedup.dedupSpansIncremental(batch, "ep_span_idx",
      "doc_id", "text").localCheckpoint(eager = true) // see the note above
    Dedup.spanAppendToIndex(spanCleaned.withColumnRenamed("clean_text", "text"),
      "ep_span_idx", "doc_id", "text")
    Similarity.ivfAppendToIndex(embs.filter(col("vec_id") % 5 === 0),
      "ep_ivf_idx", "vec_id", "embedding")
    // chunk pass: payload-level containment probe, survivors' fps appended
    val batchMedia = Multimodal.withFakeMedia(batch, "doc_id", "text")
    val chunkDups = Multimodal.chunkPairsIncremental(batchMedia, "ep_chunk_idx",
      "media_id", "payload", threshold = 0.5)
      .select(col("batch_id").as("media_id")).distinct()
    val chunkSurvivors = batchMedia.join(chunkDups, Seq("media_id"), "left_anti")
      .localCheckpoint(eager = true) // see the note above
    Multimodal.chunkAppendToIndex(chunkSurvivors, "ep_chunk_idx", "media_id", "payload")
    println(s"[epoch] chunk pass kept ${chunkSurvivors.count()} payloads of ${batchMedia.count()}")
    // lexical side: the exact-pass survivors' postings extend the BM25
    // index (no probe needed — postings are additive evidence, and a
    // standing-query audit below reads the refreshed index)
    graft.operators.Retrieval.bm25AppendToIndex(exSurvivors, "ep_bm25_idx",
      "doc_id", "text")
    val bm25Audit = graft.operators.Retrieval.bm25TopKFromIndex(
      Seq((1, "hash"), (1, "join")).toDF("query_id", "term"),
      "ep_bm25_idx", "doc_id", 5)
    println(s"[epoch] bm25 standing-query audit hits=${bm25Audit.count()}")
    println(s"[epoch] ingested ${exSurvivors.count()} exact-new docs of ${batch.count()}; " +
      s"paragraph pass kept ${paraCleaned.agg(sum(col("n_kept"))).head().getLong(0)} " +
      s"of ${paraCleaned.agg(sum(col("n_paras"))).head().getLong(0)} paragraphs; " +
      s"span pass removed ${spanCleaned.agg(sum(col("n_removed"))).head().getLong(0)} " +
      s"of ${spanCleaned.agg(sum(col("n_tokens"))).head().getLong(0)} tokens")

    // ---- 0. index hygiene: per-table accretion ratio, compaction when it
    // drifts — one generalized rule for the whole persisted family ----
    Seq("ep_ex_idx", "ep_para_idx", "ep_span_idx", "ep_chunk_idx",
        "ep_bm25_idx").foreach { t =>
      val accretion = Dedup.indexAccretion(spark, t)
      println(f"[hygiene] $t accretion=$accretion%.3f")
      if (accretion > 1.1) {
        Dedup.compactIndex(spark, t)
        println(s"[hygiene] compacted $t -> ${spark.table(t).count()} rows")
      }
    }

    // ---- 1. index health: cell skew, rebuild when it nears nprobe ----
    val health = Similarity.ivfCellStats(spark, "ep_ivf_idx")
      .select(col("n_rows"), col("n_cells_used"), col("max_cell"), col("skew"))
      .as[(Long, Long, Long, Double)].head()
    println(f"[health] ivf rows=${health._1} cells=${health._2} max_cell=${health._3} skew=${health._4}%.2f")
    if (health._4 > 8.0) {
      Similarity.ivfRebuild(spark, "ep_ivf_idx", "vec_id", "embedding")
      println("[health] skew past nprobe budget -> rebuilt")
    }

    // ---- 2. corpus drift: per-source sketch row ----
    TextAnalysis.sketchStats(batch, "text", "source").orderBy(col("source"))
      .collect().foreach(r => println(s"[drift] $r"))

    // ---- 2b. standing per-lang aggregate maintained incrementally: the
    // epoch's ingest is an all-inserts changelog against the corpus state
    // (change-sized deltas + a |langs|-row staged-swap rewrite — the base
    // is never rescanned) ----
    Seq("ep_lang_agg", "ep_lang_agg_staged", "ep_lang_agg_old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.ChangeLog.aggStateWriteBucketed(
      corpus.withColumn("chars", length(col("text"))),
      "ep_lang_agg", "lang", Seq("chars"), numBuckets = 4)
    graft.operators.ChangeLog.maintainAggTable(
      graft.operators.ChangeLog.fromSnapshotsFull(
        corpus.limit(0).select(col("doc_id"), col("lang"),
          length(col("text")).as("chars")),
        batch.select(col("doc_id"), col("lang"),
          length(col("text")).as("chars")),
        "doc_id", Seq("lang", "chars")),
      "ep_lang_agg", "op", "lang", Seq("chars"))
    spark.table("ep_lang_agg").orderBy(col("lang"))
      .collect().foreach(r => println(s"[ivm] $r"))

    // ---- 3. recall budget on a fixed probe set ----
    val probes = embs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val approx = Similarity.ivfTopKFromBucketed(spark, "ep_ivf_idx", probes,
      "vec_id", "embedding", "query_id", "qv", k = 10, nprobe = 4)
    val exact = Similarity.bruteForceTopK(embs, probes, "vec_id", "embedding",
      "query_id", "qv", k = 10)
    val recall = Similarity.recallAtK(approx, exact, 10)
      .agg(avg(col("recall"))).as[Double].head()
    println(f"[recall] nprobe=4 recall@10=$recall%.3f (raise nprobe or rebuild wider if under target)")

    // ---- 3b. codebook staleness: IVF-PQ self-score, re-train actuator ----
    // the PQ index trains on the standing corpus; the epoch's vectors come
    // from a DIFFERENT distribution (dimension order reversed — a stand-in
    // for a new encoder version or domain) and append with the stale
    // codebooks. The trigger is the EXCESS drift of the appended slice over
    // the trained-on slice's own quantization floor — absolute self-score
    // conflates floor and staleness; the difference isolates what a rebuild
    // can actually recover.
    val pqBase = embs.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id"), col("embedding"))
    val pqEpoch = embs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val pqSource = pqBase.unionByName(pqEpoch)
    Similarity.ivfpqWriteBucketed(pqBase, "ep_ivfpq_idx", "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 64, numBuckets = 4, sampleSize = 256, iters = 5)
    Similarity.ivfpqAppendToIndex(pqEpoch, "ep_ivfpq_idx", "vec_id", "embedding")
    def pqDrift(slice: org.apache.spark.sql.DataFrame): Double = 1.0 - Similarity
      .ivfpqSelfScore(spark, "ep_ivfpq_idx", slice, "vec_id", "embedding")
      .agg(avg(col("self_score"))).as[Double].head()
    val floor = pqDrift(pqBase)
    val stale = pqDrift(pqEpoch)
    println(f"[pq] quantization drift: trained-on slice $floor%.4f, appended slice $stale%.4f (excess = staleness)")
    if (stale - floor > 0.01) {
      Similarity.ivfpqRebuild(spark, "ep_ivfpq_idx", pqSource, "vec_id", "embedding")
      println(f"[pq] staleness past tolerance -> codebooks re-trained: " +
        f"trained-on ${pqDrift(pqBase)}%.4f, appended ${pqDrift(pqEpoch)}%.4f")
    }

    // ---- 4. mixture drift -> resampling knobs -> APPLIED ----
    val targets = Sampling.temperatureTargets(batch, "lang", "n_chars", alpha = 0.5)
      .select(col("lang"), col("target_share")).as[(String, Double)].collect().toMap
    val plan = Sampling.mixturePlan(batch, "lang", "n_chars", targets)
    plan.orderBy(col("lang")).collect().foreach(r => println(s"[mixture] $r"))
    // the full measure -> temper -> plan -> act loop, no human step between:
    // the plan's knob columns feed the actuator directly
    val knobs = plan.select(col("lang"), col("keep_prob"), col("extra_epochs"),
      col("last_epoch_keep")).as[(String, Double, Long, Double)].collect()
      .map { case (k, kp, ee, lk) => k -> ((kp, ee, lk)) }.toMap
    val mixed = Sampling.applyMixture(batch, "doc_id", "lang", knobs)
    println(s"[mixture] applied: ${batch.count()} batch docs -> ${mixed.count()} epoch rows")

    // ---- 4b. tokenizer health: OOV of the batch vs the corpus vocab ----
    val oov = Vocab.oovReport(corpus.unionByName(batch), "doc_id", "text", k = 100)
      .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .agg(round(avg(col("oov_rate")), 4)).as[Double].head()
    println(s"[tokenizer] batch avg OOV vs corpus top-100 vocab = $oov")

    // ---- 5. snapshot audit: what did this epoch change? ----
    Snapshot.diffSummary(corpus, corpus.unionByName(batch), "doc_id", "text")
      .orderBy(col("status"))
      .collect().foreach(r => println(s"[snapshot] $r"))

    // ---- 6. source-quality prior: PageRank over the epoch's citation
    // graph feeds next epoch's mixture targets (r11) ----
    val full = corpus.unionByName(batch)
    val n = full.agg(count(lit(1)).as("n_docs"))
    val edges = full.select(col("doc_id")).crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(sequence(lit(1L), lit(1L) + col("doc_id") % lit(3L))).as("k"),
        col("n_docs"))
      .select(col("src"),
        ((col("src") * 31 + col("k") * 17) % col("n_docs")).as("dst"))
    val pr = Graph.pagerank(edges, "src", "dst", iters = 3)
    full.select(col("doc_id").as("id"), col("source"))
      .join(pr, Seq("id"))
      .groupBy(col("source")).agg(round(avg(col("rank")), 4).as("avg_rank"))
      .orderBy(col("source"))
      .collect().foreach(r => println(s"[graph-prior] $r"))

    // ---- 7. ingest-volume monitoring: z-score the batch's per-lang char
    // mass against the standing corpus' trailing profile (r11) ----
    val anomalies = Timeseries.anomalies(
      graft.queries.Tables.df(spark, dir, "events"),
      "event_type", "ts", "value", stepSeconds = 86400L, lookback = 7,
      zThresh = 2.5)
    val flagged = anomalies.filter(col("is_anomaly")).count()
    println(s"[monitor] event-volume buckets flagged at z>2.5: $flagged " +
      s"of ${anomalies.count()}")

    // ---- 8. metadata hygiene: entity-resolve the epoch's source registry
    // shape (r11) — blocked, capped, components ----
    val reg = full.select(col("doc_id").as("id"),
      concat(col("source"), lit("-"), col("lang")).as("name"),
      col("lang").as("blk"))
    val entities = graft.operators.RecordLinkage.resolve(reg, "id", "name",
      col("blk"), maxDist = 2, maxBlock = 10000)
    println(s"[registry] ${entities.count()} rows -> " +
      s"${entities.select(col("entity_id")).distinct().count()} entities")

    // ---- 9. tokenizer drift: replay-vs-inference fertility divergence of
    // the standing WordPiece merges over THIS epoch's full corpus (r12) —
    // a rising diverging share means the serving tokenizer no longer
    // reflects what training measured, the trigger for a retrain actuator
    val merges = Vocab.wordpieceTrain(corpus, "text", numMerges = 8)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val div = Vocab.wordpieceFertilityCompare(full, "text", merges).head()
    val divShare =
      div.getAs[Long]("diverging_occurrences").toDouble /
        math.max(1L, div.getAs[Long]("n_occurrences"))
    println(f"[tokenizer] replay=${div.getAs[Long]("replay_tokens")} " +
      f"match=${div.getAs[Long]("match_tokens")} diverging_share=$divShare%.4f")
    if (divShare > 0.05)
      println("[tokenizer] ACTUATOR: divergence above 5% — retrain merges " +
        "on the current corpus (wordpieceTrain) and re-encode at next epoch")

    // ---- 10. crash-recovery drill (r13): before trusting an epoch's
    // streaming ingests, rehearse the failure path on a sample — run one
    // ledgered maintain batch on a real checkpoint, delete its commit
    // record (the exact window Spark replays for), restart, and check the
    // replay was a no-op. Production runs this against the standing
    // checkpoint layout at onboarding and after Spark upgrades; the
    // oracled *_restart gates keep the mechanism itself pinned per build.
    Seq("ep_drill_state", "ep_drill_state_staged", "ep_drill_state_old",
      "ep_drill_ledger").foreach(t =>
        graft.sources.Sources.dropForOverwrite(spark, t))
    val drillBase = full.select(col("doc_id"), col("lang"),
      length(col("text")).as("chars"))
    graft.operators.ChangeLog.aggStateWriteBucketed(
      drillBase.filter(col("doc_id") % 2 === 0), "ep_drill_state", "lang",
      Seq("chars"), numBuckets = 4)
    val drillChanges = graft.operators.ChangeLog.fromSnapshotsFull(
      drillBase.filter(col("doc_id") % 2 === 0), drillBase, "doc_id",
      Seq("lang", "chars"))
    val drillOk = graft.streaming.StreamFixture.within("ep_drill") { fx =>
      fx.stage(Seq(drillChanges)).arriveAll()
      def drillDrain(): Unit = {
        val q = graft.streaming.StreamOps.streamingAggMaintain(fx.stream(spark),
          "ep_drill_state", "op", "lang", Seq("chars"),
          checkpointDir = Some(fx.ckpt.getPath),
          ledgerTable = Some("ep_drill_ledger"))
        try q.processAllAvailable() finally q.stop()
      }
      drillDrain()
      val stateAfterOnce = spark.table("ep_drill_state").orderBy("lang")
        .collect().toSeq
      fx.crash()
      drillDrain() // replay: ledger must make it a no-op
      stateAfterOnce == spark.table("ep_drill_state").orderBy("lang")
        .collect().toSeq
    }
    println(s"[recovery-drill] replay no-op: $drillOk " +
      s"(ledger batches: ${spark.table("ep_drill_ledger").count()})")
    if (!drillOk)
      println("[recovery-drill] ACTUATOR: HALT epoch ingests — replay " +
        "double-applied; check ledger wiring before streaming anything")
    Seq("ep_drill_state", "ep_drill_state_staged", "ep_drill_state_old",
      "ep_drill_ledger").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    epochTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.stop()
  }
}
