package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval over the corpus — the keyword side of the
  * dedup/curation toolbox (the dense side is [[Similarity]]'s ANN family).
  * BM25 (Robertson-Spärck Jones probabilistic relevance, the Okapi form
  * with Lucene's +1 idf floor so scores never go negative) is the standard
  * "find the documents about X" primitive a curation loop reaches for when
  * auditing what a filter kept or hunting contamination by topic.
  *
  * Scale: the posting build prunes to the query vocabulary BEFORE the tf
  * aggregation (a broadcast semi-join against the distinct query terms), so
  * the term-keyed exchanges carry only postings that can score — at 100 TB
  * the full corpus is tokenized once map-side and everything that survives
  * is proportional to the hit set, not the corpus. Document lengths are the
  * only corpus-keyed aggregate (narrow (id, count) rows, map-side combined,
  * then broadcast-semi-pruned to the hit set before any join); N and avgdl
  * are a 1-row aggregate crossJoin(broadcast(...))-ed in. The
  * |query-terms|-row idf table broadcasts.
  *
  * [[bm25TopK]] is the ad-hoc path (one-off audits — tokenize, score,
  * discard). A STANDING query workload uses the persisted posting index —
  * [[bm25WriteBucketed]] / [[bm25AppendToIndex]] / [[bm25TopKFromIndex]],
  * the 8th member of the incremental index family: (term, doc, tf, dl)
  * rows bucketed by term, so a probe never re-tokenizes the corpus and its
  * posting-side aggregates run exchange-free on the bucket key.
  */
object Retrieval {

  /** Top-k documents per query by BM25. `queries` is (query_id, term) rows
    * — multi-term queries are multiple rows. Output: (query_id, rank,
    * idCol, score) with score rounded to 4 (one rounding point per (query,
    * doc); ranking runs over the ROUNDED score so duplicate texts tie
    * exactly and fall to the id tiebreak, and the per-query rank window
    * only ever sees that query's hit set). N and avgdl count documents
    * with at least one token — an empty document can never match, so it
    * does not dilute idf.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val dlen = toks.groupBy(col(idCol)).agg(count(lit(1)).as("_dl"))
    val stats = dlen.agg(count(lit(1)).as("_n"), avg(col("_dl")).as("_avgdl"))
    val qTerms = queries.select(col("query_id"), col("term")).distinct()
    val hitToks = toks.join(broadcast(qTerms.select(col("term")).distinct()),
      Seq("term"), "left_semi")
    // checkpointed: tf feeds both the scoring join and the hit-id prune of
    // dlen below — without it the query-vocab semi-join + aggregation would
    // re-run the tokenize scan
    val tf = hitToks.groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("_tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    // prune dlen to the HIT SET before joining it in — stats above already
    // read the full dlen, so N/avgdl stay corpus-wide while everything
    // joined downstream is proportional to the hit set. NO broadcast hint:
    // the hit set is unbounded (a stopword-like query term makes it
    // corpus-sized), so AQE picks the strategy from runtime stats —
    // broadcast when small, shuffle when not — instead of a forced
    // driver-side materialization that could OOM at scale
    val dlenHit = dlen.join(
      tf.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
    val scored = tf
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dlenHit, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1))
      // constants as the same IEEE ops the oracle writes: (k1 + 1.0) folded
      // in double, (1 - b) exact for the default 0.75
      .withColumn("_s",
        col("_idf") * (col("_tf") * (lit(k1) + lit(1.0))) /
          (col("_tf") + lit(k1) * (lit(1 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("_s")), 4).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  /** Tokenized (id, dl, term) rows: the document length rides every token
    * row (array size read BEFORE the explode, in the same projection), so
    * posting-index builds never need a second corpus-keyed aggregate+join
    * to attach lengths. Empty tokens are excluded from both the terms and
    * the length, matching [[bm25TopK]]'s tokenizer exactly.
    */
  private def tokensWithDl(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
        filter(split(lower(trim(col(textCol))), "\\s+"), t => t =!= "")
          .as("_ts"))
      .select(col(idCol), size(col("_ts")).as("dl"),
        explode(col("_ts")).as("term"))

  /** Persist the BM25 posting index: one `(term, id, tf, dl)` row per
    * distinct (term, document) pair, BUCKETED by `term` and sorted within
    * buckets, so a probe's posting-side aggregates are exchange-free and
    * its query-vocabulary filter prunes both buckets and parquet row
    * groups. `<table>_meta` pins the scoring parameters (k1, b);
    * `<table>_stats` holds one `(n_docs, sum_dl, batch_fp)` row per
    * build/append — N and avgdl are the SUM of that tiny table, so
    * appends maintain corpus statistics without ever re-reading the corpus
    * (`batch_fp`, the bit-XOR of per-doc id hashes — order-free, closed
    * under the 64-bit domain, self-inverse, same rationale as the Sampling
    * checksums — makes replayed appends distinguishable from legitimately
    * identical batches so the probe's `distinct()` on stats stays exact
    * under accretion).
    *
    * Scale: the build tokenizes the corpus once map-side; its only
    * exchange is the (term, id) tf aggregation that the bucketed write
    * needs anyway. Index size is one narrow row per distinct (term, doc) —
    * the classic posting-list representation, ~24 B/row — and every later
    * probe touches only the buckets its query vocabulary hashes to.
    */
  def bm25WriteBucketed(docs: DataFrame, table: String, idCol: String,
      textCol: String, k1: Double = 1.2, b: Double = 0.75,
      numBuckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    Seq(table, s"${table}_stats")
      .foreach(graft.sources.Sources.dropForOverwrite(spark, _))
    // the 1-row meta write is independent of the corpus-sized posting pass
    // — overlap them (guide §2.6) instead of paying its commit latency
    // up front serially
    graft.SparkUtil.concurrently(spark, Seq(
      "bm25 meta write" -> (() =>
        graft.sources.Sources.writeIndexMeta(spark, table, "k1" -> k1, "b" -> b)),
      "bm25 postings+stats build" -> (() =>
        writePostings(docs, table, idCol, textCol,
          graft.sources.Sources.writeBucketed(_, table, Seq("term"), numBuckets),
          org.apache.spark.sql.SaveMode.Overwrite))))
  }

  /** Append new documents' postings + a stats delta row to a
    * [[bm25WriteBucketed]] index in place (same bucket layout), completing
    * the family's build/probe/append symmetry: each batch's survivors
    * extend the index the next probe reads, and N / avgdl follow from the
    * appended stats row — no corpus re-read, no index rewrite. The 'new documents only' contract is ENFORCED, not
    * prose: the batch is anti-joined against the ids already in the index
    * before anything is written (the Sampling-checksum discipline EpochOps
    * applies to exact-dedup survivors) — without it a replayed doc_id would
    * double-count in the summed stats rows (N, sum_dl) while its postings
    * collapse via max(tf) at probe time, silently skewing index-path scores
    * away from the ad-hoc [[bm25TopK]]. Replayed appends therefore become
    * no-ops (plus one empty stats row, which the probe's sum ignores).
    * Cost: the guard semi-filters the index's id column by the batch ids
    * (batch-sized broadcast, columnar id-only scan), so the anti-join's
    * build side is bounded by the batch, never the corpus.
    */
  def bm25AppendToIndex(docs: DataFrame, table: String, idCol: String,
      textCol: String): Unit = {
    val spark = docs.sparkSession
    val already = spark.table(table).select(col(idCol))
      .join(broadcast(docs.select(col(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .distinct()
    val fresh = docs.join(already, Seq(idCol), "left_anti")
    writePostings(fresh, table, idCol, textCol,
      graft.sources.Sources.appendBucketed(_, table),
      org.apache.spark.sql.SaveMode.Append)
  }

  /** Write `docs`' postings through `writeRows` (the bucketed build or
    * append), then their stats row to `<table>_stats` in `mode`.
    */
  private def writePostings(docs: DataFrame, table: String, idCol: String,
      textCol: String, writeRows: DataFrame => Unit,
      mode: org.apache.spark.sql.SaveMode): Unit = {
    // EAGER checkpoint: the tokenize scan feeds the posting aggregation AND
    // the 1-row stats aggregate; the postings WRITE and the stats COMPUTE
    // run concurrently (guide §2.6), but the stats COMMIT happens strictly
    // AFTER the postings commit. Ordering matters for crash semantics: the
    // replay id-guard in [[bm25AppendToIndex]] keys on the POSTINGS table,
    // so a stats row that landed while the postings write failed would be
    // an ORPHAN the guard cannot see — a retried append with a slightly
    // different batch would then double-count the overlap in N/sum_dl
    // (r18 advice). Postings-first restores the only documented window
    // (postings landed, stats not — the at-least-once shape replays
    // converge through), while the agg job still overlaps the heavy write.
    val toks = tokensWithDl(docs, idCol, textCol)
      .localCheckpoint(eager = true)
    try {
      val spark = toks.sparkSession
      val statsAgg = toks.select(col(idCol), col("dl")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"),
          bit_xor(xxhash64(col(idCol))).as("batch_fp"))
      val statsRow =
        new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.Row]()
      graft.SparkUtil.concurrently(spark, Seq(
        "bm25 postings write" -> (() =>
          writeRows(toks.groupBy(col("term"), col(idCol))
            .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl")))),
        "bm25 stats agg" -> (() => statsRow.set(statsAgg.head()))))
      // postings committed (a failure above rethrows before this line);
      // the 1-row stats append is the already-computed row, commit only
      spark.createDataFrame(
          java.util.Collections.singletonList(statsRow.get()), statsAgg.schema)
        .write.mode(mode).saveAsTable(s"${table}_stats")
    } finally org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(toks)
  }

  /** Top-k BM25 over a persisted [[bm25WriteBucketed]] posting index — the
    * standing-workload path: no corpus scan, no tokenize, scoring
    * parameters from `<table>_meta`, N/avgdl from the summed
    * `<table>_stats` rows. Identical output contract (and identical
    * scores) to [[bm25TopK]] over the same indexed corpus.
    *
    * Plan shape, probe-sized by construction: the distinct query terms
    * (driver-collected — bounded by the query workload's vocabulary, the
    * quantity that was broadcast already) push an `In` filter into the
    * posting scan, so parquet prunes buckets AND row groups before any
    * operator runs; the per-(term, id) collapse (exact under index
    * accretion) and the per-term document frequency both aggregate ON the
    * bucket key — zero exchange; everything downstream of the scan is
    * proportional to the hit set. The only shuffles in the whole plan are
    * the final per-(query, doc) sum and the per-query rank window.
    */
  def bm25TopKFromIndex(queries: DataFrame, table: String, idCol: String,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    val meta = graft.sources.Sources.indexMeta(spark, table)
    val (k1, b) = (meta.getAs[Double]("k1"), meta.getAs[Double]("b"))
    val qTerms = queries.select(col("query_id"), col("term")).distinct()
    val terms = qTerms.select(col("term")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    val stats = spark.table(s"${table}_stats").distinct()
      .agg(sum(col("n_docs")).as("_n"),
        (sum(col("sum_dl")).cast("double") /
          sum(col("n_docs")).cast("double")).as("_avgdl"))
    // In-filter on the bucket+sort key: bucket pruning + row-group pruning
    // at the scan; max() collapses replay-accreted duplicate rows exactly
    val tf = spark.table(table)
      .filter(col("term").isin(terms: _*))
      .groupBy(col("term"), col(idCol))
      .agg(max(col("tf")).as("_tf"), max(col("dl")).as("_dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val scored = tf
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1))
      .withColumn("_s",
        col("_idf") * (col("_tf") * (lit(k1) + lit(1.0))) /
          (col("_tf") + lit(k1) * (lit(1 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(col("_s")), 4).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("score"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick `k` candidates maximizing
    * `lambda * relevance - (1 - lambda) * max cosine to already-picked` —
    * the standard diversity-aware re-rank that stops a RAG context window
    * from filling with near-duplicates of the same passage.
    *
    * Input is a RETRIEVER'S OUTPUT — (queryIdCol, idCol, vecCol, relCol)
    * rows, top-k-bounded per query by construction — so the inherently
    * sequential greedy runs inside `flatMapGroups` over one query's
    * candidates: per-group state is the candidate list itself, the shuffle
    * is the (query, candidate) rows the retriever already produced, and no
    * stage touches anything corpus-sized. Ties (equal MMR score) keep the
    * earlier candidate in (relevance desc, id asc) base order; zero-norm
    * vectors contribute similarity 0. Output: (queryIdCol, rank, idCol,
    * mmr_score rounded to 6).
    */
  def mmrRerank(candidates: DataFrame, queryIdCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(lambda >= 0 && lambda <= 1, s"lambda out of [0,1]: $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val ds = candidates.select(col(queryIdCol).cast("long"),
        col(idCol).cast("long"), col(vecCol).cast("array<float>"),
        col(relCol).cast("double"))
      .as[(Long, Long, Array[Float], Double)]
    ds.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cand = it.toArray.sortBy(c => (-c._4, c._2))
      val norms = cand.map(c =>
        math.sqrt(c._3.foldLeft(0.0)((a, x) => a + x.toDouble * x)))
      def cos(i: Int, j: Int): Double =
        if (norms(i) == 0 || norms(j) == 0) 0.0
        else {
          var s = 0.0; var d = 0
          val (a, b) = (cand(i)._3, cand(j)._3)
          val n = math.min(a.length, b.length)
          while (d < n) { s += a(d).toDouble * b(d).toDouble; d += 1 }
          s / (norms(i) * norms(j))
        }
      val used = Array.fill(cand.length)(false)
      val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
      var rank = 1
      while (rank <= k && picked.size < cand.length) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cand.length) {
          if (!used(i)) {
            val maxSim =
              if (picked.isEmpty) 0.0
              else picked.map(j => cos(i, j)).max
            val score = lambda * cand(i)._4 - (1 - lambda) * maxSim
            if (score > bestScore) { bestScore = score; best = i }
          }
          i += 1
        }
        used(best) = true; picked += best
        out += ((q, rank, cand(best)._2,
          BigDecimal(bestScore).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble))
        rank += 1
      }
      out
    }.toDF(queryIdCol, "rank", idCol, "mmr_score")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse
    * per-query ranked lists — typically the lexical [[bm25TopK]] and a
    * dense [[Similarity]] top-k — by `sum over lists of 1 / (k0 + rank)`.
    * Rank-only on purpose: BM25 scores and cosines are incomparable
    * scales, ranks always fuse. Hybrid retrieval is the audit tool a
    * curation loop wants when neither side alone is trustworthy (lexical
    * misses paraphrase, dense misses rare exact terms).
    *
    * Inputs are `(query_id, rank, idCol)` lists. Cost is nothing at any
    * corpus size: each retriever already reduced to top-k rows per query,
    * so the union, the fuse aggregate and the per-query rank window all
    * run over <= |lists| * k rows per query. The rank window orders by the
    * ROUNDED fused score (then id), so near-ties break identically
    * everywhere, the [[bm25TopK]] discipline.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
      k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val all = rankings
      .map(_.select(col("query_id"), col("rank"), col(idCol)))
      .reduce(_ unionAll _)
    val fused = all.groupBy(col("query_id"), col(idCol))
      .agg(round(sum(lit(1.0) / (lit(k0) + col("rank"))), 6).as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("rrf_score"))
  }
}
