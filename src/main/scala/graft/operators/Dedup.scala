package graft.operators

import graft.functions.VectorFunctions
import graft.sources.Sources
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * All operators are expressed with built-in Catalyst expressions (incl.
  * higher-order array functions) — no UDFs — and are partition-parallel with
  * no driver materialization:
  *
  *  - exact dedup: one shuffle on a 128-bit content hash (never shuffles the
  *    raw text bytes).
  *  - MinHash+LSH: per-row signature computation (map-side, embarrassingly
  *    parallel), one explode+shuffle on (band, bandHash), bucket-capped
  *    self-join (the cap bounds the quadratic pair blowup on skewed/common
  *    buckets — at 100 TB a popular boilerplate bucket would otherwise
  *    produce billions of pairs), then an exact-Jaccard verify on the
  *    candidate pairs only.
  *  - incremental MinHash: the corpus's band rows and shingle sets persist
  *    as bucketed tables; each increment joins against them with
  *    batch-sized shuffles only — the corpus is never reshuffled.
  *  - SimHash: single map pass for the 64-bit sketch; near-dup candidates by
  *    chunk banding (Hamming <= h guarantees an equal chunk among h+1),
  *    verified with bit_count(xor).
  *  - exact word-set Jaccard: frequency-ordered prefix filtering
  *    (AllPairs/PPJoin) — candidate pairs must share a rare prefix token
  *    within their block, so work tracks the true near-dup count instead of
  *    block-size^2; exact-verified, so results equal the naive cross join.
  *  - exact embedding cosine: quadratic WITHIN blocking keys only (label
  *    ...); the blocked cross join is the honest small-scale verifier, the
  *    cosine-LSH path above is the scale path.
  */
object Dedup {

  /** Word n-gram shingles of the named text column (whole trimmed text if
    * shorter). Takes a column NAME: the expression is assembled as SQL text
    * (higher-order functions with derived seeds), and splicing arbitrary
    * Column objects cannot round-trip through SQL in Spark 4.
    */
  def shingles(textCol: String, n: Int = 3): Column = expr(shingleSql(textCol, n))

  private[operators] def shingleSql(textCol: String, n: Int): String = {
    val c = s"split(lower(trim($textCol)), '\\\\s+')"
    s"transform(sequence(0, greatest(size($c) - $n, 0)), i -> concat_ws(' ', slice($c, i + 1, $n)))"
  }

  /** k-wide MinHash signature over a shingle array: one xxhash64 per shingle,
    * then k splitmix lanes folded in a tight loop (graft_minhash_sig custom
    * expression — the HOF formulation costs k interpreted lambda passes).
    */
  def minhashSignature(shCol: String, k: Int): Column =
    expr(s"graft_minhash_sig(transform($shCol, s -> xxhash64(s)), $k)")

  /** Exact dedup: one surviving (minimum) id per distinct key. Grouping is on
    * a 128-bit md5 of the key, so the shuffle carries 16 bytes per row
    * instead of the document body.
    */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(keyCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Corpus-wide paragraph-scope exact dedup (the sub-document granularity
    * of MassiveText/RefinedWeb cleaning: boilerplate paragraphs — headers,
    * cookie banners, license blocks — repeat across millions of pages while
    * the documents containing them are unique, so document-level dedup
    * never sees them). Every document splits on blank-line boundaries; each
    * distinct paragraph survives only at its FIRST corpus occurrence
    * (ordered by (doc id, paragraph index) — deterministic and
    * engine-portable), and documents reassemble from their surviving
    * paragraphs in original order. Output: (id, n_paras, n_kept,
    * clean_text); documents whose every paragraph was dropped disappear.
    *
    * Scale shape, in order of the three shuffles:
    *  1. winners: groupBy on the 128-bit paragraph md5 with min(struct) —
    *     partial aggregation collapses duplicate paragraphs MAP-SIDE, so
    *     the shuffle carries one 16-byte-hash row per distinct paragraph
    *     per partition: a banner repeated 10^6 times costs one row per
    *     input partition, never a hot reduce key.
    *  2. keep-join on (id, idx): winner coordinates join back to the
    *     exploded paragraphs — keyed by document, so paragraph skew cannot
    *     concentrate; the paragraph text rides this shuffle once.
    *  3. reassembly groupBy(id): collect surviving (idx, para) pairs,
    *     sort_array, join with blank lines — per-document state only.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = explodeParagraphs(df, idCol, textCol)
    val winners = exploded
      .groupBy(md5(col("_para")).as("_h"))
      .agg(min(struct(col(idCol), col("_idx"))).as("_first"))
      .select(col("_first")(idCol).as(idCol), col("_first")("_idx").as("_idx"))
    val kept = exploded.join(winners, Seq(idCol, "_idx"))
    val totals = exploded.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("_idx"), col("_para")))),
          p => p("_para")), "\n\n").as("clean_text"))
      .join(totals, Seq(idCol))
      .select(col(idCol), col("n_paras"), col("n_kept"), col("clean_text"))
  }

  /** Explode a document column into trimmed non-empty paragraphs with their
    * 0-based position — the shared front end of the paragraph-dedup family.
    */
  private[operators] def explodeParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), "\n\n")))
      .select(col(idCol), col("pos").as("_idx"), trim(col("col")).as("_para"))
      .filter(col("_para") =!= "")

  /** Persist the paragraph-hash index of a corpus: one row per distinct
    * paragraph md5 with its first-occurrence coordinates (min (id, idx) —
    * provenance for audits), BUCKETED by the hash. Same map-side-combine
    * skew armor as [[dedupParagraphs]]' winners aggregate, same bucket
    * rationale as [[exactWriteBucketed]]: increments probe with batch-sized
    * shuffles, the index scans pre-clustered and is never reshuffled.
    */
  def paragraphWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      textCol: String, numBuckets: Int = 16): Unit = {
    Sources.dropForOverwrite(corpus.sparkSession, table)
    Sources.writeBucketed(paragraphRows(corpus, idCol, textCol), table,
      Seq("content_hash"), numBuckets)
  }

  /** The paragraph index rows of `docs`, for the build and the append. */
  private def paragraphRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    explodeParagraphs(docs, idCol, textCol)
      .groupBy(md5(col("_para")).as("content_hash"))
      .agg(min(struct(col(idCol), col("_idx"))).as("_first"))
      .select(col("content_hash"), col("_first")(idCol).as("first_id"),
        col("_first")("_idx").as("first_idx"))

  /** Incremental paragraph cleaning against a [[paragraphWriteBucketed]]
    * index: a batch document keeps a paragraph iff its hash is NOT in the
    * index AND it is the batch's first occurrence (by (id, idx) — the same
    * keep-first rule as [[dedupParagraphs]], applied with the corpus as
    * prior context). Documents reassemble from survivors in original
    * order; documents with no surviving paragraph drop. The index probe is
    * an anti-join in the bucket layout — only batch-sized data shuffles.
    * Output: (id, n_paras, n_kept, clean_text), like [[dedupParagraphs]].
    */
  def dedupParagraphsIncremental(batch: DataFrame, table: String, idCol: String,
      textCol: String): DataFrame = {
    val spark = batch.sparkSession
    val exploded = explodeParagraphs(batch, idCol, textCol)
    val winners = exploded
      .groupBy(md5(col("_para")).as("content_hash"))
      .agg(min(struct(col(idCol), col("_idx"))).as("_first"))
      .join(spark.table(table).select(col("content_hash")),
        Seq("content_hash"), "left_anti")
      .select(col("_first")(idCol).as(idCol), col("_first")("_idx").as("_idx"))
    val kept = exploded.join(winners, Seq(idCol, "_idx"))
    val totals = exploded.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("_idx"), col("_para")))),
          p => p("_para")), "\n\n").as("clean_text"))
      .join(totals, Seq(idCol))
      .select(col(idCol), col("n_paras"), col("n_kept"), col("clean_text"))
  }

  /** Append a batch's paragraphs to a [[paragraphWriteBucketed]] index in
    * place (same bucket layout), so the next increment dedups against the
    * original corpus plus every earlier batch's survivors. Pass CLEANED
    * documents (e.g. the `clean_text` just returned) — hashes are collapsed
    * within `docs` but NOT re-checked against the index, same contract as
    * [[exactAppendToIndex]].
    */
  def paragraphAppendToIndex(docs: DataFrame, table: String, idCol: String,
      textCol: String): Unit =
    Sources.appendBucketed(paragraphRows(docs, idCol, textCol), table)

  /** The positional token-window front end of the span-dedup family: every
    * document's words (lowercased, whitespace-split, empties dropped) plus
    * one row per window start — `(idCol, _ws, _p, _h)` with `_h` the md5 of
    * the space-joined `windowTokens`-token window starting at 1-based word
    * position `_p`. Documents shorter than the window emit no window rows
    * (sub-window duplication is document-level dedup's job). md5, not
    * xxhash64: the corpus-wide winner pick must be engine-portable for the
    * DuckDB oracle, exactly as in [[dedupParagraphs]].
    */
  private def spanWords(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      expr(s"filter(split(lower(trim($textCol)), '\\\\s+'), w -> w <> '')").as("_ws"))

  /** Narrow (idCol, _p, _h) window rows over a prepared (idCol, _ws) frame
    * — the word array never rides a window row (it would cost O(len^2) per
    * document through the explode); pass `docs` checkpointed so the split
    * is paid once for windows and reassembly both.
    */
  private def spanWindows(docs: DataFrame, idCol: String,
      windowTokens: Int): DataFrame =
    docs.select(col(idCol), posexplode(expr(
        s"""CASE WHEN size(_ws) >= $windowTokens
           |THEN transform(sequence(1, size(_ws) - ${windowTokens - 1}),
           |               i -> md5(array_join(slice(_ws, i, $windowTokens), ' ')))
           |ELSE CAST(array() AS array<string>) END""".stripMargin)))
      .select(col(idCol), (col("pos") + 1).as("_p"), col("col").as("_h"))

  /** Corpus-wide duplicated-SPAN removal (Lee, Ippolito, Nystrom et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better" §4.1
    * — their ExactSubstr: duplicated token runs are cut OUT of documents,
    * keeping one occurrence, while both documents otherwise survive; the
    * granularity between whole-document dedup and nothing). Every
    * `windowTokens`-token window that occurs elsewhere in the corpus keeps
    * only its FIRST occurrence (min (doc id, position) — deterministic and
    * engine-portable); a token is removed iff some non-first window covers
    * it, and documents reassemble from surviving tokens in order. Output:
    * (idCol, n_tokens, n_removed, clean_text) — every input document
    * appears, a fully-covered one with empty clean_text.
    *
    * Scale shape, in shuffle order: (1) winners — groupBy the window md5
    * with min(struct): boilerplate spans repeated 10^6 times collapse
    * map-side to one row per partition, never a hot reduce key; (2) the
    * non-first coordinates join back id-keyed (position skew cannot
    * concentrate: a document holds at most its own length); (3) per-doc
    * coverage is a higher-order-function map over the collected dup
    * positions — row-local, no token ever leaves its document row. The
    * window strings themselves never shuffle: only (id, pos, 16-byte md5)
    * rows ride the exchanges.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 50): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val docs = spanWords(df, idCol, textCol)
      .localCheckpoint(eager = false) // window explode + reassembly
    val windows = spanWindows(docs, idCol, windowTokens)
      .localCheckpoint(eager = false) // winner pick + join-back
    val winners = windows
      .groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("_p"))).as("_first"))
      .select(col("_h"), col("_first")(idCol).as("_fid"),
        col("_first")("_p").as("_fp"))
    val dups = windows
      .join(winners, Seq("_h"))
      .filter(!(col(idCol) === col("_fid") && col("_p") === col("_fp")))
      .groupBy(col(idCol)).agg(collect_list(col("_p")).as("_dp"))
    reassembleSpans(docs.join(dups, Seq(idCol), "left"), idCol, windowTokens)
  }

  /** Shared reassembly of the span family: given (idCol, _ws, _dp?) drop
    * every token covered by a dup-window start in `_dp` and rebuild the
    * document. Row-local, and LINEAR in the document: the removed
    * positions expand to an explicit set and the survivors come from one
    * hash-based `array_except` — an exists-per-token scan over the dup
    * starts would be O(tokens x dups), quadratic on exactly the documents
    * span removal is for (long, heavily duplicated ones).
    */
  private def reassembleSpans(docs: DataFrame, idCol: String,
      windowTokens: Int): DataFrame =
    docs
      .withColumn("_dp", coalesce(col("_dp"), expr("array()")))
      .withColumn("_kept", when(size(col("_ws")) === 0,
          expr("CAST(array() AS array<string>)"))
        .otherwise(expr(
          s"""transform(
             |  array_except(sequence(1, size(_ws)),
             |    array_distinct(flatten(transform(_dp,
             |      p -> sequence(p, p + ${windowTokens - 1}))))),
             |  j -> element_at(_ws, j))""".stripMargin)))
      .select(col(idCol), size(col("_ws")).as("n_tokens"),
        (size(col("_ws")) - size(col("_kept"))).as("n_removed"),
        array_join(col("_kept"), " ").as("clean_text"))

  /** Persist the span-window index of a corpus: one row per distinct window
    * md5 with its first-occurrence coordinates, BUCKETED by the hash —
    * the span member of the content-hash index family
    * ([[exactWriteBucketed]] / [[paragraphWriteBucketed]]), so
    * [[compactIndex]]'s content-hash rule and the accretion monitor apply
    * unchanged. Increments probe with batch-sized shuffles only.
    */
  def spanWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      textCol: String, windowTokens: Int = 50, numBuckets: Int = 16): Unit = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val spark = corpus.sparkSession
    Sources.dropForOverwrite(spark, table)
    Sources.writeIndexMeta(spark, table, "window_tokens" -> windowTokens)
    Sources.writeBucketed(spanRows(corpus, idCol, textCol, windowTokens), table,
      Seq("content_hash"), numBuckets)
  }

  /** The span index rows of `docs`, for the build and the append. */
  private def spanRows(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    spanWindows(spanWords(docs, idCol, textCol), idCol, windowTokens)
      .groupBy(col("_h").as("content_hash"))
      .agg(min(struct(col(idCol), col("_p"))).as("_first"))
      .select(col("content_hash"), col("_first")(idCol).as("first_id"),
        col("_first")("_p").as("first_pos"))

  /** Incremental span removal against a [[spanWriteBucketed]] index: a
    * batch token survives unless covered by a window that is in the INDEX
    * or is a non-first occurrence WITHIN the batch (the same keep-first
    * rule as [[dedupSpans]], with the corpus as prior context; window size
    * from `<table>_meta`, never the caller). The index probe is a
    * bucket-aligned join — only batch-sized rows shuffle. Output matches
    * [[dedupSpans]].
    */
  def dedupSpansIncremental(batch: DataFrame, table: String, idCol: String,
      textCol: String): DataFrame = {
    val spark = batch.sparkSession
    val windowTokens = Sources.indexMeta(spark, table).getAs[Int]("window_tokens")
    val docs = spanWords(batch, idCol, textCol)
      .localCheckpoint(eager = false)
    val windows = spanWindows(docs, idCol, windowTokens)
      .localCheckpoint(eager = false)
    // a window is dup if its hash is already indexed...
    val inIndex = windows
      .join(spark.table(table).select(col("content_hash").as("_h")), Seq("_h"),
        "left_semi")
      .select(col(idCol), col("_p"))
    // ...or if an earlier batch occurrence exists (keep-first inside the
    // batch, corpus precedence already handled above)
    val batchFirst = windows.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("_p"))).as("_first"))
    val laterInBatch = windows.join(batchFirst, Seq("_h"))
      .filter(!(col(idCol) === col("_first")(idCol) &&
        col("_p") === col("_first")("_p")))
      .select(col(idCol), col("_p"))
    val dups = inIndex.unionAll(laterInBatch).distinct()
      .groupBy(col(idCol)).agg(collect_list(col("_p")).as("_dp"))
    reassembleSpans(docs.join(dups, Seq(idCol), "left"), idCol, windowTokens)
  }

  /** Append a batch's span windows to a [[spanWriteBucketed]] index in
    * place (window size from `<table>_meta`, same bucket layout) — pass the
    * CLEANED documents, same contract as [[paragraphAppendToIndex]].
    * Replay accretion compacts via [[compactIndex]]'s content-hash rule.
    */
  def spanAppendToIndex(docs: DataFrame, table: String, idCol: String,
      textCol: String): Unit =
    Sources.appendBucketed(spanRows(docs, idCol, textCol,
      Sources.indexMeta(docs.sparkSession, table).getAs[Int]("window_tokens")), table)

  /** Near-dup pairs via winnowing fingerprints
    * ([[TextAnalysis.winnowHashes]], Schleimer 2003): documents sharing ANY
    * selected window-minimum hash are candidates (the paper's guarantee:
    * every pair sharing a run of >= w + k - 1 words IS a candidate), then
    * exact word-set jaccard verifies against `threshold` — the same
    * candidates-then-verify shape as the MinHash/LSH families, with a
    * different recall contract: winnowing guarantees CONTIGUOUS-overlap
    * pairs, MinHash catches bag-of-words similarity without contiguity.
    * `maxBucket` drops fingerprint hashes shared by more documents (a
    * boilerplate window minimum would otherwise quadratically explode one
    * join key — the LSH bucket-cap trade, counted with a map-side-combined
    * aggregate before the self-join). Output: (id_a, id_b, jaccard).
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 4, w: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"winnow threshold must be in (0, 1], got $threshold")
    VectorFunctions.register(df.sparkSession)
    val fp = TextAnalysis.winnowHashes(df, idCol, textCol, k, w)
      .localCheckpoint(eager = false) // both sides of the self-join
    val pruned = Sources.capBuckets(fp, Seq("fp_hash"), maxBucket)
    val cands = pruned.select(col("fp_hash"), col(idCol).as("id_a"))
      .join(pruned.select(col("fp_hash"), col(idCol).as("id_b")), Seq("fp_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val wsets = df.select(col(idCol),
      expr(s"graft_shingle_hashes($textCol, 1)").as("_wset"))
      .localCheckpoint(eager = false)
    cands
      .join(wsets.select(col(idCol).as("id_a"), col("_wset").as("_wa")), Seq("id_a"))
      .join(wsets.select(col(idCol).as("id_b"), col("_wset").as("_wb")), Seq("id_b"))
      .withColumn("jaccard", expr("graft_jaccard_sorted(_wa, _wb)"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Persist a corpus's winnowing-fingerprint index — the contiguous-overlap
    * member of the persisted incremental-index family (exact: md5 hashes;
    * bag-of-words near-dup: minhash LSH; substring: window hashes;
    * semantic: IVF cells; THIS: winnow window-minima). Three tables,
    * mirroring [[minhashWriteBucketed]]: `<table>` holds (idCol, fp_hash)
    * bucketed by the hash (the shuffle-free candidate side), `<table>_sets`
    * holds the sorted word-hash arrays for the exact-jaccard verify,
    * `<table>_meta` pins (k, w) so an increment can never be fingerprinted
    * differently from its index.
    */
  def winnowWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      textCol: String, k: Int = 4, w: Int = 4, numBuckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    Seq(table, s"${table}_sets").foreach(Sources.dropForOverwrite(spark, _))
    Sources.writeIndexMeta(spark, table, "k" -> k, "w" -> w)
    Sources.writeBucketed(TextAnalysis.winnowHashes(corpus, idCol, textCol, k, w),
      table, Seq("fp_hash"), numBuckets)
    Sources.writeBucketed(wordSets(corpus, idCol, textCol), s"${table}_sets",
      Seq(idCol), numBuckets)
  }

  /** The `_sets` rows of the winnow index: each document's sorted word-hash
    * set, for the exact-jaccard verify.
    */
  private def wordSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), expr(s"graft_shingle_hashes($textCol, 1)").as("wset"))

  /** Contiguous-overlap pairs of an increment against a
    * [[winnowWriteBucketed]] index: `(batch_id, corpus_id, jaccard)` for
    * every batch/corpus pair sharing any winnow fingerprint hash whose
    * exact word-set jaccard reaches `threshold`. Fingerprint parameters
    * come from `<table>_meta`, never the caller. Corpus-shuffle-free: the
    * candidate join reads the fp table pre-bucketed on the hash (only the
    * batch side exchanges), the skew cap counts corpus hash buckets with a
    * bucketing-aligned aggregate, and the verify join reads `_sets`
    * pre-bucketed by id.
    */
  def winnowPairsIncremental(batch: DataFrame, table: String, idCol: String,
      textCol: String, threshold: Double, maxBucket: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"winnow threshold must be in (0, 1], got $threshold")
    val spark = batch.sparkSession
    VectorFunctions.register(spark)
    val meta = Sources.indexMeta(spark, table)
    val (k, w) = (meta.getAs[Int]("k"), meta.getAs[Int]("w"))
    val cappedCorpus = Sources.capBuckets(spark.table(table), Seq("fp_hash"), maxBucket)
    val batchFp = TextAnalysis.winnowHashes(batch, idCol, textCol, k, w)
      .select(col("fp_hash"), col(idCol).as("batch_id"))
    val candidates = cappedCorpus
      .select(col("fp_hash"), col(idCol).as("corpus_id"))
      .join(batchFp, Seq("fp_hash"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val batchSets = wordSets(batch, idCol, textCol)
      .select(col(idCol).as("batch_id"), col("wset").as("_wb"))
    val corpusSets = spark.table(s"${table}_sets")
      .select(col(idCol).as("corpus_id"), col("wset").as("_wc"))
    candidates
      .join(batchSets, Seq("batch_id"))
      .join(corpusSets, Seq("corpus_id"))
      .withColumn("jaccard", expr("graft_jaccard_sorted(_wb, _wc)"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Compact an accreted content-hash index (exact-dedup, paragraph, or
    * substring-window — any index bucketed on `content_hash`): replayed
    * epochs and overlapping appends leave duplicate hash rows that cost
    * probe-scan width but never correctness (the probe is an anti-join on
    * the hash — membership, not counts). Compaction rewrites one row per
    * distinct hash keeping the lexicographically-minimum payload (the
    * earliest provenance under the family's (id, idx)-style column order)
    * in the SAME bucket layout, then swaps via catalog rename — the
    * write-new-then-swap discipline of [[Similarity.ivfRebuild]]: probes
    * read the old index until the swap, the swap moves no data, and cost
    * is one index rewrite, scheduled from measured accretion (count vs
    * approx_count_distinct on the hash — one bucket-aligned aggregate),
    * never paid per append. The swap goes through
    * [[graft.sources.Sources.swapStaged]]: a crash mid-swap always leaves
    * a complete table one manual RENAME away, never a live-index-less
    * window (the sequence matters because EpochOps auto-triggers this
    * unattended when accretion exceeds 1.1).
    */
  def compactHashIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val spec = Sources.bucketSpecOf(spark, table)
    require(spec.bucketColumnNames == Seq("content_hash"),
      s"$table is not a content-hash index (bucketed on ${spec.bucketColumnNames})")
    compactIndex(spark, table)
  }

  /** The compaction KEY of an index table, dispatched on its bucket spec —
    * what "one row per ___" means for each persisted-index family:
    *
    *  - `content_hash` (exact / paragraph dedup): membership index, probes
    *    anti-join on the hash — one row per distinct hash, keep-min payload
    *    (the earliest provenance under the family's column order).
    *  - `h` / `fp_hash` / `(band, band_hash)` / `chunk_fp` / `term`
    *    (substring / winnow / minhash-LSH / media chunk / BM25 posting):
    *    EVIDENCE tables — many ids legitimately share a bucket, so the key
    *    is the full row; replayed appends collapse to distinct rows and
    *    nothing else may merge.
    *  - any other single column (the `_sets` verify tables, bucketed by the
    *    id): one row per id, keep-min payload — the keep-first canonical
    *    pick, identical to what the verify join would read anyway.
    *
    * Returned as (keyColumns, keepMinPayload).
    */
  private def compactionKey(bucketCols: Seq[String],
      allCols: Seq[String]): (Seq[String], Boolean) = bucketCols match {
    case Seq("content_hash") => (Seq("content_hash"), true)
    case Seq("h") | Seq("fp_hash") | Seq("band", "band_hash") |
         Seq("chunk_fp") | Seq("term") => (allCols, false)
    // an IVF/IVF-PQ index is bucketed on `_cell` — many rows per cell is
    // its WHOLE content; keep-min "compaction" would collapse it to one
    // row per cell. Its maintenance is ivfRebuild/ivfpqRebuild, never this.
    case Seq("_cell") => throw new IllegalArgumentException(
      "an IVF index is maintained by ivfRebuild/ivfpqRebuild, not compactIndex")
    case Seq(idLike) => (Seq(idLike), true)
    case other => throw new IllegalArgumentException(
      s"no compaction rule for an index bucketed on ${other.mkString(", ")}")
  }

  /** Compact ANY accreted index of the persisted family — exact/paragraph
    * content-hash tables, the minhash band table, winnow fingerprint and
    * substring window-hash tables, and their `_sets` verify sides: replayed
    * epochs and overlapping appends leave duplicate rows that cost probe
    * scan width but never correctness (probes are membership joins, not
    * counts). The rewrite keys on the family's [[compactionKey]], keeps the
    * SAME bucket layout (the groupBy/distinct runs bucketing-aligned — no
    * exchange — and the staged write re-buckets identically), then swaps
    * via [[graft.sources.Sources.swapStaged]], so a crash mid-swap always
    * leaves a complete table one RENAME away. Cost is one index rewrite,
    * scheduled from [[indexAccretion]] — never paid per append.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    val spec = Sources.bucketSpecOf(spark, table)
    val idx = spark.table(table)
    val cols = idx.columns.toIndexedSeq
    val (keys, keepMin) = compactionKey(spec.bucketColumnNames, cols)
    val compacted =
      if (!keepMin) idx.distinct()
      else {
        val payload = cols.filterNot(keys.contains)
        idx.groupBy(keys.map(col): _*)
          .agg(min(struct(payload.map(col): _*)).as("_p"))
          .select(cols.map(c =>
            if (keys.contains(c)) col(c) else col(s"_p.$c").as(c)): _*)
      }
    val staged = s"${table}_compact"
    Sources.dropForOverwrite(spark, staged)
    Sources.writeBucketed(compacted, staged, spec.bucketColumnNames, spec.numBuckets)
    Sources.swapStaged(spark, staged, table)
  }

  /** Accretion ratio of an index table: rows / distinct compaction keys
    * (approximate on the distinct side — one bucketing-aligned aggregate,
    * the 100 TB-safe way to measure bloat). 1.0 = fully compact; EpochOps
    * schedules [[compactIndex]] when this crosses its tolerance (1.1).
    */
  def indexAccretion(spark: org.apache.spark.sql.SparkSession, table: String): Double = {
    val spec = Sources.bucketSpecOf(spark, table)
    val idx = spark.table(table)
    val (keys, _) = compactionKey(spec.bucketColumnNames, idx.columns.toIndexedSeq)
    val row = idx.agg(count(lit(1)).as("_rows"),
      approx_count_distinct(struct(keys.map(col): _*)).as("_keys")).collect().head
    row.getLong(0).toDouble / math.max(row.getLong(1), 1L)
  }

  /** Persist the exact-dedup index: one row per distinct content hash with
    * its canonical (minimum) id, BUCKETED by the hash. The 128-bit md5 makes
    * the index collision-free in practice at any corpus size (a 64-bit hash
    * would not be: 10^12 docs ≈ 3·10^4 birthday collisions), and bucketing
    * means an increment probes it with batch-sized shuffles only — the index
    * is scanned pre-clustered, never reshuffled.
    */
  def exactWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      keyCol: String, numBuckets: Int = 16): Unit = {
    Sources.dropForOverwrite(corpus.sparkSession, table)
    Sources.writeBucketed(exactRows(corpus, idCol, keyCol), table,
      Seq("content_hash"), numBuckets)
  }

  /** The exact index rows of `docs`, for the build and the append. */
  private def exactRows(docs: DataFrame, idCol: String, keyCol: String): DataFrame =
    docs.groupBy(md5(col(keyCol)).as("content_hash")).agg(min(col(idCol)).as("id"))

  /** New-batch exact dedup against a [[exactWriteBucketed]] index: returns
    * the batch rows whose content is NOT already in the corpus, collapsed to
    * one canonical (minimum-id) row per distinct content within the batch —
    * the same representative rule as [[exact]]. The anti-join probes the
    * index in its bucket layout; only the batch side shuffles.
    */
  def exactDedupIncremental(batch: DataFrame, table: String, idCol: String,
      keyCol: String): DataFrame = {
    val spark = batch.sparkSession
    val cols = batch.columns
    // min_by over the full row: one hash aggregate collapses within-batch
    // duplicates and keeps every column of the surviving row
    val canonical = batch
      .groupBy(md5(col(keyCol)).as("content_hash"))
      .agg(min_by(struct(cols.toIndexedSeq.map(col): _*), col(idCol)).as("_row"))
    canonical
      .join(spark.table(table), Seq("content_hash"), "left_anti")
      .select(col("_row.*"))
  }

  /** Append new content to a [[exactWriteBucketed]] index in place (same
    * bucket layout), so the next [[exactDedupIncremental]] batch dedups
    * against the original corpus plus every earlier batch's survivors.
    * Pass rows already deduped (e.g. the survivors just returned) — appended
    * hashes are collapsed within `docs` but NOT re-checked against the index.
    */
  def exactAppendToIndex(docs: DataFrame, table: String, idCol: String,
      keyCol: String): Unit =
    Sources.appendBucketed(exactRows(docs, idCol, keyCol), table)

  /** Incremental SEMANTIC dedup against a persisted [[Similarity.ivfWriteBucketed]]
    * index: each new vector is assigned to its argmax cell with the
    * PERSISTED centroids (same quantizer the corpus was written with), joins
    * only that cell's corpus rows through the bucket layout, and pairs are
    * verified with exact cosine against `threshold`. Completes the
    * incremental-index family on the vector side (exact: md5 index; near-dup
    * text: minhash LSH index; near-dup vectors: this).
    *
    * Same SemDeDup blocking semantics (and recall caveat) as
    * [[semanticPairs]]: candidates share an argmax cell — identical vectors
    * always do, near-dups straddling a cell boundary are missed. `maxCell`
    * bounds skewed cells (the count groups on the bucketing key, so it costs
    * no exchange). Only batch-sized data shuffles: the corpus index is
    * scanned pre-bucketed, never reshuffled, never rebuilt.
    *
    * RETURN SHAPE: duplicate PAIRS `(batch_id, corpus_id, cosine)` — one row
    * per (batch vector, corpus vector) at or above `threshold`, like
    * [[semanticPairs]] — NOT surviving batch rows. This is deliberately
    * asymmetric with [[exactDedupIncremental]] (which returns survivors):
    * semantic "duplication" is a scored judgment the caller applies policy
    * to (drop, keep-best, human review), so the operator reports the
    * evidence; derive survivors with
    * `batch.join(pairs.select(batch_id), "left_anti")`.
    */
  def semanticDedupIncremental(batch: DataFrame, table: String, idCol: String,
      vecCol: String, threshold: Double = 0.9, maxCell: Int = 100): DataFrame = {
    val spark = batch.sparkSession
    VectorFunctions.register(spark)
    val centroids = Similarity.readCentroids(spark, table)
    val probes = batch
      .withColumn("_cell", element_at(Similarity.cellsCol(vecCol, centroids, 1), 1))
      .withColumn("_bnorm", sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")))
      .filter(col("_bnorm") > 0) // zero-norm guard — see Similarity.bruteForceTopK
      .select(col("_cell"), col(idCol).as("batch_id"), col(vecCol).as("_bv"),
        col("_bnorm"))
    Sources.capBuckets(spark.table(table), Seq("_cell"), maxCell)
      .join(probes, "_cell")
      .select(col("batch_id"), col(idCol).as("corpus_id"),
        (expr(s"graft_vec_dot($vecCol, _bv)") / (col("_cnorm") * col("_bnorm")))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Exact-substring duplicate pairs: documents sharing at least one run of
    * `windowTokens` consecutive tokens (the signal behind suffix-array
    * training-data dedup, Lee et al. 2021 "Deduplicating Training Data
    * Makes Language Models Better" — two docs share a >= w-token substring
    * iff they share a w-token window). Output (id_a, id_b, n_shared) where
    * n_shared counts the DISTINCT shared windows — long shared runs score
    * proportionally higher. Documents shorter than the window fall back to
    * a whole-text fingerprint (same semantics as [[shingles]]), so short
    * exact dups are still caught.
    *
    * Scale shape: one map pass hashes each doc's distinct windows
    * (primitive longs — window STRINGS never leave the mapper), one
    * shuffle on the 64-bit window hash, a bucket-capped self-join (the cap
    * bounds boilerplate windows shared by thousands of docs, same guard as
    * [[minhashDedup]]), and a pair-count aggregate. No verify pass: a
    * false pair needs an xxhash64 collision between two of a corpus's
    * distinct windows — negligible at any realistic scale, and the DuckDB
    * oracle (which compares true window strings) would catch it.
    *
    * Blank/whitespace-only (and null) documents are dropped up front: the
    * whole-text fallback would otherwise hash their single empty token and
    * report every pair of blank docs as sharing a "window" — not a
    * meaningful shared-substring signal.
    */
  def substringPairs(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 50, maxBucket: Int = 100): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    VectorFunctions.register(df.sparkSession)
    val rows = windowRows(df, idCol, textCol, windowTokens)
    val capped = Sources.capBuckets(rows, Seq("h"), maxBucket)
      .localCheckpoint(eager = false) // both sides of the self-join
    capped.select(col("h"), col(idCol).as("id_a"))
      .join(capped.select(col("h"), col(idCol).as("id_b")), "h")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The distinct-window hash rows (idCol, h) behind [[substringPairs]] and
    * the persisted substring index: one 64-bit xxhash per distinct
    * `windowTokens`-token window (whole-text fallback below the window
    * size), blank/null docs dropped — window STRINGS never leave the
    * mapper.
    */
  private def windowRows(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    df.filter(trim(col(textCol)) =!= "") // null-safe: null trims to null, drops
      .select(col(idCol),
        explode(expr(s"graft_shingle_hashes($textCol, $windowTokens)")).as("h"))

  /** Persist the exact-substring dedup index: every document's DISTINCT
    * `windowTokens`-token window hashes as (idCol, h) rows BUCKETED by the
    * hash, plus `<table>_meta` pinning the window size so an increment can
    * never be windowed differently from the index it probes. The substring
    * member of the persisted-index family ([[exactWriteBucketed]] /
    * [[minhashWriteBucketed]] / [[Similarity.ivfWriteBucketed]]): build once
    * over the corpus, then each batch pays batch-sized shuffles only.
    */
  def substringWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      textCol: String, windowTokens: Int = 50, numBuckets: Int = 16): Unit = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    Sources.dropForOverwrite(spark, table)
    Sources.writeIndexMeta(spark, table, "window_tokens" -> windowTokens)
    Sources.writeBucketed(windowRows(corpus, idCol, textCol, windowTokens), table,
      Seq("h"), numBuckets)
  }

  /** Shared-substring report of a batch against a [[substringWriteBucketed]]
    * index: `(batch_id, corpus_id, n_shared)` — one row per (batch doc,
    * corpus doc) sharing at least one distinct `windowTokens`-token window
    * (the Lee et al. 2021 signal, incremental form; window size comes from
    * `<table>_meta`, not the caller). Returns evidence PAIRS like
    * [[semanticDedupIncremental]]; derive survivors with an anti-join on
    * batch_id, thresholding n_shared as policy demands.
    *
    * Corpus-shuffle-free: the join reads the index pre-bucketed on the
    * window hash, so only batch-sized rows exchange, and the `maxBucket`
    * skew cap (boilerplate windows shared by thousands of docs) counts
    * corpus bucket sizes with a bucketing-aligned groupBy + join-back —
    * no exchange on the corpus side anywhere in the plan.
    */
  def substringDedupIncremental(batch: DataFrame, table: String, idCol: String,
      textCol: String, maxBucket: Int = 100): DataFrame = {
    val spark = batch.sparkSession
    VectorFunctions.register(spark)
    val windowTokens = Sources.indexMeta(spark, table).getAs[Int]("window_tokens")
    val batchRows = windowRows(batch, idCol, textCol, windowTokens)
      .select(col("h"), col(idCol).as("batch_id"))
    Sources.capBuckets(spark.table(table), Seq("h"), maxBucket)
      .select(col("h"), col(idCol).as("corpus_id"))
      .join(batchRows, "h")
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Append new docs' window hashes to a [[substringWriteBucketed]] index in
    * place (window size from `<table>_meta`, same bucket layout), so the
    * next [[substringDedupIncremental]] batch also dedups against every
    * earlier batch's survivors.
    */
  def substringAppendToIndex(docs: DataFrame, table: String, idCol: String,
      textCol: String): Unit = {
    val spark = docs.sparkSession
    VectorFunctions.register(spark)
    Sources.appendBucketed(windowRows(docs, idCol, textCol,
      Sources.indexMeta(spark, table).getAs[Int]("window_tokens")), table)
  }

  /** MinHash-LSH candidate pairs (idA < idB), verified with exact Jaccard
    * over the same shingle sets; pairs below `threshold` are dropped.
    *
    * numHashes = bands * rowsPerBand. Recall tradeoff: P(candidate) =
    * 1 - (1 - j^r)^b for true Jaccard j.
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBucket: Int = 100,
      threshold: Double = 0.7): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    // single-pass shingle hashing (graft_shingle_hashes): all downstream work
    // (signature, exact-jaccard verify) runs on sorted primitive long arrays;
    // no n-gram strings are materialized anywhere
    // checkpoint: `sets` feeds the banding pass AND both sides of the verify
    // join — without it the shingle-hash scan (the expensive map work) runs
    // three times
    val sets = df
      .select(col(idCol), expr(s"graft_shingle_hashes($textCol, $shingleSize)").as("sh"))
      .localCheckpoint(eager = false)
    minhashDedupFromSets(sets, idCol, bands, rowsPerBand, maxBucket, threshold)
  }

  /** The text-free core of [[minhashDedup]]: MinHash-LSH candidate discovery
    * + exact-Jaccard verify over precomputed shingle-hash sets `(idCol, sh)`
    * (sorted distinct 64-bit hashes, as produced by graft_shingle_hashes).
    * Reuse this when the shingle scan is shared with other stages — e.g.
    * [[TextAnalysis.curateFuzzy]] computes the sets in the same single text
    * pass as its quality metrics. `sets` is consumed by the banding pass AND
    * both sides of the verify join; pass it checkpointed (or otherwise
    * cheap to re-evaluate).
    */
  def minhashDedupFromSets(
      sets: DataFrame,
      idCol: String,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBucket: Int = 100,
      threshold: Double = 0.7): DataFrame =
    minhashDedupFromBandRows(sets,
      bandRowsOf(sets, idCol, bands, rowsPerBand), idCol, maxBucket, threshold)

  /** [[minhashDedupFromSets]] over PRECOMPUTED band rows (the
    * [[bandRowsOf]] shape, banded from the SAME `sets` frame): the minhash
    * signature pass (k hashes over every shingle of every doc) is the
    * funnel's heaviest per-doc map work after shingling, and a caller that
    * also probes and extends a persisted index needs the identical banding
    * three times per micro-batch — checkpoint one band-rows frame and share
    * it instead of re-signing the batch per stage.
    */
  def minhashDedupFromBandRows(
      sets: DataFrame,
      bandRows: DataFrame,
      idCol: String,
      maxBucket: Int = 100,
      threshold: Double = 0.7): DataFrame = {
    VectorFunctions.register(sets.sparkSession)
    // cap pathological buckets (boilerplate shingle collisions) — skew
    // guard, shared [[Sources.capBuckets]] form. lazy checkpoint: `buckets`
    // is both sides of the self-join below, and without it the banding
    // explode (+ cap) runs twice
    val buckets = Sources.capBuckets(bandRows, Seq("band", "band_hash"), maxBucket)
      .localCheckpoint(eager = false)

    // candidate id pairs, deduped BEFORE the (expensive) exact verify so a
    // pair colliding in many bands is verified once
    val candidates = buckets.alias("a")
      .join(buckets.alias("b"), Seq("band", "band_hash"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()

    candidates
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        expr("graft_jaccard_sorted(sh_a, sh_b)").as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH band rows (idCol, band, band_hash) of a `(idCol, sh)` shingle-set
    * frame — the shared banding between [[minhashDedup]] and the persisted
    * incremental index, so an increment is banded bit-for-bit like the
    * corpus it probes.
    */
  private[graft] def bandRowsOf(sets: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    sets
      .withColumn("sig", expr(s"graft_minhash_sig(sh, $k)"))
      .select(col(idCol), posexplode(
        expr(s"transform(sequence(0, ${bands - 1}), j -> xxhash64(j, slice(sig, j * $rowsPerBand + 1, $rowsPerBand)))"))
        .as(Seq("band", "band_hash")))
  }

  /** Persist a corpus's MinHash-LSH index as bucketed tables so later
    * increments dedup against it without ever reshuffling the corpus — the
    * dedup counterpart of [[Similarity.ivfWriteBucketed]]. Three tables:
    * `<table>` holds the band rows (idCol, band, band_hash) bucketed and
    * sorted by (band, band_hash) — the shuffle-free side of the incremental
    * candidate join; `<table>_sets` holds the sorted shingle-hash arrays
    * (idCol, sh) bucketed by idCol for the exact-Jaccard verify join;
    * `<table>_meta` carries the banding parameters, re-read at query time so
    * an increment can never be banded differently from its index. Build once
    * over the full corpus; afterwards each daily/hourly batch pays only
    * batch-sized shuffles (see [[minhashDedupIncremental]]).
    */
  def minhashWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      textCol: String, shingleSize: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4, numBuckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    Seq(table, s"${table}_sets").foreach(Sources.dropForOverwrite(spark, _))
    Sources.writeIndexMeta(spark, table, "shingle_size" -> shingleSize,
      "bands" -> bands, "rows_per_band" -> rowsPerBand)
    // checkpoint: the shingle scan (the expensive map work) feeds both tables
    val sets = corpus
      .select(col(idCol), expr(s"graft_shingle_hashes($textCol, $shingleSize)").as("sh"))
      .localCheckpoint(eager = false)
    Sources.writeBucketed(bandRowsOf(sets, idCol, bands, rowsPerBand), table,
      Seq("band", "band_hash"), numBuckets)
    Sources.writeBucketed(sets, s"${table}_sets", Seq(idCol), numBuckets)
  }

  /** Dedup an increment against a [[minhashWriteBucketed]] index: emits
    * `(batch_id, corpus_id, jaccard)` for every batch doc whose exact
    * shingle Jaccard with a corpus doc reaches `threshold`, discovered
    * through the same banding the index was built with (parameters come
    * from `<table>_meta`, not the caller).
    *
    * Corpus-shuffle-free by construction: the candidate join reads the band
    * table pre-bucketed on (band, band_hash), so only the batch side
    * exchanges; the skew cap counts corpus bucket sizes with a
    * bucketing-aligned aggregate (again no exchange); and the verify join
    * reads `<table>_sets` pre-bucketed on idCol. At 100 TB the corpus index
    * is scanned but never reshuffled — every shuffle in the plan is
    * O(batch + candidates), which is what makes per-increment dedup against
    * a full-history corpus affordable.
    */
  /** (shingleSize, bands, rowsPerBand) from `<table>_meta`.
    * `private[graft]`: the streaming funnel pins its batch-local banding
    * parameters to the index it probes, so one meta row governs both.
    */
  private[graft] def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      table: String): (Int, Int, Int) = {
    val m = Sources.indexMeta(spark, table)
    (m.getAs[Int]("shingle_size"), m.getAs[Int]("bands"), m.getAs[Int]("rows_per_band"))
  }

  /** Append new docs to a [[minhashWriteBucketed]] index in place: their
    * band rows and shingle sets land in the same bucket layout (parameters
    * from `<table>_meta`), so subsequent [[minhashDedupIncremental]] probes
    * see them with the same shuffle-free plan. This is what makes streaming
    * ingest self-deduplicating: each micro-batch's survivors extend the
    * index the next batch probes.
    */
  def minhashAppendToIndex(docs: DataFrame, table: String, idCol: String,
      textCol: String): Unit = {
    val spark = docs.sparkSession
    VectorFunctions.register(spark)
    val meta = readIndexMeta(spark, table) // ONE meta collect for both steps
    // checkpoint: the shingle scan feeds both appends
    val sets = docs
      .select(col(idCol), expr(s"graft_shingle_hashes($textCol, ${meta._1})").as("sh"))
      .localCheckpoint(eager = false)
    appendSetsWithMeta(sets, table, idCol, meta)
  }

  /** [[minhashAppendToIndex]] over PRECOMPUTED shingle sets `(idCol, sh)`.
    * CONTRACT: the sets must have been hashed with the index's own
    * `shingle_size` (read it via [[readIndexMeta]]) — the streaming funnel
    * pins its one per-batch shingle pass to the index meta and then feeds
    * the same sets to the local pass, the probe and this append, so the
    * expensive text scan happens once instead of three times.
    */
  def minhashAppendToIndexFromSets(sets: DataFrame, table: String,
      idCol: String): Unit =
    appendSetsWithMeta(sets, table, idCol,
      readIndexMeta(sets.sparkSession, table))

  private def appendSetsWithMeta(sets: DataFrame, table: String, idCol: String,
      meta: (Int, Int, Int)): Unit = {
    val (_, bands, rowsPerBand) = meta
    minhashAppendToIndexFromBandRows(sets,
      bandRowsOf(sets, idCol, bands, rowsPerBand), table)
  }

  /** [[minhashAppendToIndexFromSets]] over PRECOMPUTED band rows (banded
    * from the SAME `sets` frame with the index's meta parameters — the
    * caller's responsibility, normally met by deriving both from one shared
    * [[bandRowsOf]] checkpoint). Both tables append in their own catalog
    * layout.
    */
  private[graft] def minhashAppendToIndexFromBandRows(sets: DataFrame,
      bandRows: DataFrame, table: String): Unit = {
    VectorFunctions.register(sets.sparkSession)
    Sources.appendBucketed(bandRows, table)
    Sources.appendBucketed(sets, s"${table}_sets")
  }

  def minhashDedupIncremental(batch: DataFrame, table: String, idCol: String,
      textCol: String, maxBucket: Int = 100, threshold: Double = 0.7): DataFrame = {
    val spark = batch.sparkSession
    VectorFunctions.register(spark)
    val meta = readIndexMeta(spark, table) // ONE meta collect for both steps
    // checkpoint: feeds the banding pass and the verify join
    val batchSets = batch
      .select(col(idCol), expr(s"graft_shingle_hashes($textCol, ${meta._1})").as("sh"))
      .localCheckpoint(eager = false)
    probeSetsWithMeta(batchSets, table, idCol, maxBucket, threshold, meta)
  }

  /** [[minhashDedupIncremental]] over PRECOMPUTED shingle sets `(idCol,
    * sh)` — same contract as [[minhashAppendToIndexFromSets]]: the sets
    * must be hashed with the index meta's `shingle_size`.
    */
  def minhashDedupIncrementalFromSets(batchSets: DataFrame, table: String,
      idCol: String, maxBucket: Int = 100,
      threshold: Double = 0.7): DataFrame =
    probeSetsWithMeta(batchSets, table, idCol, maxBucket, threshold,
      readIndexMeta(batchSets.sparkSession, table))

  private def probeSetsWithMeta(batchSets: DataFrame, table: String,
      idCol: String, maxBucket: Int, threshold: Double,
      meta: (Int, Int, Int)): DataFrame = {
    val (_, bands, rowsPerBand) = meta
    probeSetsWithBands(batchSets,
      bandRowsOf(batchSets, idCol, bands, rowsPerBand), table, idCol,
      maxBucket, threshold)
  }

  /** [[minhashDedupIncrementalFromSets]] over PRECOMPUTED batch band rows
    * (banded from the SAME `batchSets` frame with the index's meta
    * parameters — the caller's responsibility, normally met by deriving
    * both from one shared [[bandRowsOf]] checkpoint).
    */
  private[graft] def probeSetsWithBands(batchSets: DataFrame,
      bandRows: DataFrame, table: String, idCol: String, maxBucket: Int,
      threshold: Double): DataFrame = {
    val spark = batchSets.sparkSession
    VectorFunctions.register(spark)
    val batchBands = bandRows
      .select(col(idCol).as("batch_id"), col("band"), col("band_hash"))
    val candidates = Sources.capBuckets(spark.table(table), Seq("band", "band_hash"),
        maxBucket)
      .join(batchBands, Seq("band", "band_hash"))
      .select(col("batch_id"), col(idCol).as("corpus_id"))
      .distinct()
    candidates
      .join(batchSets.select(col(idCol).as("batch_id"), col("sh").as("sh_a")), "batch_id")
      .join(spark.table(s"${table}_sets")
        .select(col(idCol).as("corpus_id"), col("sh").as("sh_b")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        expr("graft_jaccard_sorted(sh_a, sh_b)").as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Append new docs' winnow fingerprints and word sets to a
    * [[winnowWriteBucketed]] index in place ((k, w) from `<table>_meta`,
    * same layout), completing the build/probe/append symmetry the other
    * persisted families have: each batch's survivors extend the index the
    * next batch probes.
    */
  def winnowAppendToIndex(docs: DataFrame, table: String, idCol: String,
      textCol: String): Unit = {
    val spark = docs.sparkSession
    VectorFunctions.register(spark)
    val meta = Sources.indexMeta(spark, table)
    Sources.appendBucketed(TextAnalysis.winnowHashes(docs, idCol, textCol,
      meta.getAs[Int]("k"), meta.getAs[Int]("w")), table)
    Sources.appendBucketed(wordSets(docs, idCol, textCol), s"${table}_sets")
  }

  /** 64-bit SimHash over the word multiset of `text` — one map pass, no
    * shuffle: per word, each of the 64 bits of xxhash64(word) votes +1/-1;
    * sign of the vote sum becomes the sketch bit. Tokenize + hash run in one
    * tight loop (graft_word_hashes) — the HOF formulation interprets a
    * lambda per token.
    */
  def simhash64(textCol: String): Column =
    expr(s"graft_simhash64(graft_word_hashes($textCol))")

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found by
    * chunk banding over (maxHamming + 1) chunks and verified with
    * bit_count(a XOR b).
    *
    * Skew guard: `maxBucket` caps the (chunk, chunk_val) bucket size, like
    * [[minhashDedup]] — a degenerate corpus (many empty/near-empty docs with
    * identical sketch chunks) would otherwise produce a quadratic bucket.
    * Because a dropped bucket's pair can still surface through any of the
    * other maxHamming chunks, capping one bucket does not sever a near-dup
    * cluster outright. Pass Int.MaxValue to disable (exact-recall runs).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val chunks = maxHamming + 1
    val width = 64 / chunks
    // NB: Scala's 1L << 64 wraps to 1 (shift mod 64), so the naive mask is 0
    // for maxHamming = 0 — every row would land in one bucket (full n^2 join)
    val chunkMask = if (width >= 64) -1L else (1L << width) - 1
    VectorFunctions.register(df.sparkSession)
    val sk = df.select(col(idCol), simhash64(textCol).as("simhash"))
      .select(col(idCol), col("simhash"), posexplode(
        expr(s"transform(sequence(0, ${chunks - 1}), c -> shiftrightunsigned(simhash, c * $width) & $chunkMask)"))
        .as(Seq("chunk", "chunk_val")))
    // cap pathological buckets — shared [[Sources.capBuckets]] form. lazy
    // checkpoint: both sides of the self-join read this, so the sketch
    // pass (+ cap) runs once
    val buckets = Sources.capBuckets(sk, Seq("chunk", "chunk_val"), maxBucket)
      .localCheckpoint(eager = false)
    val a = buckets.select(col("chunk"), col("chunk_val"), col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = buckets.select(col("chunk"), col("chunk_val"), col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      // hamming filter BEFORE the distinct: failing pairs never enter the
      // distinct's exchange
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact pairwise word-set Jaccard within blocking keys, found by
    * frequency-ordered PREFIX FILTERING (the AllPairs/PPJoin family) instead
    * of a quadratic within-block cross join, then verified with the exact
    * set Jaccard — output is identical to the naive formulation.
    *
    * Principle: order every word set by ascending global document frequency
    * (rarest first, ties by hash). For J(A,B) >= t, the overlap c satisfies
    * c >= t/(1+t) * (|A|+|B|); with symmetric prefixes of length
    * |s| - ceil(t/(1+t)*|s|) + 1 the elements of A∩B outside either prefix
    * number < c, so every qualifying pair shares at least one PREFIX token.
    * Candidates therefore come from a join on (block, prefix-token) — and
    * because prefixes hold each document's RAREST tokens, ubiquitous tokens
    * (stopwords) never generate candidates. Dissimilar documents that merely
    * share common words are never even paired, which is what turns the
    * within-block quadratic into near-linear work: at 10x the corpus the
    * candidate count grows with the true near-dup count, not with
    * block-size^2.
    *
    * Every stage is a linear shuffle of (hash, count) shaped rows — the word
    * arrays themselves ride a shuffle only for the final verify of actual
    * candidates.
    *
    * The returned DataFrame is an eager local checkpoint, and the caller
    * owns it: release its blocks with `GraftSqlShims.unpersistCheckpoint`
    * when done (`Dataset.unpersist` is a no-op on a local checkpoint).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      /** Capacity sizing for the candidate join: one shuffle partition per
        * this many pre-distinct candidate pairs, engaged only when the
        * resulting floor EXCEEDS the session default. The r16 Zipf-sf10
        * probe found the failure mode: 500k docs over a fixed 50k-type
        * vocabulary put 1.2B prefix candidates through a 32-partition
        * distinct (37M rows/task) — heap death. Tests pass 1 to force the
        * scoped path on small fixtures.
        */
      massPerPartition: Long = 2000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in (0, 1], got $threshold")
    VectorFunctions.register(df.sparkSession)
    // word sets as sorted 64-bit hash arrays: single-pass, primitive merges.
    // checkpointed: feeds the frequency aggregate, the prefix explode and
    // both sides of the verify join
    val withSet = df.select(
      (col(idCol) +: blockCols.map(col)) :+
        expr(s"graft_shingle_hashes($textCol, 1)").as("wset"): _*)
      .localCheckpoint(eager = false)
    // global document frequency per token hash — rarity is a global notion
    val freq = withSet.select(explode(col("wset")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tok_df"))
    // epsilon guards the FP direction that matters: if u*sz evaluates a hair
    // ABOVE an exact integer, ceil() shortens the prefix by one position and
    // the completeness proof no longer holds — a slightly smaller u only
    // lengthens the prefix (more candidates, same verified output)
    val u = threshold / (1.0 + threshold) - 1e-9
    // rank each document's tokens rarest-first and keep the prefix
    val ranked = withSet
      .select((col(idCol) +: blockCols.map(col)) :+
        size(col("wset")).as("sz") :+ explode(col("wset")).as("tok"): _*)
      .join(freq, "tok")
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("tok_df"), col("tok"))))
      .filter(col("_rk") <= col("sz") - ceil(lit(u) * col("sz")).cast("int") + 1)
      .select(blockCols.map(col) :+ col(idCol) :+ col("sz") :+ col("_rk") :+ col("tok"): _*)
      .localCheckpoint(eager = false) // both sides of the candidate self-join
    val spark = df.sparkSession
    // The prefix-join + verify stages are CPU-DENSE: per row they hash-
    // probe and merge sorted token arrays, so their compute cost is orders
    // of magnitude above their shuffle BYTES — and AQE's byte-based
    // coalescing collapsed them to a single 2.5 s task at sf0.1 while 31
    // cores idled (r19 per-job profile: the whole candidate+verify pipeline ran
    // as ONE task over the 1-partition `ranked` checkpoint). A smaller
    // coalescing minPartitionSize keeps the post-shuffle partition count
    // tracking max(bytes/defaultParallelism, 64k) — core-count-adaptive on
    // tiny inputs, byte-sized (a no-op) at scale where
    // bytes/defaultParallelism >> 64k (guide §2.5: compute density the
    // byte heuristic cannot see). The scope must cover the massRow action
    // below — it is the FIRST action, so it materializes the `ranked` and
    // `withSet` checkpoints, freezing their partition counts for every
    // downstream stage. Interleaved same-JVM A/B at sf0.1: 3.84 -> 2.28 s
    // median (r19; `graft.tools.Probe dedup_jaccard <dir> 3
    // spark.graft.densePartitionMinBytes=1m` reruns it with B as the old
    // behavior).
    // parameterised (session conf, local default 64k) so deployments can
    // retune and A/B harnesses can toggle the old behavior (1m = AQE's
    // default, i.e. scope becomes a no-op)
    def denseScoped[T](body: => T): T = graft.SparkUtil.withConfs(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        spark.conf.getOption("spark.graft.densePartitionMinBytes")
          .getOrElse("65536"))(body)
    // candidate MASS = the prefix join's pre-distinct output size, closed
    // form from per-(block, token) counts — one cheap aggregate over the
    // already-needed checkpoint. It sizes the candidate shuffles the same
    // way components sizes its edge aggregates: the session default is
    // corpus-scan sized, not candidate sized, and on a dense-vocabulary
    // corpus the candidates outgrow the corpus quadratically per decade.
    val massRow = denseScoped { ranked
      .groupBy((blockCols.map(col) :+ col("tok")): _*)
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) DIV 2")).as("m")).head() }
    val mass = if (massRow.isNullAt(0)) 0L else massRow.getLong(0)
    def plan(): DataFrame = {
      val a = ranked.select(blockCols.map(col) :+ col("tok") :+
        col(idCol).as("id_a") :+ col("sz").as("sz_a") :+ col("_rk").as("rk_a"): _*)
      val b = ranked.select(blockCols.map(col) :+ col("tok") :+
        col(idCol).as("id_b") :+ col("sz").as("sz_b") :+ col("_rk").as("rk_b"): _*)
      // deduped BEFORE the expensive exact verify (same pattern as minhash),
      // with BOTH textbook pre-filters on the joined rows:
      //   LENGTH: J >= t forces min|set| >= t * max|set| (J <= min/max);
      //   POSITIONAL: tokens sort by the same global (df, tok) order in
      //     every set, so a pair's common tokens appear in the same relative
      //     order — at a shared token with positions (pa, pb) the remaining
      //     overlap is at most min(|A|-pa, |B|-pb), and J >= t needs overlap
      //     >= t/(1+t)·(|A|+|B|). The pair's FIRST shared prefix token
      //     always passes for a qualifying pair (all its overlap lies at or
      //     after it), so keeping a pair when ANY shared token passes is
      //     complete; rows failing it never reach the distinct. Epsilons on
      //     the ADMIT side — the exact verify re-checks every survivor.
      val candidates = a.join(b, blockCols :+ "tok")
        .filter(col("id_a") < col("id_b"))
        .filter(least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(threshold - 1e-9) * greatest(col("sz_a"), col("sz_b")))
        .filter((lit(1) + least(col("sz_a") - col("rk_a"),
            col("sz_b") - col("rk_b"))).cast("double") >=
          ceil(lit(u) * (col("sz_a") + col("sz_b"))))
        .select(col("id_a"), col("id_b"))
        .distinct()
      candidates
        .join(withSet.select(col(idCol).as("id_a"), col("wset").as("set_a")), "id_a")
        .join(withSet.select(col(idCol).as("id_b"), col("wset").as("set_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          expr("graft_jaccard_sorted(set_a, set_b)").as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val floor = math.min(20000L, mass / math.max(1L, massPerPartition) + 1L).toInt
    // Both arms materialize INSIDE their conf scope (a lazily returned plan
    // would execute under the restored defaults); the output is the
    // verified pair list — dup-sized, the thing callers iterate over
    // anyway — and materializing it here lets the intermediates go now
    // instead of at ContextCleaner's leisure.
    val out = if (floor <= sessionParts)
      denseScoped { plan().localCheckpoint(eager = true) }
    else graft.SparkUtil.withShufflePartitions(spark, floor) {
      // AQE coalescing sizes partitions by the join's INPUT bytes (a few
      // dozen MB of prefix rows) and would collapse the floor right back to
      // a handful of tasks whose join OUTPUT is the 1e9-row candidate mass
      // — the exact heap death the floor exists to prevent. Pin coalescing
      // off inside the scope; skew-join and the other AQE rules stay on.
      graft.SparkUtil.withConfs(spark,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        plan().localCheckpoint(eager = true)
      }
    }
    // the result is its own checkpoint; the intermediates can go now
    org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(ranked)
    org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(withSet)
    out
  }

  /** Connected components over near-duplicate pairs: assigns every id the
    * minimum id reachable through the pair graph, turning pairwise matches
    * into dedup groups (keep the representative, drop the rest).
    *
    * Iterative label propagation: each round joins labels across edges and
    * takes the min; converges in O(log(diameter)) rounds — dup clusters are
    * shallow (near-clique), so a handful of shuffles total. All joins are
    * key-partitioned; nothing is collected to the driver.
    */
  def components(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // materialize the PAIR list once — its lineage may be a whole LSH
    // pipeline, which must not be recomputed every iteration — and size
    // everything downstream (including the edge distinct, which previously
    // ran OUTSIDE the sized scope) from its count
    // LAZY: the count below is the first action and materializes it — an
    // eager checkpoint would pay one extra job (+ driver gap) for the same
    // compute-once guarantee, and components runs per MICRO-BATCH in the
    // streaming funnel where per-job fixed cost is the floor
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint(eager = false)
    val spark = pairs.sparkSession
    val pairCount = p.count()
    // empty pair set -> empty labeling, skipping the seed aggregate, the
    // convergence fingerprints and at least one pointer-jumping round
    // (several jobs). Matters per MICRO-BATCH in the streaming funnel,
    // where clean batches are the common case and every per-batch job is
    // pure fixed cost (the r12 streaming-trio floor, PLANS.md).
    if (pairCount == 0L) {
      org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(p)
      // built from `pairs` (not the unpersisted checkpoint); LIMIT 0
      // optimizes to an empty LocalRelation, so the lineage never runs
      return pairs.select(col("id_a").as("id"), col("id_b").as("label")).limit(0)
    }
    // size the iterative shuffles to the graph: each round is several
    // shuffle stages, and fixed per-partition overhead dominates when the
    // dup graph is much smaller than the corpus — the session default is
    // sized for the corpus scan, not this graph. Two rules compose:
    //   - downsize toward 1 partition per 500k edges, capped at the
    //     session default (small graphs pay less fixed cost);
    //   - a CAPACITY FLOOR of 1 partition per 1M edges that may EXCEED the
    //     session default — a hash aggregate fed >1M edge rows per task is
    //     where [AGGREGATE_OUT_OF_MEMORY] lives on a 256 MB/task budget
    //     (the r15 sf10 ER graph: 162M edges at the pinned 32 partitions
    //     = 5M rows/task). On a cluster whose session default is already
    //     graph-sized the floor is a no-op; it only engages when the
    //     default would under-partition THIS aggregate.
    val est = 2L * pairCount // both directions, pre-distinct upper bound
    val parts = math.max(math.max(1, (est / 1000000L).toInt), math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      (est / 500000L).toInt + 1))
    // everything inside is checkpointed, so no plan escapes the scope lazily
    graft.SparkUtil.withShufflePartitions(spark, parts) {
    // undirected edge list (both directions), plus self-loops to keep
    // singletons of the pair set — distinct'd INSIDE the sized scope
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(eager = true)
    // the edges checkpoint is materialized and nothing below reads p again —
    // drop the pair-list blocks now instead of waiting for ContextCleaner GC
    // (this runs per MICRO-BATCH in the streaming funnel, and at sf10 the
    // pair copy is 162M-edge-sized retained storage). NOTE: must go through
    // the RDD-level shim — Dataset.unpersist only talks to the cache
    // manager and is a silent no-op on a localCheckpoint's blocks
    org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(p)
    // seed labels with min(self, neighbors) — the (dst, src) projection folds
    // the first neighbor-min round into the same initial aggregate, so
    // pair-shaped clusters (the overwhelmingly common dup shape) are already
    // labeled and the loop below only runs its confirming round
    var labels = edges.select(col("src").as("id"), col("src").as("label"))
      .unionAll(edges.select(col("dst").as("id"), col("src").as("label")))
      .groupBy("id").agg(min("label").as("label"))
      // the initial labelSum action materializes this; round 1's joins then
      // read the cache instead of re-running the edges aggregate
      .localCheckpoint(eager = false)
    // labels only ever decrease (least of current and candidates), so any
    // change to the assignment changes at least one (id, label) row; an
    // exact sum of per-row xxhash64 fingerprints is a convergence check
    // that works for ANY id type (string ids included — no numeric cast).
    // One cheap aggregate per round replaces a full labels-vs-labels join;
    // a false fixpoint needs a colliding 64-bit hash SUM across the changed
    // rows (~2^-64, deterministic either way).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(xxhash64(col("id"), col("label")).cast("decimal(38,0)")))
          .head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty graph sums to null
    var curSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // candidate label for dst = min label among its neighbors
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nlabel"))
      // lazy checkpoint: viaEdges appears twice in next's plan (directly and
      // through the parents self-join) — cache it on first materialization
      // instead of computing its two joins twice
      val viaEdges = labels.join(viaNeighbors, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint(eager = false)
      // pointer jumping: also adopt the label of one's label — turns linear
      // chain propagation into logarithmic convergence
      val parents = viaEdges.select(col("id").as("label"), col("label").as("plabel"))
      val next = viaEdges.join(parents, Seq("label"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
      // LAZY checkpoint + the convergence aggregate as its materializing
      // action: `next` is still computed exactly once (the agg computes and
      // persists every partition, lineage truncates at job end — the same
      // pattern as the seed labels above), in ONE job instead of the eager
      // checkpoint's compute job followed by a separate sum job. Two fewer
      // driver round-trips per round, which is the dominant cost when the
      // dup graph is micro-batch-sized.
      val nextCk = next.localCheckpoint(eager = false)
      val nextSum = labelSum(nextCk)
      // nextCk is materialized and lineage-free: the superseded labels
      // checkpoint and this round's viaEdges cache are never read again —
      // release their blocks eagerly rather than holding O(rounds) copies
      // of the label frame until GC
      org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(labels)
      org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(viaEdges)
      converged = nextSum.compareTo(curSum) == 0
      curSum = nextSum
      labels = nextCk
      i += 1
    }
    // after ≥1 round the returned labels frame is its own MATERIALIZED
    // checkpoint (the convergence aggregate ran it); edges is not part of
    // its lineage and can go now (with maxIter<=0 the seed labels are an
    // unmaterialized lazy checkpoint over edges, so keep it)
    if (i > 0) org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(edges)
    labels
    }
  }

  /** Canonical-representative selection: given near-dup pairs and a
    * per-document score, keeps the BEST member of each duplicate group
    * instead of the minimum id — what published funnels do when they keep
    * the longest or highest-quality copy of a near-dup cluster rather than
    * an arbitrary one. Output: one row per group, (label, keep_id,
    * n_members), where label is the group's [[components]] label and
    * keep_id maximizes `scoreCol` (ties broken toward the smaller id, so
    * the pick is deterministic). The score must be NUMERIC (it is negated
    * to fold "max score, then min id" into one min_by); the id may be any
    * orderable type — string ids work (no arithmetic ever touches the id).
    *
    * Scale shape: the pair graph is duplicate-sized, not corpus-sized, so
    * [[components]]' iterative shuffles stay small; the score join touches
    * only graph members (one key shuffle), and the pick is a single max_by
    * hash aggregate — no window, no sort. AQE sizes the join since the
    * graph-side cardinality is only known at runtime.
    */
  def canonicalPick(pairs: DataFrame, docs: DataFrame, idCol: String,
      score: Column): DataFrame =
    canonicalPickFromLabels(components(pairs), docs, idCol, score)

  /** [[canonicalPick]] over an already-computed (id, label) assignment —
    * for callers that have run [[components]] themselves (the curation
    * funnel reuses its labels for the drop set).
    */
  def canonicalPickFromLabels(labels: DataFrame, docs: DataFrame,
      idCol: String, score: Column): DataFrame =
    labels
      .join(docs.select(col(idCol).as("id"), score.as("_score")), "id")
      .groupBy(col("label"))
      .agg(
        min_by(col("id"), struct(-col("_score"), col("id"))).as("keep_id"),
        count(lit(1)).as("n_members"))
      .select(col("label"), col("keep_id"), col("n_members"))

  /** LSH-bucketed cosine near-dup pairs — the scale path for embedding
    * dedup: random-hyperplane buckets (graft_lsh_bucket) replace the
    * quadratic within-block join of [[cosinePairs]]; only same-bucket pairs
    * are scored, then verified with the exact cosine. Recall < 1 by
    * construction (a near-dup pair can straddle a hyperplane); raise recall
    * by lowering nBits or probing 1-bit-flip neighbor buckets.
    *
    * Skew guard: an oversized bucket keeps its first `maxBucket` members
    * (ordered by id) rather than being dropped wholesale — a giant duplicate
    * cluster is still detected through the pairs among the retained members;
    * members beyond the cap are not linked (unlike minhashDedup, whose
    * independent bands can recover a pair dropped from one bucket).
    *
    * `blockCols` composes metadata blocking with the LSH: pairs only form
    * within equal values of the named input columns (byte length, format,
    * resolution, ...). This is the guard for LOW-DIMENSIONAL or strongly
    * correlated vectors (e.g. the 16-bin media histograms), where most of
    * the corpus shares a handful of hyperplane buckets and the same-bucket
    * join degenerates toward quadratic — an exact cheap key splits those
    * mega-buckets by something near-dups must share anyway. Empty = pure
    * LSH, unchanged.
    */
  def cosineLshPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBits: Int = 12, maxBucket: Int = 200,
      blockCols: Seq[String] = Nil): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val keys = "bucket" +: blockCols
    val base = df.select(col(idCol) +: col(vecCol).as("v") +: blockCols.map(col): _*)
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
      .filter(col("norm") > 0) // zero vectors: no direction (see cosinePairs)
      .withColumn("bucket", expr(s"graft_lsh_bucket(v, $nBits)"))
    // skip the rank window when the cap is off (exact-recall oracle runs) —
    // same pattern as minhashDedup/simhashPairs
    val capped =
      if (maxBucket >= Int.MaxValue) base
      else base
        .withColumn("_rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
            .orderBy(col(idCol))))
        .filter(col("_rk") <= maxBucket)
        .drop("_rk")
    val v = capped.localCheckpoint(eager = false) // both sides of the self-join below
    val a = v.select(keys.map(col) ++ Seq(col(idCol).as("id_a"), col("v").as("va"), col("norm").as("na")): _*)
    val b = v.select(keys.map(col) ++ Seq(col(idCol).as("id_b"), col("v").as("vb"), col("norm").as("nb")): _*)
    a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("graft_vec_dot(va, vb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      // no distinct needed: each id lives in exactly one bucket (single hash
      // table), so a pair can only form once
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): a coarse quantizer of `nlist` data-derived centroids
    * partitions the embedding space into cells; only same-cell pairs are
    * scored with the exact cosine. The blocking is data-dependent (dense
    * regions get their own cells) where [[cosineLshPairs]] uses
    * data-oblivious random hyperplanes — the published trade: better
    * candidate precision in clustered corpora, recall < 1 for pairs that
    * straddle a cell boundary (identical vectors always share a cell, so
    * exact-duplicate recall is 1). Reuses the IVF quantizer from
    * [[Similarity]]: the only collect is the bounded nlist-row centroid
    * seed, and cell assignment is one map pass, so the corpus shuffles once
    * (on `_cell`) for the self-join.
    *
    * Skew guard: `maxBucket` caps each cell by keeping its first members in
    * id order, same semantics as [[cosineLshPairs]].
    */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 64, maxBucket: Int = 200): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val centroids = Similarity.seedCentroids(df, idCol, vecCol, nlist)
    val base = df.select(col(idCol), col(vecCol).as("v"))
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
      .filter(col("norm") > 0) // zero vectors: no direction (see cosinePairs)
      .withColumn("bucket", element_at(Similarity.cellsCol("v", centroids, 1), 1))
    val capped =
      if (maxBucket >= Int.MaxValue) base
      else base
        .withColumn("_rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
            .orderBy(col(idCol))))
        .filter(col("_rk") <= maxBucket)
        .drop("_rk")
    val v = capped.localCheckpoint(eager = false) // both sides of the self-join
    val a = v.select(col("bucket"), col(idCol).as("id_a"), col("v").as("va"), col("norm").as("na"))
    val b = v.select(col("bucket"), col(idCol).as("id_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("graft_vec_dot(va, vb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      // no distinct needed: each id lives in exactly one cell
  }

  /** Exact pairwise cosine similarity within a blocking key over an
    * Array[Float] embedding column.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val v = df.select(
      (col(idCol) +: blockCols.map(col)) :+ col(vecCol).as("v"): _*)
      .withColumn("norm", sqrt(expr("graft_vec_dot(v, v)")))
      // zero vectors have no direction: cosine would be 0/0 = NaN, and Spark
      // sorts NaN above every double, so they'd pass any >= threshold filter
      .filter(col("norm") > 0)
    val a = v.select(blockCols.map(col) :+ col(idCol).as("id_a") :+ col("v").as("va") :+ col("norm").as("na"): _*)
    val b = v.select(blockCols.map(col) :+ col(idCol).as("id_b") :+ col("v").as("vb") :+ col("norm").as("nb"): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("graft_vec_dot(va, vb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
