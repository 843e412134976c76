package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkFunSuite {
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about database engines and query optimizers"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "another unrelated short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per distinct text") {
    val survivors = Dedup.exact(docs, "text", "doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 2L, 3L, 5L)) // 4 deduped into 1
  }

  test("minhash-LSH finds exact and near duplicates, with exact jaccard verify") {
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc untouched
  }

  test("band-rows sharing variants equal the from-sets forms (pairs, probe, append)") {
    // the streaming funnel checkpoints ONE bandRowsOf frame and feeds the
    // local pass, the index probe and the index append from it; each must be
    // row-identical to the re-banding form it replaced
    graft.functions.VectorFunctions.register(spark)
    val sets = docs.select(col("doc_id"),
      expr("graft_shingle_hashes(text, 3)").as("sh"))
    val bandRows = Dedup.bandRowsOf(sets, "doc_id", 16, 4)
    def pairSet(df: DataFrame) = df.select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(pairSet(Dedup.minhashDedupFromBandRows(sets, bandRows, "doc_id",
        threshold = 0.5)) ==
      pairSet(Dedup.minhashDedupFromSets(sets, "doc_id", threshold = 0.5)))
    // probe + append against a real index: same probe hits, same appended rows
    Dedup.minhashWriteBucketed(docs.filter(col("doc_id") <= 2), "br_idx",
      "doc_id", "text")
    val batch = docs.filter(col("doc_id") > 2)
    val batchSets = batch.select(col("doc_id"),
      expr("graft_shingle_hashes(text, 3)").as("sh"))
    val batchBands = Dedup.bandRowsOf(batchSets, "doc_id", 16, 4)
    def probeSet(df: DataFrame) = df.select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(probeSet(Dedup.probeSetsWithBands(batchSets, batchBands, "br_idx",
        "doc_id", 100, 0.5)) ==
      probeSet(Dedup.minhashDedupIncrementalFromSets(batchSets, "br_idx",
        "doc_id", threshold = 0.5)))
    Dedup.minhashWriteBucketed(docs.filter(col("doc_id") <= 2), "br_idx2",
      "doc_id", "text")
    Dedup.minhashAppendToIndexFromSets(batchSets, "br_idx", "doc_id")
    Dedup.minhashAppendToIndexFromBandRows(batchSets, batchBands, "br_idx2")
    def tableSet(t: String) = spark.table(t).collect()
      .map(_.toSeq).toSet
    assert(tableSet("br_idx") == tableSet("br_idx2"))
    assert(tableSet("br_idx_sets") == tableSet("br_idx2_sets"))
  }

  test("simhash: identical texts collide, near-dups are close, distinct far") {
    val sk = docs.select(col("doc_id"), Dedup.simhash64("text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sk(1L) == sk(4L))
    assert(java.lang.Long.bitCount(sk(1L) ^ sk(2L)) <= 8)
    assert(java.lang.Long.bitCount(sk(1L) ^ sk(3L)) > 8)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((1L, 2L)))
  }

  test("exact jaccard pairs respect blocking and threshold") {
    val blocked = docs.withColumn("block", lit(1))
    val pairs = Dedup.jaccardPairs(blocked, "doc_id", "text", Seq("block"), 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // identical texts in DIFFERENT blocks must never pair: the candidate
    // join carries the block key alongside the prefix token
    val split = docs.withColumn("block", (col("doc_id") % 2).cast("int"))
    val crossBlock = Dedup.jaccardPairs(split, "doc_id", "text", Seq("block"), 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!crossBlock.contains((1L, 4L))) // doc 1 block 1, doc 4 block 0
    assert(crossBlock.contains((2L, 4L))) // both block 0, near-dups
  }

  private def vecs: DataFrame = Seq(
    (1L, Array(1f, 0f, 0f, 0f), 0),
    (2L, Array(0.99f, 0.1f, 0f, 0f), 0), // ~same direction as 1
    (3L, Array(0f, 1f, 0f, 0f), 0),
    (4L, Array(1f, 0f, 0f, 0f), 1) // same as 1 but other block
  ).toDF("vec_id", "embedding", "label")

  test("cosine near-dup pairs within blocks") {
    val pairs = Dedup.cosinePairs(vecs, "vec_id", "embedding", Seq("label"), 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 4 blocked away, 3 orthogonal
  }

  test("LSH cosine pairs find identical vectors and never emit below-threshold pairs") {
    // identical vectors share a bucket by construction (same hyperplane
    // signs), so exact duplicates are always recalled
    val got = Dedup.cosineLshPairs(vecs, "vec_id", "embedding", threshold = 0.9, nBits = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 4L))) // identical pair, found without any blocking key
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L)) // orthogonal never verified in
    // the exact verify bounds precision at 1.0 regardless of bucketing
    val all = Dedup.cosineLshPairs(vecs, "vec_id", "embedding", threshold = 0.0, nBits = 2)
    assert(all.filter($"cosine" > 1.000001).isEmpty)
  }

  test("brute-force top-k ranks by exact cosine with deterministic tiebreak") {
    val q = vecs.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val got = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 4L, 2L)) // cosine 1.0, 1.0 (tie -> id), 0.995
  }

  test("dimension-truncation recall: planted prefix-identical vectors confuse the prefix, full dim resolves") {
    import org.apache.spark.sql.functions.{col, expr}
    // 4 vectors over dim 4: a/b share the FIRST TWO dims exactly and only
    // differ in the tail, c is the prefix-orthogonal distractor. Query = a.
    // Prefix-2 top-2 must tie a/b (id order); full-dim top-2 is a then b by
    // true cosine — the truncated ranking finds the right SET here, while a
    // truncated-vs-full rank comparison on the distractor shows the loss.
    val v = Seq(
      (1L, Seq(1f, 1f, 1f, 0f)),
      (2L, Seq(1f, 1f, 0f, 1f)),
      (3L, Seq(1f, -1f, 0f, 0f)),
      (4L, Seq(-1f, 1f, 1f, 1f))
    ).toDF("vec_id", "embedding")
    val q = v.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    def topkIds(p: Int, k: Int): Seq[Long] = Similarity.bruteForceTopK(
      v.select(col("vec_id"), expr(s"slice(embedding, 1, $p)").as("embedding")),
      q.select(col("query_id"), expr(s"slice(qv, 1, $p)").as("qv")),
      "vec_id", "embedding", "query_id", "qv", k)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // prefix 2: a and b are IDENTICAL -> cosine tie, id tiebreak
    assert(topkIds(2, 2) == Seq(1L, 2L))
    // full dim: a (self, 1.0) then b (2/3)
    assert(topkIds(4, 2) == Seq(1L, 2L))
    // the loss is visible at k=3: prefix-2 cannot separate c (cos 0) from
    // d; full-dim ranks d (cos ~0.577) above c (cos 0)
    assert(topkIds(4, 3) == Seq(1L, 2L, 4L))
    assert(topkIds(2, 3).last == 4L || topkIds(2, 3).last == 3L) // prefix ambiguity
    // slicing commutes with the ranking arithmetic: prefix-4 == unsliced
    val unsliced = Similarity.bruteForceTopK(v, q, "vec_id", "embedding",
      "query_id", "qv", 3).orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(topkIds(4, 3) == unsliced)
    // (the ground-truth prefix's self-recall == 1.0 is oracled in the
    // emb_mrl_recall gate itself — its prefix-64 row)
  }

  test("LSH top-k returns a subset ranked identically to brute force on hits") {
    val q = vecs.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val got = Similarity.lshTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 4, nBits = 4)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toMap
    assert(got.contains(1L) && got(1L) > 0.999) // query always finds itself
  }

  test("text analysis columns") {
    val r = Seq((1L, "The quick brown fox, it jumps! Over 42 lazy dogs."))
      .toDF("doc_id", "text")
      .select(
        TextAnalysis.tokenCount(col("text")).as("tok"),
        TextAnalysis.bpeishTokenCount("text").as("bpe"),
        TextAnalysis.punctCount(col("text")).as("punct"),
        TextAnalysis.stopwordCount("text").as("stop"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().head
    assert(r.getAs[Int]("tok") == 10)
    assert(r.getAs[Int]("punct") == 3) // comma, bang, final period
    assert(r.getAs[Int]("stop") == 2) // the, it ("over" is not in the stop list)
    assert(r.getAs[String]("fp").length == 32)
  }

  test("langId marker heuristic") {
    val got = Seq(
      (1L, "der hund und die katze ist hier"),
      (2L, "le chat et le chien est une merveille"),
      (3L, "el perro y los gatos es una maravilla"),
      (4L, "the dog and the cat are here"),
      (5L, "你好世界")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "de", 2L -> "fr", 3L -> "es", 4L -> "en", 5L -> "zh"))
  }

  test("multimodal: fake media plumbing, batched decode, frame sampling") {
    val media = Multimodal.withFakeMedia(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "payload", "format", "width", "height", "n_frames"))
    val feats = Multimodal.decodeFeatures(spark, media).collect()
    assert(feats.length == 5)
    val text1 = docs.filter($"doc_id" === 1L).select("text").as[String].head()
    val bytes1 = text1.getBytes("UTF-8").length
    val f1 = feats.find(_.getLong(0) == 1L).get
    assert(f1.getInt(1) == bytes1) // payload bytes == utf8 length of text
    val fv = f1.getSeq[Float](2)
    assert(fv.length == Multimodal.FakeCodec.FeatureDim)
    assert(math.abs(fv.sum - 1f) < 1e-5) // normalized histogram
    val frames = Multimodal.sampleFrames(media, frameBytes = 16)
    val n = frames.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(n(1L) == math.ceil(bytes1 / 16.0).toLong)
    // the HOF windows must equal the codec-stub reference byte-for-byte
    val got = frames.select(col("media_id"), col("frame_no"), col("frame"))
      .as[(Long, Int, Array[Byte])].collect()
      .groupBy(_._1).map { case (id, fs) => id -> fs.sortBy(_._2).map(_._3.toSeq).toSeq }
    val ref = media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .collect()
      .map { case (id, p) =>
        id -> Multimodal.FakeCodec.sampleFrames(p, 16).map(_.toSeq) }
      .toMap.filter(_._2.nonEmpty)
    assert(got == ref)
  }

  test("dedup operators tolerate null and empty text") {
    val messy = Seq((1L, "some real text here"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "some real text here")).toDF("doc_id", "text")
    assert(Dedup.exact(messy.na.drop(Seq("text")), "text", "doc_id").count() == 2)
    val pairs = Dedup.minhashDedup(messy, "doc_id", "text", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 4L))) // null/empty rows neither crash nor match
    assert(Dedup.simhashPairs(messy, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet.contains((1L, 4L)))
  }

  test("connected components collapse pair chains into dedup groups") {
    // chain 1-2-3, pair 10-11, singleton pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val labels = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels(20L) == 20L && labels(21L) == 20L)
    // long chain needs multiple propagation rounds
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val chainLabels = Dedup.components(chain).as[(Long, Long)].collect().toMap
    assert((1L to 12L).forall(chainLabels(_) == 1L))
  }

  test("components releases every intermediate checkpoint (only the result's blocks survive)") {
    // the streaming funnel runs components PER MICRO-BATCH; leaked pair /
    // edge / superseded-label checkpoints accumulate as retained storage
    // until ContextCleaner GC (at sf10 the pair copy alone is 162M-edge
    // sized). Contract: after the call, at most the RETURNED frame's own
    // checkpoint is newly persisted, and the labels are still readable.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val labels = Dedup.components(chain)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).size <= 1,
      s"components leaked ${(after -- before).size - 1} intermediate checkpoints")
    // the survivor is the result itself — must still be materializable
    assert(labels.count() == 12L)
    // empty-pair fast path leaves nothing behind at all
    val none = Dedup.components(chain.limit(0))
    assert(none.count() == 0L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- after).isEmpty)
  }

  test("minhash pairs + components yields exact-dup groups on planted corpus") {
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.95)
    val labels = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(labels(4L) == 1L) // exact dup of doc 1
  }

  test("salted join equals the plain join on skewed data") {
    // one hot key (90% of rows) + a long tail
    val big = (1 to 2000).map(i => (if (i % 10 != 0) 1L else i.toLong, i.toLong))
      .toDF("k", "row_id")
    val small = Seq((1L, "hot"), (20L, "cold"), (999999L, "unmatched"))
      .toDF("k", "label")
    val plain = big.join(small, Seq("k")).select("k", "row_id", "label")
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedJoin(big, small, Seq("k"), "row_id", saltFactor = 8)
      .select("k", "row_id", "label").collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
    // left join keeps unmatched big rows exactly once
    val plainLeft = big.join(small, Seq("k"), "left_outer").count()
    val saltedLeft = SkewJoin.saltedJoin(big, small, Seq("k"), "row_id", 8, "left_outer").count()
    assert(saltedLeft == plainLeft)
  }

  test("as-of join attaches the latest right row at or before each left ts") {
    val clicks = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 20L, 50L), (4L, 30L, 10L))
      .toDF("id", "k", "t")
    val snaps = Seq((10L, 100L, "a"), (10L, 200L, "b"), (20L, 60L, "c"))
      .toDF("k", "t", "v")
    val got = AsofJoin.backward(clicks, snaps, Seq("k"), "t", "t", Seq("v"))
      .select($"id", $"v").as[(Long, Option[String])].collect().toMap
    assert(got == Map(
      1L -> Some("a"), // equal ts matches (inclusive)
      2L -> Some("b"), // latest of the two earlier snapshots
      3L -> None, // right row is in the future
      4L -> None)) // key never seen on the right
  }

  test("vocab top n-grams by count and doc frequency with deterministic ties") {
    val words = Vocab.topNgrams(docs, "text", 1, 5).as[(String, Long)].collect()
    assert(words.head == ("the", 9L)) // 3x in each of docs 1, 2, 4
    assert(words.map(_._2).toSeq == words.map(_._2).sortBy(-_).toSeq)
    val bigrams = Vocab.topNgramsByDocFreq(docs, "text", 2, 3).as[(String, Long)].collect()
    // every bigram of the shared sentence has doc_freq 3; tie breaks on term
    assert(bigrams.head == ("brown fox", 3L))
  }

  test("paragraph dedup: first corpus occurrence wins, reassembly preserves order, empty docs drop") {
    val corpus = Seq(
      (1L, "BANNER\n\nunique one\n\nBANNER"),      // repeated banner WITHIN doc 1
      (2L, "BANNER\n\nunique two"),                // banner already seen in doc 1
      (3L, "unique three\n\nBANNER\n\nunique one"),// cross-doc dup of doc 1's para
      (4L, "BANNER")                                // all paragraphs are dups -> drops
    ).toDF("doc_id", "text")
    val result = Dedup.dedupParagraphs(corpus, "doc_id", "text")
    val got = result.orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      // doc 1: banner kept at its first occurrence (idx 0), second drops
      (1L, 3L, 2L, "BANNER\n\nunique one"),
      (2L, 2L, 1L, "unique two"),
      (3L, 3L, 1L, "unique three"),
      // doc 4 has no surviving paragraphs and disappears
    ))
    // the skew armor: the winners aggregate must run as partial+final
    // HashAggregate (map-side combine collapses a repeated banner before
    // the exchange), never as a paragraph-keyed window
    val plan = result.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial aggregate in:\n$plan")
    assert(!plan.contains("WindowExec"), "paragraph winners must not use a window")
  }

  test("OOV report: membership against the deterministic top-k vocab, ties break by term") {
    val d = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // counts: a=3, b=1, c=1 -> top-2 vocab = {a, b} (count desc, term asc)
    val got = Vocab.oovReport(d, "doc_id", "text", k = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 0L, 0.0)))   // all of "a a b" in vocab
    assert(got(2L) == ((2L, 2L, 1L, 0.5)))   // "c" is OOV
  }

  test("winnowing: shared runs >= w+k-1 words always share a hash; density and identity hold") {
    // doc 1 and 2 share an 8-word run (> w+k-1 = 7): the guarantee says at
    // least one window minimum falls inside the shared run for both
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val d = Seq(
      (1L, s"one two three $shared nine ten"),
      (2L, s"$shared india juliet kilo lima mike november oscar"),
      (3L, "papa quebec romeo sierra tango uniform victor whiskey xray"), // disjoint words
      (4L, "tiny doc"), // fewer words than k -> no grams
      (5L, s"one two three $shared nine ten") // identical to 1 -> same digest
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.winnow(d, "doc_id", "text", k = 4, w = 4)
      .as[(Long, Int, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(fp(4L)._2 == 0 && fp(4L)._4 == 0) // no grams, empty fingerprint
    assert(fp(1L)._5 == fp(5L)._5)           // identical docs -> identical digest
    assert(fp(1L)._5 != fp(3L)._5)
    // selected counts stay within [windows/(w), windows]: density sanity
    assert(fp(1L)._4 >= 1 && fp(1L)._4 <= fp(1L)._3)
    val hashes = TextAnalysis.winnowHashes(d, "doc_id", "text", k = 4, w = 4)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((hashes(1L) intersect hashes(2L)).nonEmpty) // the guarantee
    assert((hashes(1L) intersect hashes(3L)).isEmpty)  // disjoint vocab never collides
    assert(hashes(1L) == hashes(5L))
  }

  test("winnow pairs: clones and contiguous-overlap docs pair; bucket cap prunes; unrelated never pair") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // clone of 1
      (3L, "completely different content about database engines and query optimizers here"),
      (4L, "prefix words then the quick brown fox jumps over the lazy dog ending") // shares an 8-word run with 1
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(d, "doc_id", "text", threshold = 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 1.0) // clones: full fingerprint overlap, jaccard 1
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L))) // guarantee: 8-word shared run
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
    // a bucket cap of 1 prunes every shared hash -> no candidates at all
    assert(Dedup.winnowPairs(d, "doc_id", "text", threshold = 0.5, maxBucket = 1).isEmpty)
  }

  test("winnow incremental: batch probes the persisted fingerprint index, meta pins k/w") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about database engines and query optimizers here")
    ).toDF("doc_id", "text")
    val tables = Seq("winnow_idx_t", "winnow_idx_t_sets", "winnow_idx_t_meta")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Dedup.winnowWriteBucketed(corpus, "winnow_idx_t", "doc_id", "text", numBuckets = 4)
      val batch = Seq(
        (101L, "the quick brown fox jumps over the lazy dog near the river bank today"), // clone of 1
        (102L, "prefix words then the quick brown fox jumps over the lazy dog ending"),  // 8-word run with 1
        (103L, "nothing in common with anything indexed at all whatsoever")
      ).toDF("doc_id", "text")
      val pairs = Dedup.winnowPairsIncremental(batch, "winnow_idx_t", "doc_id", "text",
        threshold = 0.5)
        .select($"batch_id", $"corpus_id", $"jaccard").as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(pairs((101L, 1L)) == 1.0)          // clone: all hashes shared, jaccard 1
      assert(pairs.contains((102L, 1L)))        // the shared-run guarantee across the index
      assert(!pairs.keys.exists(_._1 == 103L))  // unrelated batch doc: no candidates
      assert(!pairs.keys.exists(_._2 == 2L))    // unrelated corpus doc never verified in
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("paragraph decontamination: any shared paragraph quarantines the whole doc") {
    val evalSet = Seq((100L, "What is the capital of France?")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text\n\nWhat is the capital of France?\n\nmore text"), // contains eval para
      (2L, "What is the capital of France? Paris.\n\nbody"),             // superset line, NOT equal
      (3L, "totally clean document\n\nnothing shared")
    ).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS eval_para_idx")
    try {
      Dedup.paragraphWriteBucketed(evalSet, "eval_para_idx", "doc_id", "text", numBuckets = 2)
      val kept = Contamination.dropParagraphContaminated(corpus, "eval_para_idx",
        "doc_id", "text").select($"doc_id").as[Long].collect().toSet
      // doc 1 drops whole (verbatim paragraph inclusion); doc 2 survives —
      // whole-paragraph identity has no partial matches (that is the n-gram
      // gates' job); doc 3 untouched
      assert(kept == Set(2L, 3L))
    } finally spark.sql("DROP TABLE IF EXISTS eval_para_idx")
  }

  test("semantic decontamination: cosine proximity to the eval set quarantines; zero-norm rows never flag") {
    val evalSet = Seq(Tuple1(Array(1f, 0f, 0f))).toDF("ev")
    val corpus = Seq(
      (1L, Array(10f, 0f, 0f)),     // same direction as eval -> cosine 1.0
      (2L, Array(0.99f, 0.15f, 0f)),// close but below 0.999
      (3L, Array(0f, 1f, 0f)),      // orthogonal
      (4L, Array(0f, 0f, 0f))       // zero norm: undefined cosine, survives
    ).toDF("vec_id", "embedding")
    val kept = Contamination.dropSemanticContaminated(corpus, evalSet,
        "vec_id", "embedding", "ev", threshold = 0.999)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L))
    // the eval side rides a broadcast nested-loop probe: the corpus scan
    // must not exchange before the flagging join
    val plan = Contamination.dropSemanticContaminated(corpus, evalSet,
        "vec_id", "embedding", "ev", 0.999)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("index compaction: accreted duplicate hashes collapse, layout and probe results unchanged") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS compact_test_t")
    try {
      Dedup.exactWriteBucketed(corpus, "compact_test_t", "doc_id", "text", numBuckets = 4)
      // a replayed epoch re-appends hashes the index already holds
      Dedup.exactAppendToIndex(Seq((3L, "alpha"), (4L, "gamma")).toDF("doc_id", "text"),
        "compact_test_t", "doc_id", "text")
      Dedup.exactAppendToIndex(Seq((3L, "alpha"), (4L, "gamma")).toDF("doc_id", "text"),
        "compact_test_t", "doc_id", "text")
      assert(spark.table("compact_test_t").count() == 6) // alpha x3, beta x1, gamma x2 accreted
      val probeBefore = Dedup.exactDedupIncremental(
        Seq((9L, "alpha"), (10L, "delta")).toDF("doc_id", "text"),
        "compact_test_t", "doc_id", "text")
        .select($"doc_id").as[Long].collect().toSet
      Dedup.compactHashIndex(spark, "compact_test_t")
      // one row per distinct hash, minimum payload (earliest id) kept
      val rows = spark.table("compact_test_t")
        .select($"content_hash", $"id").as[(String, Long)].collect()
      assert(rows.length == 3) // alpha, beta, gamma
      assert(rows.map(_._1).distinct.length == 3)
      assert(rows.toMap.values.toSet == Set(1L, 2L, 4L)) // alpha keeps id 1, not 3
      // bucket layout preserved: still a 4-bucket content_hash index
      val spec = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("compact_test_t"))
        .bucketSpec.get
      assert(spec.numBuckets == 4 && spec.bucketColumnNames == Seq("content_hash"))
      // probe equivalence: membership is unchanged by compaction
      val probeAfter = Dedup.exactDedupIncremental(
        Seq((9L, "alpha"), (10L, "delta")).toDF("doc_id", "text"),
        "compact_test_t", "doc_id", "text")
        .select($"doc_id").as[Long].collect().toSet
      assert(probeBefore == Set(10L) && probeAfter == probeBefore)
    } finally spark.sql("DROP TABLE IF EXISTS compact_test_t")
  }

  test("dedupSpans: duplicated token runs cut out keeping the first occurrence; self-repetition too") {
    // hand-computable at window 3: docs 1 and 2 share the run 'p q r s'
    // (two windows); doc 4 repeats 'm n o' three times
    val docs = Seq(
      (1L, "a b c p q r s d e"), // first occurrence of the shared run
      (2L, "x y p q r s z"),     // later occurrence -> p q r s removed
      (3L, "u v w"),             // exactly one window, unique -> untouched
      (4L, "m n o m n o m n o")  // windows 4..7 repeat windows 1..3
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", windowTokens = 3)
      .orderBy("doc_id").as[(Long, Int, Int, String)].collect().toList
    assert(out == List(
      (1L, 9, 0, "a b c p q r s d e"),
      (2L, 7, 4, "x y z"),
      (3L, 3, 0, "u v w"),
      (4L, 9, 6, "m n o")))
    // a sub-window doc is untouched even when its text appears inside
    // another doc (document-level dedup's job, not span removal's)
    val tiny = Dedup.dedupSpans(Seq((1L, "p q"), (2L, "p q r")).toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = 3)
      .orderBy("doc_id").as[(Long, Int, Int, String)].collect().toList
    assert(tiny == List((1L, 2, 0, "p q"), (2L, 3, 0, "p q r")))
  }

  test("dedupSpansIncremental: the corpus index is prior context, keep-first applies within the batch") {
    val corpus = Seq((1L, "a b c p q r s d e")).toDF("doc_id", "text")
    val tables = Seq("span_t", "span_t_meta", "span_t_compact", "span_t_old")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Dedup.spanWriteBucketed(corpus, "span_t", "doc_id", "text",
        windowTokens = 3, numBuckets = 4)
      val batch = Seq(
        (12L, "x y p q r s z"),   // run indexed by the corpus -> removed
        (13L, "f g h i j"),       // first batch occurrence of 'f g h i'
        (14L, "k l f g h i m")    // later batch occurrence -> removed
      ).toDF("doc_id", "text")
      val out = Dedup.dedupSpansIncremental(batch, "span_t", "doc_id", "text")
        .orderBy("doc_id").as[(Long, Int, Int, String)].collect().toList
      assert(out == List(
        (12L, 7, 4, "x y z"),
        (13L, 5, 0, "f g h i j"),
        (14L, 7, 4, "k l m")))
      // append + replay accretes; the generalized content-hash compaction
      // rule applies unchanged to the span index
      Dedup.spanAppendToIndex(batch, "span_t", "doc_id", "text")
      Dedup.spanAppendToIndex(batch, "span_t", "doc_id", "text")
      assert(Dedup.indexAccretion(spark, "span_t") > 1.3)
      Dedup.compactIndex(spark, "span_t")
      assert(math.abs(Dedup.indexAccretion(spark, "span_t") - 1.0) < 0.05)
      // post-compaction probe: a replay of doc 12's text is fully covered
      val again = Dedup.dedupSpansIncremental(
          Seq((99L, "x y p q r s z")).toDF("doc_id", "text"),
          "span_t", "doc_id", "text")
        .as[(Long, Int, Int, String)].head()
      assert(again == ((99L, 7, 7, "")))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  private def compactCorpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "a completely different document about spark bucketed index layouts"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today"))
    .toDF("doc_id", "text")

  private def compactBatch = Seq(
    (9L, "the quick brown fox jumps over the lazy dog again and again"),
    (10L, "nothing resembling anything else appears in this one at all"))
    .toDF("doc_id", "text")

  private def dropIndexDebris(tables: Seq[String]): Unit =
    tables.flatMap(t => Seq(t, s"${t}_compact", s"${t}_old"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("compactIndex on the minhash family: band and _sets tables collapse, probe membership unchanged, duplicates gone") {
    val tables = Seq("cmp_mh", "cmp_mh_sets", "cmp_mh_meta")
    dropIndexDebris(tables)
    try {
      Dedup.minhashWriteBucketed(compactCorpus, "cmp_mh", "doc_id", "text",
        numBuckets = 4)
      // a replayed epoch re-appends every doc: both tables exactly double
      Dedup.minhashAppendToIndex(compactCorpus, "cmp_mh", "doc_id", "text")
      assert(math.abs(Dedup.indexAccretion(spark, "cmp_mh") - 2.0) < 0.1)
      val pre = Dedup.minhashDedupIncremental(compactBatch, "cmp_mh", "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      // the replayed _sets rows duplicate every verified pair in the output
      assert(pre.nonEmpty && pre.size == 2 * pre.distinct.size)
      val bandRows = spark.table("cmp_mh").count()
      Dedup.compactIndex(spark, "cmp_mh")
      Dedup.compactIndex(spark, "cmp_mh_sets")
      assert(spark.table("cmp_mh").count() == bandRows / 2)
      assert(spark.table("cmp_mh_sets").count() == 3)
      assert(math.abs(Dedup.indexAccretion(spark, "cmp_mh") - 1.0) < 0.05)
      // bucket layouts intact table by table
      val bandSpec = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("cmp_mh"))
        .bucketSpec.get
      assert(bandSpec.numBuckets == 4 && bandSpec.bucketColumnNames == Seq("band", "band_hash"))
      val setsSpec = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("cmp_mh_sets"))
        .bucketSpec.get
      assert(setsSpec.numBuckets == 4 && setsSpec.bucketColumnNames == Seq("doc_id"))
      val post = Dedup.minhashDedupIncremental(compactBatch, "cmp_mh", "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(post.toSet == pre.toSet && post.size == post.distinct.size)
    } finally dropIndexDebris(tables)
  }

  test("compactIndex on the winnow family: fingerprint and _sets tables collapse, probe membership unchanged") {
    val tables = Seq("cmp_wn", "cmp_wn_sets", "cmp_wn_meta")
    dropIndexDebris(tables)
    try {
      Dedup.winnowWriteBucketed(compactCorpus, "cmp_wn", "doc_id", "text",
        numBuckets = 4)
      Dedup.winnowAppendToIndex(compactCorpus, "cmp_wn", "doc_id", "text")
      assert(math.abs(Dedup.indexAccretion(spark, "cmp_wn") - 2.0) < 0.1)
      val pre = Dedup.winnowPairsIncremental(compactBatch, "cmp_wn", "doc_id", "text",
        threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(pre.nonEmpty && pre.size == 2 * pre.distinct.size)
      val fpRows = spark.table("cmp_wn").count()
      Dedup.compactIndex(spark, "cmp_wn")
      Dedup.compactIndex(spark, "cmp_wn_sets")
      assert(spark.table("cmp_wn").count() == fpRows / 2)
      assert(spark.table("cmp_wn_sets").count() == 3)
      val fpSpec = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("cmp_wn"))
        .bucketSpec.get
      assert(fpSpec.numBuckets == 4 && fpSpec.bucketColumnNames == Seq("fp_hash"))
      val post = Dedup.winnowPairsIncremental(compactBatch, "cmp_wn", "doc_id", "text",
        threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(post.toSet == pre.toSet && post.size == post.distinct.size)
    } finally dropIndexDebris(tables)
  }

  test("compactIndex on the substring family: window-hash rows collapse and n_shared counts are restored exactly") {
    val tables = Seq("cmp_ss", "cmp_ss_meta")
    dropIndexDebris(tables)
    try {
      Dedup.substringWriteBucketed(compactCorpus, "cmp_ss", "doc_id", "text",
        windowTokens = 5, numBuckets = 4)
      Dedup.substringAppendToIndex(compactCorpus, "cmp_ss", "doc_id", "text")
      assert(math.abs(Dedup.indexAccretion(spark, "cmp_ss") - 2.0) < 0.1)
      // the substring probe COUNTS shared windows, so replay accretion is
      // not membership-neutral here: every n_shared doubles. Compaction is
      // what restores the exact counts.
      val pre = Dedup.substringDedupIncremental(compactBatch, "cmp_ss", "doc_id", "text")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      Dedup.compactIndex(spark, "cmp_ss")
      val ssSpec = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("cmp_ss"))
        .bucketSpec.get
      assert(ssSpec.numBuckets == 4 && ssSpec.bucketColumnNames == Seq("h"))
      val post = Dedup.substringDedupIncremental(compactBatch, "cmp_ss", "doc_id", "text")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(post.nonEmpty && post.keySet == pre.keySet)
      assert(post.forall { case (k, n) => pre(k) == 2 * n })
    } finally dropIndexDebris(tables)
  }

  test("vocabCoverage: smallest covering prefix per share, hand-computed") {
    // counts a:4 b:2 c:1 d:1, total 8 -> cum 4, 6, 7, 8
    val corpus = Seq((1L, "a a a a b b c d")).toDF("doc_id", "text")
    val got = Vocab.vocabCoverage(corpus, "text", Seq(0.5, 0.75, 0.9, 1.0))
      .collect().map(r => (r.getDouble(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toList
    assert(got == List(
      (0.5, 1, 4L, 8L, 0.5),   // 'a' alone hits exactly half
      (0.75, 2, 6L, 8L, 0.75),
      (0.9, 4, 8L, 8L, 1.0),   // 7/8 misses 0.9: the full vocab is needed
      (1.0, 4, 8L, 8L, 1.0)))
    intercept[IllegalArgumentException](
      Vocab.vocabCoverage(corpus, "text", Seq(0.0)))
  }

  test("event funnel: earliest-qualifying ordered stages, strict ordering, chain breaks preserved") {
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full chain
      (2L, "click", 5L), (2L, "view", 10L),                         // click BEFORE view: breaks at 1
      (3L, "view", 10L), (3L, "purchase", 12L), (3L, "click", 15L), // purchase before click: stage 2
      (4L, "click", 1L), (4L, "purchase", 2L),                      // never viewed: not in the funnel
      (5L, "view", 10L), (5L, "click", 10L)                         // same second: strict > excludes
    ).toDF("user_id", "event_type", "sec")
      .select($"user_id", $"event_type", timestamp_seconds($"sec").as("ts"))
    val f = Sessionize.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4))).toList
    assert(f == List(
      (1L, Some(10L), Some(20L), Some(30L), 3),
      (2L, Some(10L), None, None, 1),
      (3L, Some(10L), Some(15L), None, 2),
      (5L, Some(10L), None, None, 1)))
    val c = Sessionize.funnelCounts(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy("stage")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        Option(r.get(3)))).toList
    assert(c == List(
      (1, "view", 4L, Some(1.0)),
      (2, "click", 2L, Some(0.5)),
      (3, "purchase", 1L, Some(0.5))))
    // conversion window measured from the ENTRY: user 1's purchase at +20s
    // falls outside a 15-second window even though the click (+10) is in
    val fw = Sessionize.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), windowSeconds = 15)
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), Option(r.get(3)), r.getInt(4))).toList
    assert(fw == List(
      (1L, None, 2), (2L, None, 1), (3L, None, 2), (5L, None, 1)))
  }

  test("retention matrix: weekly cohorts hand-computed, repeat activity collapses, day grain") {
    // weeks (Monday-aligned): 2024-01-01 and 2024-01-08.
    // u1 first week 1, active weeks 1 and 2 (twice in week 2 — counts once)
    // u2 first week 1, active week 1 only
    // u3 first week 2, active week 2
    val ev = Seq(
      (1L, "2024-01-02 10:00:00"), (1L, "2024-01-08 09:00:00"),
      (1L, "2024-01-10 09:00:00"),
      (2L, "2024-01-03 12:00:00"),
      (3L, "2024-01-09 08:00:00")
    ).toDF("user_id", "s").select($"user_id", $"s".cast("timestamp").as("ts"))
    val got = Sessionize.retentionMatrix(ev, "user_id", "ts", "week")
      .orderBy("cohort", "period_offset")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toList
    assert(got == List(
      ("2024-01-01", 0, 2L), // u1, u2 in their cohort week
      ("2024-01-01", 1, 1L), // only u1 returned
      ("2024-01-08", 0, 1L))) // u3's own cohort week
    // day grain: u1's Jan 8 and Jan 10 activity become offsets 6 and 8
    val day = Sessionize.retentionMatrix(ev.filter($"user_id" === 1), "user_id",
        "ts", "day")
      .orderBy("period_offset")
      .collect().map(r => (r.getInt(1), r.getLong(2))).toList
    assert(day == List((0, 1L), (6, 1L), (8, 1L)))
    intercept[IllegalArgumentException](
      Sessionize.retentionMatrix(ev, "user_id", "ts", "month"))
  }

  test("distinctN: hand-computed ratios, short docs contribute no higher-order grams") {
    val corpus = Seq((1L, "s1", "a a b"), (2L, "s1", "a b"))
      .toDF("doc_id", "src", "text")
    val got = TextAnalysis.distinctN(corpus, "text", "src", Seq(1, 2, 3))
      .orderBy("n")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toList
    assert(got == List(
      (1, 5L, 2L, 0.4),      // a a b a b -> {a, b}
      (2, 3L, 2L, 0.666667), // 'a a','a b' + 'a b'
      (3, 1L, 1L, 1.0)))     // only doc 1 is long enough
    intercept[IllegalArgumentException](
      TextAnalysis.distinctN(corpus, "text", "src", Seq.empty))
  }

  test("sourceOverlap: sketch estimates recover planted pairwise overlaps, deterministically") {
    // sa = residues 0-5 (1200 ids), sb = 4-9 (1200), sc = evens (1000);
    // exact overlaps: sa∩sb = 400, sa∩sc = 600, sb∩sc = 600
    val ids = spark.range(0, 2000)
    val mixed = ids.filter($"id" % 10 < 6).select(lit("sa").as("src"), $"id")
      .unionAll(ids.filter($"id" % 10 >= 4).select(lit("sb").as("src"), $"id"))
      .unionAll(ids.filter($"id" % 2 === 0).select(lit("sc").as("src"), $"id"))
    def run() = Snapshot.sourceOverlap(mixed, "src", "id")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val got = run()
    val exact = Map(("sa", "sb") -> (1200L, 1200L, 2000L, 400L),
      ("sa", "sc") -> (1200L, 1000L, 1600L, 600L),
      ("sb", "sc") -> (1200L, 1000L, 1600L, 600L))
    assert(got.keySet == exact.keySet)
    got.foreach { case (k, (na, nb, nu, ov)) =>
      val (ea, eb, eu, eo) = exact(k)
      assert(math.abs(na - ea) <= ea * 0.05 && math.abs(nb - eb) <= eb * 0.05
        && math.abs(nu - eu) <= eu * 0.05 && math.abs(ov - eo) <= eo * 0.1,
        s"$k: est ($na,$nb,$nu,$ov) vs exact ($ea,$eb,$eu,$eo)")
    }
    assert(run() == got) // sketch hashing is seed-fixed: stable estimates
  }

  test("shardManifest: masses partition the corpus, checksum is order-free and content-sensitive") {
    val df = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "delta eps zeta"),
      (4L, "eta")).toDF("doc_id", "text")
    val m = Sampling.shardManifest(df, "doc_id", "text", nShards = 2)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(m.map(_._2).sum === 4L) // every doc in exactly one shard
    assert(m.map(_._3).sum === 7L) // token masses partition
    // order/partitioning-free: a repartitioned input gives the same manifest
    val m2 = Sampling.shardManifest(df.repartition(5), "doc_id", "text", 2)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(m === m2)
    // content-sensitive: editing one doc flips exactly its shard's checksum
    val edited = Seq((1L, "alpha beta!"), (2L, "gamma"), (3L, "delta eps zeta"),
      (4L, "eta")).toDF("doc_id", "text")
    val me = Sampling.shardManifest(edited, "doc_id", "text", 2)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(m.map(_._1) === me.map(_._1))
    assert(m.zip(me).count { case (a, b) => a._5 != b._5 } === 1)
  }

  test("datasheet: hand-computed per-source composition row") {
    val df = Seq(
      (1L, "web", "en", "one two three four"),
      (2L, "web", "en", "one two three four"), // exact dup of 1
      (3L, "web", "fr", "cinq six sept"),
      (4L, "book", "en", "lone document here")).toDF("doc_id", "source", "lang", "text")
    val got = Snapshot.datasheet(df, "source", "lang", "text")
      .orderBy("source")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    val (book, web) = (got(0), got(1))
    assert(book._1 === "book" && book._2 === 1L && book._3 === 3L)
    // p50 is a rounded double now (engine-agnostic vs long truncation);
    // web's even-count median interpolates 18,18,13 -> 18.0
    assert(book._4 === 18.0 && web._4 === 18.0)
    assert(book._6 === 0.0 && book._7 === 0.0) // no dups, single language
    assert(web._2 === 3L && web._3 === 4L + 4L + 3L)
    assert(math.abs(web._6 - (1.0 - 2.0 / 3.0)) < 1e-6) // 2 distinct of 3
    // lang mix 2:1 -> H = -(2/3)log2(2/3) - (1/3)log2(1/3)
    val h = -(2.0 / 3) * (math.log(2.0 / 3) / math.log(2)) -
      (1.0 / 3) * (math.log(1.0 / 3) / math.log(2))
    assert(math.abs(web._7 - h) < 1e-6)
  }

  test("unigramDrift: zero for an identical snapshot, positive under shift, OOV mass exact") {
    val old = Seq((1L, "alpha beta beta gamma"), (2L, "alpha delta")).toDF("doc_id", "text")
    val same = Snapshot.unigramDrift(old, old, "text", k = 10)
      .as[(Long, Double, Double)].head()
    assert(same === ((4L, 0.0, 0.0))) // 4 distinct words, identical dists
    // the new snapshot shifts mass to beta and brings one OOV word
    val next = Seq((3L, "beta beta beta novel")).toDF("doc_id", "text")
    val drift = Snapshot.unigramDrift(old, next, "text", k = 10)
      .as[(Long, Double, Double)].head()
    assert(drift._1 === 4L)
    assert(drift._2 > 0.0)
    assert(math.abs(drift._3 - 0.25) < 1e-9) // 1 OOV token of 4
  }

  test("readabilityReport: hand-computed components") {
    val df = Seq((1L, "The cat sat. The cat ran!"),
      (2L, "xz")) // no vowels, no sentence punctuation -> floors
      .toDF("doc_id", "text")
    val got = TextAnalysis.readabilityReport(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Long, Double)].collect()
    // doc 1: 6 words, 2 sentences, vowel groups: e,a,a,e,a,a = 6
    assert(got(0) === ((1L, 6L, 2L, 6L,
      math.rint((0.39 * 3.0 + 11.8 * 1.0 - 15.59) * 1e6) / 1e6)))
    // doc 2: floors words=1, sentences=1, zero vowel groups
    assert(got(1)._2 === 1L && got(1)._3 === 1L && got(1)._4 === 0L)
  }

  test("compactIndex refuses an IVF _cell table: many rows per cell IS its content") {
    spark.sql("DROP TABLE IF EXISTS cmp_ivf_guard")
    try {
      graft.sources.Sources.writeBucketed(
        Seq((1L, 0), (2L, 0), (3L, 1)).toDF("vec_id", "_cell"),
        "cmp_ivf_guard", Seq("_cell"), 2)
      val e = intercept[IllegalArgumentException](
        Dedup.compactIndex(spark, "cmp_ivf_guard"))
      assert(e.getMessage.contains("ivfRebuild"))
      assert(spark.table("cmp_ivf_guard").count() == 3) // untouched
    } finally spark.sql("DROP TABLE IF EXISTS cmp_ivf_guard")
  }

  test("hash split is deterministic; stratified take caps every group at k") {
    val ids = (1L to 500L).map(i => (i, if (i % 5 == 0) "de" else "en")).toDF("doc_id", "lang")
    val split = Sampling.hashSplit(ids, "doc_id")
    assert(split.collect().toSet == Sampling.hashSplit(ids, "doc_id").collect().toSet)
    val counts = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    assert(counts.values.sum == 500L)
    val taken = Sampling.stratifiedTake(ids, Seq("lang"), "doc_id", 10)
    val perGroup = taken.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(perGroup == Map("en" -> 10L, "de" -> 10L))
    assert(Sampling.stratifiedTake(ids, Seq("lang"), "doc_id", 10)
      .collect().toSet == taken.collect().toSet)
  }

  test("temperature targets: alpha=1 is the natural mix, alpha flattens toward uniform") {
    // token masses 80/20: natural shares 0.8/0.2
    val rows = Seq(("en", 80L), ("de", 20L)).toDF("lang", "n_tokens")
    val natural = Sampling.temperatureTargets(rows, "lang", "n_tokens", alpha = 1.0)
      .select($"lang", $"target_share").as[(String, Double)].collect().toMap
    assert(natural("en") == 0.8 && natural("de") == 0.2)
    // alpha=0.5: sqrt(0.8)/(sqrt(0.8)+sqrt(0.2)) ≈ 0.666667 — hand-computed
    val tempered = Sampling.temperatureTargets(rows, "lang", "n_tokens", alpha = 0.5)
      .select($"lang", $"target_share").as[(String, Double)].collect().toMap
    assert(math.abs(tempered("en") - 0.666667) < 1e-6)
    assert(math.abs(tempered("de") - 0.333333) < 1e-6)
    // shares always renormalize to 1 and flattening is monotone in alpha:
    // the head's target share shrinks as alpha drops
    assert(math.abs(tempered.values.sum - 1.0) < 1e-5)
    assert(tempered("en") < natural("en") && tempered("de") > natural("de"))
    // composes with mixturePlan: tempered targets in, resampling knobs out
    val plan = Sampling.mixturePlan(rows, "lang", "n_tokens",
      tempered.map { case (k, v) => k -> v })
      .select($"lang", $"keep_prob").as[(String, Double)].collect().toMap
    assert(plan("en") < 1.0 && plan("de") == 1.0) // head shrinks, tail grows
  }

  test("curriculum stages: monotone bands, ties share a stage, count preserved") {
    // 100 rows with difficulty 1..100: quartile boundaries land near
    // 25/50/75, every stage is a contiguous difficulty band
    val rows = (1L to 100L).map(i => (i, i.toInt)).toDF("doc_id", "difficulty")
    val staged = Sampling.curriculumAssign(rows, "difficulty", 4)
    val got = staged.select($"doc_id", $"stage").as[(Long, Int)].collect().toMap
    assert(got.size == 100)
    assert(got.values.forall(s => s >= 1 && s <= 4))
    assert(got.values.toSet == Set(1, 2, 3, 4)) // distinct values: no stage empty
    // monotone: stage is non-decreasing in difficulty
    val byDifficulty = (1L to 100L).map(got)
    assert(byDifficulty.zip(byDifficulty.tail).forall { case (a, b) => a <= b })
    // heavy ties: equal scores always share a stage (never split mid-tie)
    val tied = (1L to 90L).map(i => (i, if (i <= 80) 5 else i.toInt)).toDF("doc_id", "difficulty")
    val tiedStages = Sampling.curriculumAssign(tied, "difficulty", 4)
      .filter($"difficulty" === 5).select($"stage").distinct().as[Int].collect()
    assert(tiedStages.length == 1)
    // nStages=1 degenerates to a constant column
    assert(Sampling.curriculumAssign(rows, "difficulty", 1)
      .select($"stage").distinct().as[Int].collect().toSeq == Seq(1))
  }

  test("groupSplit: every dup-cluster member shares its cluster's split") {
    val ids = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Sampling.groupSplit(ids, "doc_id", pairs)
      .select("doc_id", "grp", "split").as[(Long, Long, String)].collect()
    assert(out.length == 10)
    val byId = out.map(r => r._1 -> r).toMap
    // cluster {1,2,3} -> label 1; {7,8} -> label 7; singletons keep own id
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(7L, 8L).map(byId(_)._2).distinct == Seq(7L))
    assert(byId(5L)._2 == 5L)
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.size == 1)
    assert(Seq(7L, 8L).map(byId(_)._3).distinct.size == 1)
    // singleton split agrees with the per-row hashSplit it degenerates to
    val plain = Sampling.hashSplit(ids.filter(col("doc_id") === 5L), "doc_id")
      .select("split").as[String].head()
    assert(byId(5L)._3 == plain)
  }

  test("upsample repeats rows per key factor, drops factor-0 keys, epochs are dense") {
    val df = Seq((1L, "en"), (2L, "fr"), (3L, "de"), (4L, "zh"))
      .toDF("doc_id", "lang")
    val out = Sampling.upsample(df, "lang", Map("en" -> 2, "fr" -> 3, "de" -> 0))
      .select("doc_id", "epoch").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(out(1L) == Seq(0, 1))
    assert(out(2L) == Seq(0, 1, 2))
    assert(!out.contains(3L)) // de dropped
    assert(out(4L) == Seq(0)) // default factor 1
  }

  test("mixturePlan: hand-computed knobs; absent keys drop; knobs compose to the target") {
    // en: 600 of 1000 tokens (natural 0.6), fr: 300 (0.3), zh: 100 (0.1)
    val df = Seq(
      (1L, "en", 400L), (2L, "en", 200L), (3L, "fr", 300L), (4L, "zh", 100L)
    ).toDF("doc_id", "lang", "tokens")
    val plan = Sampling.mixturePlan(df, "lang", "tokens",
      Map("en" -> 0.3, "fr" -> 0.7))
      .as[(String, Long, Long, Double, Double, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // en must shrink: ratio 0.3/0.6 = 0.5 -> keep half, no extra epochs,
    // last epoch full (keep_prob already realizes the fraction)
    assert(plan("en") == ("en", 2L, 600L, 0.6, 0.5, 0.5, 0L, 1.0))
    // fr must grow: ratio 0.7/0.3 = 2.333333 -> keep all, 2 extra epochs,
    // and the LAST epoch keeps 0.333333 — the knob that realizes the
    // fractional ratio (2 full epochs + a 1/3 epoch = 2.333x, not 3x)
    assert(plan("fr")._5 == 2.333333 && plan("fr")._6 == 1.0 && plan("fr")._7 == 2L)
    assert(plan("fr")._8 == 0.333333)
    // zh not in targets -> dropped entirely
    assert(plan("zh")._5 == 0.0 && plan("zh")._6 == 0.0 && plan("zh")._7 == 0L)
  }

  test("applyMixture realizes plan ratios: full epochs exact, fractional epoch within hash tolerance") {
    // grow 2.5x, shrink 0.25x, absent key drops
    val df = (1L to 4000L).map(i =>
      (i, if (i <= 2000) "grow" else if (i <= 3800) "shrink" else "gone"))
      .toDF("doc_id", "lang")
    val out = Sampling.applyMixture(df, "doc_id", "lang", Map(
      "grow" -> ((1.0, 2L, 0.5)),   // ratio 2.5 = 2 full epochs + 0.5 of a third
      "shrink" -> ((0.25, 0L, 1.0)) // ratio 0.25 = one fractional epoch
    ))
    assert(out.filter($"lang" === "gone").isEmpty)
    // full epochs are exact copies
    val growByEpoch = out.filter($"lang" === "grow").groupBy($"epoch").count()
      .as[(Int, Long)].collect().toMap
    assert(growByEpoch(0) == 2000L && growByEpoch(1) == 2000L)
    // fractional epochs land within the documented ~1/65536-bucket tolerance
    assert(math.abs(growByEpoch(2) - 1000L) < 80, s"got ${growByEpoch(2)}")
    val shrinkN = out.filter($"lang" === "shrink").count()
    assert(math.abs(shrinkN - 450L) < 60, s"got $shrinkN")
    // determinism: the same plan re-applied keeps the identical row set
    val again = Sampling.applyMixture(df, "doc_id", "lang", Map(
      "grow" -> ((1.0, 2L, 0.5)), "shrink" -> ((0.25, 0L, 1.0))))
      .select($"doc_id", $"epoch").collect().toSet
    assert(again == out.select($"doc_id", $"epoch").collect().toSet)
  }

  test("packSegments: exact tiling — docs rebuild from segments, every non-final pack is full") {
    val docs = Seq(
      (0L, 5), (8L, 3),            // shard 0: stream of 8 tokens -> packs of 4: [5]->(0:4)+(1:1), [3]->(1:3)
      (1L, 4), (9L, 4), (17L, 1),  // shard 1: exact boundary cases
      (2L, 10),                    // shard 2: one doc spanning 3 packs
      (3L, 0)                      // zero-token doc: dropped
    ).toDF("doc_id", "n_tokens")
    val segs = Packing.packSegments(docs, "doc_id", "n_tokens", budget = 4L, shards = 8)
      .select("doc_id", "n_tokens", "shard", "seg_id", "pack_id", "pack_offset", "doc_offset", "seg_len")
      .as[(Long, Int, Int, Int, Long, Long, Long, Long)].collect()
    assert(!segs.exists(_._1 == 3L)) // zero-token doc occupies no stream position
    // per doc: segments contiguous from offset 0 and sum to n_tokens
    segs.groupBy(_._1).foreach { case (id, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == sorted.indices.toSeq, s"doc $id seg_ids")
      assert(sorted.map(_._8).sum == sorted.head._2, s"doc $id lengths")
      sorted.foldLeft(0L) { case (off, r) => assert(r._7 == off, s"doc $id offsets"); off + r._8 }
    }
    // per (shard, pack): every pack except the shard's last is exactly full,
    // and segments tile the pack contiguously from offset 0
    segs.groupBy(r => (r._3, r._5)).foreach { case ((shard, pack), rs) =>
      val lastPack = segs.filter(_._3 == shard).map(_._5).max
      val sorted = rs.sortBy(_._6)
      sorted.foldLeft(0L) { case (off, r) => assert(r._6 == off, s"pack $shard/$pack"); off + r._8 }
      if (pack < lastPack) assert(sorted.map(_._8).sum == 4L, s"pack $shard/$pack not full")
    }
    // hand-check the 3-pack straddler: 10 tokens over budget 4 = 4+4+2
    val straddler = segs.filter(_._1 == 2L).sortBy(_._4).map(r => (r._5, r._7, r._8)).toSeq
    assert(straddler == Seq((0L, 0L, 4L), (1L, 4L, 4L), (2L, 8L, 2L)))
  }

  test("e2e prep composition: curate -> mix -> pack invariants hold; text scanned once") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val surv = TextAnalysis.curate(d, "doc_id", "text", minWords = 30, minStopHits = 1)
      .select(col("doc_id"), col("n_words").as("n_tokens"))
    val mixed = Sampling.weightedKeep(
      surv.join(d.select(col("doc_id"), col("lang")), "doc_id"),
      "doc_id", "lang", Map("en" -> 1.0, "de" -> 0.5))
    val packed = Packing.packByBudget(mixed, "doc_id", "n_tokens", budget = 512L, shards = 4)
    val rows = packed.select("doc_id", "n_tokens", "shard", "pack_id", "pack_pos")
      .as[(Long, Int, Int, Long, Long)].collect().sortBy(_._1)
    val survIds = surv.select("doc_id").as[Long].collect().toSet
    assert(rows.nonEmpty && rows.map(_._1).toSet.subsetOf(survIds)) // mix only drops
    // within each shard, id-ordered docs tile contiguously: next offset ==
    // previous offset + previous length (pack arithmetic is cumulative)
    rows.groupBy(_._3).foreach { case (_, rs) =>
      rs.sortBy(_._1).foldLeft(0L) { case (expected, (_, n, _, packId, packPos)) =>
        assert(packId * 512L + packPos == expected)
        expected + n
      }
    }
    // text is read only inside curate's checkpointed projection: the final
    // plan's parquet scans never touch the text column (the lang re-scan is
    // pruned to doc_id+lang)
    val scans = packed.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).toList
    assert(scans.nonEmpty && scans.forall(!_.contains("text:string")),
      s"downstream scan re-reads text:\n${scans.mkString("\n")}")
    assert(scans.exists(s => s.contains("doc_id") && s.contains("lang")))
  }

  test("new-operator edges: empty pairs, identity upsample, identical snapshots") {
    val ids = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // groupSplit with NO dup pairs degenerates to hashSplit exactly
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val gs = Sampling.groupSplit(ids, "doc_id", emptyPairs)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    val hs = Sampling.hashSplit(ids, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(gs == hs)
    // upsample with no factors is the identity plus epoch 0
    val up = Sampling.upsample(ids, "text", Map.empty)
      .select("doc_id", "epoch").as[(Long, Int)].collect()
    assert(up.length == 6 && up.forall(_._2 == 0))
    // identical snapshots diff to nothing
    assert(Snapshot.corpusDiff(ids, ids, "doc_id", "text").isEmpty)
    assert(Snapshot.diffSummary(ids, ids, "doc_id", "text").isEmpty)
  }

  test("corpusDiff classifies added/removed/changed and drops unchanged") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val next = Seq((2L, "b"), (3L, "c CHANGED"), (4L, "d")).toDF("doc_id", "text")
    val statuses = Snapshot.corpusDiff(prev, next, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(statuses == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    val summary = Snapshot.diffSummary(prev, next, "doc_id", "text")
      .as[(String, Long)].collect().toMap
    assert(summary == Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L))
    // null-safe change detection: text going to or from NULL is a real
    // change, not a silent "unchanged" (plain =!= yields NULL there)
    val p2 = Seq((1L, "body"), (2L, null.asInstanceOf[String]), (3L, "same"))
      .toDF("doc_id", "text")
    val n2 = Seq((1L, null.asInstanceOf[String]), (2L, "body"), (3L, "same"))
      .toDF("doc_id", "text")
    val nullDiff = Snapshot.corpusDiff(p2, n2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(nullDiff == Map(1L -> "changed", 2L -> "changed"))
  }

  test("hash split normalizes uppercase thresholds and rejects non-hex ones") {
    val ids = (1L to 200L).map(i => (i, "en")).toDF("doc_id", "lang")
    val lower = Sampling.hashSplit(ids, "doc_id").collect().toSet
    val upper = Sampling.hashSplit(ids, "doc_id", "CC", "E6").collect().toSet
    assert(lower == upper) // 'CC' must not lexically sort below every digest
    intercept[IllegalArgumentException](Sampling.hashSplit(ids, "doc_id", "zz", "e6"))
    intercept[IllegalArgumentException](Sampling.hashSplit(ids, "doc_id", "c", "e6"))
  }

  test("PII redaction replaces emails, cards, phones and IPs with typed tags") {
    val df = Seq(
      (1L, "contact john.doe@example.com or +1 555-123-4567"),
      (2L, "card 4111 1111 1111 1111 seen from 192.168.1.100"),
      (3L, "no pii here at all"),
      (4L, "amex 3782 822463 10005 and long 6212 3456 7890 1234 567")).toDF("id", "text")
    val out = df.select($"id", TextAnalysis.redactPii($"text").as("r"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "contact [EMAIL] or +[PHONE]")
    assert(out(2L) == "card [CARD] seen from [IP]")
    assert(out(3L) == "no pii here at all")
    // 15-digit amex and 19-digit cards must not half-leak through the
    // phone pattern
    assert(out(4L) == "amex [CARD] and long [CARD]")
  }

  test("NFC normalization makes composed and decomposed text identical") {
    val composed = "café x" // é as U+00E9
    val decomposed = "café   x" // e + combining acute, messy spacing
    val df = Seq((1L, composed), (2L, decomposed)).toDF("id", "text")
    val out = df.select(TextAnalysis.normalize("text").as("n")).as[String].collect()
    assert(out.toSet == Set("café x"))
    // normalized fingerprints collide -> dedup treats them as duplicates
    val fps = df.select(TextAnalysis.fingerprint(TextAnalysis.normalize("text")).as("f"))
      .as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("sessionize assign adds only session_seq to the input schema") {
    val evs = Seq((1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 01:00:00"))
      .toDF("user_id", "ts").withColumn("ts", to_timestamp($"ts"))
    val out = Sessionize.assign(evs, "user_id", "ts", 1800L)
    assert(out.columns.toSeq == evs.columns.toSeq :+ "session_seq")
  }

  test("range join matches points inside inclusive intervals across bucket boundaries") {
    val pts = Seq((1L, 10L, 5L), (2L, 10L, 25L), (3L, 10L, 100L), (4L, 20L, 25L), (5L, 10L, 30L))
      .toDF("id", "k", "t")
    val ivs = Seq((10L, 0L, 30L, "w1"), (10L, 24L, 26L, "w2"), (20L, 90L, 99L, "w3"))
      .toDF("k", "s", "e", "w")
    val got = RangeJoin.pointInInterval(pts, ivs, Seq("k"), "t", "s", "e", bucketWidth = 10L)
      .select($"id", $"w").as[(Long, String)].collect().toSet
    assert(got == Set(
      (1L, "w1"), // mid-interval
      (2L, "w1"), (2L, "w2"), // overlapping intervals both match
      (5L, "w1"))) // end boundary is inclusive; 3 (outside) and 4 (wrong range) drop
  }

  test("IVF top-k: full probe equals brute force; pruned probe still finds self") {
    val q = vecs.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // nprobe == nlist probes every cell -> identical ranking to brute force
    val full = Similarity.ivfTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 4, nlist = 2, nprobe = 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 4)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(full == brute)
    // pruned probe: the query's own cell is always probed first
    val pruned = Similarity.ivfTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 2, nlist = 2, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(pruned.contains(1L))
  }

  test("PQ top-k: exact-representable codebooks reproduce brute force exactly") {
    val q = vecs.filter($"vec_id" <= 2L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // sample = the whole 4-row corpus, iters=0 -> codebooks ARE the corpus
    // subvectors -> distortion 0 -> ADC score == exact cosine, rank for rank
    val cb = Similarity.pqCodebooks(vecs, "vec_id", "embedding", m = 2, ksub = 4,
      sampleSize = 4, iters = 0)
    val pq = Similarity.pqTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 4, cb)
      .select($"query_id", $"rank", $"vec_id", round($"score", 9).as("s"))
      .collect().toSet
    val brute = Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 4)
      .select($"query_id", $"rank", $"vec_id", round($"cosine", 9).as("s"))
      .collect().toSet
    assert(pq == brute)
  }

  test("PQ exactness property: random corpora in the representable regime reproduce brute force") {
    // for ANY corpus whose rows all appear in the training sample, iters=0
    // codebooks quantize with distortion exactly 0 and ADC == exact cosine
    // — property-checked over random float vectors (incl. negatives and
    // magnitude spread), 5 corpora x 12 vectors x dim 8
    val gen = org.scalacheck.Gen.listOfN(12 * 8,
      org.scalacheck.Gen.chooseNum(-100, 100).map(_ / 10.0f))
    (1 to 5).foreach { seedRound =>
      // fixed seed per round: reproducible data, a pass is a pass forever
      val vals = gen.apply(org.scalacheck.Gen.Parameters.default,
          org.scalacheck.rng.Seed(42L + seedRound))
        .getOrElse(List.fill(12 * 8)(seedRound.toFloat))
      val corpus = vals.grouped(8).zipWithIndex
        .map { case (v, i) => (i.toLong + seedRound * 1000, v.toArray) }.toSeq
        .toDF("vec_id", "embedding")
      val q = corpus.limit(3)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4,
        ksub = 12, sampleSize = 12, iters = 0)
      val pq = Similarity.pqTopK(corpus, q, "vec_id", "embedding", "query_id", "qv", 5, cb)
        .select($"query_id", $"rank", $"vec_id", round($"score", 9).as("s"))
        .collect().toSet
      val brute = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", "query_id", "qv", 5)
        .select($"query_id", $"rank", $"vec_id", round($"cosine", 9).as("s"))
        .collect().toSet
      assert(pq == brute, s"round $seedRound diverged")
    }
  }

  test("PQ top-k: lossy codebooks keep cluster structure; zero-norm rows drop") {
    // two tight direction clusters; ksub=2 per subspace is heavily lossy but
    // Lloyd separates the clusters, so each query's top-1 stays in-cluster
    val corpus = Seq(
      (1L, Array(1f, 0.05f, 0f, 0f)), (2L, Array(0.98f, 0f, 0.02f, 0f)),
      (3L, Array(1f, 0.01f, 0.01f, 0f)), (4L, Array(0.97f, 0.03f, 0f, 0.01f)),
      (11L, Array(0f, 0.02f, 1f, 0.04f)), (12L, Array(0.01f, 0f, 0.99f, 0f)),
      (13L, Array(0f, 0.01f, 0.97f, 0.02f)), (14L, Array(0.02f, 0f, 1f, 0.03f)),
      (99L, Array(0f, 0f, 0f, 0f)) // zero-norm: must never rank
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 2, ksub = 2,
      sampleSize = 16, iters = 5)
    val q = corpus.filter($"vec_id".isin(1L, 11L))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val top = Similarity.pqTopK(corpus, q, "vec_id", "embedding", "query_id", "qv", 3, cb)
    assert(top.filter($"vec_id" === 99L).isEmpty)
    val byQuery = top.select($"query_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byQuery(1L).subsetOf(Set(1L, 2L, 3L, 4L)))
    assert(byQuery(11L).subsetOf(Set(11L, 12L, 13L, 14L)))
    // under total within-cluster collapse (every in-cluster row shares one
    // code pair) ADC ties break by vec_id, so PQ returns the 3 lowest
    // in-cluster ids while brute force returns the 3 truly nearest — recall
    // floors at 2/3 here and the self row (lowest in-cluster id) is rank 1
    assert(top.filter($"rank" === 1).select($"query_id", $"vec_id")
      .as[(Long, Long)].collect().forall { case (qid, vid) => qid == vid })
    val brute = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", "query_id", "qv", 3)
    val rec = Similarity.recallAtK(top, brute, 3)
      .select($"query_id", $"recall").as[(Long, Double)].collect().toMap
    assert(rec.values.forall(_ >= 2.0 / 3 - 1e-6), s"recall below the collapse floor: $rec")
  }

  test("PQ scoring plan: only (id, codes) ride the corpus side of the join, not the embedding") {
    val q = vecs.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val cb = Similarity.pqCodebooks(vecs, "vec_id", "embedding", m = 2, ksub = 4,
      sampleSize = 4, iters = 0)
    val top = Similarity.pqTopK(vecs, q, "vec_id", "embedding", "query_id", "qv", 2, cb)
    val plan = top.queryExecution.optimizedPlan
    // the join's corpus-side child must not output the raw vector column:
    // codes replace it before any pair is formed (the 100 TB memory story)
    val join = plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(join.nonEmpty)
    val corpusSide = join.head.left.output.map(_.name)
    assert(corpusSide.contains("_codes") && !corpusSide.contains("embedding"),
      s"corpus side of the PQ join carries $corpusSide")
    // and the rank window still rewrites to a pre-shuffle partial top-k
    assert(top.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("IVF-PQ index: stores codes only, prunes buckets, full probe with exact codebooks == brute force") {
    val corpus = spark.range(0, 40).select($"id".as("vec_id"),
      array((0 until 8).map(i =>
        (sin($"id" * (i + 1) * 0.7) + cos($"id" * (i + 2) * 1.3)).cast("float")): _*)
        .as("embedding"))
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val tables = Seq("ivfpq_test_t", "ivfpq_test_t_centroids", "ivfpq_test_t_codebooks")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      // sample = whole corpus + iters=0 -> distortion-0 codes (exact regime)
      Similarity.ivfpqWriteBucketed(corpus, "ivfpq_test_t", "vec_id", "embedding",
        nlist = 8, m = 4, ksub = 40, numBuckets = 8, sampleSize = 40, iters = 0)
      // the persisted index must carry no raw vector — codes only
      assert(spark.table("ivfpq_test_t").columns.toSet == Set("vec_id", "_cell", "_codes"))
      // pruned probe: strictly fewer buckets read than exist
      val pruned = Similarity.ivfpqTopKFromBucketed(spark, "ivfpq_test_t", queries,
        "vec_id", "query_id", "qv", k = 5, nprobe = 2)
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"expected bucket pruning in plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt)
      // self is always found: exact codes + the query's own argmax cell
      val byQuery = pruned.filter(col("rank") === 1)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
      assert((0L to 2L).forall(q => byQuery(q) == q))
      // full probe + exact codebooks == brute force, score for score
      val full = Similarity.ivfpqTopKFromBucketed(spark, "ivfpq_test_t", queries,
        "vec_id", "query_id", "qv", k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("score"), 9))
        .collect().toSet
      val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding",
        "query_id", "qv", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 9))
        .collect().toSet
      assert(full == brute)
      // append exact clones of the query rows (ids +1000), encoded with the
      // PERSISTED models: identical vectors -> identical codes -> ADC score
      // exactly the self score (the cosine ceiling 1), so self and clone
      // must fill ranks 1-2 by the vec_id tiebreak — proving appends share
      // the original quantizers and original codes did not drift
      val clones = corpus.filter(col("vec_id") < 3)
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
      Similarity.ivfpqAppendToIndex(clones, "ivfpq_test_t", "vec_id", "embedding")
      val afterAppend = Similarity.ivfpqTopKFromBucketed(spark, "ivfpq_test_t", queries,
        "vec_id", "query_id", "qv", k = 5, nprobe = 8)
      val topTwo = afterAppend.filter(col("rank") <= 2)
        .select("query_id", "rank", "vec_id").as[(Long, Int, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      assert((0L to 2L).forall(q => topTwo(q) == Seq(q, q + 1000)), s"got $topTwo")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("zero-norm vectors never rank or pair (NaN-cosine guard)") {
    val withZero = vecs.union(Seq((9L, Array(0f, 0f, 0f, 0f), 0)).toDF("vec_id", "embedding", "label"))
    val q = withZero.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // cosine(zero, q) = 0/0 = NaN sorts above every real double — without the
    // guard the zero vector would take rank 1
    val top = Similarity.bruteForceTopK(withZero, q, "vec_id", "embedding", "query_id", "qv", 5)
      .select("vec_id").as[Long].collect().toSet
    assert(!top.contains(9L))
    // a zero-norm query has no direction: no rows, not NaN ranks
    val zq = withZero.filter($"vec_id" === 9L)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    assert(Similarity.bruteForceTopK(withZero, zq, "vec_id", "embedding", "query_id", "qv", 3).isEmpty)
    assert(Similarity.lshTopK(withZero, q, "vec_id", "embedding", "query_id", "qv", 5, 4)
      .filter($"vec_id" === 9L).isEmpty)
    val pairs = Dedup.cosinePairs(withZero, "vec_id", "embedding", Seq("label"), 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("salted join rejects join types that preserve unmatched small-side rows") {
    val df = Seq((1L, 1L)).toDF("k", "row_id")
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(df, df, Seq("k"), "row_id", 4, "full_outer")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(df, df, Seq("k"), "row_id", 4, "right_outer")
    }
  }

  test("simhash pairs at maxHamming = 0 returns exactly the identical-sketch pairs") {
    // regression: (1L << 64) wraps to 1 in Scala, so the naive chunk mask was
    // 0 — one bucket for the whole corpus (full cross join)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
    assert(pairs.filter($"hamming" =!= 0).isEmpty)
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet.contains((1L, 4L)))
  }

  test("simhash bucket cap bounds degenerate identical-chunk corpora") {
    // 100 identical docs: every (chunk, chunk_val) bucket holds all 100 rows.
    // Uncapped that is the full quadratic pair set; capped, the oversized
    // buckets are dropped wholesale and the pair count stays bounded.
    val degen = spark.range(100).select(col("id").as("doc_id"),
      lit("spam spam spam").as("text"))
    val capped = Dedup.simhashPairs(degen, "doc_id", "text", maxHamming = 2,
      maxBucket = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.simhashPairs(degen, "doc_id", "text", maxHamming = 2,
      maxBucket = Int.MaxValue)
    assert(uncapped.count() == 100L * 99 / 2)
  }

  test("jaccard prefix filtering equals the naive cross join and prunes candidates") {
    val blocked = docs.withColumn("block", lit(1))
    // oracle: the naive quadratic formulation, computed inline
    def naive(t: Double): Set[(Long, Long, Double)] = {
      val sets = blocked.select($"doc_id",
        expr("graft_shingle_hashes(text, 1)").as("s"))
        .as[(Long, Array[Long])].collect().toMap
      (for {
        a <- sets.keys; b <- sets.keys if a < b
        ja = {
          val (sa, sb) = (sets(a).toSet, sets(b).toSet)
          sa.intersect(sb).size.toDouble / sa.union(sb).size
        } if ja >= t
      } yield (a, b, ja)).toSet
    }
    for (t <- Seq(0.3, 0.6, 0.8, 1.0)) {
      val got = Dedup.jaccardPairs(blocked, "doc_id", "text", Seq("block"), t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(got == naive(t), s"threshold $t")
    }
    // results survive broadcast being unavailable (no hidden driver-side dependence)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val got = Dedup.jaccardPairs(blocked, "doc_id", "text", Seq("block"), 0.8)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == naive(0.8).map(p => (p._1, p._2)))
    } finally spark.conf.set(key, saved)
    // the mass-derived CAPACITY-FLOOR path (engaged on dense-vocabulary
    // corpora whose candidate mass dwarfs the session shuffle sizing) is
    // output-identical: massPerPartition=1 forces the scoped+checkpointed
    // plan on this small fixture
    for (t <- Seq(0.6, 1.0)) {
      val floored = Dedup.jaccardPairs(blocked, "doc_id", "text", Seq("block"), t,
          massPerPartition = 1L)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(floored == naive(t), s"capacity-floor path diverged at threshold $t")
    }
  }

  test("jaccard prefix filtering: randomized equivalence with the naive join") {
    // seeded random corpora with heavy word reuse, so near-dup structure and
    // ceil-boundary set sizes both occur; every (corpus, threshold) must
    // reproduce the naive quadratic result exactly
    val rnd = new scala.util.Random(20260812L)
    val vocab = (0 until 40).map(i => s"w$i")
    val corpora = (0 until 3).map { _ =>
      (0 until 30).map { id =>
        val base = (0 until 3 + rnd.nextInt(12)).map(_ => vocab(rnd.nextInt(vocab.size)))
        // half the docs are light mutations of an earlier doc's text
        (id.toLong, base.mkString(" "))
      }
    }.map { docsSeq =>
      val mutated = docsSeq.map { case (id, text) =>
        if (id % 2 == 1) {
          val src = docsSeq((id / 2).toInt)._2.split(" ")
          val drop = rnd.nextInt(math.max(src.length / 3, 1))
          (id, src.drop(drop).mkString(" "))
        } else (id, text)
      }
      mutated.toDF("doc_id", "text").withColumn("block", lit(1))
    }
    for ((df, ci) <- corpora.zipWithIndex; t <- Seq(0.25, 0.5, 0.6, 0.75, 1.0)) {
      val sets = df.select($"doc_id", expr("graft_shingle_hashes(text, 1)").as("s"))
        .as[(Long, Array[Long])].collect().toMap
      val expect = (for {
        a <- sets.keys; b <- sets.keys if a < b
        sa = sets(a).toSet; sb = sets(b).toSet
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= t
      } yield (a, b)).toSet
      val got = Dedup.jaccardPairs(df, "doc_id", "text", Seq("block"), t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == expect, s"corpus $ci threshold $t")
    }
  }

  test("weighted keep never rounds a nonzero weight to an empty keep set") {
    assert(Sampling.hexThreshold(1e-6) == "0001") // not "0000"
    assert(Sampling.hexThreshold(0.0) == "0000")
    assert(Sampling.hexThreshold(1.0) == "g")
  }

  test("packing uses a ROWS frame: tied ids get distinct offsets") {
    val tied = Seq((1L, 10L), (1L, 10L), (1L, 10L)).toDF("doc_id", "n_tokens")
    val packed = Packing.packByBudget(tied, "doc_id", "n_tokens", budget = 15L, shards = 1)
    // RANGE framing would give all three rows the same cumulative sum; ROWS
    // gives offsets 0/10/20 -> packs 0/0/1
    val packs = packed.select("pack_id").as[Long].collect().sorted.toSeq
    assert(packs == Seq(0L, 0L, 1L))
  }

  test("bucketed IVF: scan prunes to probed cells; full probe equals brute force") {
    // a deterministic spread of 64 vectors in 4 dims (enough cell diversity)
    val corpus = spark.range(64).selectExpr("id AS vec_id",
      "transform(sequence(0, 3), d -> CAST(sin(CAST(id * 4 + d AS DOUBLE)) AS FLOAT)) AS embedding")
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    spark.sql("DROP TABLE IF EXISTS ivf_test_t")
    spark.sql("DROP TABLE IF EXISTS ivf_test_t_centroids")
    try {
      Similarity.ivfWriteBucketed(corpus, "ivf_test_t", "vec_id", "embedding",
        nlist = 8, numBuckets = 8)
      // pruned probe: the scan must read strictly fewer buckets than exist
      val pruned = Similarity.ivfTopKFromBucketed(spark, "ivf_test_t", queries,
        "vec_id", "embedding", "query_id", "qv", k = 5, nprobe = 2)
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"expected bucket pruning in plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt)
      // self is always found: the query's own cell is its top-1 probe
      val byQuery = pruned.filter(col("rank") === 1)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
      assert((0L to 2L).forall(q => byQuery(q) == q))
      // full probe == brute force (same scoring, same deterministic tiebreak)
      val full = Similarity.ivfTopKFromBucketed(spark, "ivf_test_t", queries,
        "vec_id", "embedding", "query_id", "qv", k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 9))
        .collect().toSet
      val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding",
        "query_id", "qv", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 9))
        .collect().toSet
      assert(full == brute)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_test_t")
      spark.sql("DROP TABLE IF EXISTS ivf_test_t_centroids")
    }
  }

  test("IVF cell stats: counts aggregate in the bucket layout with no exchange; skew report tracks appends") {
    val corpus = spark.range(64).selectExpr("id AS vec_id",
      "transform(sequence(0, 3), d -> CAST(sin(CAST(id * 4 + d AS DOUBLE)) AS FLOAT)) AS embedding")
    spark.sql("DROP TABLE IF EXISTS ivf_stats_t")
    spark.sql("DROP TABLE IF EXISTS ivf_stats_t_centroids")
    try {
      Similarity.ivfWriteBucketed(corpus, "ivf_stats_t", "vec_id", "embedding",
        nlist = 8, numBuckets = 8)
      val counts = Similarity.ivfCellCounts(spark, "ivf_stats_t")
      val got = counts.as[(Int, Long)].collect()
      assert(got.map(_._2).sum == 64 && got.forall(_._2 >= 1))
      // the whole counts plan is scan + in-place aggregate: zero exchanges
      val plan = counts.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      val fmt = counts.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(fmt.contains("Bucketed: true"), fmt)
      val s = Similarity.ivfCellStats(spark, "ivf_stats_t").collect().head
      assert(s.getAs[Long]("n_rows") == 64)
      assert(s.getAs[Long]("n_cells_total") == 8)
      val used = s.getAs[Long]("n_cells_used")
      assert(used >= 1 && used <= 8 && used == got.length)
      val (minC, maxC) = (s.getAs[Long]("min_cell"), s.getAs[Long]("max_cell"))
      assert(minC == got.map(_._2).min && maxC == got.map(_._2).max)
      assert(maxC >= 64 / 8) // pigeonhole: the largest cell is at least the mean
      assert(s.getAs[Double]("p99_cell") <= maxC && s.getAs[Double]("p99_cell") >= minC)
      assert(math.abs(s.getAs[Double]("skew")
        - maxC / s.getAs[Double]("mean_cell")) < 1e-4)
      // append doubles every cell (same vectors re-quantize identically), so
      // occupancy doubles but skew is unchanged — the report a rebuild
      // decision would read after each increment
      Similarity.ivfAppendToIndex(
        corpus.selectExpr("vec_id + 100 AS vec_id", "embedding"),
        "ivf_stats_t", "vec_id", "embedding")
      val s2 = Similarity.ivfCellStats(spark, "ivf_stats_t").collect().head
      assert(s2.getAs[Long]("n_rows") == 128)
      assert(s2.getAs[Long]("max_cell") == 2 * maxC)
      assert(math.abs(s2.getAs[Double]("skew") - s.getAs[Double]("skew")) < 1e-4)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_stats_t")
      spark.sql("DROP TABLE IF EXISTS ivf_stats_t_centroids")
    }
  }

  test("IVF append: appended vectors are probed through the pruned scan; full probe equals brute force over the union") {
    val corpus = spark.range(64).selectExpr("id AS vec_id",
      "transform(sequence(0, 3), d -> CAST(sin(CAST(id * 4 + d AS DOUBLE)) AS FLOAT)) AS embedding")
    val base = corpus.filter(col("vec_id") % 2 === 0)
    val incr = corpus.filter(col("vec_id") % 2 =!= 0)
    val queries = corpus.filter(col("vec_id") < 4) // ids 1, 3 arrive via append
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    spark.sql("DROP TABLE IF EXISTS ivf_incr_t")
    spark.sql("DROP TABLE IF EXISTS ivf_incr_t_centroids")
    try {
      Similarity.ivfWriteBucketed(base, "ivf_incr_t", "vec_id", "embedding",
        nlist = 8, numBuckets = 8)
      val centroidsBefore = spark.table("ivf_incr_t_centroids").collect().toSet
      Similarity.ivfAppendToIndex(incr, "ivf_incr_t", "vec_id", "embedding")
      // the quantizer must not drift on append
      assert(spark.table("ivf_incr_t_centroids").collect().toSet == centroidsBefore)
      // pruned probe still prunes, and finds the appended self vectors
      val pruned = Similarity.ivfTopKFromBucketed(spark, "ivf_incr_t", queries,
        "vec_id", "embedding", "query_id", "qv", k = 5, nprobe = 2)
      pruned.collect()
      val plan = pruned.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"expected bucket pruning in plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt)
      val byQuery = pruned.filter(col("rank") === 1)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
      assert((0L to 3L).forall(q => byQuery(q) == q))
      // full probe over the appended index == brute force over the full corpus
      val full = Similarity.ivfTopKFromBucketed(spark, "ivf_incr_t", queries,
        "vec_id", "embedding", "query_id", "qv", k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 9))
        .collect().toSet
      val brute = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding",
        "query_id", "qv", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 9))
        .collect().toSet
      assert(full == brute)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_incr_t")
      spark.sql("DROP TABLE IF EXISTS ivf_incr_t_centroids")
    }
  }

  test("IVF rebuild: re-quantize drops measured skew, widens nlist on demand, probes stay exact") {
    // spread base + a clustered append: 64 vectors in a cone around
    // (1,1,1,1) all land in one cell of the ORIGINAL quantizer, so skew
    // rises; the rebuild re-seeds centroids from the current rows (half of
    // them clustered), the region draws several centroids and the fat cell
    // splits
    val base = spark.range(64).selectExpr("id AS vec_id",
      "transform(sequence(0, 3), d -> CAST(sin(CAST(id * 4 + d AS DOUBLE)) AS FLOAT)) AS embedding")
    val clustered = spark.range(64).selectExpr("id + 100 AS vec_id",
      "transform(sequence(0, 3), d -> CAST(1.0 + 0.3 * sin(CAST(id * 4 + d AS DOUBLE)) AS FLOAT)) AS embedding")
    val union = base.unionAll(clustered)
    val queries = union.filter(col("vec_id") < 2 || col("vec_id") >= 162)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def skewOf(): Double = Similarity.ivfCellStats(spark, "ivf_rb_t")
      .collect().head.getAs[Double]("skew")
    def fullEqualsBrute(nprobe: Int): Unit = {
      val full = Similarity.ivfTopKFromBucketed(spark, "ivf_rb_t", queries,
        "vec_id", "embedding", "query_id", "qv", k = 5, nprobe = nprobe)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 9))
        .collect().toSet
      val brute = Similarity.bruteForceTopK(union, queries, "vec_id", "embedding",
        "query_id", "qv", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id"), round(col("cosine"), 9))
        .collect().toSet
      assert(full == brute)
    }
    Seq("ivf_rb_t", "ivf_rb_t_centroids").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Similarity.ivfWriteBucketed(base, "ivf_rb_t", "vec_id", "embedding",
        nlist = 8, numBuckets = 8)
      Similarity.ivfAppendToIndex(clustered, "ivf_rb_t", "vec_id", "embedding")
      val skewBefore = skewOf()
      assert(skewBefore >= 2.0, s"setup failed to skew the index: $skewBefore")
      Similarity.ivfRebuild(spark, "ivf_rb_t", "vec_id", "embedding")
      val skewAfter = skewOf()
      assert(skewAfter < skewBefore, s"rebuild did not reduce skew: $skewBefore -> $skewAfter")
      val stats = Similarity.ivfCellStats(spark, "ivf_rb_t").collect().head
      assert(stats.getAs[Long]("n_rows") == 128) // no row lost or duplicated
      assert(stats.getAs[Long]("n_cells_total") == 8) // nlist kept by default
      fullEqualsBrute(nprobe = 8)
      // pruned probe still bucket-prunes after the swap
      val pruned = Similarity.ivfTopKFromBucketed(spark, "ivf_rb_t", queries,
        "vec_id", "embedding", "query_id", "qv", k = 5, nprobe = 2)
      pruned.collect()
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(pruned.queryExecution.executedPlan.toString)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt)
      // widening rebuild: nlist 8 -> 16 replaces the quantizer wholesale
      Similarity.ivfRebuild(spark, "ivf_rb_t", "vec_id", "embedding", nlist = 16)
      val stats16 = Similarity.ivfCellStats(spark, "ivf_rb_t").collect().head
      assert(stats16.getAs[Long]("n_cells_total") == 16)
      assert(stats16.getAs[Long]("n_rows") == 128)
      assert(spark.table("ivf_rb_t_centroids").count() == 16)
      fullEqualsBrute(nprobe = 16)
      // staging tables were swapped away, not left behind
      assert(!spark.catalog.tableExists("ivf_rb_t_rebuild"))
      assert(!spark.catalog.tableExists("ivf_rb_t_centroids_rebuild"))
    } finally Seq("ivf_rb_t", "ivf_rb_t_centroids", "ivf_rb_t_rebuild",
      "ivf_rb_t_centroids_rebuild").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("repetition fractions: 1 - distinct/total, 0 on empty or short text") {
    val df = Seq(
      (1L, "spam eggs\nspam eggs\nham\n\nspam eggs"), // 4 non-empty lines, 2 distinct
      (2L, "a b a b a b"), // 2-grams: [a b, b a, a b, b a, a b] -> 2 distinct of 5
      (3L, "one two"), // fewer than 3 words -> no 3-grams
      (4L, "")).toDF("doc_id", "text")
    val byId = df.select($"doc_id",
      TextAnalysis.dupLineFrac($"text").as("dl"),
      TextAnalysis.dupNgramFrac($"text", 2).as("d2"),
      TextAnalysis.dupNgramFrac($"text", 3).as("d3"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(byId(1L)._1 == 0.5) // 2 repeats of 4 lines
    assert(byId(2L)._2 == 0.6) // 1 - 2/5
    assert(byId(3L)._3 == 0.0) // short text guard
    assert(byId(4L) == ((0.0, 0.0, 0.0))) // empty text
  }

  test("media resize: nearest-neighbor byte sampling, geometry metadata, empty payload") {
    // payload bytes 0..9; resize to 2x2 -> indices floor(i*10/4) = 0,2,5,7
    assert(Multimodal.FakeCodec.resize(Array.range(0, 10).map(_.toByte), 4).toSeq ==
      Seq[Byte](0, 2, 5, 7))
    assert(Multimodal.FakeCodec.resize(Array.emptyByteArray, 4).isEmpty)
    // upsample repeats source bytes (indices floor(i*2/4) = 0,0,1,1)
    assert(Multimodal.FakeCodec.resize(Array[Byte](9, 7), 4).toSeq == Seq[Byte](9, 9, 7, 7))
    val media = Multimodal.withFakeMedia(
      Seq((1L, "abcdef"), (2L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.resizeMedia(spark, media, targetW = 2, targetH = 2)
      .orderBy($"media_id")
      .select("media_id", "new_width", "new_height", "n_bytes")
      .as[(Long, Int, Int, Int)].collect().toSeq
    assert(out == Seq((1L, 2, 2, 4), (2L, 2, 2, 0)))
  }

  test("substring pairs: shared token windows, short-doc fallback, bucket cap") {
    val run = "alpha beta gamma delta epsilon zeta eta" // 7 shared tokens
    val df = Seq(
      (1L, s"one two $run three"),
      (2L, s"nine eight seven $run"),
    (3L, "ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen"),
      (4L, "tiny pair"), // < windowTokens: whole-text fallback
      (5L, "tiny pair"),
      (6L, ""), // blank/whitespace docs have zero tokens: never paired,
      (7L, "   \n  "), // not even with each other
      (8L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.substringPairs(df, "doc_id", "text", windowTokens = 5,
      maxBucket = Int.MaxValue)
      .orderBy($"id_a", $"id_b").as[(Long, Long, Long)].collect().toSeq
    // a 7-token shared run yields exactly 7-5+1 = 3 shared 5-windows
    assert(got == Seq((1L, 2L, 3L), (4L, 5L, 1L)))
    // the skew cap drops windows shared by more docs than the cap allows
    val capped = Dedup.substringPairs(df, "doc_id", "text", windowTokens = 5,
      maxBucket = 1).collect()
    assert(capped.isEmpty)
  }

  test("trigram LM: hand-checked model counts, quantized scores, OOV and empty docs") {
    val corpus = Seq((1L, "aaaa"), (2L, "aaab")).toDF("doc_id", "text")
    val model = LanguageModel.charTrigramModel(corpus, "text")
    val m = model.orderBy($"gram").as[(String, Long, Long, Long)].collect().toSeq
    // grams: doc1 {aaa, aaa}, doc2 {aaa, aab} -> c3(aaa)=3, c3(aab)=1, c2(aa)=4
    assert(m == Seq(
      ("aaa", 3L, 4L, 287682L), // round(-ln(3/4) * 1e6)
      ("aab", 1L, 4L, 1386294L))) // round(-ln(1/4) * 1e6)
    val scored = LanguageModel.perplexityScore(
      Seq((1L, "aaaa"), (2L, "aaab"), (3L, "zzzz"), (4L, "")).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(scored == Seq(
      (1L, 2L, 0.287682), // (287682 + 287682) / 2e6
      (2L, 2L, 0.836988), // (287682 + 1386294) / 2e6
      (3L, 2L, 20.723266), // two OOV grams at the default 1e-9 cost
      (4L, 0L, 0.0))) // no trigrams
    // in-corpus text scores strictly lower than gibberish — the filter signal
    assert(scored(0)._3 < scored(2)._3 && scored(1)._3 < scored(2)._3)
    // selfScore (single shared gram pass) equals train-then-score
    val self = LanguageModel.selfScore(corpus, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(self == Seq((1L, 2L, 0.287682), (2L, 2L, 0.836988)))
  }

  test("Kneser-Ney model: hand-derived probabilities, discounted below MLE, context mass bounded") {
    // corpus "abcabc": types abc(2), bca(1), cab(1); every N1+ table is 1s,
    // so the interpolation unrolls by hand:
    //   Pc(any) = 1/3; Pc2 = .25/1 + .75*(1/3) = .5
    //   P(c|ab) = (2-.75)/2 + .75*(1/2)*.5 = .8125
    //   P(a|bc) = P(b|ca) = .25/1 + .75*1*.5 = .625
    val corpus = Seq((1L, "abcabc")).toDF("doc_id", "text")
    val m = LanguageModel.knTrigramModel(corpus, "text")
      .orderBy($"gram").as[(String, Long, Double, Long)].collect().toSeq
    assert(m.map(_._1) == Seq("abc", "bca", "cab"))
    assert(math.abs(m(0)._3 - 0.8125) < 1e-12)
    assert(math.abs(m(1)._3 - 0.625) < 1e-12 && math.abs(m(2)._3 - 0.625) < 1e-12)
    // discounting: every seen gram sits strictly below its MLE estimate
    // (here MLE(abc|ab) = 1.0, MLE(bca)=MLE(cab)=1.0)
    assert(m.forall(_._3 < 1.0))
    // per-context mass over SEEN continuations stays within 1 (the gap is
    // the backoff mass reserved for unseen continuations)
    val mass = LanguageModel.knTrigramModel(
        Seq((1L, "the cat sat on the mat the cat ran")).toDF("doc_id", "text"), "text")
      .groupBy(substring($"gram", 1, 2)).agg(sum($"p_kn").as("s"))
      .as[(String, Double)].collect()
    assert(mass.forall(_._2 <= 1.0 + 1e-9), mass.filter(_._2 > 1).mkString(","))
    // scoring contract identical to the MLE path: selfScoreKN row shape
    val sc = LanguageModel.selfScoreKN(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].head()
    assert(sc._2 === 4L) // 4 trigram tokens in "abcabc"
    // avg_nll = (q(.8125)*2 + q(.625)*2) / 4e6 with q = round(-ln(p)*1e6)
    val q1 = math.round(-math.log(0.8125) * 1e6)
    val q2 = math.round(-math.log(0.625) * 1e6)
    assert(math.abs(sc._3 - (2 * q1 + 2 * q2) / 4e6) < 1e-6)
  }

  test("KN backoff chain: unseen grams score through the continuation ladder, hand-derived") {
    // corpus "abcabc" -> model {abc, bca, cab}; every N1+ count is 1, so
    // the backoff tables unroll by hand (q(p) = round(-ln(p)*1e6)):
    //   ctx:  lambda2(ab) = .75*1/2 = .375; lambda2(bc) = lambda2(ca) = .75
    //   cbg:  Pc(s2) = .25/1 + .75*1/1*(1/3) = .5   for s2 in {bc, ca, ab}
    //   blam: lambda1 = .75*1/1 = .75 for b in {a, b, c}
    //   uni:  Pc(c) = 1/3 for c in {a, b, c}
    val corpus = Seq((1L, "abcabc")).toDF("doc_id", "text")
    val model = LanguageModel.knTrigramModel(corpus, "text")
    val backoff = LanguageModel.knBackoffTables(corpus, "text")
    val eval = Seq(
      (1L, "aab"), // unseen gram, ab-suffix seen as cbg, aa-context unseen:
                   //   score = q(.5) = 693147
      (2L, "abb"), // unseen gram, ab-context SEEN, bb-suffix unseen,
                   //   b/b seen at blam/uni:
                   //   q(.375) + q(.75) + q(1/3) = 980829+287682+1098612
      (3L, "xyz"), // every level unseen -> the flat OOV floor
      (4L, "abc")  // seen gram: the interpolated model value q(.8125)
    ).toDF("doc_id", "text")
    val got = LanguageModel.perplexityScoreKN(eval, "doc_id", "text",
        model, backoff)
      .orderBy($"doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 0.693147),
      (2L, 1L, 2.367123),
      (3L, 1L, 20.723266),
      (4L, 1L, 0.207639))) // round(-ln(.8125)*1e6) = 207639
    // the verdict shape: a held-out gram scores BETWEEN its continuation
    // bound and the flat-OOV ceiling — unseen-but-plausible beats gibberish
    assert(got(0)._3 > got(3)._3 && got(0)._3 < got(2)._3)
    assert(got(1)._3 > got(0)._3 && got(1)._3 < got(2)._3)
  }

  test("trigram size guard: past the row threshold scoring joins instead of collecting, identical scores") {
    // a wide-alphabet corpus (CJK + accents + ASCII) — the regime where the
    // driver-map 'alphabet-bounded' assumption breaks; the guard is forced
    // with a tiny threshold so the join path actually runs here
    val corpus = Seq(
      (1L, "中文字符测试也要过关"), (2L, "héllo wörld hello world"),
      (3L, "the quick brown fox"), (4L, "中文 and ascii mixed 混合")
    ).toDF("doc_id", "text")
    val eval = corpus.unionAll(Seq(
      (5L, "unseen gibberish zzqq"), (6L, ""), (7L, "字符测试 novel 新词"))
      .toDF("doc_id", "text"))
    val mle = LanguageModel.charTrigramModel(corpus, "text")
    val viaMap = LanguageModel.perplexityScore(eval, "doc_id", "text", mle)
      .as[(Long, Long, Double)].collect().toSet
    val viaJoin = LanguageModel.perplexityScore(eval, "doc_id", "text", mle,
        maxBroadcastRows = 1L)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaJoin == viaMap)
    // and with the KN backoff chain in play (every ladder branch exercised:
    // seen grams, seen-suffix, seen-context, full misses, empty doc)
    val kn = LanguageModel.knTrigramModel(corpus, "text")
    val bt = LanguageModel.knBackoffTables(corpus, "text")
    val knMap = LanguageModel.perplexityScoreKN(eval, "doc_id", "text", kn, bt)
      .as[(Long, Long, Double)].collect().toSet
    val knJoin = LanguageModel.perplexityScoreKN(eval, "doc_id", "text", kn, bt,
        maxBroadcastRows = 1L)
      .as[(Long, Long, Double)].collect().toSet
    assert(knJoin == knMap)
  }

  test("trigram size guard covers the BACKOFF frame: oversized backoff under an in-cap model falls back to the join") {
    // repetitive strings keep the trigram model SMALL while the backoff
    // (two bigram tables + two unigram tables) is larger — the regime where
    // the old guard probed only the model and then collected the backoff
    // wholesale. Cap between the two counts: the model passes its probe,
    // the backoff must trip its own and route through scoreWithModelJoin.
    val corpus = Seq((1L, "ababababab"), (2L, "cdcdcdcdcd"), (3L, "efefefef"))
      .toDF("doc_id", "text")
    val kn = LanguageModel.knTrigramModel(corpus, "text")
    val bt = LanguageModel.knBackoffTables(corpus, "text")
    val (nModel, nBackoff) = (kn.count(), bt.count())
    assert(nModel < nBackoff, s"fixture vacuous: model $nModel >= backoff $nBackoff")
    val cap = nBackoff - 1 // model under, backoff over
    val viaMap = LanguageModel.perplexityScoreKN(corpus, "doc_id", "text", kn, bt)
    val guarded = LanguageModel.perplexityScoreKN(corpus, "doc_id", "text", kn, bt,
      maxBroadcastRows = cap)
    // the fallback actually FIRED: the join path's plan contains joins, the
    // broadcast-map path is a pure projection
    def hasJoin(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty
    assert(!hasJoin(viaMap) && hasJoin(guarded))
    // and the scores are unchanged (integer sums commute across the paths)
    assert(guarded.as[(Long, Long, Double)].collect().toSet ==
      viaMap.as[(Long, Long, Double)].collect().toSet)
  }

  test("charTrigrams expression matches the HOF formulation, incl. unicode") {
    val df = Seq(
      "The Quick Brown FOX",
      "  padded  with   spaces  ",
      "\n\ttabs and\nnewlines kept by SQL trim\t",
      "ab", "a", "", "   ",
      "héllo wörld é́", // precomposed + combining accents
      "中文字符测试也要过", // CJK, 3 bytes per char
      "emoji 😀😀 pair", // surrogate pairs / 4-byte code points
      "MiXeD 123 !?#").toDF("text")
    val got = df.select(
      LanguageModel.charTrigrams($"text").as("fast"),
      LanguageModel.charTrigramsHof($"text").as("ref"))
      .collect()
    got.foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.getSeq[String](0)))
    // null text -> EMPTY array through both forms (the HOF's when() falls
    // through to its otherwise branch on null)
    val nulls = Seq(Tuple1(null.asInstanceOf[String])).toDF("text")
      .select(LanguageModel.charTrigrams($"text").as("fast"),
        LanguageModel.charTrigramsHof($"text").as("ref")).head()
    assert(nulls.getSeq[String](0).isEmpty && nulls.getSeq[String](1).isEmpty)
  }

  test("bpeish count expression matches the regex formulation") {
    val edge = Seq(
      "plain words here", "punct! marks? and, more.", "a1b2 33 ..x..",
      "  lead trail  ", "tabs\tand\nnewlines\u000Bvtab\ffeed\rcr" /* incl. Java-\s-only vtab */,
      "héllo wörld", "中文字符", "emoji 😀 pair", "no-break\u00A0space" /* nbsp: token, not \s */,
      "", " ", "123", "!!!").toDF("text")
    val rows = (edge unionAll docs.select($"text"))
      .select(TextAnalysis.bpeishTokenCount("text").as("fast"),
        TextAnalysis.bpeishTokenCountRegex("text").as("ref"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r))
  }

  test("map-side trigram scoring equals the explode-join-aggregate formulation") {
    val model = LanguageModel.charTrigramModel(docs, "text")
    val fast = LanguageModel.perplexityScore(docs, "doc_id", "text", model)
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    // the pre-expression pipeline, reconstructed verbatim: explode grams,
    // left-join the broadcast model, re-aggregate per doc
    val ref = docs
      .select($"doc_id", explode_outer(LanguageModel.charTrigramsHof($"text")).as("gram"))
      .join(broadcast(model.select($"gram", $"nlp_q")), Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count($"gram").as("n_grams"),
        coalesce(sum(coalesce($"nlp_q", lit(20723266L))), lit(0L)).as("_s"))
      .select($"doc_id", $"n_grams",
        when($"n_grams" > 0,
          round($"_s".cast("double") / ($"n_grams" * lit(1e6)), 6))
          .otherwise(lit(0.0)).as("avg_nll"))
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(fast == ref)
  }

  test("chunking: token windows with overlap, short and empty docs") {
    val df = Seq(
      (1L, "a b c d e"), // 5 words, mt=4 ov=1 -> [a b c d], [d e]
      (2L, "one two"), // fits in one chunk
      (3L, ""), // no tokens -> no chunks
      (4L, "  x  ")).toDF("doc_id", "text") // whitespace noise, 1 word
    val got = TextAnalysis.chunk(df, "doc_id", "text", maxTokens = 4, overlap = 1)
      .orderBy($"doc_id", $"chunk_id")
      .as[(Long, Int, String, Int)].collect().toSeq
    assert(got == Seq(
      (1L, 0, "a b c d", 4),
      (1L, 1, "d e", 2),
      (2L, 0, "one two", 2),
      (4L, 0, "x", 1)))
    // exact cover: concatenating chunks with the overlap removed rebuilds
    // the token stream for a longer doc
    val long = Seq((9L, (1 to 103).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunk(long, "doc_id", "text", maxTokens = 50, overlap = 10)
      .orderBy($"chunk_id").as[(Long, Int, String, Int)].collect()
    assert(chunks.length == 3) // 1 + ceil((103-50)/40) = 3
    val rebuilt = chunks.zipWithIndex.flatMap { case ((_, _, t, _), i) =>
      val ws = t.split(" ").toSeq
      if (i == 0) ws else ws.drop(10)
    }
    assert(rebuilt.toSeq == (1 to 103).map("w" + _))
    assert(chunks.map(_._4).toSeq == Seq(50, 50, 23))
  }

  test("incremental semantic dedup: clones rediscover originals through the bucketed IVF index") {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val t0 = spark.conf.get(thresholdKey)
    val tables = Seq("sem_incr_t", "sem_incr_t_centroids")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      spark.conf.set(thresholdKey, "-1") // bucketing, not broadcast, must carry it
      val corpus = vecs.select($"vec_id", $"embedding")
      Similarity.ivfWriteBucketed(corpus, "sem_incr_t", "vec_id", "embedding",
        nlist = 2, numBuckets = 4)
      val batch = corpus.select(($"vec_id" + 100).as("vec_id"), $"embedding")
        .unionAll(Seq((999L, Array(0f, 0f, 0f, 1f))).toDF("vec_id", "embedding"))
      val out = Dedup.semanticDedupIncremental(batch, "sem_incr_t", "vec_id",
        "embedding", threshold = 0.9, maxCell = Int.MaxValue)
      val got = out.select("batch_id", "corpus_id", "cosine")
        .as[(Long, Long, Double)].collect()
      // every clone finds its original at cosine ~1.0; the orthogonal new
      // vector matches nothing
      (1L to 4L).foreach { i =>
        assert(got.exists(p => p._1 == i + 100 && p._2 == i && math.abs(p._3 - 1.0) < 1e-6))
      }
      assert(!got.exists(_._1 == 999L))
      assert(got.forall(_._3 >= 0.9))
      // the corpus index is read pre-bucketed, never reshuffled
      val fmt = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(fmt.contains("Bucketed: true"), fmt)
      assert(!fmt.contains("Bucketed: false"), fmt)
      // with the skew cap ON, the cell count groups on the bucketing key and
      // joins back bucketed-to-bucketed: both index scans read bucketed and
      // the corpus side still never exchanges (same form as the minhash
      // incremental cap)
      val capped = Dedup.semanticDedupIncremental(batch, "sem_incr_t", "vec_id",
        "embedding", threshold = 0.9, maxCell = 100)
      assert(capped.select("batch_id", "corpus_id", "cosine")
        .as[(Long, Long, Double)].collect().toSet == got.toSet) // cap inert at this size
      val fmtCapped = capped.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("Bucketed: true".r.findAllIn(fmtCapped).size >= 2, fmtCapped)
      assert(!fmtCapped.contains("Bucketed: false"), fmtCapped)
    } finally {
      spark.conf.set(thresholdKey, t0)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("gopher report: per-rule metrics and the combined keep verdict") {
    val good = ("the quick brown fox jumps over that lazy dog with vigor today " * 5).trim
    val df = Seq(
      (1L, good), // 60 words, mean len 250/60, stopwords the/that/with
      (2L, "too short to pass"),
      (3L, "- one\n- two\n- three\n- four\n- five"), // all bullet lines
      (4L, "wait for it... more... and more...\nagain..."), // all ellipsis lines
      (5L, "count # up # again # ok"), // 3 symbols over 7 words
      (6L, "")).toDF("doc_id", "text")
    val m = TextAnalysis.gopherReport(df, "doc_id", "text").orderBy($"doc_id").collect()
    assert(m(0).getAs[Int]("n_words") == 60)
    assert(m(0).getAs[Double]("mean_word_len") == 4.166667)
    assert(m(0).getAs[Int]("stop_hits") == 3)
    assert(m(0).getAs[Double]("alpha_word_frac") == 1.0)
    assert(m(0).getAs[Boolean]("keep"))
    assert(!m(1).getAs[Boolean]("keep")) // word count floor
    assert(m(2).getAs[Double]("bullet_line_frac") == 1.0)
    assert(m(3).getAs[Double]("ellipsis_line_frac") == 1.0)
    assert(m(4).getAs[Double]("symbol_word_ratio") == 0.428571)
    assert(m(4).getAs[Double]("alpha_word_frac") == 0.571429) // '#' tokens are not words with a letter
    assert(m(5).getAs[Int]("n_words") == 0 && !m(5).getAs[Boolean]("keep"))
    assert(m.forall(r => !r.getAs[Boolean]("keep") || r.getAs[Long]("doc_id") == 1L))
  }

  test("source report aggregates dup/keep/score per provenance bucket") {
    val good = ("the quick brown fox jumps over that lazy dog with vigor today " * 5).trim
    val df = Seq(
      (1L, good, "web"),
      (2L, good, "web"), // exact dup of 1
      (3L, "too short", "web"),
      (4L, "unique tiny", "books")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceReport(df, "doc_id", "text", "source",
      minWords = 30, minStopHits = 1).orderBy($"source").collect()
    val (books, web) = (got(0), got(1))
    assert(web.getAs[String]("source") == "web" && web.getAs[Long]("n_docs") == 3)
    assert(web.getAs[Double]("dup_frac") == 0.333333) // 2 distinct fingerprints of 3
    assert(web.getAs[Double]("keep_frac") == 0.666667) // the dup pair passes, "too short" fails
    assert(books.getAs[Long]("n_docs") == 1)
    assert(books.getAs[Double]("dup_frac") == 0.0 && books.getAs[Double]("keep_frac") == 0.0)
    assert(web.getAs[Double]("avg_words") > books.getAs[Double]("avg_words"))
  }

  test("decontamination counts distinct shared n-grams; hits join is not hint-broadcast") {
    val bench = Seq((100L, "the secret benchmark answer is forty two")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "nothing in common with any eval suite at all here folks"),
      // shares exactly the 5-grams "the secret benchmark answer is" and
      // "secret benchmark answer is forty" (twice -> still distinct-counted once)
      (2L, "x the secret benchmark answer is forty z secret benchmark answer is forty y"),
      (3L, "short")).toDF("doc_id", "text")
    val rep = Contamination.report(corpus, bench, "doc_id", "text", n = 5)
    val got = rep.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(1L -> ((0L, false)), 2L -> ((2L, true)), 3L -> ((0L, false))))
    // with auto-broadcast and AQE off, the only BroadcastExchange left must be
    // the explicit bench-gram hint: the hits side (unbounded on a dirty
    // corpus) must stay a plain join for AQE to size at runtime
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val (t0, a0) = (spark.conf.get(thresholdKey), spark.conf.get(aqeKey))
    try {
      spark.conf.set(thresholdKey, "-1")
      spark.conf.set(aqeKey, "false")
      val plan = Contamination.report(corpus, bench, "doc_id", "text", n = 5)
        .queryExecution.executedPlan.toString
      assert("BroadcastExchange".r.findAllIn(plan).size == 1, plan)
    } finally { spark.conf.set(thresholdKey, t0); spark.conf.set(aqeKey, a0) }
  }

  test("bloom decontamination dominates the exact report and shuffles nothing") {
    val bench = Seq((100L, "the secret benchmark answer is forty two")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "nothing in common with any eval suite at all here folks"),
      (2L, "x the secret benchmark answer is forty z secret benchmark answer is forty y"),
      (3L, "short")).toDF("doc_id", "text")
    val exact = Contamination.report(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rep = Contamination.reportBloom(corpus, bench, "doc_id", "text", n = 5)
    val bloom = rep.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // no false negatives: the bloom count dominates per doc, and every
    // exactly contaminated doc is flagged
    assert(exact.forall { case (id, n) => bloom(id)._1 >= n })
    assert(bloom(2L)._2 && bloom(2L)._1 >= 2L)
    // the corpus pass is a pure map: no Exchange anywhere in the plan
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the probe is a Catalyst expression, not a UDF
    assert(!plan.contains("UDF"), plan)
    // prebuilt-filter overloads: one eager build, identical results
    val fb = Contamination.buildBloom(bench, "text", 5)
    val pre = Contamination.reportBloom(corpus, fb, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(pre == bloom)
    val keptIds = Contamination.dropContaminated(corpus, fb, "text", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == bloom.filter(!_._2._2).keySet)
  }

  test("sketch stats bracket the exact distinct count and percentiles") {
    val df = (1 to 200).map { i =>
      val src = if (i % 2 == 0) "web" else "books"
      // i/2 distinct texts per source, word count grows with i
      (i.toLong, ("w" + (i / 2) + " ") * (10 + i / 4), src)
    }.toDF("doc_id", "text", "source")
    val got = TextAnalysis.sketchStats(df, "text", "source")
      .orderBy($"source").collect()
    assert(got.map(_.getAs[String]("source")).toSeq == Seq("books", "web"))
    got.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 100L)
      // 100 distinct fingerprints per source at rsd=0.05: within 20%
      val ad = r.getAs[Long]("approx_distinct")
      assert(ad >= 80L && ad <= 120L, s"approx_distinct $ad")
      val (p50, p95) = (r.getAs[Int]("p50_words"), r.getAs[Int]("p95_words"))
      // word counts run 10..60; the medians land mid-range, p95 near top
      assert(p50 >= 25 && p50 <= 45, s"p50 $p50")
      assert(p95 > p50 && p95 <= 60, s"p95 $p95")
    }
  }

  test("salted join shuffles on (key, salt) and the hot key spreads over salts") {
    val big = (1 to 400).map(i => (if (i % 2 == 0) 7L else (i % 20).toLong, i.toLong))
      .toDF("k", "row_id")
    val small = (0 to 19).map(k => (k.toLong, s"dim$k")).toDF("k", "label")
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val t0 = spark.conf.get(thresholdKey)
    try {
      // broadcast off: salting targets shuffle joins; a broadcast join has
      // no skew problem to begin with
      spark.conf.set(thresholdKey, "-1")
      val salted = SkewJoin.saltedJoin(big, small, Seq("k"), "row_id", saltFactor = 8)
      // the shuffle key includes the salt (so one hot key spans 8 partition
      // slots), and the salt never reaches the output
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning") && plan.contains("_graft_salt"), plan)
      assert(!salted.columns.contains("_graft_salt"))
      // the hot key's rows really take several distinct salt values
      val saltSpread = big.filter($"k" === 7L)
        .select(pmod(xxhash64($"row_id"), lit(8)).as("s")).distinct().count()
      assert(saltSpread >= 4, s"salt spread only $saltSpread of 8")
    } finally spark.conf.set(thresholdKey, t0)
  }

  test("curateFull drops contaminated, low-quality, exact-dup and near-dup docs") {
    val a = ("the alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu apple banana cherry dates " +
      "elder figs grape honey icing jelly kiwi lemon mango")
    val b = ("the crimson harbor evening window garden silver meadow bridge " +
      "candle forest ribbon laughter journey village shadow morning copper " +
      "lantern whisper valley island market thunder saddle timber harvest " +
      "needle sparrow granite velvet monsoon orchard pebble quiver russet " +
      "the secret benchmark answer is forty two")
    val bench = Seq((100L, "x the secret benchmark answer is forty two y"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, a), // clean keeper
      (2L, a), // exact dup of 1
      (3L, a + " extratoken"), // near-dup of 1 (shingle jaccard ~0.97)
      (4L, b), // contaminated: shares 5-grams with the bench doc
      (5L, "tiny")) // fails the quality gate
      .toDF("doc_id", "text")
    val out = TextAnalysis.curateFull(corpus, bench, "doc_id", "text",
      minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
      jaccardThreshold = 0.9)
      .orderBy($"doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L), out.mkString(","))
    assert(out.head.getAs[Int]("n_words") == 40)
  }

  test("media dedup groups identical payloads and never shuffles payload bytes") {
    val media = Seq(
      (1L, "same bytes"), (2L, "same bytes"), (3L, "other bytes"))
      .toDF("media_id", "text")
      .select(col("media_id"), encode(col("text"), "UTF-8").as("payload"))
    val got = Multimodal.dedupExact(media).orderBy($"keep_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L), (3L, 1L)))
    // the exchange is keyed on the md5 and carries the partial-aggregate
    // buffer (hash, min, count) — payload bytes stay below the partial
    // aggregate, which sits under the exchange
    val plan = Multimodal.dedupExact(media).queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(_groupingexpression"), plan)
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(!plan.substring(0, exchangeIdx).contains("payload"), plan)
  }

  test("multimodal near-dup: reversed payloads collide on features; payload stays out of the LSH shuffle") {
    val media = Multimodal.withFakeMedia(
      Seq((1L, "alpha beta gamma delta"), (2L, "unrelated words entirely zz"),
          (1000001L, "alpha beta gamma delta".reverse))
        .toDF("doc_id", "text"), "doc_id", "text")
    val feats = Multimodal.decodeFeatures(spark, media)
      .select(col("media_id"), col("n_bytes"), col("features"))
    val pairs = Dedup.cosineLshPairs(feats, "media_id", "features",
      threshold = 0.98, maxBucket = Int.MaxValue, blockCols = Seq("n_bytes"))
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // byte-distinct payloads (md5 differs -> invisible to dedupExact) but
    // bit-identical histograms AND equal byte length (reversal preserves
    // both): found by the blocked feature path at cosine 1
    assert(got.contains((1L, 1000001L)))
    // the n_bytes block excludes the different-length doc from every pair
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L))
    // the LSH self-join shuffles (media_id, features, norm, bucket) only —
    // payload bytes are consumed inside the decode mapPartitions, below
    // every exchange in the plan
    val plan = pairs.queryExecution.executedPlan.toString
    val exchangeIdx = plan.indexOf("Exchange")
    assert(exchangeIdx >= 0, plan)
    assert(!plan.substring(0, exchangeIdx).contains("payload"), plan)
  }

  test("incremental minhash dedup probes the bucketed index without reshuffling it") {
    val tables = Seq("mh_incr_t", "mh_incr_t_sets", "mh_incr_t_meta")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val t0 = spark.conf.get(thresholdKey)
    try {
      // broadcast off: the no-reshuffle property must come from bucketing,
      // not from the test corpus being broadcast-small
      spark.conf.set(thresholdKey, "-1")
      Dedup.minhashWriteBucketed(docs, "mh_incr_t", "doc_id", "text", numBuckets = 4)
      val batch = docs.select(($"doc_id" + 1000000).as("doc_id"), $"text")
      val out = Dedup.minhashDedupIncremental(batch, "mh_incr_t", "doc_id", "text",
        maxBucket = Int.MaxValue, threshold = 0.7)
      val got = out.select("batch_id", "corpus_id", "jaccard")
        .as[(Long, Long, Double)].collect()
      // every batch doc rediscovers its original at jaccard 1.0, and the
      // cross-set near-dup (batch clone of 1 vs corpus doc 4, equal texts)
      assert((1L to 5L).forall(i =>
        got.exists(p => p._1 == i + 1000000 && p._2 == i && math.abs(p._3 - 1.0) < 1e-9)))
      assert(got.exists(p => p._1 == 1000001L && p._2 == 4L))
      // exact-verify every emitted pair driver-side; none below threshold
      val sets = docs.select($"doc_id", expr("graft_shingle_hashes(text, 3)").as("s"))
        .as[(Long, Array[Long])].collect().toMap
      def jac(a: Long, b: Long): Double = {
        val (sa, sb) = (sets(a).toSet, sets(b).toSet)
        sa.intersect(sb).size.toDouble / sa.union(sb).size
      }
      got.foreach { case (ba, co, j) =>
        assert(math.abs(jac(ba - 1000000, co) - j) < 1e-9, s"pair ($ba,$co)")
        assert(j >= 0.7)
      }
      // both index scans (band rows + shingle sets) must read bucketed —
      // that is the "corpus never reshuffles" plan property
      val fmt = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("Bucketed: true".r.findAllIn(fmt).size >= 2, fmt)
      assert(!fmt.contains("Bucketed: false"), fmt)
      // the capped path adds a corpus-side bucket count: grouping on the
      // bucketing keys keeps it exchange-free, so the scan count rises to 3
      val capped = Dedup.minhashDedupIncremental(batch, "mh_incr_t", "doc_id",
        "text", maxBucket = 100, threshold = 0.7)
      assert(capped.select("batch_id", "corpus_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet == got.toSet) // cap inert at this size
      val fmtCapped = capped.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("Bucketed: true".r.findAllIn(fmtCapped).size >= 3, fmtCapped)
      assert(!fmtCapped.contains("Bucketed: false"), fmtCapped)
    } finally {
      spark.conf.set(thresholdKey, t0)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental substring dedup probes the bucketed window index without reshuffling it") {
    val tables = Seq("ss_incr_t", "ss_incr_t_meta")
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val t0 = spark.conf.get(thresholdKey)
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      // broadcast off: the no-reshuffle property must come from bucketing
      spark.conf.set(thresholdKey, "-1")
      val run = "alpha beta gamma delta epsilon" // one shared 5-token window
      val corpus = Seq(
        (1L, s"one two $run"),
        (2L, "totally different content with no shared windows at all"))
        .toDF("doc_id", "text")
      Dedup.substringWriteBucketed(corpus, "ss_incr_t", "doc_id", "text",
        windowTokens = 5, numBuckets = 4)
      val batch = Seq(
        (101L, s"nine eight $run seven"), // shares exactly the run window
        (102L, "brand new material unrelated to anything indexed"))
        .toDF("doc_id", "text")
      val out = Dedup.substringDedupIncremental(batch, "ss_incr_t", "doc_id",
        "text", maxBucket = Int.MaxValue)
      val got = out.select("batch_id", "corpus_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((101L, 1L, 1L)))
      // the corpus index is read pre-bucketed, never reshuffled
      val fmt = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(fmt.contains("Bucketed: true"), fmt)
      assert(!fmt.contains("Bucketed: false"), fmt)
      // capped path: the bucket count groups on the bucketing key (second
      // bucketed scan, still no corpus-side exchange), output unchanged
      val capped = Dedup.substringDedupIncremental(batch, "ss_incr_t",
        "doc_id", "text", maxBucket = 100)
      assert(capped.select("batch_id", "corpus_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet == got)
      val fmtCapped = capped.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert("Bucketed: true".r.findAllIn(fmtCapped).size >= 2, fmtCapped)
      assert(!fmtCapped.contains("Bucketed: false"), fmtCapped)
      // append through the pinned window size: a later batch rediscovers
      // the appended doc's 3 distinct windows (7 tokens, w=5)
      Dedup.substringAppendToIndex(
        Seq((102L, "brand new material unrelated to anything indexed"))
          .toDF("doc_id", "text"), "ss_incr_t", "doc_id", "text")
      val re = Dedup.substringDedupIncremental(
        Seq((202L, "brand new material unrelated to anything indexed"))
          .toDF("doc_id", "text"),
        "ss_incr_t", "doc_id", "text", maxBucket = Int.MaxValue)
      assert(re.select("batch_id", "corpus_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet == Set((202L, 102L, 3L)))
    } finally {
      spark.conf.set(thresholdKey, t0)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental exact dedup: corpus clones drop, new content survives, batch dups collapse; index reads bucketed") {
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val t0 = spark.conf.get(thresholdKey)
    try {
      // broadcast off: the no-reshuffle property must come from bucketing
      spark.conf.set(thresholdKey, "-1")
      Dedup.exactWriteBucketed(docs, "exact_incr_t", "doc_id", "text",
        numBuckets = 4)
      val v2 = concat($"text", lit(" v2")).as("text")
      val batch = docs.select(($"doc_id" + 100).as("doc_id"), $"text") // clones
        .unionAll(docs.select(($"doc_id" + 200).as("doc_id"), v2)) // new content
        .unionAll(docs.select(($"doc_id" + 300).as("doc_id"), v2)) // batch dups
      val out = Dedup.exactDedupIncremental(batch, "exact_incr_t", "doc_id", "text")
      // docs 1 and 4 share text, so their v2 variants collide too: the four
      // surviving canonical ids are 201 (also covering 204/301/304), 202,
      // 203, 205; every +100 clone drops against the corpus
      assert(out.select("doc_id").as[Long].collect().toSet ==
        Set(201L, 202L, 203L, 205L))
      // survivors keep every batch column, not just the id
      assert(out.columns.toSeq == Seq("doc_id", "text"))
      // the index side of the anti-join is read pre-bucketed — never reshuffled
      val fmt = out.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(fmt.contains("Bucketed: true"), fmt)
      assert(!fmt.contains("Bucketed: false"), fmt)
      // after appending the survivors, their content is no longer new
      Dedup.exactAppendToIndex(out, "exact_incr_t", "doc_id", "text")
      val batch2 = docs.filter($"doc_id" === 2)
        .select(lit(999L).as("doc_id"), v2)
      assert(Dedup.exactDedupIncremental(batch2, "exact_incr_t", "doc_id",
        "text").isEmpty)
    } finally {
      spark.conf.set(thresholdKey, t0)
      spark.sql("DROP TABLE IF EXISTS exact_incr_t")
    }
  }

  test("boilerplate report scores shared n-grams and hashGrams is wire-equivalent") {
    // docs 1, 2, 4 share the 9 leading 5-grams of the fox sentence; the
    // trailing gram ("...bank today"/"...bank tonight") appears in <3 docs
    val rep = Boilerplate.report(docs, "doc_id", "text", n = 5, minDocs = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(rep.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(rep(0) == ((1L, 10L, 9L, 0.9)))
    assert(rep(1) == ((2L, 10L, 9L, 0.9)))
    assert(rep(2)._3 == 0L) // unrelated doc: no frequent grams
    assert(rep(3) == ((4L, 10L, 9L, 0.9))) // exact dup of 1 scores identically
    assert(rep(4) == ((5L, 0L, 0L, 0.0))) // 4 words < n: zero grams, frac 0.0
    // hashed wire format changes only what is shuffled, never the counts
    val hashed = Boilerplate.report(docs, "doc_id", "text", n = 5, minDocs = 3,
      hashGrams = true).orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(hashed == rep)
  }

  test("semantic pairs recall planted exact duplicates with cosine 1.0") {
    // the dedup_semantic_check scheme in miniature: clone every vector at
    // id+1000000; identical vectors share the argmax cell, so every planted
    // pair must surface, at cosine exactly 1.0 up to float error
    val base = vecs.select($"vec_id", $"embedding")
    val doubled = base.unionAll(base.select(($"vec_id" + 1000000).as("vec_id"),
      $"embedding"))
    val got = Dedup.semanticPairs(doubled, "vec_id", "embedding",
      threshold = 0.9, nlist = 2, maxBucket = Int.MaxValue)
      .select("id_a", "id_b", "cosine").as[(Long, Long, Double)].collect()
    val planted = got.filter(p => p._2 == p._1 + 1000000).map(p => (p._1, p._2)).toSet
    assert(planted == Set((1L, 1000001L), (2L, 1000002L), (3L, 1000003L), (4L, 1000004L)))
    assert(got.filter(p => p._2 == p._1 + 1000000).forall(p => math.abs(p._3 - 1.0) < 1e-6))
    // no false positives: re-score every emitted pair exactly, driver-side
    val byId = doubled.as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    got.foreach { case (a, b, c) =>
      assert(math.abs(cos(byId(a), byId(b)) - c) < 1e-9, s"pair ($a,$b)")
      assert(c >= 0.9)
    }
  }

  test("operators compose with the security layer (masked text dedups differently)") {
    // Masked fingerprints: policy-masked content yields different dedup keys,
    // proving the ops run downstream of the security projection.
    import graft.policy.DataMaskPolicy
    docs.createOrReplaceTempView("op_docs")
    val ctx = new graft.SecurityContext(spark)
    ctx.policyManager.addPolicy(DataMaskPolicy(
      "u", "spark_catalog", "default", "op_docs", "text", "MASK_HASH"))
    val masked = ctx.dfDataMask("u", "SELECT doc_id, text FROM op_docs")
    val survivors = Dedup.exact(masked, "text", "doc_id").count()
    assert(survivors == 4) // same dedup structure, over hashed values
  }

  test("dedupLines keeps first occurrences in order; empty docs stay empty") {
    val in = Seq(
      (1L, "nav menu\nreal content here\nnav menu\nfooter\nreal content here\nfooter"),
      (2L, "only line"),
      (3L, ""),
      (4L, "a\n  a  \nb") // trimming collapses whitespace-variant repeats
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(in, "doc_id", "text")
      .orderBy(col("doc_id")).as[(Long, Int, Int, String)].collect()
    assert(out(0) == ((1L, 6, 3, "nav menu\nreal content here\nfooter")))
    assert(out(1) == ((2L, 1, 1, "only line")))
    assert(out(2) == ((3L, 0, 0, "")))
    assert(out(3) == ((4L, 3, 2, "a\nb")))
  }

  test("c4Clean: line rules, doc gate, bad phrases, clean_text reassembly") {
    val in = Seq(
      // 3 good lines -> kept
      (1L, "This is a perfectly fine sentence.\nAnother good line with many words!\nIs this a qualifying question line?"),
      // good lines but lorem ipsum -> keep=false (lines still counted)
      (2L, "This is a perfectly fine sentence.\nMore lorem ipsum filler text here.\nAnd a third full sentence right here."),
      // line rules: no terminal punct / too short / javascript
      (3L, "this line has no terminal punctuation at all\nShort line here.\nPlease enable javascript to continue browsing.\nOnly this very line survives the filter."),
      (4L, "function f() { return 1; } This code sentence is long enough.\nAnother plain sentence with enough words.\nA third plain sentence with enough words."),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(in, "doc_id", "text")
      .orderBy(col("doc_id"))
      .as[(Long, Int, Int, Boolean, String)].collect()
    assert(out(0) == ((1L, 3, 3, true,
      "This is a perfectly fine sentence.\nAnother good line with many words!\nIs this a qualifying question line?")))
    assert(out(1)._4 == false && out(1)._3 == 3) // lorem ipsum gates the doc
    assert(out(2) == ((3L, 4, 1, false, "Only this very line survives the filter.")))
    assert(out(3)._4 == false) // '{' gates the doc despite 3 surviving lines
    assert(out(4) == ((5L, 0, 0, false, "")))
  }

  test("canonicalPick keeps the highest-scoring member per component, min-id tiebreak") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val scored = Seq((1L, 5), (2L, 9), (3L, 9), (10L, 4), (11L, 4), (99L, 100))
      .toDF("doc_id", "sc")
    val picks = Dedup.canonicalPick(pairs, scored, "doc_id", col("sc"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // component {1,2,3}: best score 9 held by 2 and 3 -> min id 2 wins;
    // component {10,11}: tie -> 10; id 99 is not in the graph -> absent
    assert(picks.toSeq == Seq((1L, 2L, 3L), (10L, 10L, 2L)))
  }

  test("canonicalPick works with STRING ids (no arithmetic on the id)") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val scored = Seq(("a", 5), ("b", 9), ("c", 9), ("x", 4), ("y", 4))
      .toDF("doc_id", "sc")
    val picks = Dedup.canonicalPick(pairs, scored, "doc_id", col("sc"))
      .as[(String, String, Long)].collect().sortBy(_._1)
    // {a,b,c}: best score 9 on b and c -> min id "b"; {x,y}: tie -> "x"
    assert(picks.toSeq == Seq(("a", "b", 3L), ("x", "x", 2L)))
  }

  test("curateFuzzyBest keeps the longest cluster member where curateFuzzy keeps the min id") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60)
    val base = d.unionAll(d.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" graftfuzz")).as("text")))
    def ids(out: DataFrame) = out.select("doc_id").as[Long].collect().toSet
    val minIds = ids(TextAnalysis.curateFuzzy(base, "doc_id", "text",
      minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
      jaccardThreshold = 0.9))
    val bestIds = ids(TextAnalysis.curateFuzzyBest(base, "doc_id", "text",
      minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
      jaccardThreshold = 0.9))
    assert(minIds.nonEmpty && minIds.size == bestIds.size) // same clusters, one keeper each
    // the clone has one extra word: min-id keeps originals, best keeps clones
    val clustered = minIds.intersect(bestIds.map(_ - 1000000))
    assert(clustered.nonEmpty)
    clustered.foreach { id => assert(bestIds.contains(id + 1000000) && !bestIds.contains(id)) }
  }

  test("curateFuzzySplit keeps whole clusters and co-locates them in one split") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60)
    val base = d.unionAll(d.select((col("doc_id") + 1000000).as("doc_id"),
      concat(col("text"), lit(" graftfuzz")).as("text")))
    val out = TextAnalysis.curateFuzzySplit(base, "doc_id", "text",
      minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
      jaccardThreshold = 0.9)
      .select("doc_id", "grp", "split").as[(Long, Long, String)].collect()
    val collapsed = TextAnalysis.curateFuzzy(base, "doc_id", "text",
      minWords = 30, minStopHits = 1, maxBucket = Int.MaxValue,
      jaccardThreshold = 0.9).count()
    // no collapse: both cluster members survive, so strictly more rows
    assert(out.length > collapsed)
    val byId = out.map(r => r._1 -> r).toMap
    // every surviving original+clone pair shares grp and split
    val pairsSeen = out.map(_._1).filter(id => id < 1000000 && byId.contains(id + 1000000))
    assert(pairsSeen.nonEmpty)
    pairsSeen.foreach { id =>
      assert(byId(id)._2 == byId(id + 1000000)._2, s"grp differs for $id")
      assert(byId(id)._3 == byId(id + 1000000)._3, s"split differs for $id")
    }
    assert(out.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("tfidf top terms: rare terms outscore common ones, ties break on term") {
    val corpus = Seq(
      (1L, "alpha alpha beta common"),
      (2L, "beta gamma common"),
      (3L, "common delta delta")
    ).toDF("doc_id", "text")
    val out = Vocab.tfidfTopTerms(corpus, "doc_id", "text", 2)
      .as[(Long, String, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._5, r._2)).toList).toMap
    // doc 1: alpha tf=2 df=1 -> 6.0; beta tf=1 df=2 -> 1.5; common 1/3 -> 1.0
    assert(out(1L).map(r => (r._2, r._5)) == List(("alpha", 6.0), ("beta", 1.5)))
    // doc 2: beta and gamma both score... beta tf=1 df=2 -> 1.5, gamma tf=1
    // df=1 -> 3.0, common -> 1.0: top2 = gamma, beta
    assert(out(2L).map(_._2) == List("gamma", "beta"))
    assert(out(3L).map(_._2) == List("delta", "common"))
  }

  test("tfidf plan: in-plan N broadcast, no cartesian product, per-doc window") {
    val corpus = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val plan = Vocab.tfidfTopTerms(corpus, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    // the single-row corpus count joins via broadcast, never a cartesian
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the top-k window partitions by the doc id: per-document sort only
    assert("Window .*doc_id".r.findFirstIn(plan).isDefined
      || plan.contains("partitionspec=[doc_id"), plan)
  }

  test("bpe mergePair: greedy left-to-right non-overlapping merge") {
    val df = Seq(
      (1, Seq("a", "a", "a")),
      (2, Seq("a", "a", "a", "a")),
      (3, Seq("b", "a", "a")),
      (4, Seq("a", "b", "a"))
    ).toDF("id", "syms")
    val out = df.select(col("id"), Vocab.mergePair(col("syms"), "a", "a").as("m"))
      .as[(Int, Seq[String])].collect().toMap
    assert(out(1) == Seq("aa", "a"))     // greedy: leftmost pair wins
    assert(out(2) == Seq("aa", "aa"))    // chained non-overlapping merges
    assert(out(3) == Seq("b", "aa"))
    assert(out(4) == Seq("a", "b", "a")) // no adjacent pair -> unchanged
  }

  test("bpe mergePair: merged symbol never re-matches as left operand") {
    // merging (a, ab): a fresh 'aab' must not chain onto a following 'ab'
    val df = Seq(
      (1, Seq("a", "ab", "a", "ab")),
      (2, Seq("a", "ab", "ab"))
    ).toDF("id", "syms")
    val out = df.select(col("id"), Vocab.mergePair(col("syms"), "a", "ab").as("m"))
      .as[(Int, Seq[String])].collect().toMap
    assert(out(1) == Seq("aab", "aab"))
    assert(out(2) == Seq("aab", "ab"))
  }

  test("bpe training: hand-derived merge table on a tiny corpus") {
    // words: ab x3, abc x1 -> pair counts per iteration are hand-checkable
    val corpus = Seq((1L, "ab ab ab"), (2L, "abc")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrain(corpus, "text", numMerges = 6)
      .as[(Int, String, String, Long)].collect().toList
    assert(merges == List(
      (1, "a", "b", 4L),       // NOT ('', '</w>'): symbol arrays carry no empties
      (2, "ab", "</w>", 3L),
      (3, "ab", "c", 1L),      // tie with (c, </w>) breaks on lhs asc
      (4, "abc", "</w>", 1L))) // then exhaustion: only 4 of the 6 requested
  }

  test("wordpiece training: likelihood-gain argmax diverges from BPE's frequency argmax") {
    // "ab" x10, "xy" x2: unigrams a=10 b=10 x=2 y=2 </w>=12.
    // rank-1 scores: (a,b) 10/(10*10)=0.1, (b,</w>) 10/120, (x,y) 2/(2*2)=0.5,
    // (y,</w>) 2/24 -> WordPiece merges the RARE-but-exclusive (x,y) first;
    // BPE's raw-count argmax picks (a,b). rank 3 is an exact IEEE tie
    // (10/120 == 2/24 == 1/12 bitwise) -> raw count desc breaks it.
    val corpus = Seq((1L, Seq.fill(10)("ab").mkString(" ")), (2L, "xy xy"))
      .toDF("doc_id", "text")
    val wp = Vocab.wordpieceTrain(corpus, "text", numMerges = 5)
      .as[(Int, String, String, Long)].collect().toList
    assert(wp == List(
      (1, "x", "y", 2L),
      (2, "a", "b", 10L),
      (3, "ab", "</w>", 10L),
      (4, "xy", "</w>", 2L))) // then exhaustion
    val bpe = Vocab.bpeTrain(corpus, "text", numMerges = 3)
      .as[(Int, String, String, Long)].collect().toList
    assert(bpe.head == (1, "a", "b", 10L)) // the frequency argmax differs
    // a merge table is a merge table: the BPE encode machinery replays it
    val toks = Vocab.bpeEncode(corpus, "text", wp.map(m => (m._2, m._3)))
      .as[(String, Long)].collect().toMap
    assert(toks == Map("ab</w>" -> 10L, "xy</w>" -> 2L))
  }

  test("bpe encode: trained merges applied in one pass, weighted by word count") {
    val corpus = Seq((1L, "ab ab ab"), (2L, "abc")).toDF("doc_id", "text")
    val toks = Vocab.bpeEncode(corpus, "text", Seq(("a", "b"), ("ab", "</w>")))
      .as[(String, Long)].collect().toMap
    assert(toks == Map("ab</w>" -> 3L, "ab" -> 1L, "c" -> 1L, "</w>" -> 1L))
  }

  test("bpe applyMerges: codegen'd string-replace chain equals the mergePair folds") {
    val cases = Seq(
      Seq("a", "a", "a", "</w>"), Seq("a", "a", "a", "a", "</w>"),
      Seq("a", "b", "a", "b", "</w>"), Seq("b", "a", "a", "b", "</w>"),
      Seq("x", "</w>"), Seq("a", "b", "c", "</w>"))
    val merges = Seq(("a", "b"), ("ab", "</w>"), ("a", "a"), ("aa", "aa"))
    val df = cases.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "syms")
    val folded = merges.foldLeft(col("syms")) { case (c, (a, b)) =>
      Vocab.mergePair(c, a, b)
    }
    val out = df.select(col("id"), folded.as("f"),
        Vocab.applyMerges(col("syms"), merges).as("r"))
      .as[(Int, Seq[String], Seq[String])].collect()
    out.foreach { case (i, f, r) => assert(f == r, s"case $i: $f vs $r") }
  }

  test("bpe per-doc token counts: dictionary join, hand-computed") {
    // dict under merges [(a,b),(ab,</w>)]: ab -> [ab</w>] (1 token),
    // abc -> [ab, c, </w>] (3 tokens)
    val corpus = Seq((1L, "ab ab ab"), (2L, "abc"), (3L, "ab abc")).toDF("doc_id", "text")
    val got = Vocab.bpeTokenCounts(corpus, "doc_id", "text",
        Seq(("a", "b"), ("ab", "</w>")))
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toList
    assert(got == List((1L, 3L, 3L), (2L, 1L, 3L), (3L, 2L, 4L)))
  }

  test("bpe doc tokenization: reading-order sequences, boundary-safe, every class marked") {
    val merges = Seq(("a", "b"), ("ab", "</w>"))
    val corpus = Seq(
      (1L, "ab ab ab"), (2L, "abc"), (3L, "ab abc"),
      (4L, "Ab, ABC!"),  // case PRESERVED; punctuation is its own marked run
      (5L, "123 .,;"),   // digit and punctuation runs tokenize too
      (6L, "")           // nothing matches -> empty token sequence
    ).toDF("doc_id", "text")
    val got = Vocab.bpeTokenizeDocs(corpus, "doc_id", "text", merges)
      .orderBy($"doc_id").as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("ab</w>", "ab</w>", "ab</w>"))
    assert(got(2L) == Seq("ab", "c", "</w>"))
    // no merge acts across the word boundary: ab's closing </w> does not
    // chain with abc's leading ab
    assert(got(3L) == Seq("ab</w>", "ab", "c", "</w>"))
    // merges are case-sensitive: the trained (a, b) does not touch "Ab",
    // and "ABC" stays three uppercase symbols — no normalization anywhere
    assert(got(4L) == Seq("A", "b", "</w>", ",", "</w>",
      "A", "B", "C", "</w>", "!", "</w>"))
    assert(got(5L) == Seq("1", "2", "3", "</w>", ".", ",", ";", "</w>"))
    assert(got(6L) == Seq.empty)
  }

  test("bpe pre-tokenization classes: rank-1 merge hand-computed on digits, class boundaries need no whitespace") {
    // words: '2023' x3, 'ab' x1, '!?' x1. Pair counts: (2,0)=(0,2)=(2,3)=
    // (3,</w>)=3; (a,b)=(b,</w>)=(!,?)=(?,</w>)=1. The argmax ties at 3 and
    // breaks on (l, r) ascending — '0' < '2' < '3' — so rank 1 is ('0','2').
    val corpus = Seq((1L, "2023 2023 2023 ab !?")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrain(corpus, "text", numMerges = 2)
      .as[(Int, String, String, Long)].collect().toList
    assert(merges.head == ((1, "0", "2", 3L)))
    // after the merge '2023' is [2, 02, 3, </w>]: (2,02)=(02,3)=(3,</w>)=3,
    // tie breaks to l='02' (the digit-merged symbol sorts before '2')
    assert(merges(1) == ((2, "02", "3", 3L)))
    // adjacent runs of different classes split with no whitespace between
    val toks = Vocab.bpeTokenizeDocs(Seq((7L, "ab12!x")).toDF("doc_id", "text"),
        "doc_id", "text", Seq.empty)
      .select($"tokens").as[Seq[String]].head()
    assert(toks == Seq("a", "b", "</w>", "1", "2", "</w>", "!", "</w>", "x", "</w>"))
    // a trained digit merge applies inside doc tokenization, and never
    // across the class boundary ('.' separates the 2 and 0 of 'x2.0')
    val toks2 = Vocab.bpeTokenizeDocs(Seq((8L, "2023 x2.0")).toDF("doc_id", "text"),
        "doc_id", "text", Seq(("0", "2")))
      .select($"tokens").as[Seq[String]].head()
    assert(toks2 == Seq("2", "02", "3", "</w>", "x", "</w>", "2", "</w>",
      ".", "</w>", "0", "</w>"))
  }

  test("bpe case preservation: The/the are distinct trainable words, hand-computed merges") {
    // words: 'The' x3, 'the' x1. Pair counts: (T,h)=3, (t,h)=1, (h,e)=4,
    // (e,</w>)=4 — the argmax ties at 4 and breaks (l, r) ascending, and
    // '</w>' < 'e' ... actually compare left symbols: 'e' < 'h', so rank 1
    // is (e, </w>, 4); after it 'The'=[T,h,e</w>], 'the'=[t,h,e</w>] and
    // rank 2 is the unique max (h, e</w>, 4). A case-folding tokenizer
    // would have counted (t,h)=4 instead — this pins that it doesn't.
    val corpus = Seq((1L, "The The The the")).toDF("doc_id", "text")
    val merges = Vocab.bpeTrain(corpus, "text", numMerges = 2)
      .as[(Int, String, String, Long)].collect().toList
    assert(merges == List((1, "e", "</w>", 4L), (2, "h", "e</w>", 4L)))
    val toks = Vocab.bpeEncode(corpus, "text",
        merges.map { case (_, l, r, _) => (l, r) })
      .as[(String, Long)].collect().toMap
    assert(toks == Map("T" -> 3L, "t" -> 1L, "he</w>" -> 4L))
  }

  test("bpe tokenization is lossless: strip markers + concat reproduces the RAW input") {
    // mixed classes, unicode, a stray U+0001 (scrubbed pre-tokenization),
    // tabs/newlines, and a doc that is ONLY whitespace
    val docs = Seq(
      (1L, "Ab 12!x\tYZ\nmixed."),
      (2L, "café weird"),
      (3L, " \t\n "),
      (4L, "2023 x2.0 end-of-line")).toDF("doc_id", "text")
    val got = Vocab.bpeTokenizeDocs(docs, "doc_id", "text", Seq(("0", "2")))
      .join(docs, Seq("doc_id"))
      .select($"doc_id",
        replace(array_join($"tokens", ""), lit("</w>"), lit("")).as("detok"),
        // raw text, case intact — the tokenizer never normalizes
        regexp_replace(regexp_replace($"text", "\\u0001", ""),
          "[ \\t\\n\\r]+", "").as("want"))
      .as[(Long, String, String)].collect()
    got.foreach { case (id, detok, want) =>
      assert(detok === want, s"doc $id: '$detok' != '$want'")
    }
  }

  test("bpe delta pair-count maintenance trains identically to the full recount on seeded corpora") {
    // random words over a MIXED-CASE 3-symbol alphabet + digits force heavy
    // pair collisions, deep merge chains and argmax ties — the regime where
    // a delta-maintenance bug (stale count, missed affected word, wrong
    // subtraction) would change a merge choice; the uppercase member also
    // pins that both loops pre-tokenize case-preservingly
    val gen = org.scalacheck.Gen.listOfN(120,
      org.scalacheck.Gen.chooseNum(0, 5).map(n => "aB1"(n % 3).toString * (1 + n % 4)))
    (1 to 4).foreach { round =>
      val wordsList = gen.apply(org.scalacheck.Gen.Parameters.default,
          org.scalacheck.rng.Seed(round * 77L))
        .getOrElse(List.fill(120)("ab"))
      val corpus = wordsList.grouped(12).zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
        .toDF("doc_id", "text")
      // the delta loop called DIRECTLY — bpeTrain's adaptive switch would
      // route a tiny corpus to the recount loop and test nothing
      val delta = Vocab.bpeTrainDelta(corpus, "text", numMerges = 12)
        .as[(Int, String, String, Long)].collect().toList
      val recount = Vocab.bpeTrainRecount(corpus, "text", numMerges = 12)
        .as[(Int, String, String, Long)].collect().toList
      assert(delta == recount, s"round $round diverged:\n$delta\nvs\n$recount")
    }
  }

  test("bpe delta loop releases every superseded word/count checkpoint (r18: leaf-handle fix)") {
    // deltaLoop keeps `words` as a Project OVER the step checkpoint; with
    // unpersistCheckpoint leaf-only (the r17 shim contract) a release
    // through that derived handle is a silent no-op, so the loop must pass
    // the checkpoint frame itself. The loop owns every checkpoint it makes
    // and its result is a driver-side merge table — after training, NO new
    // persisted RDD may survive (O(iterations) block accumulation at the
    // 100k+-word delta regime otherwise).
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val corpus = Seq((1L, "ab ab ac abc ab ac"), (2L, "bc ab abc ac bc ab"))
      .toDF("doc_id", "text")
    val merges = Vocab.bpeTrainDelta(corpus, "text", numMerges = 5)
    assert(merges.count() >= 3L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"delta loop leaked ${leaked.size} checkpoint(s) — superseded step/count " +
        "blocks must be released through their leaf handles")
  }

  test("bpe doc tokenization agrees with the dictionary-join token counts") {
    val corpus = docs // the shared 5-doc fixture
    val merges = Vocab.bpeTrain(corpus, "text", numMerges = 6)
      .orderBy($"merge_rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val seq = Vocab.bpeTokenizeDocs(corpus, "doc_id", "text", merges)
      .select($"doc_id", size($"tokens").cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val cnt = Vocab.bpeTokenCounts(corpus, "doc_id", "text", merges)
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    assert(seq == cnt)
  }

  test("IVF-PQ rebuild: self-score diagnoses append drift, rebuild restores the exact regime, membership and coverage guarded") {
    // old distribution lives in dims 0-3, the drifted append in dims 4-7 —
    // codebooks trained on the old half reconstruct a drifted row as ~zero,
    // so its self-score collapses while old rows stay exactly 1
    val old = (0 until 16).map(i => (i.toLong,
      Array(1f + i % 4, (i % 3).toFloat, 0.5f + i % 5, (i % 2).toFloat, 0f, 0f, 0f, 0f)))
    val drift = (16 until 32).map(i => (i.toLong,
      Array(0f, 0f, 0f, 0f, 1f + i % 4, (i % 3).toFloat, 0.5f + i % 5, (i % 2).toFloat)))
    val oldDf = old.toDF("vec_id", "embedding")
    val allDf = (old ++ drift).toDF("vec_id", "embedding")
    val tables = Seq("ivfpq_rb_t", "ivfpq_rb_t_centroids", "ivfpq_rb_t_codebooks")
    val debris = tables ++ tables.map(_ + "_rebuild") ++ tables.map(_ + "_old")
    debris.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Similarity.ivfpqWriteBucketed(oldDf, "ivfpq_rb_t", "vec_id", "embedding",
        nlist = 4, m = 4, ksub = 16, numBuckets = 4, sampleSize = 16, iters = 0)
      Similarity.ivfpqAppendToIndex(drift.toDF("vec_id", "embedding"),
        "ivfpq_rb_t", "vec_id", "embedding")
      val pre = Similarity.ivfpqSelfScore(spark, "ivfpq_rb_t", allDf, "vec_id", "embedding")
        .select($"vec_id", $"self_score").as[(Long, Double)].collect().toMap
      assert(pre.size == 32)
      assert((0L until 16L).forall(i => pre(i) > 1.0 - 1e-6),
        s"old rows must be exact pre-rebuild: ${pre.filter(_._1 < 16)}")
      assert((16L until 32L).forall(i => pre(i) < 0.1),
        s"drifted rows must score near zero pre-rebuild: ${pre.filter(_._1 >= 16)}")
      // report completeness: a member whose vector is missing from the
      // source still appears, with a NULL score — the report must not
      // silently shrink
      val partial = Similarity.ivfpqSelfScore(spark, "ivfpq_rb_t", oldDf,
        "vec_id", "embedding")
      assert(partial.count() == 32)
      assert(partial.filter($"self_score".isNull).select($"vec_id").as[Long]
        .collect().toSet == (16L until 32L).toSet)
      // a source that does not cover every member id must be refused, and
      // the refusal must leave the live index untouched
      intercept[IllegalArgumentException] {
        Similarity.ivfpqRebuild(spark, "ivfpq_rb_t", oldDf, "vec_id", "embedding",
          ksub = 32, sampleSize = 32, iters = 0)
      }
      assert(spark.table("ivfpq_rb_t").count() == 32)
      Similarity.ivfpqRebuild(spark, "ivfpq_rb_t", allDf, "vec_id", "embedding",
        ksub = 32, sampleSize = 32, iters = 0)
      val post = Similarity.ivfpqSelfScore(spark, "ivfpq_rb_t", allDf, "vec_id", "embedding")
        .select($"vec_id", $"self_score").as[(Long, Double)].collect().toMap
      // exact regime restored for EVERY row, appended ones included
      assert(post.size == 32 && post.values.forall(_ > 1.0 - 1e-6),
        s"rebuild must restore distortion 0: ${post.filter(_._2 <= 1.0 - 1e-6)}")
      // membership preserved through the three-table staged swap
      assert(spark.table("ivfpq_rb_t").select("vec_id").as[Long].collect().toSet
        == (0L until 32L).toSet)
      assert(spark.table("ivfpq_rb_t_codebooks")
        .agg(max($"code")).as[Int].head() == 31) // re-trained, not stale
    } finally debris.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("shardAssign is deterministic, complete, and densely ranked per shard") {
    val ids = spark.range(0, 500).select(col("id").as("doc_id"))
    val a = Sampling.shardAssign(ids, "doc_id", 8)
    val b = Sampling.shardAssign(ids.repartition(7), "doc_id", 8)
    // pure function of the id: physical partitioning must not change anything
    assert(a.collect().toSet == b.collect().toSet)
    val rows = a.select("shard", "shard_pos").as[(Int, Int)].collect()
    assert(rows.map(_._1).toSet.subsetOf((0 until 8).toSet))
    // every shard's positions are exactly 1..size (dense, no gaps)
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq == (1 to g.length).toSeq)
    }
    intercept[IllegalArgumentException](Sampling.shardAssign(ids, "doc_id", 0))
    intercept[IllegalArgumentException](Sampling.shardAssign(ids, "doc_id", 257))
  }

  test("shardAssign shards are balanced when nShards does not divide a power of 16") {
    // with only two hex chars (256 values), nShards=100 gives two probability
    // classes 3/256 vs 2/256 — a systematic 50% skew; four chars bound the
    // relative bias by 100/65536 < 0.2%, so sampling noise dominates here
    val n = 20000L
    val ids = spark.range(0, n).select(col("id").as("doc_id"))
    val sizes = Sampling.shardAssign(ids, "doc_id", 100)
      .groupBy("shard").count().as[(Int, Long)].collect().map(_._2)
    assert(sizes.length == 100)
    val expect = n.toDouble / 100
    // 3-vs-2 class skew would put shard means at 150 vs 225; binomial noise
    // at n=20k keeps every shard well inside ±40% of 200
    sizes.foreach(s => assert(math.abs(s - expect) / expect < 0.4, s.toString))
  }
}
