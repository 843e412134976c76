package graft.tools

import graft.queries.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds an N-fold scaled copy of a testdata dir (default sf0.1 -> /tmp/sf1)
  * to measure how the engine scales beyond the driver-provided corpus.
  *
  * Volume tables are replicated with per-copy KEY OFFSETS so join fan-in,
  * group cardinality and per-user event density stay constant — the honest
  * scaling shape (10x rows, 10x groups), not 10x duplicates of every key.
  *
  * documents/embeddings need more than offsets: plain replication would
  * SQUARE the duplicate structure (every copy of a text pairs with every
  * other copy, so pair queries grow quadratically instead of linearly).
  * Instead each copy's content is made disjoint while preserving its
  * statistics: texts get a per-copy vowel permutation (word/line/char counts
  * and within-copy duplicate structure unchanged, cross-copy shingles
  * disjoint), embeddings get a per-copy circular component shift (norms and
  * within-copy geometry unchanged, cross-copy cosine ~0) and label offsets
  * (block count scales, block size constant). 10x rows, 10x dup groups,
  * constant group size — honest linear growth for every pipeline operator.
  *
  * Dimension tables (nation/region/part/supplier) stay as-is.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg "zipf" (+ optional vocab size, default 50000)
    // switches documents to the ZIPFIAN text mode below and writes ONLY the
    // documents table (the realistic-vocabulary probes need nothing else)
    val mode = if (args.length > 3) args(3) else "permute"
    val zipfVocab = if (args.length > 4) args(4).toInt else 50000
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString)

    val K = 100000000L // key offset stride per copy

    def scaled(name: String, keyCols: Seq[String]): DataFrame = {
      val base = Tables.df(spark, src, name)
      (0 until n).map { c =>
        keyCols.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(c * K)))
      }.reduce(_ unionAll _)
    }

    def write(df: DataFrame, name: String): Unit = {
      df.coalesce(8).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    // composite letter permutation — TWO disjoint 10-letter alphabets
    // rotated independently (c % 10 and c / 10 % 10) give 100 distinct
    // bijective remaps, so no shingle survives across copies up to n=100
    // while every per-copy statistic (lengths, token counts, duplicate
    // structure) is preserved. (A single 10-rotation alphabet made copies
    // 0/10/20/... byte-identical at n=100 — 10-deep exact cross-copy
    // clones that inflate dedup pair counts and measure the FIXTURE.)
    // Copy 0 is the identity at both rotations, n<=10 behaves exactly as
    // the original single-alphabet scheme.
    def scaledDocs(): DataFrame = {
      val base = Tables.df(spark, src, "documents")
      val alpha = "aeioubcdfg"
      val beta = "hjklmnpqrt"
      require(n <= alpha.length * beta.length,
        s"scaledDocs supports at most ${alpha.length * beta.length} distinct " +
          "copies (composite two-alphabet permutation); past that, remaps " +
          "repeat byte-identically and plant cross-copy clones")
      def rot(s: String, r: Int) = s.substring(r) + s.substring(0, r)
      (0 until n).map { c =>
        val to = rot(alpha, c % alpha.length) +
          rot(beta, c / alpha.length % beta.length)
        val from = alpha + beta
        base
          .withColumn("doc_id", col("doc_id") + lit(c * K))
          .withColumn("text", translate(col("text"),
            from + from.toUpperCase, to + to.toUpperCase))
      }.reduce(_ unionAll _)
    }

    // ZIPFIAN text mode (r15 verdict #2): the permute mode preserves the
    // source corpus's ~310-word vocabulary, where every token is ubiquitous
    // and PPJoin's rarest-token prefix filter is VOID — it prunes nothing
    // because no token is rare. Real corpora are Zipf-distributed over tens
    // of thousands of types. This mode resamples every document's token
    // stream from a `zipfVocab`-type Zipf(1.0) vocabulary via the inverse
    // CDF (harmonic CDF ~ ln(1+r)/ln(1+V), so rank = floor(exp(u·ln(V+1)))
    // has P(r) = ln(1+1/r)/ln(1+V) ~ 1/(r·ln V)): token i of a document is
    // a pure hash of (seed, copy, i) — deterministic, no RNG state. Word
    // count per doc is preserved; the vocabulary is CORPUS-WIDE (copies
    // share types, so document frequency ranking is global — exactly what
    // the prefix filter keys on). Near-dup structure is planted at ~4%
    // density: within each 50-block of doc_ids the first TWO docs share a
    // seed, giving them identical tokens at every shared position (high
    // Jaccard when their lengths are close) — realistic dup density
    // instead of the permute fixture's 39-pairs-per-doc wall.
    def zipfDocs(): DataFrame = {
      val base = Tables.df(spark, src, "documents")
      (0 until n).map { c =>
        base
          .withColumn("_seed", when(pmod(col("doc_id"), lit(50)) < 2,
            col("doc_id") - pmod(col("doc_id"), lit(50))).otherwise(col("doc_id")))
          .withColumn("text", expr(
            s"array_join(transform(split(text, '\\\\s+'), (w, i) -> " +
              s"concat('t', CAST(exp((pmod(xxhash64(_seed, ${c}L, i), " +
              s"1000000000L) / 1e9) * ln(${zipfVocab + 1}.0d)) AS BIGINT))), ' ')"))
          .withColumn("doc_id", col("doc_id") + lit(c * K))
          .withColumn("n_chars", length(col("text")))
          .drop("_seed")
      }.reduce(_ unionAll _)
    }

    if (mode == "zipf") {
      write(zipfDocs(), "documents")
      spark.stop()
      return
    }

    // DECADE mode (r18 verdict #4): a corpus for n past the permute/shift
    // caps (the composite two-alphabet permutation repeats byte-identically
    // past n=100, scaledEmbs past 2*dim — both would plant cross-copy
    // clones and measure the fixture). Writes exactly what the decade-4
    // probe families read: customer + events via key offsets (valid at any
    // n), documents via the GENERATIVE zipf mode (per-copy hash seed, no
    // permutation to reuse), dims as-is. lineitem / orders / embeddings
    // are NOT written — logged here, not silently: no probe family reads
    // them, and writing them honestly at this n is impossible (embeddings)
    // or pointless volume (lineitem).
    if (mode == "decade") {
      println(s"[scaleup] decade mode (n=$n): customer, events, " +
        "documents(zipf), dims; SKIPPING lineitem/orders/embeddings " +
        "(no decade-probe family reads them; permute/shift schemes cap out)")
      write(scaled("customer", Seq("c_custkey")), "customer")
      write(scaled("events", Seq("event_id", "user_id")), "events")
      write(zipfDocs(), "documents")
      Seq("nation", "region", "part", "supplier")
        .foreach(t => write(Tables.df(spark, src, t), t))
      spark.stop()
      return
    }

    // circular component shift: norms and within-copy angles unchanged,
    // cross-copy cosine decorrelated so LSH buckets don't fill 10x deep.
    // Copies past the dimension count (n > dim would otherwise repeat
    // shift 0 and plant exact cross-copy duplicates) additionally NEGATE —
    // still norm- and angle-preserving, and a negated twin sits at cosine
    // -1, the far side of every near-dup/top-k threshold.
    def scaledEmbs(): DataFrame = {
      val base = Tables.df(spark, src, "embeddings")
      val dim = base.selectExpr("size(embedding)").first().getInt(0)
      require(n <= 2 * dim,
        s"scaledEmbs supports at most ${2 * dim} disjoint copies (shift x sign)")
      (0 until n).map { c =>
        val shift = c % dim
        val shifted = if (shift == 0) col("embedding")
          else concat(slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), 1, shift))
        val signed = if (c < dim) shifted
          else transform(shifted, x => -x)
        base
          .withColumn("vec_id", col("vec_id") + lit(c * K))
          .withColumn("label", col("label") + lit(c * 1000))
          .withColumn("embedding", signed)
      }.reduce(_ unionAll _)
    }

    write(scaled("lineitem", Seq("l_orderkey")), "lineitem")
    write(scaled("orders", Seq("o_orderkey", "o_custkey")), "orders")
    write(scaled("customer", Seq("c_custkey")), "customer")
    write(scaled("events", Seq("event_id", "user_id")), "events")
    write(scaledDocs(), "documents")
    write(scaledEmbs(), "embeddings")
    Seq("nation", "region", "part", "supplier")
      .foreach(t => write(Tables.df(spark, src, t), t))
    spark.stop()
  }
}
