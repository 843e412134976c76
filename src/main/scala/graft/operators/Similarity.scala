package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Scale design: the query set is broadcast (it is small by definition), the
  * corpus is never collected or re-shuffled for scoring. Exact brute force
  * runs as a two-phase top-k: per-input-partition top-k (shuffle carries only
  * k rows per (query, partition)) then a final top-k per query — the same
  * shape works for a 1000-executor scan of 100 TB of vectors. The LSH variant
  * prunes the scan with deterministic random-hyperplane buckets (signature
  * from xxhash64-derived hyperplanes, so results are reproducible without a
  * stored model); multi-probe over 1-bit flips trades recall for scan width.
  */
object Similarity {

  /** Cosine similarity of two Array[Float]/Array[Double] columns (exact,
    * computed in double).
    */
  def cosine(ca: String, cb: String): Column =
    expr(s"graft_vec_dot($ca, $cb) / (sqrt(graft_vec_dot($ca, $ca)) * sqrt(graft_vec_dot($cb, $cb)))")

  /** Exact brute-force top-k: for each row of (small) `queries`, the k
    * corpus rows with highest cosine. Output: query_id, vec_id, cosine, rank.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, queryVecCol: String, k: Int): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    // norms precomputed per row (not per pair): one dot per scored pair.
    // Zero-norm vectors are dropped: cosine would be 0/0 = NaN, which Spark
    // sorts ABOVE every real double — a single all-zero corpus row would
    // otherwise rank #1 for every query.
    val c = corpus.withColumn("_cnorm", sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")))
      .filter(col("_cnorm") > 0)
    val q = queries.withColumn("_qnorm", sqrt(expr(s"graft_vec_dot($queryVecCol, $queryVecCol)")))
      .filter(col("_qnorm") > 0)
    val scored = c
      .join(broadcast(q)) // cartesian with broadcast queries: one corpus scan
      .select(col(queryIdCol).as("query_id"), col(idCol).as("vec_id"),
        (expr(s"graft_vec_dot($vecCol, $queryVecCol)") / (col("_cnorm") * col("_qnorm")))
          .as("cosine"))
    // one rank window per query: Spark's WindowGroupLimit rewrites the
    // rank-<=k filter into a map-side top-k BEFORE the exchange, so the
    // shuffle carries only k rows per (query, input partition) — the
    // two-phase partial-top-k formulation is built into the optimizer
    // (verify with .explain: Sort+WindowGroupLimit below the Exchange)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Hard negatives for contrastive training (embedding-model prep): each
    * anchor's nearest corpus neighbors that are NOT its positives —
    * candidates at or above `positiveThreshold` cosine are near-duplicates
    * of the anchor and must not be trained against as negatives; what
    * remains is re-ranked and the top `k` kept. One [[bruteForceTopK]]
    * scan with `k * headroom` candidates (the positives come out of the
    * SAME scored list — no second scan, no extra join); if an anchor has
    * more than `k * (headroom-1)` positives in its candidate list the
    * output legitimately has fewer than k rows for it (widen headroom).
    * Threshold semantics are direct-cosine-to-the-anchor; a cluster-
    * transitive exclusion composes with [[Dedup.components]] labels via
    * [[Sampling.groupSplit]]'s discipline instead.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, queryVecCol: String, k: Int,
      positiveThreshold: Double, headroom: Int = 3): DataFrame = {
    val cand = bruteForceTopK(corpus, anchors, idCol, vecCol, queryIdCol,
      queryVecCol, k * headroom)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    cand
      .filter(col("cosine") < positiveThreshold &&
        col("vec_id") =!= col("query_id"))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("query_id"), col("neg_rank"), col("vec_id"), col("cosine"))
  }

  /** Deterministic random-hyperplane LSH bucket of a vector: bit i is the
    * sign of dot(v, r_i) where r_i(d) is derived from xxhash64(i, d) mapped
    * to [-1, 1]. No fitted model to store or broadcast.
    */
  def lshBucket(v: String, nBits: Int): Column =
    expr(s"graft_lsh_bucket($v, $nBits)")

  /** IVF-pruned top-k: a coarse quantizer of `nlist` centroids partitions the
    * corpus into cells; each query scores only the rows in its `nprobe`
    * nearest cells. Same output shape as bruteForceTopK; recall < 1 by
    * construction (raise nprobe to trade scan width for recall).
    *
    * Centroids are a deterministic hash-ordered sample of the corpus itself
    * (no iterative k-means fit, no model to store): a bounded nlist-row
    * collect builds the quantizer once on the driver; it then ships inside
    * the IvfCells expression. Cell assignment is one map pass over the
    * corpus; at 100 TB the assigned corpus would be written bucketed by
    * `_cell` so repeated query batches prune at the scan.
    */
  /** Deterministic hash-ordered centroid sample of the corpus (normalized,
    * zero vectors dropped) — the coarse quantizer shared by [[ivfTopK]] and
    * the bucketed-storage path. The only collect in the library: bounded at
    * nlist rows by construction.
    */
  private[operators] def seedCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int): Array[Array[Double]] = {
    val centroids = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) v.map(_ / n) else v
      }
      .filter(_.exists(_ != 0.0))
    require(centroids.nonEmpty, "IVF: corpus has no non-zero vectors to seed centroids")
    centroids
  }

  /** Column of the n nearest cell ids for a vector column, given centroids. */
  private[operators] def cellsCol(vc: String, centroids: Array[Array[Double]], n: Int) = {
    import org.apache.spark.sql.graft.GraftSqlShims.{columnOf, expressionOf}
    columnOf(graft.functions.IvfCells(expressionOf(col(vc)), centroids, n))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, queryVecCol: String, k: Int,
      nlist: Int = 64, nprobe: Int = 8): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val centroids = seedCentroids(corpus, idCol, vecCol, nlist)

    def cells(vc: String, n: Int) = cellsCol(vc, centroids, n)

    val c = corpus
      .withColumn("_cell", element_at(cells(vecCol, 1), 1))
      .withColumn("_cnorm", sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")))
      .filter(col("_cnorm") > 0) // zero-norm guard — see bruteForceTopK
    val probes = queries
      .withColumn("_qnorm", sqrt(expr(s"graft_vec_dot($queryVecCol, $queryVecCol)")))
      .filter(col("_qnorm") > 0)
      .select(col(queryIdCol), col(queryVecCol), col("_qnorm"),
        explode(cells(queryVecCol, nprobe)).as("_cell"))
    val scored = c
      .join(broadcast(probes), "_cell")
      .select(col(queryIdCol).as("query_id"), col(idCol).as("vec_id"),
        (expr(s"graft_vec_dot($vecCol, $queryVecCol)") / (col("_cnorm") * col("_qnorm")))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Drop `table` and clear its leftover warehouse location. With an
    * in-memory catalog (a fresh session, no persistent metastore) a managed
    * table written by an earlier JVM is unknown to the catalog but its
    * directory survives, and `SaveMode.Overwrite` then fails with
    * LOCATION_ALREADY_EXISTS — so an orphaned location must be deleted too.
    */
  private def dropForOverwrite(spark: SparkSession, table: String): Unit =
    graft.sources.Sources.dropForOverwrite(spark, table)

  /** Materialize the IVF index as storage: the corpus with its `_cell`
    * assignment and precomputed norm, written as a table BUCKETED by `_cell`,
    * plus a `<table>_centroids` side table holding the quantizer. This is the
    * 100 TB ANN deployment shape: assignment and norms are paid once at write
    * time, and every later query batch reads only its probed cells' buckets
    * (bucket pruning at the file scan — see [[ivfTopKFromBucketed]]), i.e.
    * ~nprobe/nlist of the data instead of a full corpus scan per batch.
    */
  def ivfWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      vecCol: String, nlist: Int = 64, numBuckets: Int = 16): Unit = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    dropForOverwrite(spark, table)
    dropForOverwrite(spark, s"${table}_centroids")
    val centroids = seedCentroids(corpus, idCol, vecCol, nlist)
    // persist the quantizer next to the data — query-time probes must be
    // assigned with the SAME centroids the cells were built with
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(s"${table}_centroids")
    graft.sources.Sources.writeBucketed(ivfRows(corpus, vecCol, centroids), table,
      Seq("_cell"), numBuckets)
  }

  /** The persisted quantizer of a [[ivfWriteBucketed]] index, cell-ordered.
    * Bounded at nlist rows by construction — same driver-side class as the
    * centroid seed collect.
    */
  private[operators] def readCentroids(spark: SparkSession, table: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.table(s"${table}_centroids")
      .orderBy(col("cell"))
      .select(col("centroid")).as[Seq[Double]].collect()
      .map(_.toArray)
  }

  /** Append new vectors to a [[ivfWriteBucketed]] index in place: cells are
    * assigned with the PERSISTED centroids (an increment must never be
    * quantized differently from the index it lands in) and rows append in the
    * table's existing bucket layout, so later [[ivfTopKFromBucketed]] probes
    * see old and new vectors through one pruned scan. The quantizer does not
    * drift — appended regions of vector space still map onto the original
    * cells, which trades cell balance for never rebuilding: the 100 TB
    * rebuild is a choice made from measured cell-size skew, not a tax paid
    * per increment. `newVecs` must carry the same columns as the corpus the
    * index was built from.
    */
  def ivfAppendToIndex(newVecs: DataFrame, table: String, idCol: String,
      vecCol: String): Unit = {
    val spark = newVecs.sparkSession
    VectorFunctions.register(spark)
    graft.sources.Sources.appendBucketed(
      ivfRows(newVecs, vecCol, readCentroids(spark, table)), table)
  }

  /** IVF index rows: `corpus` with its argmax `_cell` under `centroids` and
    * its norm `_cnorm` — the build, the append and the rebuild all write
    * these.
    */
  private def ivfRows(corpus: DataFrame, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    corpus
      .withColumn("_cell", element_at(cellsCol(vecCol, centroids, 1), 1))
      .withColumn("_cnorm", sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")))
      .filter(col("_cnorm") > 0) // zero-norm guard — see bruteForceTopK

  /** Re-quantize a [[ivfWriteBucketed]] index in place — the ACTUATOR for
    * [[ivfCellStats]]' rebuild decision. Centroids are re-seeded from the
    * CURRENT index rows (the same deterministic hash-ordered sample as
    * [[ivfWriteBucketed]], so a region of vector space that grew through
    * appends now draws proportionally more centroids and its oversized cells
    * split), every row is re-assigned to its new argmax cell, and both the
    * index and its `_centroids` side table are replaced.
    *
    * Write-new-then-swap, never read-and-overwrite: the re-assigned corpus
    * and fresh quantizer land in `<table>_rebuild` staging tables (one full
    * index scan + one bucketed write — the same cost as building from
    * scratch, which is what a rebuild IS), then swap in via catalog rename.
    * At 100 TB the staging write is the deployment shape too: probes keep
    * reading the old index until the swap, and the swap itself moves no
    * data. The swap goes through [[graft.sources.Sources.swapStaged]] so a
    * crash mid-swap always leaves a complete table one manual RENAME away
    * — never a window with no live index.
    *
    * `nlist` <= 0 keeps the current centroid count; pass a larger value to
    * widen the quantizer while rebuilding (the usual response when
    * [[ivfCellStats]] shows occupancy maxed out rather than merely skewed).
    */
  def ivfRebuild(spark: SparkSession, table: String, idCol: String,
      vecCol: String, nlist: Int = 0): Unit = {
    VectorFunctions.register(spark)
    val numBuckets = graft.sources.Sources.bucketSpecOf(spark, table).numBuckets
    val n = if (nlist > 0) nlist else readCentroids(spark, table).length
    val corpus = spark.table(table).drop("_cell", "_cnorm")
    val centroids = seedCentroids(corpus, idCol, vecCol, n)
    val staged = s"${table}_rebuild"
    val stagedCentroids = s"${table}_centroids_rebuild"
    dropForOverwrite(spark, staged)
    dropForOverwrite(spark, stagedCentroids)
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(stagedCentroids)
    graft.sources.Sources.writeBucketed(ivfRows(corpus, vecCol, centroids), staged,
      Seq("_cell"), numBuckets)
    graft.sources.Sources.swapStaged(spark, staged, table)
    graft.sources.Sources.swapStaged(spark, stagedCentroids, s"${table}_centroids")
  }

  /** Per-cell row counts of a [[ivfWriteBucketed]] index: (cell, n), one row
    * per occupied cell. The group-by key IS the bucketing key, so the index
    * is scanned pre-clustered and aggregated in place — no exchange anywhere
    * in the plan (asserted by unit test). At 100 TB this reads the index
    * once and moves at most nlist rows.
    */
  def ivfCellCounts(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .groupBy(col("_cell").as("cell"))
      .agg(count(lit(1)).as("n"))

  /** Cell-occupancy skew report of a [[ivfWriteBucketed]] index — the
    * measured input to the rebuild decision [[ivfAppendToIndex]] defers
    * ("rebuild is a choice made from measured cell-size skew, not a tax paid
    * per increment"). One row: occupied/total cell counts, row count,
    * min/mean/p99/max cell sizes, and `skew` = max/mean. A healthy index
    * keeps skew within a small factor of 1; a skew of ~nprobe means probe
    * cost is dominated by one cell and a re-quantize (fresh
    * [[ivfWriteBucketed]]) pays for itself.
    *
    * Cost shape: the per-cell count aggregates in the bucket layout (no
    * exchange — see [[ivfCellCounts]]); everything after runs on at most
    * nlist rows.
    */
  def ivfCellStats(spark: SparkSession, table: String): DataFrame = {
    val counts = ivfCellCounts(spark, table)
      .agg(
        count(lit(1)).as("n_cells_used"),
        sum(col("n")).as("n_rows"),
        min(col("n")).as("min_cell"),
        round(avg(col("n")), 6).as("mean_cell"),
        round(expr("percentile(n, 0.99)"), 6).as("p99_cell"),
        max(col("n")).as("max_cell"))
    val total = spark.table(s"${table}_centroids")
      .agg(count(lit(1)).as("n_cells_total"))
    counts.crossJoin(total) // 1 x 1 rows
      .withColumn("skew",
        round(col("max_cell") / greatest(col("mean_cell"), lit(1e-12)), 6))
      .select(col("n_cells_used"), col("n_cells_total"), col("n_rows"),
        col("min_cell"), col("mean_cell"), col("p99_cell"), col("max_cell"),
        col("skew"))
  }

  /** IVF top-k against a table written by [[ivfWriteBucketed]]: probe cells
    * are resolved to a LITERAL id set (bounded by nlist — the same bounded
    * driver-side class as the centroid seed), so the `_cell IN (...)` filter
    * prunes whole buckets at the scan. Output shape matches [[ivfTopK]].
    */
  def ivfTopKFromBucketed(spark: SparkSession, table: String, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, queryVecCol: String,
      k: Int, nprobe: Int = 8): DataFrame = {
    VectorFunctions.register(spark)
    import spark.implicits._
    val centroids = readCentroids(spark, table)
    // localCheckpoint: one evaluation serves both the cellIds collect and the
    // broadcast join — keeps pruning and probing consistent even if the
    // queries plan were non-deterministic (see ivfpqTopKFromBucketed).
    val probes = queries
      .withColumn("_qnorm", sqrt(expr(s"graft_vec_dot($queryVecCol, $queryVecCol)")))
      .filter(col("_qnorm") > 0)
      .select(col(queryIdCol), col(queryVecCol), col("_qnorm"),
        explode(cellsCol(queryVecCol, centroids, nprobe)).as("_cell"))
      .localCheckpoint()
    val cellIds = probes.select(col("_cell")).distinct().as[Int].collect().toSeq
    val scored = spark.table(table)
      .filter(col("_cell").isin(cellIds: _*)) // bucket pruning happens here
      .join(broadcast(probes), "_cell")
      .select(col(queryIdCol).as("query_id"), col(idCol).as("vec_id"),
        (expr(s"graft_vec_dot($vecCol, $queryVecCol)") / (col("_cnorm") * col("_qnorm")))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Recall@k of an approximate top-k result against an exact one — THE
    * number a user tunes nprobe/nBits with: per query,
    * |approx ∩ exact| / |exact| over the rank <= k rows of both sides
    * (both in the (query_id, rank, vec_id, cosine) shape of
    * [[bruteForceTopK]]). Output: (query_id, n_exact, n_hit, recall).
    *
    * Spark-side join on (query_id, vec_id): both inputs are k rows per
    * query, so every shuffle is O(queries x k) — evaluating recall over a
    * 100 TB index costs one approximate probe plus one exact scan, never a
    * corpus-sized join.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), lit(1).as("_hit"))
    exact.filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
      .join(a, Seq("query_id", "vec_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0))).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 6))
  }

  /** LSH-pruned top-k: score only corpus rows whose bucket matches the
    * query's bucket or any 1-bit-flip neighbor (multi-probe). Same output
    * shape as bruteForceTopK; recall < 1 by construction.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, queryVecCol: String, k: Int,
      nBits: Int = 12): DataFrame = {
    VectorFunctions.register(corpus.sparkSession)
    val bucketed = corpus
      .withColumn("bucket", lshBucket(vecCol, nBits))
      .withColumn("_cnorm", sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")))
      .filter(col("_cnorm") > 0) // zero-norm guard — see bruteForceTopK
    val probes = queries
      .withColumn("qbucket", lshBucket(queryVecCol, nBits))
      .withColumn("_qnorm", sqrt(expr(s"graft_vec_dot($queryVecCol, $queryVecCol)")))
      .filter(col("_qnorm") > 0)
      .select(col(queryIdCol), col(queryVecCol), col("_qnorm"), explode(
        expr(s"array_union(array(qbucket), transform(sequence(0, ${nBits - 1}), i -> qbucket ^ shiftleft(1L, i)))"))
        .as("bucket"))
    val scored = bucketed
      .join(broadcast(probes), "bucket")
      .select(col(queryIdCol).as("query_id"), col(idCol).as("vec_id"),
        (expr(s"graft_vec_dot($vecCol, $queryVecCol)") / (col("_cnorm") * col("_qnorm")))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Train product-quantization codebooks (Jegou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) on a bounded
    * deterministic sample: `sampleSize` hash-ordered corpus rows are
    * collected (the standard PQ practice — codebooks train on a sample, a
    * 100 TB corpus never participates in training), L2-normalized (so the
    * quantized inner product approximates cosine), split into `m`
    * contiguous subvectors, and each subspace runs `iters` driver-local
    * Lloyd iterations from the first `ksub` sample subvectors (empty
    * clusters keep their previous centroid; assignment ties break to the
    * lowest index). Deterministic end to end: hash order fixes the sample,
    * index order fixes the initialization. Returns m x ksub x dsub.
    *
    * With `iters = 0` the codebook IS the sample's subvectors — on a corpus
    * whose rows all appear in the sample, quantization is then exact
    * (distortion 0, see [[graft.functions.PqOps]]), which is what the
    * oracled correctness gate exploits.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, sampleSize: Int = 1024, iters: Int = 5): Array[Array[Array[Double]]] = {
    VectorFunctions.register(corpus.sparkSession)
    val sample = corpus
      .filter(sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")) > 0)
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleSize)
      .collect()
      .map { row =>
        val raw = row.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray
        // EXACT normalization sequence of PqOps.normalized: sum of squares
        // in index order, sqrt, divide — bitwise-identical to the encoder
        val n = math.sqrt(raw.map(x => x * x).sum)
        raw.map(_ / n)
      }
    require(sample.nonEmpty, "PQ: corpus has no non-zero vectors to train on")
    val dim = sample(0).length
    require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = subs.take(math.min(ksub, subs.length)).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Int](cents.length)
        subs.foreach { s =>
          var best = 0
          var bestDist = Double.PositiveInfinity
          var c = 0
          while (c < cents.length) {
            var acc = 0.0
            var d = 0
            while (d < dsub) { val x = s(d) - cents(c)(d); acc += x * x; d += 1 }
            if (acc < bestDist) { best = c; bestDist = acc }
            c += 1
          }
          var d = 0
          while (d < dsub) { sums(best)(d) += s(d); d += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(cents.length) { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }
        it += 1
      }
      cents
    }
  }

  /** Build a persisted IVF-PQ index (the Faiss-style composition, and THE
    * 100 TB ANN layout): rows are coarse-quantized into `nlist` cells for
    * bucket pruning AND product-quantized into m small-int codes for
    * scan-size compression — the stored index carries (id, _cell, _codes)
    * ONLY, never the raw vector. A 64-float embedding costs 256 bytes in an
    * IVF-flat index; here its scored representation is m=8 ints, and on top
    * of that a probe reads only nprobe/nlist of the buckets. Non-residual
    * variant: codes encode the normalized vector itself (not the residual
    * against the cell centroid), so one LUT per query serves every probed
    * cell — the standard trade for inner-product/cosine metrics, where
    * residual rotation buys little and per-cell LUTs would multiply the
    * broadcast by nprobe.
    *
    * Both quantizers persist next to the data (`_centroids`, `_codebooks`)
    * — query-time probes and future appends must quantize with the SAME
    * models the index was built with.
    */
  def ivfpqWriteBucketed(corpus: DataFrame, table: String, idCol: String,
      vecCol: String, nlist: Int = 64, m: Int = 8, ksub: Int = 64,
      numBuckets: Int = 16, sampleSize: Int = 1024, iters: Int = 5): Unit = {
    val spark = corpus.sparkSession
    VectorFunctions.register(spark)
    dropForOverwrite(spark, table)
    dropForOverwrite(spark, s"${table}_centroids")
    dropForOverwrite(spark, s"${table}_codebooks")
    val centroids = seedCentroids(corpus, idCol, vecCol, nlist)
    val codebooks = pqCodebooks(corpus, idCol, vecCol, m, ksub, sampleSize, iters)
    writeIvfpqTables(corpus, table, s"${table}_centroids", s"${table}_codebooks",
      idCol, vecCol, centroids, codebooks, numBuckets)
  }

  /** Quantize `corpus` with the GIVEN models and persist the three IVF-PQ
    * tables — the shared write path of [[ivfpqWriteBucketed]] (live names,
    * fresh build) and [[ivfpqRebuild]] (staged names, swapped in after).
    */
  private def writeIvfpqTables(corpus: DataFrame, table: String,
      centroidsTable: String, codebooksTable: String, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], numBuckets: Int): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.toSeq.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(centroidsTable)
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(codebooksTable)
    graft.sources.Sources.writeBucketed(
      ivfpqRows(corpus, idCol, vecCol, centroids, codebooks), table, Seq("_cell"),
      numBuckets)
  }

  /** Append new vectors to an [[ivfpqWriteBucketed]] index in place: the
    * increment quantizes with BOTH persisted models (coarse centroids for
    * the cell, codebooks for the codes — an increment must never be encoded
    * differently from the index it lands in) and appends in the existing
    * bucket layout. Same no-drift/no-rebuild trade as [[ivfAppendToIndex]]:
    * per-increment work is batch-sized, codebook staleness accumulates as
    * measurable extra distortion, and the rebuild is a decision made from
    * [[ivfCellStats]]-style measurement, not a tax paid per increment.
    */
  def ivfpqAppendToIndex(newVecs: DataFrame, table: String, idCol: String,
      vecCol: String): Unit = {
    val spark = newVecs.sparkSession
    VectorFunctions.register(spark)
    graft.sources.Sources.appendBucketed(ivfpqRows(newVecs, idCol, vecCol,
      readCentroids(spark, table), readCodebooks(spark, table)), table)
  }

  /** IVF-PQ index rows `(idCol, _cell, _codes)` of `corpus` under both
    * quantizers — the build, the append and the rebuild all write these.
    */
  private def ivfpqRows(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.graft.GraftSqlShims.{columnOf, expressionOf}
    corpus
      .filter(sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")) > 0)
      .select(col(idCol),
        element_at(cellsCol(vecCol, centroids, 1), 1).as("_cell"),
        columnOf(graft.functions.PqCodes(expressionOf(col(vecCol)), codebooks)).as("_codes"))
  }

  /** Re-train an [[ivfpqWriteBucketed]] index's BOTH quantizers and
    * re-encode every member row — the response when append drift (measured
    * by [[ivfpqSelfScore]]) has pushed quantization error past tolerance.
    *
    * Contract: the index stores (id, _cell, _codes) ONLY — codes cannot be
    * decoded back into training data, so the caller must pass `source`, a
    * DataFrame holding ONE raw vector per index id (the corpus the index
    * was built and appended from). Membership is owned by the INDEX: source
    * rows whose id is not in the index are ignored, and a source that fails
    * to cover every index id is an error, not a silent shrink — a rebuild
    * must never quietly drop rows that a probe could find today.
    *
    * `nlist`/`m`/`ksub` <= 0 keep the current index's shape (m and ksub
    * read from the persisted `_codebooks`); pass larger values to widen
    * either quantizer while rebuilding. Codebooks re-train via
    * [[pqCodebooks]] on a fresh hash-ordered sample of the member vectors,
    * coarse centroids re-seed the same way, and the whole index re-encodes
    * in one pass — same cost class as building from scratch, which is what
    * a rebuild IS. Write-new-then-swap through
    * [[graft.sources.Sources.swapStaged]] on all three tables: probes read
    * the old index until each swap, and a crash mid-swap always leaves a
    * complete table one RENAME away.
    */
  def ivfpqRebuild(spark: SparkSession, table: String, source: DataFrame,
      idCol: String, vecCol: String, nlist: Int = 0, m: Int = 0,
      ksub: Int = 0, sampleSize: Int = 1024, iters: Int = 5): Unit = {
    VectorFunctions.register(spark)
    val numBuckets = graft.sources.Sources.bucketSpecOf(spark, table).numBuckets
    val cur = readCodebooks(spark, table)
    val n = if (nlist > 0) nlist else readCentroids(spark, table).length
    val mm = if (m > 0) m else cur.length
    val kk = if (ksub > 0) ksub else cur(0).length
    val memberIds = spark.table(table).select(col(idCol)).distinct()
    val vectors = source.select(col(idCol), col(vecCol))
      .join(memberIds, Seq(idCol), "left_semi")
      .localCheckpoint() // one evaluation: coverage count, sample, encode
    val nMembers = memberIds.count()
    val nCovered = vectors.count()
    require(nCovered == nMembers,
      s"ivfpqRebuild: source covers $nCovered of $nMembers index ids — " +
        "a rebuild must not drop member rows; pass the full vector source")
    val centroids = seedCentroids(vectors, idCol, vecCol, n)
    val codebooks = pqCodebooks(vectors, idCol, vecCol, mm, kk, sampleSize, iters)
    val staged = s"${table}_rebuild"
    val stagedCentroids = s"${table}_centroids_rebuild"
    val stagedCodebooks = s"${table}_codebooks_rebuild"
    dropForOverwrite(spark, staged)
    dropForOverwrite(spark, stagedCentroids)
    dropForOverwrite(spark, stagedCodebooks)
    writeIvfpqTables(vectors, staged, stagedCentroids, stagedCodebooks,
      idCol, vecCol, centroids, codebooks, numBuckets)
    graft.sources.Sources.swapStaged(spark, staged, table)
    graft.sources.Sources.swapStaged(spark, stagedCentroids, s"${table}_centroids")
    graft.sources.Sources.swapStaged(spark, stagedCodebooks, s"${table}_codebooks")
  }

  /** Quantization-health report of an [[ivfpqWriteBucketed]] index: each
    * member's STORED codes are ADC-scored against the member's own raw
    * vector — `self_score` = <decode(codes), v/||v||>, exactly 1.0 in the
    * distortion-0 regime and dropping as codebook staleness grows (appended
    * rows encoded with codebooks trained before their distribution arrived
    * score lowest). This is the number that schedules [[ivfpqRebuild]]:
    * track avg(1 - self_score) per append epoch and rebuild when it crosses
    * tolerance, the same measure-then-act discipline as [[ivfCellStats]].
    * One id-equi join between the codes-only index scan and the vector
    * source; the per-row LUT is the member's own, so nothing broadcasts.
    * Every INDEX member appears in the report: a member whose raw vector is
    * absent from `source` carries a NULL self_score — a health report must
    * distinguish "cannot score without the vector" from "scored fine", and
    * a silently shrinking report would hide exactly the coverage gap that
    * would later fail [[ivfpqRebuild]]'s source check. Output:
    * (id, self_score).
    */
  def ivfpqSelfScore(spark: SparkSession, table: String, source: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.graft.GraftSqlShims.{columnOf, expressionOf}
    VectorFunctions.register(spark)
    val codebooks = readCodebooks(spark, table)
    val ksub = codebooks(0).length
    spark.table(table).select(col(idCol), col("_codes"))
      .join(source.select(col(idCol), col(vecCol))
        .filter(sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")) > 0),
        Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col(vecCol).isNotNull,
          columnOf(graft.functions.PqAdc(
            expressionOf(col("_codes")),
            graft.functions.PqLut(expressionOf(col(vecCol)), codebooks),
            ksub))).as("self_score"))
  }

  /** The persisted PQ codebooks of an [[ivfpqWriteBucketed]] index. Bounded
    * at m x ksub rows by construction.
    */
  private[operators] def readCodebooks(spark: SparkSession, table: String): Array[Array[Array[Double]]] = {
    import spark.implicits._
    spark.table(s"${table}_codebooks")
      .orderBy(col("subspace"), col("code"))
      .select(col("subspace"), col("centroid")).as[(Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2.toArray).toArray).toArray
  }

  /** Probe a persisted [[ivfpqWriteBucketed]] index: queries re-quantize
    * with the PERSISTED coarse centroids, `_cell IN (probed)` prunes the
    * bucketed scan (SelectedBucketsCount in the plan), and every surviving
    * (id, codes) row is scored against the query's broadcast ADC lookup
    * table in O(m) — the scan never touches a raw vector. Output:
    * (query_id, rank, vec_id, score), score = approximate cosine.
    */
  def ivfpqTopKFromBucketed(spark: SparkSession, table: String, queries: DataFrame,
      idCol: String, queryIdCol: String, queryVecCol: String, k: Int,
      nprobe: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.GraftSqlShims.{columnOf, expressionOf}
    VectorFunctions.register(spark)
    import spark.implicits._
    val centroids = readCentroids(spark, table)
    val codebooks = readCodebooks(spark, table)
    val ksub = codebooks(0).length
    // localCheckpoint: probes is evaluated once (bounded by |queries| x nprobe)
    // and reused by BOTH the cellIds collect and the broadcast join below —
    // without it the m x ksub PqLut is recomputed per query on the second
    // evaluation, and a non-deterministic queries input could prune one cell
    // set and join another.
    val probes = queries
      .filter(sqrt(expr(s"graft_vec_dot($queryVecCol, $queryVecCol)")) > 0)
      .select(col(queryIdCol),
        columnOf(graft.functions.PqLut(expressionOf(col(queryVecCol)), codebooks)).as("_lut"),
        explode(cellsCol(queryVecCol, centroids, nprobe)).as("_cell"))
      .localCheckpoint()
    val cellIds = probes.select(col("_cell")).distinct().as[Int].collect().toSeq
    val scored = spark.table(table)
      .filter(col("_cell").isin(cellIds: _*)) // bucket pruning happens here
      .join(broadcast(probes), "_cell")
      .select(col(queryIdCol).as("query_id"), col(idCol).as("vec_id"),
        columnOf(graft.functions.PqAdc(expressionOf(col("_codes")),
          expressionOf(col("_lut")), ksub)).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
  }

  /** PQ-compressed top-k via asymmetric distance computation: the corpus is
    * encoded to m small-int codes per row (one narrow map pass — at 100 TB
    * the codes would be written once next to the ids and re-read per query
    * batch: an 8-code int array stands in for a 64-float embedding, a
    * 16-32x scan-size reduction), each query carries a precomputed
    * m x ksub lookup table, and scoring a candidate is m array reads + adds
    * instead of a dim-length dot product. The join broadcasts the queries;
    * ONLY (id, codes) ride the corpus side of the scoring plan — the raw
    * embedding never leaves its scan. Top-k uses the same rank-window form
    * as [[bruteForceTopK]] (WindowGroupLimit pushes a map-side partial
    * top-k below the exchange). Output: query_id, rank, vec_id, score
    * (approximate cosine; recall measured by [[recallAtK]], exactness in
    * the representable regime proven by the oracled gate).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, queryIdCol: String, queryVecCol: String, k: Int,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    import org.apache.spark.sql.graft.GraftSqlShims.{columnOf, expressionOf}
    VectorFunctions.register(corpus.sparkSession)
    val ksub = codebooks(0).length
    val c = corpus
      .filter(sqrt(expr(s"graft_vec_dot($vecCol, $vecCol)")) > 0)
      .select(col(idCol),
        columnOf(graft.functions.PqCodes(expressionOf(col(vecCol)), codebooks)).as("_codes"))
    val q = queries
      .filter(sqrt(expr(s"graft_vec_dot($queryVecCol, $queryVecCol)")) > 0)
      .select(col(queryIdCol),
        columnOf(graft.functions.PqLut(expressionOf(col(queryVecCol)), codebooks)).as("_lut"))
    val scored = c.join(broadcast(q))
      .select(col(queryIdCol).as("query_id"), col(idCol).as("vec_id"),
        columnOf(graft.functions.PqAdc(expressionOf(col("_codes")),
          expressionOf(col("_lut")), ksub)).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
  }
}
