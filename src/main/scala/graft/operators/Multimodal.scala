package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed partition-parallel.
  *
  * IMAGE decode is REAL: [[ImageCodec]] encodes/decodes genuine PNG/BMP
  * bytes through JDK ImageIO (present in every JDK, offline-safe), and
  * [[decodeImageFeatures]] computes features from the decoded raster.
  * Codecs the JDK lacks (video frame extraction, resample filters) remain
  * behind the deterministic `FakeCodec` stand-in with the same signatures.
  * The Spark-side plumbing is identical for both and tested: schema shape,
  * per-partition batched processing (the Scala equivalent of mapInPandas),
  * frame sampling via explode, and feature-vector output ready for
  * [[Similarity]].
  *
  * Scale notes: binary payloads ride in the row; decode runs where the data
  * lives (mapPartitions — one task per input split, no shuffle); metadata
  * predicates (format/width/...) are plain columns, so Catalyst prunes and
  * pushes them without touching payload bytes.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** STUB for a real media decoder (libjpeg/ffmpeg/...). Deterministic: the
    * "decoded" feature vector is a 16-bin normalized byte histogram. A real
    * deployment swaps this object behind the same signature.
    */
  object FakeCodec {
    val FeatureDim = 16
    def decodeFeatures(payload: Array[Byte]): Array[Float] = {
      val bins = new Array[Float](FeatureDim)
      if (payload == null || payload.isEmpty) return bins
      payload.foreach(b => bins((b & 0xff) >> 4) += 1f)
      val n = payload.length.toFloat
      bins.map(_ / n)
    }
    /** STUB frame extraction: fixed-size byte windows standing in for video
      * frame decode.
      */
    def sampleFrames(payload: Array[Byte], every: Int): Seq[Array[Byte]] = {
      if (payload == null || payload.isEmpty) Seq.empty
      else payload.grouped(every).toSeq
    }
    /** STUB nearest-neighbor resize: output byte i samples input byte
      * floor(i * len / outLen) — the 1-D analog of NN pixel sampling. A real
      * deployment swaps in an image library behind the same signature.
      */
    def resize(payload: Array[Byte], outLen: Int): Array[Byte] =
      if (payload == null || payload.isEmpty || outLen <= 0) Array.emptyByteArray
      else Array.tabulate(outLen)(i => payload((i.toLong * payload.length / outLen).toInt))
  }

  /** REAL image codec over JDK ImageIO (PNG/BMP readers and writers ship in
    * every JDK — public knowledge, offline-safe, headless). Images are
    * 8-bit grayscale ({@code TYPE_BYTE_GRAY}): both formats are lossless
    * for it, so decode returns the exact pixel bytes that were encoded and
    * a pixel-derived feature is closed-form checkable from whatever
    * generated the pixels. This replaces the FakeCodec STUB for the decode
    * step itself; FakeCodec remains the stand-in for codecs the JDK lacks
    * (video frames, resample filters).
    */
  object ImageCodec {
    val FeatureDim = 16

    /** Encode a row-major grayscale pixel array as PNG or BMP bytes. */
    def encodeGray(pixels: Array[Byte], width: Int, height: Int,
        format: String): Array[Byte] = {
      require(width > 0 && height > 0, s"bad geometry ${width}x$height")
      require(pixels.length == width * height,
        s"pixels ${pixels.length} != ${width}x$height")
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, width, height, pixels)
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, out),
        s"no ImageIO writer for format '$format'")
      out.toByteArray
    }

    /** Decode image bytes to (width, height, row-major grayscale pixels).
      * Non-gray inputs are converted to 8-bit luma via the standard AWT
      * color pipeline. Returns None for null/undecodable payloads —
      * corrupt media is DATA at corpus scale, not an exception.
      */
    def decodeGray(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (payload == null || payload.isEmpty) return None
      val img =
        // NonFatal, not just IOException: JDK ImageIO readers throw
        // RuntimeExceptions (IllegalArgument/IndexOutOfBounds) on malformed
        // headers that parse but declare invalid geometry — at corpus scale
        // one bad blob must yield None, never kill the task
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload)))
        catch { case scala.util.control.NonFatal(_) => None }
      img.map { i =>
        val gray =
          if (i.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) i
          else {
            val g = new java.awt.image.BufferedImage(i.getWidth, i.getHeight,
              java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val gc = g.createGraphics()
            try gc.drawImage(i, 0, 0, null) finally gc.dispose()
            g
          }
        val px = new Array[Byte](gray.getWidth * gray.getHeight)
        gray.getRaster.getDataElements(0, 0, gray.getWidth, gray.getHeight, px)
        (gray.getWidth, gray.getHeight, px)
      }
    }

    /** The real-decode feature: decode, then a 16-bin normalized luma
      * histogram over the pixels — same output contract as
      * [[FakeCodec.decodeFeatures]] but computed from DECODED PIXELS, not
      * encoded bytes. Undecodable payloads yield the zero vector (and the
      * caller sees n_pixels = 0).
      */
    def decodeFeatures(payload: Array[Byte]): (Int, Array[Float]) =
      decodeGray(payload) match {
        case None => (0, new Array[Float](FeatureDim))
        case Some((_, _, px)) =>
          val bins = new Array[Float](FeatureDim)
          px.foreach(b => bins((b & 0xff) >> 4) += 1f)
          val n = px.length.toFloat
          (px.length, bins.map(_ / n))
      }
  }

  /** Attach a REAL encoded image payload derived from a text column: the
    * document's UTF-8 bytes become the grayscale pixels of a PNG (or BMP),
    * width fixed at [[RealMediaWidth]], zero-padded to fill the last row
    * (one 1x1 zero pixel for empty text). Deterministic by construction —
    * pixel content is a pure function of the text — so every decoded-pixel
    * statistic has a closed-form DuckDB oracle over the text while the
    * payload itself is genuine PNG/BMP bytes produced by a real encoder.
    *
    * Runs in mapPartitions (encoder per partition, no shuffle), the same
    * scale shape as [[decodeFeatures]].
    */
  val RealMediaWidth = 64

  /** The one text→raster generator (row-major 8-bit gray pixels = the
    * text's UTF-8 bytes, zero-padded to the [[RealMediaWidth]] geometry;
    * 1x1 zero pixel for empty text). [[withRealMedia]],
    * [[imageRoundtripCheck]] and the mm_features DuckDB oracle all restate
    * THIS function — keep them in lockstep.
    */
  private def grayRasterOf(text: String): (Int, Int, Array[Byte]) = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val width = if (bytes.isEmpty) 1 else math.min(RealMediaWidth, bytes.length)
    val height = if (bytes.isEmpty) 1 else (bytes.length + width - 1) / width
    (width, height, java.util.Arrays.copyOf(bytes, width * height))
  }

  def withRealMedia(df: DataFrame, idCol: String, textCol: String,
      format: String = "png"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val in = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
    in.mapPartitions { rows =>
      rows.map { r =>
        val text = if (r.isNullAt(1)) "" else r.getString(1)
        val (width, height, px) = grayRasterOf(text)
        Row(r.getLong(0), ImageCodec.encodeGray(px, width, height, format),
          s"image/$format", width, height, 1)
      }
    }(enc)
  }

  /** Batched per-partition REAL decode — [[decodeFeatures]]'s shape with
    * [[ImageCodec]] doing genuine PNG/BMP decoding: (media_id, n_pixels,
    * features) where features is the 16-bin normalized luma histogram of
    * the decoded raster and n_pixels is 0 for undecodable payloads. The
    * extra n_pixels column (vs n_bytes) is the DECODED size — the right
    * blocking key for near-dup search, since lossless re-encodes of the
    * same raster can differ in byte length but never in pixel count.
    */
  def decodeImageFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_pixels", IntegerType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.map { r =>
        val (n, feats) =
          ImageCodec.decodeFeatures(r.getAs[Array[Byte]](payloadIdx))
        Row(r.getLong(idIdx), n, feats.toSeq)
      }
    }(enc)
  }

  /** Lossless-roundtrip gate for the real codec: regenerate the pixel array
    * from the text ([[withRealMedia]]'s generator), encode, DECODE, and
    * compare rasters byte for byte. Output (media_id, n_pixels, ok) — `ok`
    * must be uniformly true (PNG and BMP are lossless for 8-bit gray), the
    * property that makes every decoded-pixel statistic closed-form
    * checkable from the text. One mapPartitions pass, nothing shuffles.
    */
  def imageRoundtripCheck(df: DataFrame, idCol: String, textCol: String,
      format: String = "png"): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_pixels", IntegerType, nullable = false),
      StructField("ok", BooleanType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val in = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
    in.mapPartitions { rows =>
      rows.map { r =>
        val text = if (r.isNullAt(1)) "" else r.getString(1)
        val (width, height, px) = grayRasterOf(text)
        val ok = ImageCodec.decodeGray(
          ImageCodec.encodeGray(px, width, height, format)) match {
          case Some((dw, dh, dpx)) =>
            dw == width && dh == height && java.util.Arrays.equals(dpx, px)
          case None => false
        }
        Row(r.getLong(0), px.length, ok)
      }
    }(enc)
  }

  /** Attach a synthetic media payload derived from a text column — stands in
    * for reading real image bytes; keeps everything deterministic.
    */
  def withFakeMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("fake/rgb8").as("format"),
      (length(col(textCol)) % 64 + 1).cast("int").as("width"),
      lit(16).as("height"),
      (length(col(textCol)) / 32 + 1).cast("int").as("n_frames"))

  /** Exact media dedup by content hash: one row per distinct payload with
    * the minimum surviving id and the copy count. The md5 is computed
    * map-side and the partial aggregate combines before the shuffle, so
    * payload BYTES never leave the scan — the exchange carries (16-byte
    * hash, id, count) rows, one per distinct payload per partition,
    * regardless of media size. The binary-column analog of
    * [[Dedup.exactDedup]].
    */
  def dedupExact(media: DataFrame, idCol: String = "media_id"): DataFrame =
    media.groupBy(md5(col("payload")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("content_hash"), col("n_copies"))

  /** Batched per-partition decode — the Scala analog of mapInPandas: one
    * decoder instantiation per partition, rows streamed through it, feature
    * vectors out. No shuffle; runs at input-split parallelism.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      // per-partition codec setup would go here (native handles, sessions...)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        Row(r.getLong(idIdx),
          if (payload == null) 0 else payload.length,
          FakeCodec.decodeFeatures(payload).toSeq)
      }
    }(enc)
  }

  /** Batched per-partition resize to a fixed target geometry — same
    * mapPartitions shape as [[decodeFeatures]] (codec state per partition,
    * no shuffle). Output keeps the original dimensions alongside the new
    * ones plus the resized payload; `n_bytes` is the resized byte count
    * (targetW*targetH for any non-empty payload, 0 otherwise), which is the
    * metadata the DuckDB oracle can check without decoding bytes.
    */
  def resizeMedia(spark: SparkSession, media: DataFrame, targetW: Int,
      targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("new_width", IntegerType, nullable = false),
      StructField("new_height", IntegerType, nullable = false),
      StructField("resized", BinaryType),
      StructField("n_bytes", IntegerType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val wIdx = media.schema.fieldIndex("width")
    val hIdx = media.schema.fieldIndex("height")
    val outLen = targetW * targetH
    media.mapPartitions { rows =>
      rows.map { r =>
        val resized = FakeCodec.resize(r.getAs[Array[Byte]](payloadIdx), outLen)
        Row(r.getLong(idIdx), r.get(wIdx), r.get(hIdx), targetW, targetH,
          resized, resized.length)
      }
    }(enc)
  }

  /** Frame sampling: one output row per sampled frame (video -> frames).
    * Explode happens on executors; frames inherit metadata columns.
    *
    * Unlike the mapPartitions codec paths (which justify imperative code with
    * per-partition decoder state), fixed-width byte windows are expressible
    * with built-ins: `substring` slices BinaryType directly, so the frame
    * array is a codegen-friendly HOF over the payload — no UDF, no serde
    * round trip. Semantics match [[FakeCodec.sampleFrames]]: null/empty
    * payloads produce no frames (the empty-array guard matters — `sequence`
    * DESCENDS when stop < start and would fabricate frame indices).
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64): DataFrame = {
    require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
    val nFrames = ceil(length(col("payload")).cast("double") / frameBytes).cast("int")
    val frames = when(coalesce(length(col("payload")), lit(0)) > 0,
      transform(sequence(lit(0), nFrames - 1),
        i => col("payload").substr(i * frameBytes + 1, lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))
    media
      .select(col("media_id"), col("format"),
        posexplode(frames).as(Seq("frame_no", "frame")))
  }

  /** Gear content-defined chunk fingerprints per payload (see
    * [[graft.functions.GearOps]]): (media_id, chunks array<struct<length,
    * fp>>). Pure map-side — the payload is chunked where it was read and
    * only (length, 64-bit fp) pairs survive the projection, the same
    * bytes-never-shuffle rule as [[dedupExact]].
    */
  def chunkFingerprints(media: DataFrame, idCol: String, payloadCol: String,
      minSize: Int, maxSize: Int, maskBits: Int): DataFrame = {
    import org.apache.spark.sql.graft.GraftSqlShims.{columnOf, expressionOf}
    media.select(col(idCol),
      columnOf(graft.functions.GearChunks(expressionOf(col(payloadCol)),
        minSize, maxSize, maskBits)).as("chunks"))
  }

  /** Per-payload chunking invariants, all DuckDB-checkable against the
    * payload alone: chunk lengths partition the payload (sum_len ==
    * octet_length), no chunk exceeds maxSize, and only the final chunk may
    * run under minSize. Output: (idCol, n_chunks, sum_len, bounds_ok).
    */
  def chunkCheck(media: DataFrame, idCol: String, payloadCol: String,
      minSize: Int, maxSize: Int, maskBits: Int): DataFrame =
    chunkFingerprints(media, idCol, payloadCol, minSize, maxSize, maskBits)
      .select(col(idCol),
        size(col("chunks")).cast("long").as("n_chunks"),
        aggregate(col("chunks"), lit(0L),
          (acc, c) => acc + c.getField("length")).as("sum_len"),
        (forall(col("chunks"), c => c.getField("length") <= maxSize) &&
          forall(slice(col("chunks"), lit(1),
            greatest(size(col("chunks")) - 1, lit(0))),
            c => c.getField("length") >= minSize)).as("bounds_ok"))

  /** Corpus-level chunk-dedup report — the storage/scan savings estimate
    * that decides whether chunk-granularity dedup is worth scheduling (the
    * [[Snapshot.sourceOverlap]] role, at sub-payload granularity): total vs
    * distinct chunk counts and bytes, plus the savings ratio. Distinct
    * bytes credit each fingerprint its first seen length (FNV-64 collisions
    * are the usual dedup-store gamble; this is an ESTIMATOR, the dedup
    * itself would verify bytes). One map-side chunking pass, one
    * fp-keyed aggregate of (fp, length) pairs, one 1-row rollup.
    */
  def chunkDedupReport(media: DataFrame, idCol: String, payloadCol: String,
      minSize: Int, maxSize: Int, maskBits: Int): DataFrame = {
    val perFp = chunkFingerprints(media, idCol, payloadCol, minSize, maxSize,
        maskBits)
      .select(explode(col("chunks")).as("c"))
      .select(col("c.fp").as("fp"), col("c.length").cast("long").as("len"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("_copies"), min(col("len")).as("_len"),
        sum(col("len")).as("_bytes"))
    perFp.agg(
      sum(col("_copies")).as("n_chunks"),
      count(lit(1)).as("n_distinct"),
      sum(col("_bytes")).as("total_bytes"),
      sum(col("_len")).as("distinct_bytes"))
      .withColumn("savings",
        round(lit(1.0) - col("distinct_bytes").cast("double") /
          col("total_bytes"), 6))
  }

  /** Per-payload DISTINCT chunk-fingerprint rows `(chunk_fp, id)` — the
    * probe/index currency of the chunk family. The distinct runs map-side
    * inside the payload's own row (`array_distinct` over the fp array), so
    * unlike a relational `.distinct()` it costs no exchange; payload bytes
    * never leave the scan.
    */
  private def chunkFpRows(media: DataFrame, idCol: String, payloadCol: String,
      minSize: Int, maxSize: Int, maskBits: Int): DataFrame =
    chunkFingerprints(media, idCol, payloadCol, minSize, maxSize, maskBits)
      .select(col(idCol).as("id"),
        array_distinct(transform(col("chunks"), c => c.getField("fp")))
          .as("_fps"))
      .select(explode(col("_fps")).as("chunk_fp"), col("id"))

  /** Persist the chunk-fingerprint index: one row per (distinct chunk fp,
    * payload id), BUCKETED by `chunk_fp`, with `<table>_meta` pinning the
    * chunking parameters so a probe or append can never chunk with a
    * different geometry than the index was built with (the same meta
    * discipline as every other persisted index family). 64-bit FNV fps make
    * the index rows 16 bytes each regardless of media size — the 100 TB
    * media corpus indexes at chunk-count x 16 bytes, and probes shuffle
    * batch-sized data only.
    */
  def chunkWriteBucketed(media: DataFrame, table: String, idCol: String,
      payloadCol: String, minSize: Int = 16, maxSize: Int = 64,
      maskBits: Int = 4, numBuckets: Int = 16): Unit = {
    val spark = media.sparkSession
    graft.sources.Sources.dropForOverwrite(spark, table)
    graft.sources.Sources.writeIndexMeta(spark, table, "min_size" -> minSize,
      "max_size" -> maxSize, "mask_bits" -> maskBits)
    graft.sources.Sources.writeBucketed(
      chunkFpRows(media, idCol, payloadCol, minSize, maxSize, maskBits),
      table, Seq("chunk_fp"), numBuckets)
  }

  private def chunkIndexMeta(spark: SparkSession, table: String): (Int, Int, Int) = {
    val m = graft.sources.Sources.indexMeta(spark, table)
    (m.getAs[Int]("min_size"), m.getAs[Int]("max_size"), m.getAs[Int]("mask_bits"))
  }

  /** Chunk-containment evidence of a new batch against a
    * [[chunkWriteBucketed]] index: `(batch_id, corpus_id, containment)` for
    * every batch/corpus pair where `containment` — the fraction of the batch
    * payload's DISTINCT chunk fps present among the indexed payload's fps —
    * reaches `threshold`. An identical payload scores exactly 1.0 against
    * its indexed source; a payload extended with a tail keeps every complete
    * chunk before the edit (chunking is prefix-deterministic), which is the
    * CDC property the whole family exists for. Chunking parameters come from
    * `<table>_meta`, never the caller.
    *
    * Zero-chunk batch payloads (empty media) emit no pairs — containment is
    * undefined, the caller's survivor anti-join keeps them.
    *
    * Containment is computed over distinct fps, so a highly repetitive
    * payload (one chunk content repeated) concentrates into few distinct fps
    * and a tail edit can swing the ratio more than its byte share — the
    * multiset refinement would need per-fp counts in the index; documented,
    * not built (repetitive payloads are what [[graft.operators.TextAnalysis]]
    * quality gates remove upstream).
    *
    * `maxPostings` caps a chunk fp's index posting list (a ubiquitous chunk
    * — a zero run, a shared header — would otherwise fan every batch row
    * out to the whole corpus): the cap groupBy runs on the bucketing key, so
    * it costs no exchange, exactly like the other families' skew caps.
    * Only batch-sized data shuffles; the index is read pre-bucketed.
    */
  def chunkPairsIncremental(batch: DataFrame, table: String, idCol: String,
      payloadCol: String, threshold: Double,
      maxPostings: Int = Int.MaxValue): DataFrame = {
    val spark = batch.sparkSession
    val (minSize, maxSize, maskBits) = chunkIndexMeta(spark, table)
    // the batch denominator |distinct fps| is the fp array's size, read in
    // the same row BEFORE the explode — no window, no exchange
    val bfp = chunkFingerprints(batch, idCol, payloadCol, minSize, maxSize,
        maskBits)
      .select(col(idCol).as("id"),
        array_distinct(transform(col("chunks"), c => c.getField("fp")))
          .as("_fps"))
      .select(col("id"), size(col("_fps")).as("_n"),
        explode(col("_fps")).as("chunk_fp"))
    val index = graft.sources.Sources.capBuckets(spark.table(table), Seq("chunk_fp"),
      maxPostings)
    // countDistinct, not count: an accreted index (replayed appends before
    // the next compaction) duplicates (chunk_fp, id) rows, and a plain count
    // would push containment past 1.0 — the probe stays correct under
    // accretion, compaction remains purely a scan-width matter
    bfp.join(index.withColumnRenamed("id", "corpus_id"), Seq("chunk_fp"))
      .groupBy(col("id").as("batch_id"), col("corpus_id"))
      .agg(countDistinct(col("chunk_fp")).as("_shared"), max(col("_n")).as("_nb"))
      .filter(col("_shared") >= col("_nb") * threshold)
      .select(col("batch_id"), col("corpus_id"),
        (col("_shared").cast("double") / col("_nb")).as("containment"))
  }

  /** Append new payloads' chunk fps to a [[chunkWriteBucketed]] index in
    * place (parameters from `<table>_meta`, same bucket layout), so the next
    * [[chunkPairsIncremental]] batch probes the original corpus plus every
    * earlier batch's survivors. Replayed appends accrete duplicate rows;
    * [[Dedup.compactIndex]] collapses them (full-row distinct — many ids
    * legitimately share a chunk fp, this is an evidence table).
    */
  def chunkAppendToIndex(media: DataFrame, table: String, idCol: String,
      payloadCol: String): Unit = {
    val (minSize, maxSize, maskBits) = chunkIndexMeta(media.sparkSession, table)
    graft.sources.Sources.appendBucketed(
      chunkFpRows(media, idCol, payloadCol, minSize, maxSize, maskBits), table)
  }
}
