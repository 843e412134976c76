package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.types.StructType

/** Batch + streaming connectors (SURVEY §2.B rows "Source" / "Sink").
  *
  * The reference's only connectors are a mysql-cdc streaming source and a
  * `print` sink (AbstractBasicTest.java:167-253); the security layer is
  * connector-agnostic in both engines. Here the same surface is Spark's
  * DataSource API, with the options that matter at 100 TB spelled out:
  *
  *  - every reader takes an EXPLICIT schema where the format cannot carry one
  *    (csv/json): schema inference is a full extra pass over the data before
  *    the real scan — never at scale;
  *  - the jdbc reader is partitioned (one executor per key range), the batch
  *    analog of the reference's CDC source — an unpartitioned jdbc read is a
  *    single-threaded fetch through one connection;
  *  - the bucketed writer pre-shuffles once at write time so every later
  *    equi-join/agg on the bucket key is exchange-free (worth it for tables
  *    joined repeatedly; verified by plan inspection in SourcesSpec).
  */
object Sources {

  // --- batch sources ---

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV with explicit schema (no inference pass). */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("sep", delimiter)
      .csv(path)

  /** Line-delimited JSON with explicit schema (schema-on-read; unlisted
    * fields are pruned at the scan, not after).
    */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC read (the second columnar format Spark bundles; same pushdown and
    * pruning machinery as parquet — PushedFilters/ReadSchema apply).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Partitioned JDBC read: numPartitions concurrent range scans on
    * partitionCol in [lower, upper]. The batch analog of the reference's
    * mysql-cdc source (AbstractBasicTest.java:179-187). Untestable offline —
    * config shim over spark.read.jdbc, no logic of its own.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
      partitionCol: String, lower: Long, upper: Long, numPartitions: Int,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, partitionCol, lower, upper, numPartitions, props)

  // --- batch sinks ---

  /** Parquet write, optionally hive-partitioned by low-cardinality columns
    * (enables static + dynamic partition pruning for readers).
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** ORC write, optionally hive-partitioned (same pruning semantics as
    * [[writeParquet]]).
    */
  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Drop a managed table AND its warehouse directory: SaveMode.Overwrite
    * alone leaves stale bucket files behind when the table was dropped
    * through the catalog but not the filesystem.
    */
  def dropForOverwrite(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, table.split("\\.").last)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Swap a staged table into the live name with a RECOVERABLE intermediate
    * at every step: live renames aside to `<table>_old`, staged renames to
    * live, then the set-aside copy drops. Individual catalog statements are
    * atomic but the sequence is not — the point of this ordering is that a
    * crash between ANY two statements leaves a complete table addressable
    * by one manual RENAME (either `<table>_old` or the already-promoted
    * live), never a window where the index has vanished and only a staged
    * copy exists under a name probes don't read. Matters because index
    * maintenance (compaction, rebuild) is auto-triggered by accretion
    * monitors and runs unattended.
    */
  def swapStaged(spark: SparkSession, staged: String, table: String): Unit = {
    val old = s"${table}_old"
    dropForOverwrite(spark, old) // debris from a previous crashed swap
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $staged RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
  }

  /** Bucketed managed table: pre-shuffled on `bucketCols` at write time, so
    * equi-joins and aggregations between tables bucketed the same way plan
    * with NO Exchange. Buckets ~= target parallelism at the data's full scale.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** The catalog's bucket spec of `table` — the one source of a persisted
    * index's layout. Parse, don't wrap: a qualified name like "db.idx" must
    * resolve as a 2-part identifier (TableIdentifier(raw) would look up
    * "`db.idx`").
    */
  def bucketSpecOf(spark: SparkSession, table: String): BucketSpec =
    spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.getOrElse(throw new IllegalArgumentException(
        s"$table is not a bucketed table"))

  /** Append `rows` to a [[writeBucketed]] table in its own layout (bucket
    * columns and count from [[bucketSpecOf]]), so an append can never be
    * laid out differently from the table it lands in.
    */
  def appendBucketed(rows: DataFrame, table: String): Unit = {
    val spec = bucketSpecOf(rows.sparkSession, table)
    writeBucketed(rows, table, spec.bucketColumnNames, spec.numBuckets, SaveMode.Append)
  }

  /** Replace the one-row `<table>_meta` of a persisted index with `params`
    * (name -> Int/Double/String value): the build parameters every probe
    * and append re-reads through [[indexMeta]], so an increment can never
    * be processed differently from its index. The layout is not a
    * parameter: it lives in the catalog ([[bucketSpecOf]]).
    */
  def writeIndexMeta(spark: SparkSession, table: String, params: (String, Any)*): Unit = {
    import org.apache.spark.sql.functions.lit
    val meta = s"${table}_meta"
    dropForOverwrite(spark, meta)
    spark.range(0, 1, 1, 1).select(params.map { case (k, v) => lit(v).as(k) }: _*)
      .write.mode(SaveMode.Overwrite).saveAsTable(meta)
  }

  /** The `<table>_meta` row [[writeIndexMeta]] wrote. */
  def indexMeta(spark: SparkSession, table: String): Row =
    spark.table(s"${table}_meta").head()

  /** Skew guard of every bucket-keyed candidate join: drop `rows` whose
    * bucket — the given key columns — holds more than `maxBucket` rows.
    * Aggregate + left-semi join-back: the groupBy partially aggregates
    * map-side, so its shuffle carries one row per BUCKET, and over a table
    * bucketed on `keys` both the count and the join-back run
    * bucketing-aligned — no exchange on that side at all.
    * `maxBucket >= Int.MaxValue` skips the machinery entirely —
    * oracle-parity runs pay no tautological join.
    */
  def capBuckets(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket >= Int.MaxValue) rows
    else {
      import org.apache.spark.sql.functions.{col, count, lit}
      val ok = rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
        .filter(col("_n") <= maxBucket).select(keys.map(col): _*)
      rows.join(ok, keys, "left_semi")
    }

  /** Range-clustered parquet layout: repartitionByRange on `clusterCols`
    * into `files` output files, sorted within each — every file owns a
    * disjoint key range and its parquet row groups are internally ordered,
    * so downstream range scans prune whole files via footer min/max stats
    * and point lookups touch ~1 file. The write costs one range-exchange
    * (sampled boundaries); at 100 TB that one-time shuffle is what makes
    * every later scan of the curated corpus skip instead of read.
    */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
      files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    require(files > 0, s"files must be positive, got $files")
    df.repartitionByRange(files, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** `INSERT INTO t SELECT ...` equivalent (positional resolution, same as
    * the reference's INSERT path, RewriteRowFilterTest.java:484-541).
    */
  def insertInto(df: DataFrame, table: String): Unit =
    df.write.insertInto(table)

  // --- streaming ---

  /** Streaming parquet-directory source with explicit schema. */
  def parquetStream(spark: SparkSession, dir: String, schema: StructType,
      globFilter: Option[String] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    globFilter.foreach(g => r.option("pathGlobFilter", g))
    r.parquet(dir)
  }

  /** The reference's `print` sink (AbstractBasicTest.java:239-253):
    * console for streams.
    */
  def printSink(df: DataFrame, numRows: Int = 20): Unit =
    if (df.isStreaming) {
      val q = df.writeStream.format("console")
        .option("numRows", numRows.toString).start()
      try q.processAllAvailable() finally q.stop()
    } else df.show(numRows, truncate = false)
}
