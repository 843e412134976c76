package graft.operators

import graft.SparkFunSuite
import graft.sources.Sources
import org.apache.spark.sql.DataFrame

/** The shared persisted-index helpers beside [[Sources.writeBucketed]]
  * ([[Sources.bucketSpecOf]], [[Sources.appendBucketed]],
  * [[Sources.writeIndexMeta]] / [[Sources.indexMeta]]) across the index
  * families no other spec both appends to and compacts through
  * [[Dedup.compactIndex]]: a replayed append keeps the catalog layout and
  * accretes, compaction restores one row per key in the same layout, and
  * the probe cannot tell the difference.
  */
class IndexLayoutSpec extends SparkFunSuite {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps\n\ncookie banner accept all cookies"),
    (2L, "a different opening line here\n\ncookie banner accept all cookies"),
    (3L, "license text copyright reserved\n\nunique closing words only"))

  private val increment = Seq(
    (10L, "fresh paragraph about nothing\n\nlicense text copyright reserved"),
    (11L, "another fresh one entirely new"))

  private val probeBatch = Seq(
    (20L, "license text copyright reserved\n\nfresh paragraph about nothing\n\nbrand new words"),
    (21L, "another fresh one entirely new"),
    (22L, "nothing like the rest at all"))

  private def docs(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")

  /** One persisted-index family: its build, its append and its probe. */
  private final case class Family(table: String, metaColumns: Option[Seq[String]],
      build: (DataFrame, String) => Unit, append: (DataFrame, String) => Unit,
      probe: (DataFrame, String) => DataFrame)

  private val families = Seq(
    // qualified: the catalog lookup must parse the name, not wrap it
    Family("default.ixl_para", None,
      (df, t) => Dedup.paragraphWriteBucketed(df, t, "doc_id", "text", numBuckets = 4),
      (df, t) => Dedup.paragraphAppendToIndex(df, t, "doc_id", "text"),
      (df, t) => Dedup.dedupParagraphsIncremental(df, t, "doc_id", "text")),
    Family("ixl_exact", None,
      (df, t) => Dedup.exactWriteBucketed(df, t, "doc_id", "text", numBuckets = 4),
      (df, t) => Dedup.exactAppendToIndex(df, t, "doc_id", "text"),
      (df, t) => Dedup.exactDedupIncremental(df, t, "doc_id", "text")),
    Family("ixl_span", Some(Seq("window_tokens")),
      (df, t) => Dedup.spanWriteBucketed(df, t, "doc_id", "text",
        windowTokens = 3, numBuckets = 4),
      (df, t) => Dedup.spanAppendToIndex(df, t, "doc_id", "text"),
      (df, t) => Dedup.dedupSpansIncremental(df, t, "doc_id", "text")))

  private def dropDebris(table: String): Unit =
    Seq(table, s"${table}_meta", s"${table}_compact", s"${table}_old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  for (f <- families) test(s"${f.table}: a replayed append accretes in the catalog layout, compaction restores it, the probe is unchanged") {
    dropDebris(f.table)
    try {
      f.build(docs(corpus), f.table)
      val spec = Sources.bucketSpecOf(spark, f.table)
      assert(spec.numBuckets == 4)
      // the meta row holds build parameters only; the layout is the catalog's
      f.metaColumns.foreach(cols =>
        assert(Sources.indexMeta(spark, f.table).schema.fieldNames.toSeq == cols))
      f.append(docs(increment), f.table)
      f.append(docs(increment), f.table)
      assert(Sources.bucketSpecOf(spark, f.table) == spec)
      assert(Dedup.indexAccretion(spark, f.table) > 1.0)
      def probe() = f.probe(docs(probeBatch), f.table).collect().map(_.toSeq).toSet
      val before = probe()
      Dedup.compactIndex(spark, f.table)
      assert(math.abs(Dedup.indexAccretion(spark, f.table) - 1.0) < 0.05)
      assert(Sources.bucketSpecOf(spark, f.table) == spec)
      assert(probe() == before && before.nonEmpty)
    } finally dropDebris(f.table)
  }
}
