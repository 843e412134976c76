package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Changelog (CDC) replay — the offline analog of the reference's
  * mysql-cdc-backed tables (AbstractBasicTest.java:179-187): the reference
  * demonstrates its security rewrite on a table whose rows arrive as a
  * change stream, delegating the log-to-state materialization to Flink's
  * connector. Here the rewrite already applies unchanged (policy injection
  * is plan-level and source-agnostic); these operators supply the
  * materialization itself — turning a (key, seq, op, payload) change log
  * into the current-state table a query reads — so a changelog-shaped
  * source gets first-class batch AND streaming treatment without a live
  * database.
  *
  * Scale: materialization is ONE key-partitioned exchange with map-side
  * partial `max_by`, so the wire carries one (key, seq, payload) pair per
  * key per task — never the log. The textbook form, a window `row_number()
  * OVER (PARTITION BY key ORDER BY seq DESC)`, shuffles EVERY log row and
  * then sorts each key's full history. Physically the aggregate is a
  * SortAggregate (a struct-valued max_by buffer is not UnsafeRow-mutable,
  * so HashAggregate cannot apply): each input split spill-sorts by the
  * grouping key locally before partial aggregation, and the post-exchange
  * sort sees only the per-task partials. We keep the declarative form
  * rather than an ObjectHashAggregate TypedImperativeAggregate because the
  * latter falls back to sort-based past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
  * 128) distinct keys per partition — a changelog has millions. The same
  * aggregate runs unmodified as a Structured Streaming Complete-mode
  * query, giving the continuously-maintained state table
  * ([[graft.streaming.StreamOps.runToMemory]] drains it for the parity
  * gate).
  *
  * Determinism contract: the `seqCols` tuple must be unique per key (a
  * commit timestamp plus a log sequence number, as in any real CDC feed);
  * ties would make "latest" engine-dependent.
  */
object ChangeLog {

  private def seqStruct(seqCols: Seq[String]): Column =
    struct(seqCols.map(col): _*)

  /** Latest log row per key as one struct — shared kernel of
    * [[materialize]] and [[compact]].
    */
  private def latestPerKey(log: DataFrame, keyCol: String,
      seqCols: Seq[String], opCol: String,
      valueCols: Seq[String]): DataFrame =
    log.groupBy(col(keyCol))
      .agg(max_by(struct((opCol +: valueCols).map(col): _*),
        seqStruct(seqCols)).as("_last"))

  /** Current visible state of a changelog: per key, the payload of the row
    * with the greatest `seqCols` tuple; keys whose latest op is `deleteOp`
    * are absent (the delete won). Output: (`keyCol`, `valueCols`*).
    */
  def materialize(log: DataFrame, keyCol: String, seqCols: Seq[String],
      opCol: String, valueCols: Seq[String],
      deleteOp: String = "D"): DataFrame =
    latestPerKey(log, keyCol, seqCols, opCol, valueCols)
      .filter(col(s"_last.$opCol") =!= deleteOp)
      .select(col(keyCol) +: valueCols.map(c => col(s"_last.$c").as(c)): _*)

  /** State as of a point in the log: rows with `seqCols.head` <= `asOf`
    * replayed through [[materialize]] — time travel over the changelog.
    * The bound lands in the scan's PushedFilters, so historical replays
    * prune the log at the source.
    */
  def stateAsOf(log: DataFrame, keyCol: String, seqCols: Seq[String],
      opCol: String, valueCols: Seq[String], asOf: Column,
      deleteOp: String = "D"): DataFrame =
    materialize(log.filter(col(seqCols.head) <= asOf), keyCol, seqCols,
      opCol, valueCols, deleteOp)

  /** Kafka-style log compaction: the latest row per key INCLUDING deletes
    * (a replayer still needs the tombstone to know the key died). Output:
    * (`keyCol`, `opCol`, `valueCols`*) — replaying this compacted log
    * through [[materialize]] yields the same state as replaying the full
    * log, at one row per ever-seen key.
    */
  def compact(log: DataFrame, keyCol: String, seqCols: Seq[String],
      opCol: String, valueCols: Seq[String]): DataFrame =
    latestPerKey(log, keyCol, seqCols, opCol, valueCols)
      .select(col(keyCol) +:
        (opCol +: valueCols).map(c => col(s"_last.$c").as(c)): _*)

  /** Derive a changelog from two snapshots of the same table — the inverse
    * of [[materialize]], and the Flink-retract-stream bridge: emit 'I' for
    * keys only in `next` (payload = next), 'D' for keys only in `prev`
    * (payload = the dying row, as Flink's -D carries it), 'U' for keys in
    * both whose payload differs null-safely. Unchanged keys emit nothing.
    * CONTRACT (here and in [[fromSnapshotsFull]]): `keyCol` is unique
    * within each snapshot — it is the CDC primary key; a duplicated key
    * would multiply through the full-outer join and emit phantom changes.
    * Replaying [[fromSnapshots]](a, b) over state a via [[materialize]]
    * reproduces state b — the spec pins that round trip.
    *
    * Scale: same join class as [[Snapshot.corpusDiff]] — two narrow
    * key+payload streams full-outer-joined on the key; with both snapshots
    * bucketed by key the exchange disappears.
    */
  /** [[fromSnapshots]] with BOTH row images — the Debezium before/after
    * shape: per change, `op` plus `<c>_before` and `<c>_after` for every
    * value column ('I' rows have null befores, 'D' rows null afters, 'U'
    * rows both). This is the changelog shape incremental AGGREGATE
    * maintenance needs: an update can only be applied to a standing
    * aggregate by retracting the old image and adding the new one, and the
    * single-image [[fromSnapshots]] form cannot say what to retract.
    */
  def fromSnapshotsFull(prev: DataFrame, next: DataFrame, keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    val p = prev.select(col(keyCol).as("_pk") +:
      valueCols.map(c => col(c).as(s"_p_$c")): _*)
    val n = next.select(col(keyCol).as("_nk") +:
      valueCols.map(c => col(c).as(s"_n_$c")): _*)
    val pPay = struct(valueCols.map(c => col(s"_p_$c")): _*)
    val nPay = struct(valueCols.map(c => col(s"_n_$c")): _*)
    p.join(n, col("_pk") === col("_nk"), "full_outer")
      .withColumn("op",
        when(col("_pk").isNull, "I")
          .when(col("_nk").isNull, "D")
          .when(!(pPay <=> nPay), "U"))
      .filter(col("op").isNotNull)
      .select(coalesce(col("_nk"), col("_pk")).as(keyCol) +: col("op") +:
        (valueCols.map(c => col(s"_p_$c").as(s"${c}_before")) ++
          valueCols.map(c => col(s"_n_$c").as(s"${c}_after"))): _*)
  }

  /** A grouped distributive-aggregate STATE table — `(groupCol, n_rows,
    * sum_<c> per aggCol)` — the standing side [[applyAggDeltas]] maintains.
    * At scale this persists bucketed by `groupCol`, so every later delta
    * application joins exchange-free on the state side.
    */
  def aggState(df: DataFrame, groupCol: String,
      aggCols: Seq[String]): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        aggCols.map(c => sum(col(c).cast("long")).as(s"sum_$c")): _*)

  /** Per-group aggregate DELTAS from a [[fromSnapshotsFull]] changelog —
    * the retract-stream decomposition (every 'U' is a -old/+new pair, 'I'
    * is +new, 'D' is -old), folded to one `(groupCol, d_rows, d_<c>)` row
    * per touched group. A row MOVING between groups maintains both sides
    * naturally (-1 in the old group, +1 in the new). The shuffle carries
    * signed change rows — CHANGE-sized, never base-table-sized — which is
    * the whole point of incremental view maintenance: refreshing a 100 TB
    * table's aggregate after a million-row change batch costs work
    * proportional to the batch.
    */
  def aggDeltas(changes: DataFrame, opCol: String, groupCol: String,
      aggCols: Seq[String]): DataFrame = {
    val retract = changes.filter(col(opCol).isin("D", "U"))
      .select(lit(-1L).as("_sign") +:
        col(s"${groupCol}_before").as(groupCol) +:
        aggCols.map(c => col(s"${c}_before").as(c)): _*)
    val add = changes.filter(col(opCol).isin("I", "U"))
      .select(lit(1L).as("_sign") +:
        col(s"${groupCol}_after").as(groupCol) +:
        aggCols.map(c => col(s"${c}_after").as(c)): _*)
    retract.unionAll(add).groupBy(col(groupCol))
      .agg(sum(col("_sign")).as("d_rows"),
        aggCols.map(c =>
          sum(col(c).cast("long") * col("_sign")).as(s"d_$c")): _*)
  }

  /** Persist an [[aggState]] table BUCKETED by the group key — the
    * standing side of continuous maintenance
    * ([[graft.streaming.StreamOps.streamingAggMaintain]]): every delta
    * application joins it exchange-free, and the rewrite-and-swap refresh
    * keeps the same layout (spec read back from the catalog).
    */
  def aggStateWriteBucketed(df: DataFrame, table: String, groupCol: String,
      aggCols: Seq[String], numBuckets: Int = 16): Unit = {
    val spark = df.sparkSession
    graft.sources.Sources.dropForOverwrite(spark, table)
    graft.sources.Sources.writeBucketed(
      aggState(df, groupCol, aggCols), table, Seq(groupCol), numBuckets)
  }

  /** Widen a persisted [[aggStateWriteBucketed]] table for columns that
    * appeared mid-log (CDC schema evolution): each missing `sum_<c>` is
    * added as 0 and the state rewrites in its existing bucket layout via
    * the staged-swap discipline. 0 is the CORRECT backfill, not a
    * placeholder: a column added by DDL is null on every pre-existing row
    * (MySQL ADD COLUMN semantics — rows that later receive values do so
    * through logged UPDATEs, which the delta path then applies), and this
    * family aggregates null as 0 end-to-end ([[aggDeltas]] multiplies
    * before summing so nulls drop; [[applyAggDeltas]] coalesces both
    * sides). State-sized (|groups| rows), like every refresh here; no-op
    * when nothing is missing.
    */
  def widenAggState(spark: org.apache.spark.sql.SparkSession,
      stateTable: String, aggCols: Seq[String]): Unit = {
    val spec = graft.sources.Sources.bucketSpecOf(spark, stateTable)
    val state = spark.table(stateTable)
    val missing = aggCols.filterNot(c => state.columns.contains(s"sum_$c"))
    if (missing.nonEmpty) {
      val widened = missing.foldLeft(state)((df, c) =>
          df.withColumn(s"sum_$c", lit(0L)))
        .localCheckpoint(eager = true) // reads the table the swap replaces
      val staged = s"${stateTable}_staged"
      graft.sources.Sources.dropForOverwrite(spark, staged)
      graft.sources.Sources.writeBucketed(widened, staged,
        spec.bucketColumnNames, spec.numBuckets)
      graft.sources.Sources.swapStaged(spark, staged, stateTable)
    }
  }

  /** Narrow a persisted [[aggStateWriteBucketed]] table after a mid-log
    * COLUMN DROP: every `sum_<c>` whose column is no longer in `keepAggCols`
    * is removed and the state rewrites in its bucket layout via the staged
    * swap. Dropping (not freezing) is the fail-closed choice: once the
    * column leaves the change feed, retractions for previously counted
    * values can never arrive, so a retained sum would silently drift from
    * every possible recompute — an aggregate that can no longer be
    * maintained exactly must leave the state. `n_rows` and the surviving
    * sums stay exact. No-op when nothing is stale.
    */
  def narrowAggState(spark: org.apache.spark.sql.SparkSession,
      stateTable: String, keepAggCols: Seq[String]): Unit = {
    val spec = graft.sources.Sources.bucketSpecOf(spark, stateTable)
    val state = spark.table(stateTable)
    val stale = state.columns.filter(_.startsWith("sum_"))
      .map(_.stripPrefix("sum_")).filterNot(keepAggCols.contains)
    if (stale.nonEmpty) {
      val narrowed = state.drop(stale.map(c => s"sum_$c").toIndexedSeq: _*)
        .localCheckpoint(eager = true) // reads the table the swap replaces
      val staged = s"${stateTable}_staged"
      graft.sources.Sources.dropForOverwrite(spark, staged)
      graft.sources.Sources.writeBucketed(narrowed, staged,
        spec.bucketColumnNames, spec.numBuckets)
      graft.sources.Sources.swapStaged(spark, staged, stateTable)
    }
  }

  /** One maintenance step against a persisted [[aggStateWriteBucketed]]
    * table: fold the change batch to deltas, apply, rewrite the state
    * under a staged name in the SAME bucket layout and swap — the
    * recoverable-rename discipline every index actuator uses, so a crash
    * mid-refresh always leaves a complete state one RENAME away. The
    * rewrite is state-sized (|groups| rows — the AGGREGATE, not the base
    * table), the join is exchange-free on the bucketed side, and
    * everything else is change-sized.
    */
  def maintainAggTable(changes: DataFrame, stateTable: String, opCol: String,
      groupCol: String, aggCols: Seq[String]): Unit = {
    val spark = changes.sparkSession
    val spec = graft.sources.Sources.bucketSpecOf(spark, stateTable)
    val next = applyAggDeltas(spark.table(stateTable),
        aggDeltas(changes, opCol, groupCol, aggCols), groupCol, aggCols)
      // EAGER: the new state reads the table the swap below replaces — it
      // must be materialized before the old state moves aside
      .localCheckpoint(eager = true)
    val staged = s"${stateTable}_staged"
    graft.sources.Sources.dropForOverwrite(spark, staged)
    graft.sources.Sources.writeBucketed(next, staged,
      spec.bucketColumnNames, spec.numBuckets)
    graft.sources.Sources.swapStaged(spark, staged, stateTable)
  }

  /** Apply [[aggDeltas]] to a standing [[aggState]] table WITHOUT touching
    * the base data: full-outer join on the group, add counts and sums,
    * drop groups whose row count reaches zero (a died group leaves the
    * state). Maintained state == recomputed state for any distributive
    * aggregate — spec-pinned, and `cdc_agg_maintain` oracles the full
    * snapshot-diff → retract → apply chain against a DuckDB recompute.
    */
  def applyAggDeltas(state: DataFrame, deltas: DataFrame, groupCol: String,
      aggCols: Seq[String]): DataFrame =
    state.join(deltas, Seq(groupCol), "full_outer")
      .select(col(groupCol) +:
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L)))
          .as("n_rows") +:
        aggCols.map(c =>
          (coalesce(col(s"sum_$c"), lit(0L)) + coalesce(col(s"d_$c"), lit(0L)))
            .as(s"sum_$c")): _*)
      .filter(col("n_rows") > 0)

  def fromSnapshots(prev: DataFrame, next: DataFrame, keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    val p = prev.select(col(keyCol).as("_pk") +:
      valueCols.map(c => col(c).as(s"_p_$c")): _*)
    val n = next.select(col(keyCol).as("_nk") +:
      valueCols.map(c => col(c).as(s"_n_$c")): _*)
    val pPay = struct(valueCols.map(c => col(s"_p_$c")): _*)
    val nPay = struct(valueCols.map(c => col(s"_n_$c")): _*)
    p.join(n, col("_pk") === col("_nk"), "full_outer")
      .withColumn("op",
        when(col("_pk").isNull, "I")
          .when(col("_nk").isNull, "D")
          .when(!(pPay <=> nPay), "U"))
      .filter(col("op").isNotNull)
      .select(coalesce(col("_nk"), col("_pk")).as(keyCol) +: col("op") +:
        valueCols.map(c =>
          when(col("op") === "D", col(s"_p_$c"))
            .otherwise(col(s"_n_$c")).as(c)): _*)
  }
}
