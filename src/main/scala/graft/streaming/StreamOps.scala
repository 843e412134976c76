package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode,
  StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Spark 4 ARBITRARY-STATE processor (the `transformWithState` operator —
  * the typed-state successor of flatMapGroupsWithState: named state
  * variables, optional TTL/timers, RocksDB-only): a running per-key
  * (row count, exact cents total). Emits one `(key, n, cents)` row per
  * key per micro-batch AFTER folding the batch in, so the counter is
  * strictly monotone per key and the FINAL total is recoverable from the
  * accumulated update-mode emissions as the max-n row — batching-invariant,
  * which is what makes the operator DuckDB-oracle-able. Values are folded
  * in integer cents (exact), never floating point: the emission totals are
  * bit-identical regardless of arrival order.
  */
class RunningTotalsProcessor
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var st: ValueState[(Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[(Long, Long)]("totals",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, cents) = if (st.exists()) st.get() else (0L, 0L)
    rows.foreach { case (_, c) => n += 1; cents += c }
    st.update((n, cents))
    Iterator.single((key, n, cents))
  }
}

/** TIMER flavor of the arbitrary-state API: a gap sessionizer whose
  * sessions are closed by an EVENT-TIME TIMER — the third leg of
  * transformWithState (ValueState, MapState, timers) and the third
  * sessionizer engine here (flatMapGroupsWithState, Catalyst
  * session_window, and typed state + timers). Inclusive floor-seconds gap,
  * batch rows merged per key by the interval [[WatermarkSessionizeProcessor.sweep]].
  *
  * WATERMARK-PACED: the processor holds ALL intervals in a per-key
  * ListState and emits an interval only once the event-time watermark
  * passes `end + gap` — at which point no admissible event can extend or
  * precede-within-gap it (an admitted event has ts >= the late-record
  * watermark, which is at or above the eviction watermark of some earlier
  * batch; the flush test is strict, so ts <= end+gap < wm is impossible).
  * That is exactly how Catalyst's native session_window paces emission,
  * and the argument holds at ANY watermark delay, 0 s included, so the
  * processor is exact for every admitted event whatever the delay. State
  * per key is bounded by the sessions inside one watermark lag — the
  * inherent minimum for watermark-honest sessionization at any scale.
  *
  * One flush timer per key, armed at the EARLIEST unflushed `end + gap`
  * (clamped above the current watermark — a registration at-or-below the
  * watermark would never fire or fire immediately against a stale end);
  * re-armed on every fold and every fire, so a quiet key still drains as
  * the watermark advances.
  *
  * Input (userId, epochSec, eventTs) — the timestamp column carries the
  * watermark through the typed select; output (userId, start, end, n).
  */
class WatermarkSessionizeProcessor(gapSeconds: Long)
    extends StatefulProcessor[Long, (Long, Long, java.sql.Timestamp),
      (Long, Long, Long, Long)] {
  @transient private var ivls: ListState[(Long, Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    ivls = getHandle.getListState[(Long, Long, Long)]("ivls",
      Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
  }
  /** Emit what the watermark has sealed, keep + re-time the rest.
    *
    * `consumed`: the firing timer on the timer path, where `merged` IS the
    * stored list (no new events folded in). When additionally nothing
    * sealed, the clear-and-put would rewrite an identical interval list,
    * so it is skipped and only the consumed timer re-armed. MEASURED
    * (r17 A/B, PLANS.md): under the arming invariant below this quiet
    * case is structurally absent — the single timer sits at the EARLIEST
    * unflushed end+gap clamped above the watermark, so by the time it
    * fires the watermark has passed that seal point and the firing always
    * seals >= 1 interval (identical state-store bytes with the skip forced
    * off, sf0.1 and sf1). The skip therefore costs nothing and guards only
    * engine-initiated firings outside the invariant (e.g. replayed timers
    * after restart). The remaining per-batch rewrite is O(kept) per
    * ACTIVE key only — the inherent ListState compaction cost, bounded by
    * the sessions inside one watermark lag; if production traces ever show
    * it dominating, the escalation path is interval-keyed MapState point
    * writes (the DistinctValuesProcessor rationale).
    */
  private def flush(merged: Seq[(Long, Long, Long)], wmMs: Long,
      consumed: Option[Long]): Iterator[(Long, Long, Long)] = {
    val (closed, kept) = merged.partition { case (_, e, _) =>
      WatermarkSessionizeProcessor.isSealed(e, gapSeconds, wmMs) }
    if (!(closed.isEmpty && consumed.isDefined)) {
      ivls.clear()
      if (kept.nonEmpty) ivls.put(kept.toArray)
    }
    // the timer is single (earliest unflushed end+gap, clamped above the
    // watermark) and may sit earlier than the new earliest seal point —
    // delete-and-re-arm; a timer write is one fixed-size entry, not the
    // interval list. The firing timer is left alone: the engine deletes it
    // after this handler returns, and deleting it here too names a timer
    // that no longer exists
    getHandle.listTimers().filterNot(consumed.contains).foreach(getHandle.deleteTimer)
    if (kept.nonEmpty) {
      val next = kept.map { case (_, e, _) => (e + gapSeconds) * 1000L + 1L }.min
      getHandle.registerTimer(math.max(next, wmMs + 1L))
    }
    closed.iterator
  }
  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    val prior = if (ivls.exists()) ivls.get().toSeq else Nil
    val merged = WatermarkSessionizeProcessor.sweep(
      prior ++ rows.map(r => (r._2, r._2, 1L)), gapSeconds)
    flush(merged, timerValues.getCurrentWatermarkInMs(), consumed = None)
      .map { case (s, e, n) => (key, s, e, n) }
  }
  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Long, Long)] = {
    val prior = if (ivls.exists()) ivls.get().toSeq else Nil
    flush(prior, timerValues.getCurrentWatermarkInMs(),
      consumed = Some(expiredTimerInfo.getExpiryTimeInMs()))
      .map { case (s, e, n) => (key, s, e, n) }
  }
}

object WatermarkSessionizeProcessor {
  /** The pure gaps-and-islands interval sweep: merge (start, end, n)
    * intervals whose gaps are within `gapSeconds`, in start order. Stored
    * intervals take part as intervals, not as an "everything merges
    * rightward" anchor, so an out-of-order event EARLIER than an interval
    * is handled honestly: within gap it merges and LOWERS the start; beyond
    * gap it forms its own island.
    */
  def sweep(intervals: Seq[(Long, Long, Long)],
      gapSeconds: Long): List[(Long, Long, Long)] =
    intervals.sortBy(_._1).foldLeft(List.empty[(Long, Long, Long)]) {
      case ((ps, pe, pn) :: rest, (s, e, n)) if s - pe <= gapSeconds =>
        (ps, math.max(pe, e), pn + n) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** True iff the watermark has SEALED the interval — no admissible event
    * (ts at or above the watermark) can extend or precede-within-gap it.
    * STRICT inequality: an event exactly AT end+gap still merges, so
    * equality keeps the interval open one more firing. The completeness
    * argument in the class scaladoc depends on this direction.
    */
  def isSealed(endSec: Long, gapSeconds: Long, wmMs: Long): Boolean =
    (endSec + gapSeconds) * 1000L < wmMs
}

/** MapState sibling of [[RunningTotalsProcessor]]: per-key DISTINCT-value
  * counting with the seen set as a keyed MapState — at scale the set lives
  * in RocksDB as individual map entries (point writes, no
  * read-modify-write of a serialized blob, which is what makes MapState
  * the right shape for large per-key sets). The running count lives in a
  * companion ValueState[Long] incremented on each first-insert, so the
  * per-batch emission is O(batch) point reads + ONE value read — never an
  * O(|seen|) scan of the map (iterating `seen.keys()` each batch would be
  * quadratic over a key's lifetime, defeating the point-write rationale
  * for MapState). Emits the running distinct count per batch; monotone,
  * so max = the batch COUNT(DISTINCT).
  */
class DistinctValuesProcessor
    extends StatefulProcessor[Long, (Long, String), (Long, Long)] {
  @transient private var seen: MapState[String, Boolean] = _
  @transient private var count: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    seen = getHandle.getMapState[String, Boolean]("seen",
      Encoders.STRING, Encoders.scalaBoolean, TTLConfig.NONE)
    count = getHandle.getValueState[Long]("count",
      Encoders.scalaLong, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    // state-schema migration: a checkpoint written BEFORE the companion
    // counter existed restores a populated `seen` map with no `count` state;
    // seeding from zero would under-report forever. Pay the one-time
    // O(|seen|) key scan on first touch after such a restore — every later
    // batch is back on the O(1) counter path. (Fresh keys also hit this
    // branch with an empty map: size 0 == the old seed, no cost.)
    var c = if (count.exists()) count.get() else seen.keys().size.toLong
    rows.foreach { case (_, v) =>
      if (!seen.containsKey(v)) { seen.updateValue(v, true); c += 1 }
    }
    count.update(c)
    Iterator.single((key, c))
  }
}

/** ListState leg of the arbitrary-state API (the FOURTH state shape after
  * ValueState, MapState, and timers): a per-key trailing-window event
  * counter whose state is the buffer of epochs still inside the window —
  * the bounded-buffer pattern (recent-events CEP, trailing rate limits,
  * sliding features) that neither a ValueState blob nor a MapState set
  * expresses naturally. Per key-batch: ONE ListState read, an in-memory
  * merge-and-sweep, ONE write-back of the surviving suffix — entries older
  * than `window` before the newest epoch are EVICTED, so state per key is
  * bounded by the window span regardless of stream length (the property
  * that keeps this runnable at 100 TB).
  *
  * Emits `(key, te, count of events in [te-window, te])` once per DISTINCT
  * incoming epoch per batch — RANGE-window semantics (ties are peers:
  * every event at epoch te counts all events at te, whatever their
  * intra-batch order), so the emission for a given (key, te) is monotone
  * across batches (the buffer only grows below te until eviction, and
  * eviction only removes entries a window BELOW te) and max-reducible to
  * the batch `count(*) OVER (RANGE 3600 PRECEDING)` oracle.
  *
  * Eviction contract: correct for per-key non-DECREASING batch maxima
  * (ordered replay / watermark-disciplined feeds). An event more than a
  * full window older than everything already seen would count against an
  * evicted buffer — the same inherent append-mode limit the sessionizer
  * documents for already-emitted sessions.
  */
class TrailingWindowCountProcessor(windowSec: Long)
    extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  @transient private var buf: ListState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[Long]("buf", Encoders.scalaLong, TTLConfig.NONE)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val incoming = rows.map(_._2).toArray.sorted
    if (incoming.isEmpty) return Iterator.empty
    val prior = if (buf.exists()) buf.get().toArray else Array.empty[Long]
    val (counts, kept) =
      TrailingWindowCountProcessor.sweep(prior, incoming, windowSec)
    buf.clear()
    buf.put(kept)
    counts.iterator.map { case (te, cnt) => (key, te, cnt) }
  }
}

object TrailingWindowCountProcessor {
  /** Pure merge-and-sweep of one key-batch against the surviving buffer:
    * returns (one (te, count-in-[te-window, te]) per DISTINCT incoming te;
    * the buffer suffix within `window` of the newest epoch — everything
    * older is EVICTED, bounding per-key state to the window span).
    */
  def sweep(prior: Array[Long], incoming: Array[Long],
      windowSec: Long): (Seq[(Long, Long)], Array[Long]) = {
    val all = (prior ++ incoming).sorted
    def upperBound(t: Long): Int = { // first index with value > t
      var lo = 0; var hi = all.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (all(m) <= t) lo = m + 1 else hi = m }
      lo
    }
    val counts = incoming.sorted.distinct.toSeq.map { te =>
      (te, (upperBound(te) - upperBound(te - windowSec - 1)).toLong)
    }
    (counts, all.drop(upperBound(all.last - windowSec - 1)))
  }
}

/** INITIAL-STATE handoff for transformWithState (the backfill -> stream
  * cutover every production pipeline runs): the running-totals state
  * machine of [[RunningTotalsProcessor]] WARM-STARTED from a batch
  * aggregate — `handleInitialState` seeds each key's ValueState with the
  * backfill's (count, cents) before any stream row arrives, and the live
  * stream folds on top. Emissions are the same monotone running totals,
  * so the max-n reduction equals the FULL-corpus aggregate for every
  * streamed key — which holds only if the seed actually loaded (a cold
  * start would count the stream half alone and miss the oracle).
  */
class RunningTotalsBootstrapProcessor
    extends StatefulProcessorWithInitialState[
      Long, (Long, Long), (Long, Long, Long), (Long, Long)] {
  @transient private var st: ValueState[(Long, Long)] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    st = getHandle.getValueState[(Long, Long)]("totals",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
  }
  override def handleInitialState(key: Long, initialState: (Long, Long),
      timerValues: TimerValues): Unit = {
    st.update(initialState)
  }
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, cents) = if (st.exists()) st.get() else (0L, 0L)
    rows.foreach { case (_, c) => n += 1; cents += c }
    st.update((n, cents))
    Iterator.single((key, n, cents))
  }
}

/** Structured Streaming parity (SURVEY §7: the reference executes everything
  * on a streaming engine; our rules and operators are plan-level and
  * mode-agnostic). `readStream` -> windowed agg -> memory sink with a
  * synchronous drain gives deterministic results a DuckDB oracle can check —
  * the streaming analog of the reference's fetchRows
  * (SecurityContext.java:235-242).
  */
object StreamOps {

  /** Whole-batch replay guard for foreachBatch ingests whose side effects
    * are NOT naturally idempotent (parquet appends, delta application).
    * Spark replays a micro-batch when a crash lands between the batch's
    * completion and its commit-log record: the restarted query re-runs the
    * SAME batchId over the SAME input. The ledger records each completed
    * batchId in a tiny parquet table AS THE BATCH'S LAST ACTION; a replayed
    * id skips the body wholesale, so every append in it happens exactly
    * once. The guarded window that remains is a crash BETWEEN the body's
    * last append and the ledger record — then the replay re-runs a
    * partially-applied batch (at-least-once). [[idempotentBatchAppend]]
    * closes that window for plain sink appends (per-batch partition +
    * dynamic overwrite — row-exact under any crash point); multi-table
    * bodies (index + sink + quarantine) would need a transactional format
    * for cross-table atomicity, so for them the ledger gives exactly-once
    * at WHOLE-BATCH granularity, the granularity Spark replays at.
    * Ledger reads/writes are one tableExists + one batch-id filter + a
    * 1-row append per micro-batch — never data-sized.
    */
  object BatchLedger {
    /** Read-through memo of each ledger table's recorded ids, loaded once
      * per (session, table) and then maintained by [[record]]: the naive
      * per-batch `applied` check was a tableExists + full ledger read JOB
      * per micro-batch — measured ~0.24 s/batch (MachineryProbe, r18),
      * pure machinery multiplied by every ledger-guarded stream. The TABLE
      * stays the source of truth: the memo is populated only from the
      * table itself and from this JVM's own [[record]] appends — exactly
      * the mutations the single-driver ledger contract allows — and a memo
      * entry is dropped whenever its table is observed missing (queries
      * drop+recreate their ledger tables at setup), so a stale set can
      * never survive a table recreation: the drop is observed by the next
      * `applied` call, which every [[once]] body issues before any
      * [[record]]. A fresh JVM (the real crash-recovery path) starts with
      * an empty memo and reloads from the persisted table. Weakly keyed on
      * the session (the memo must not outlive it); the inner sets are
      * concurrent — Verify drains streams in parallel on one session.
      */
    private val appliedMemo = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, java.util.Set[java.lang.Long]]]())

    private def memoOf(spark: SparkSession)
        : scala.collection.concurrent.TrieMap[String, java.util.Set[java.lang.Long]] = {
      val existing = appliedMemo.get(spark)
      if (existing != null) existing
      else {
        val fresh = scala.collection.concurrent.TrieMap
          .empty[String, java.util.Set[java.lang.Long]]
        val raced = appliedMemo.putIfAbsent(spark, fresh)
        if (raced != null) raced else fresh
      }
    }

    def applied(spark: SparkSession, table: String, batchId: Long): Boolean = {
      val perSession = memoOf(spark)
      if (!spark.catalog.tableExists(table)) {
        perSession.remove(table) // table dropped/recreated: forget its ids
        false
      } else {
        val ids = perSession.getOrElseUpdate(table, {
          val s = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
          spark.table(table).select(col("batch_id")).collect()
            .foreach(r => s.add(r.getLong(0)))
          s
        })
        ids.contains(batchId)
      }
    }

    /** Append the 1-row commit record. The FIRST record for a table goes
      * through `saveAsTable` (creates the table + catalog entry — one
      * normal commit per query); every later record writes its one-row
      * parquet file DIRECTLY into the table's location and renames it
      * visible — no Spark job, no commit protocol, no metastore round
      * trip. The per-batch ledger append was pure fixed machinery
      * (~0.15-0.2 s of commit latency for one 8-byte row — MachineryProbe
      * r18, verdict r19 #3); the direct write is ~1 ms. Crash semantics
      * unchanged: the record becomes visible atomically at the RENAME
      * (hidden `.`-prefixed name before that, which parquet readers
      * ignore), so a crash mid-write leaves no record and the batch
      * replays — exactly the window the old mid-commit crash left. The
      * table stays the source of truth and stays readable as a normal
      * parquet table (the restart gates assert its ROWS).
      *
      * ASSUMPTION: `FileSystem.rename` is atomic, as on the local
      * filesystem and HDFS. On an object store (S3A renames by copy then
      * delete) a crash mid-rename can leave a partial record visible,
      * which breaks "a crash leaves no record"; a ledger there needs the
      * `saveAsTable` path for every record.
      */
    def record(spark: SparkSession, table: String, batchId: Long): Unit = {
      import spark.implicits._
      if (!spark.catalog.tableExists(table)) {
        Seq(batchId).toDF("batch_id").write
          .mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(table)
      } else {
        val loc = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location
        val conf = spark.sessionState.newHadoopConf()
        val dir = new org.apache.hadoop.fs.Path(loc)
        val uniq = java.util.UUID.randomUUID().toString.take(8)
        val tmp = new org.apache.hadoop.fs.Path(dir,
          s".graft-ledger-$batchId-$uniq.parquet.inprogress")
        val dst = new org.apache.hadoop.fs.Path(dir,
          s"part-graft-ledger-$batchId-$uniq.parquet")
        val schema = org.apache.parquet.schema.MessageTypeParser
          .parseMessageType("message graft_ledger { optional int64 batch_id; }")
        val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
            .fromPath(tmp, conf))
          .withType(schema).withConf(conf).build()
        try writer.write(new org.apache.parquet.example.data.simple
          .SimpleGroupFactory(schema).newGroup().append("batch_id", batchId))
        finally writer.close()
        val fs = dir.getFileSystem(conf)
        if (!fs.rename(tmp, dst)) throw new java.io.IOException(
          s"ledger record rename failed: $tmp -> $dst")
        // invalidate the cached file index so plain spark.table reads see
        // the new record (the memo below serves the hot applied() path)
        spark.catalog.refreshTable(table)
      }
      memoOf(spark).get(table).foreach(_.add(batchId))
    }

    /** Run `body` once per batchId: skip when the ledger already holds it
      * (replay), record after the body otherwise. `table` None = unguarded
      * (the pre-ledger behavior, kept for callers that replay-dedup
      * downstream or use naturally idempotent appends).
      */
    def once(spark: SparkSession, table: Option[String], batchId: Long)(
        body: => Unit): Unit = table match {
      case None => body
      case Some(t) => if (!applied(spark, t, batchId)) { body; record(spark, t, batchId) }
    }
  }

  /** SUB-batch-idempotent sink append — closes the one window
    * [[BatchLedger]] documents as open: a crash in the MIDDLE of an append
    * (rows partially landed, ledger row not) replays at-least-once under
    * the ledger, duplicating the landed prefix. Here each micro-batch
    * writes into its own `_batch_id=<id>` partition with DYNAMIC partition
    * overwrite, so a replay — whatever the crash point — OVERWRITES the
    * batch's own partition and touches no other: exactly-once at row
    * granularity on a plain parquet table, the same recipe a transactional
    * format implements internally (per-commit file sets), expressed with
    * the partition layout every warehouse already has. Readers drop
    * `_batch_id` (or prune on it — the partition column doubles as ingest
    * lineage). Partition count = batch count; compact on the usual index
    * cadence when batches are small.
    */
  def idempotentBatchAppend(batch: DataFrame, table: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "dynamic")
      val withBid = batch.withColumn("_batch_id", lit(batchId))
      if (spark.catalog.tableExists(table))
        // dynamic mode: Overwrite replaces ONLY the partitions present in
        // the data — i.e. this batch's own
        withBid.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .insertInto(table)
      else
        withBid.write.partitionBy("_batch_id").format("parquet")
          .mode(org.apache.spark.sql.SaveMode.Overwrite).saveAsTable(table)
    } finally spark.conf.set(key, saved)
  }

  /** Per-user running (count, exact cents) through Spark 4's
    * `transformWithState` ([[RunningTotalsProcessor]]): the arbitrary-state
    * operator a 100 TB pipeline reaches for when windows/sessions can't
    * express the state machine. Returns the UPDATE-mode emission stream
    * `(user_id, n, cents)` — one row per key per batch, counter monotone —
    * which the caller drains and reduces with max_by. Requires the RocksDB
    * state-store provider (the operator rejects the HDFS-backed default —
    * spec-pinned).
    */
  def transformWithStateTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    ev.groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n", "cents")
  }

  /** Per-user running DISTINCT event-type count through MapState
    * ([[DistinctValuesProcessor]]) — the large-per-key-set shape of the
    * arbitrary-state API. Update-mode emissions `(user_id, n_types)`,
    * counter monotone. RocksDB-only like every transformWithState plan.
    */
  def transformWithStateDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
    ev.groupByKey(_._1)
      .transformWithState(new DistinctValuesProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_types")
  }

  /** Per-user trailing-window event counts through
    * [[TrailingWindowCountProcessor]] (the ListState leg): update-mode
    * emissions `(user_id, te, count in [te-window, te])`, monotone per
    * (user, te), so max per (user, te) equals the batch RANGE-window count.
    * RocksDB-only like every transformWithState plan.
    */
  def transformWithStateTrailing(spark: SparkSession, dir: String,
      windowSec: Long): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .select(col("user_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("te"))
      .as[(Long, Long)]
    ev.groupByKey(_._1)
      .transformWithState(new TrailingWindowCountProcessor(windowSec),
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "te", "cnt")
  }

  /** Running totals WARM-STARTED from a batch backfill
    * ([[RunningTotalsBootstrapProcessor]]): events below `midId` fold as a
    * BATCH aggregate into the operator's initial state, events at/above it
    * arrive on the stream — the backfill -> live cutover. Emissions as
    * [[transformWithStateTotals]]; for every streamed key the max-n row
    * equals the FULL-corpus totals iff the initial state loaded.
    */
  def transformWithStateTotalsBootstrap(spark: SparkSession, dir: String,
      midId: Long): DataFrame = {
    import spark.implicits._
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val initial = graft.queries.Tables.df(spark, dir, "events")
      .filter(col("event_id") < midId)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(cents).as("c"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1).mapValues(r => (r._2, r._3))
    val ev = eventsStream(spark, dir)
      .filter(col("event_id") >= midId)
      .select(col("user_id"), cents.as("cents"))
      .as[(Long, Long)]
    ev.groupByKey(_._1)
      .transformWithState(new RunningTotalsBootstrapProcessor,
        TimeMode.None(), OutputMode.Update(), initial)
      .toDF("user_id", "n", "cents")
  }

  /** Gap sessionization through [[WatermarkSessionizeProcessor]]
    * (transformWithState + event-time timers): watermarked fenced events
    * in, closed sessions out in Append mode — the fence drives the
    * watermark past every real session's flush timer, so the drained stream
    * converges to the batch gaps-and-islands result exactly (same oracle as
    * stream_sessionize).
    */
  def transformWithStateSessions(spark: SparkSession, dir: String,
      gapSeconds: Long, fenceAheadSec: Long): DataFrame =
    transformWithStateSessionsOn(spark,
      eventsStreamFenced(spark, dir, fenceAheadSec = fenceAheadSec), gapSeconds)

  /** Same typed timer-sessionize pipeline over a caller-built event stream
    * (`ts`, `user_id` columns) — the restart gate feeds a phased FILE
    * stream here instead of the staged in-memory fence stream.
    */
  def transformWithStateSessionsOn(spark: SparkSession, events: DataFrame,
      gapSeconds: Long,
      /** Event-time watermark delay. The default keeps the ordered-feed
        * gates exact; the bounded-disorder feed
        * ([[eventsStreamBoundedDisorder]]) passes its admission bound so
        * one-batch-late events reach the processor instead of being
        * dropped — the regime [[WatermarkSessionizeProcessor.sweep]]'s
        * interval merge exists for.
        */
      watermarkDelay: String = "0 seconds"): DataFrame = {
    import spark.implicits._
    events
      .withColumn("_ets", col("ts").cast("timestamp"))
      .withWatermark("_ets", watermarkDelay)
      .select(col("user_id").cast("long"),
        unix_timestamp(col("_ets")), col("_ets"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new WatermarkSessionizeProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_start", "session_end", "n_events")
  }

  /** The one start of a foreachBatch ingest: `body` runs per micro-batch
    * under [[BatchLedger.once]] (unguarded when `ledgerTable` is None), in
    * append mode, on `checkpointDir` when one is given (real
    * crash-recoverable state, vs the default temp checkpoint).
    */
  private def startIngest(stream: DataFrame, checkpointDir: Option[String] = None,
      ledgerTable: Option[String] = None)(body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // explicit function type: foreachBatch's Scala/Java overloads are
    // ambiguous for a SAM-converted lambda on Scala 2.13
    val perBatch: (DataFrame, Long) => Unit = (batch, bid) =>
      BatchLedger.once(batch.sparkSession, ledgerTable, bid)(body(batch, bid))
    val w = stream.writeStream.outputMode("append").foreachBatch(perBatch)
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start()
  }

  /** The dedup ingests' one per-batch body: the batch's `survivors`,
    * checkpointed once (the sink append and the index append both read
    * them), appended to `sinkTable`, then to the index when `extendIndex`.
    */
  private def startDedupIngest(stream: DataFrame, sinkTable: String,
      extendIndex: Boolean, checkpointDir: Option[String] = None,
      ledgerTable: Option[String] = None)(survivors: DataFrame => DataFrame)(
      appendToIndex: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(stream, checkpointDir, ledgerTable) { (batch, _) =>
      val kept = survivors(batch).localCheckpoint(eager = false)
      kept.write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(sinkTable)
      if (extendIndex) appendToIndex(kept)
    }

  /** `batch` without the rows an incremental probe flagged (its
    * `batch_id` column names them).
    */
  private def withoutFlagged(batch: DataFrame, flagged: DataFrame,
      idCol: String): DataFrame =
    batch.join(flagged.select(col("batch_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Drain a (possibly stateful) streaming DataFrame into a parquet TABLE
    * via [[BatchLedger]]-guarded [[idempotentBatchAppend]] writes (each
    * batch owns its `_batch_id` partition, so replays of a crash at ANY
    * point — including between sink write and ledger record — converge
    * row-exactly) on a REAL checkpoint —
    * the restart-gate twin of [[runToMemory]]: a memory sink cannot survive
    * a restart (each incarnation's emissions die with its query), while the
    * table accumulates every phase's appends and the ledger makes replayed
    * batches no-ops. For NATIVE stateful operators (session/tumbling window
    * aggregations in Append mode) this is the production recovery path:
    * the state store restores from its versioned checkpoint snapshot and a
    * replayed batch recomputes from the ROLLED-BACK version, emitting
    * exactly the rows the lost incarnation emitted — which the ledger then
    * dedups at the sink boundary.
    */
  def drainToTable(spark: SparkSession, streamed: DataFrame, sinkTable: String,
      checkpointDir: String, ledgerTable: String,
      statePartitions: Option[Int] = None,
      allowNoDataBatches: Boolean = true,
      /** Query output mode: Append (default) for watermark-finalized
        * emissions; Update for operators that re-emit per batch
        * (transformWithState running counters — the sink accumulates every
        * emission and the caller reduces, e.g. max_by over a monotone
        * counter).
        */
      outputMode: OutputMode = OutputMode.Append()): Unit = {
    def drain(): Unit = {
      val key = "spark.sql.streaming.noDataMicroBatches.enabled"
      val saved = spark.conf.get(key)
      try {
        spark.conf.set(key, allowNoDataBatches.toString)
        val perBatch: (DataFrame, Long) => Unit = (batch, bid) =>
          if (BatchLedger.applied(batch.sparkSession, ledgerTable, bid)) {
            // replayed batch: the sink append must NOT repeat, but the
            // stateful plan must still EXECUTE in full — the state stores
            // re-commit the rolled-back version, and Spark's commit
            // validation (4.x) requires every state partition to commit;
            // a skipped body reads as "expected N commits but got 0"
            batch.write.format("noop").mode("overwrite").save()
          } else {
            // idempotent per-partition write, NOT a plain Append: a crash
            // BETWEEN the sink append and the ledger record would replay
            // the batch at-least-once (duplicated sink rows) — the exact
            // window idempotentBatchAppend closes by overwriting only the
            // batch's own _batch_id partition on replay. Readers project
            // the extra _batch_id column away (or prune on it).
            idempotentBatchAppend(batch, sinkTable, bid)
            BatchLedger.record(batch.sparkSession, ledgerTable, bid)
          }
        val q = streamed.writeStream
          .outputMode(outputMode)
          .option("checkpointLocation", checkpointDir)
          .foreachBatch(perBatch)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally spark.conf.set(key, saved)
    }
    statePartitions match {
      case Some(n) => graft.SparkUtil.withShufflePartitions(spark, n)(drain())
      case None => drain()
    }
  }

  /** State-partition count for streaming session-window aggregations,
    * derived from the INPUT VOLUME instead of a pinned constant (r12
    * verdict #2): Catalyst's MergingSessions sorts per state partition —
    * n·log n in sessions/partition — so partitions must GROW with volume
    * (pinned 8 measured 3.7–4.5x at a 10x scale-up where 32 measured
    * 2.4x), while each state-store instance costs fixed per-batch
    * machinery, so small inputs want few (32 instances on a sf0.01 corpus
    * measured ~2x per-batch overhead). One partition per 512 KB of input,
    * clamped to [8, spark.sql.shuffle.partitions]: both measured endpoints
    * fall out (<= 2 MB -> 8, ~19 MB -> capped 32), and at cluster scale
    * the cap defers to the session's shuffle sizing — the knob operators
    * should inherit, not re-derive.
    */
  def sessionStatePartitions(spark: SparkSession, dir: String,
      table: String = "events"): Int = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(sizeOf).sum
      else f.length()
    val bytes = sizeOf(new java.io.File(s"$dir/$table.parquet"))
    val cap = math.max(8, spark.sessionState.conf.numShufflePartitions)
    math.max(8, math.min(cap, (bytes / (512L << 10)).toInt))
  }

  /** The harness drain rule (the r14 sf10 OOM, codified): past ~64 MB of
    * streaming input the memory sink's DRIVER-side accumulation outgrows
    * the default heap, so big dirs route streaming drains through the
    * parquet table sink. Sets `spark.graft.stream.drain` accordingly;
    * both Probe (per probed dir) and Bench (once per suite dir) call
    * this so measurement harnesses can run any scale factor on the
    * default heap. Small dirs keep the memory sink for reading-parity
    * with prior rounds' artifacts.
    */
  def configureDrainFor(spark: SparkSession, dir: String): Unit = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(sizeOf).sum
      else f.length()
    val big = sizeOf(new java.io.File(s"$dir/events.parquet")) > (64L << 20)
    spark.conf.set("spark.graft.stream.drain", if (big) "table" else "memory")
  }

  /** Streaming read of the events table (nanos timestamps normalized to
    * micros, same as the batch loader).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource requires a DIRECTORY basePath: driver testdata ships
    // events.parquet as a single file (glob-filter its parent), while scaled
    // copies from graft.tools.ScaleUp write it as a directory of part files
    // (stream it directly)
    val path = new java.io.File(s"$dir/events.parquet")
    val raw =
      if (path.isDirectory) spark.readStream.schema(schema).parquet(path.getPath)
      else spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
    schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        raw.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // naive timestamp[us] parquet: watermarks require session-zoned
        // TIMESTAMP; the cast keeps the wall clock in the UTC session
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** 1-hour tumbling-window counts/sums per event type (native streaming
    * window; same buckets as the batch q_events_bucket query).
    */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("window.start").as("bucket"), col("event_type"), col("cnt"), col("total"))

  /** HOPPING (sliding) windowed counts: each event lands in
    * `size/slide` overlapping windows — the smoothing shape tumbling
    * windows can't express (a spike on a boundary splits across tumbling
    * buckets; hopping windows see it whole in at least one). Same state
    * and shuffle discipline as [[hourlyTypeCounts]], with state size
    * multiplied by the overlap factor — the per-window state rows are
    * what a 100 TB stream budgets, so keep `size/slide` small.
    */
  def hoppingTypeCounts(events: DataFrame, size: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("window.start").as("bucket"), col("event_type"), col("cnt"), col("total"))

  /** Stage the events table as a 2-file streaming input whose SECOND file
    * is a single far-future fence event (`user_id` = -1, `ts` = max(ts) +
    * `fenceAheadSec`): with `maxFilesPerTrigger=1` the fence arrives as its
    * own later micro-batch (file order pinned by explicit mtimes), driving
    * the watermark past every REAL event so event-time timeouts and
    * append-mode finalizations flush deterministically — the offline stand-in
    * for a production watermark heartbeat. Callers filter `user_id` = -1
    * back out. Returns the staged (ts, user_id) stream.
    */
  def eventsStreamFenced(spark: SparkSession, dir: String,
      fenceAheadSec: Long): DataFrame =
    stagedStreamCached(spark, s"fenced|$dir|$fenceAheadSec", {
      val ev = fencibleEvents(spark, dir)
      val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      Seq(ev, fenceRow(spark, maxTs + fenceAheadSec))
    })

  /** The events table in the fence-staging projection (timestamps
    * normalized, the columns a fence row can stand in for).
    */
  private[graft] def fencibleEvents(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Tables.df(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))

  /** One `__fence__` event at `atEpochSec` (user -1): callers filter it out. */
  private[graft] def fenceRow(spark: SparkSession, atEpochSec: Long): DataFrame = {
    import spark.implicits._
    Seq((-1L, new java.sql.Timestamp(atEpochSec * 1000L), -1L, "__fence__", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  /** The deterministic late-arrival scenario: the chronologically NEWER
    * half of events arrives first (batch 1, establishing the watermark at
    * max ts), the OLDER half replays behind it, then a fence finalizes.
    * A watermarked aggregation must drop the replay entirely: its windows
    * were already finalized and their state evicted. The cutoff is the
    * integer midpoint of the floor-second ts range — closed-form, so a
    * batch oracle states the survivors as `floor(epoch(ts)) >= cutoff`.
    *
    * The on-time marker between them matters: Spark judges LATE events by
    * the watermark from the PREVIOUS batch's start while EVICTING by the
    * current one (the two-watermark split of SPARK-24588's descendants,
    * measured here via numRowsDroppedByWatermark) — a late file arriving
    * exactly one batch behind the data sits inside that lag and is
    * silently ACCEPTED. Real pipelines get the same one-extra-batch grace;
    * the marker stands in for any on-time traffic flowing between.
    */
  def eventsStreamLateReplay(spark: SparkSession, dir: String,
      fenceAheadSec: Long): DataFrame =
    stagedStreamCached(spark, s"latereplay|$dir|$fenceAheadSec", {
      val ev = fencibleEvents(spark, dir)
      val r = ev.agg(min(unix_timestamp(col("ts"))),
        max(unix_timestamp(col("ts")))).head()
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val cut = (mn + mx) / 2
      Seq(
        ev.filter(unix_timestamp(col("ts")) >= cut),
        fenceRow(spark, mx), // on-time marker: ages the watermark past the lag
        ev.filter(unix_timestamp(col("ts")) < cut),
        fenceRow(spark, mx + fenceAheadSec))
    })

  /** Bounded-disorder staging of the events table — the realistic arrival
    * model a NONZERO watermark delay exists for: event time is cut into
    * `numSlices` equal widths W that arrive in order, but a deterministic
    * subset of each slice (`event_id % delayMod == 0`) is HELD BACK one
    * batch, so every batch k carries slice k's on-time events PLUS slice
    * k-1's stragglers — out-of-order input with disorder bounded by one
    * slice. Returns (stream, admission delay D = 2W seconds).
    *
    * Why 2W admits EVERYTHING (so a batch gaps-and-islands over ALL events
    * is the exact oracle): a straggler from slice k-1 has ts >= mn+(k-1)W,
    * while the late-record watermark during its arrival batch is at most
    * maxts(through slice k-1) - D <= mn+kW-1-2W = mn+(k-2)W-1 — a full
    * W+1 below it. And no session a straggler could merge into has been
    * timer-flushed: flushing needs end+gap < wm <= mn+(k-2)W-1, while a
    * mergeable session has end >= ts-gap >= mn+(k-1)W-gap, i.e. end+gap
    * >= mn+(k-1)W > wm. The straggler therefore always reaches a LIVE open
    * session — the regime where [[WatermarkSessionizeProcessor.sweep]]
    * must LOWER session_start when the straggler precedes
    * the session's on-time opener.
    *
    * The trailing fence sits D + 3*gap past max ts, so the final watermark
    * (fence - D) still clears every real session's end+gap flush timer.
    */
  def eventsStreamBoundedDisorder(spark: SparkSession, dir: String,
      gapSeconds: Long, numSlices: Int = 8, delayMod: Int = 5): (DataFrame, Long) = {
    val ev = fencibleEvents(spark, dir)
    val r = ev.agg(min(unix_timestamp(col("ts"))),
      max(unix_timestamp(col("ts")))).head()
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    val w = (mx - mn) / numSlices + 1
    val sliceOf = floor((unix_timestamp(col("ts")) - mn) / w).cast("int")
    val delayed = pmod(col("event_id"), lit(delayMod)) === 0
    val delaySec = 2 * w
    val stream = stagedStreamCached(spark,
      s"disorder|$dir|$gapSeconds|$numSlices|$delayMod", {
        (0 until numSlices).map { k =>
          ev.filter(sliceOf === k && !delayed)
            .unionAll(ev.filter(sliceOf === (k - 1) && delayed))
        } :+ ev.filter(sliceOf === (numSlices - 1) && delayed)
          .unionAll(fenceRow(spark, mx + delaySec + 3 * gapSeconds))
      })
    (stream, delaySec)
  }

  /** Stage `parts` as one-file-per-micro-batch streaming input, arrival
    * order = sequence order ([[StreamFixture]]) — the offline way to script
    * exact batch boundaries and watermark progression: fences, late
    * arrivals, out-of-order replays. All parts must share a schema. The
    * returned stream is read lazily, so its files are swept at JVM exit.
    */
  def stagedStream(spark: SparkSession, parts: Seq[DataFrame]): DataFrame =
    StreamFixture.untilExit("graft_stage").stage(parts).arriveAll().stream(spark)

  /** Staged-fixture memo: one PHYSICAL staging per (variant, dir, params)
    * per JVM. The fixture write is repartition(1) — one file per
    * micro-batch, so single-threaded — and at ScaleUp-sf10 costs ~8.5 s per
    * call, which the r16 attribution (PLANS.md) showed DOMINATING the
    * sessionize family's decade-3 readings (the engine drain itself scales
    * 1.4x/decade). The staged files are immutable once written and every
    * reader gets its own checkpoint, so reuse is free. The memo holds
    * fixtures, which are driver-side paths and a schema (the memo-safety
    * rule: no frames, no blocks).
    *
    * ASSUMPTION: the SOURCE parquet under `dir` is immutable for the JVM's
    * lifetime — the memo is keyed on (variant, dir, params) only, so
    * rewriting a source dir's data in-JVM would serve a stale fixture.
    * Every current source is a read-only /root/testdata or ScaleUp output
    * dir; a harness that rewrites one must use a fresh path. Staged dirs
    * are swept at JVM exit ([[StreamFixture.untilExit]]).
    */
  private val stagedFixtures = new scala.collection.concurrent.TrieMap[String, StreamFixture]()

  private[graft] def stagedStreamCached(spark: SparkSession, key: String,
      parts: => Seq[DataFrame]): DataFrame =
    stagedFixtures.getOrElseUpdate(key,
      StreamFixture.untilExit("graft_stage").stage(parts).arriveAll()).stream(spark)

  /** Streaming dedup: drop duplicate keys across micro-batches with
    * watermark-bounded state. Unlike [[graft.operators.Dedup.exact]] (which
    * deterministically keeps min(id) per key), the surviving row per key is
    * the first one processed — streaming cannot see later duplicates when it
    * emits, so only key-level (not row-level) determinism holds.
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)

  /** Streaming ingest with incremental near-dup dedup: each micro-batch
    * probes a persisted [[graft.operators.Dedup.minhashWriteBucketed]]
    * index, drops rows whose exact shingle Jaccard with an indexed doc
    * reaches `threshold`, appends the survivors to `sinkTable`, and (when
    * `extendIndex`) appends their band rows and shingle sets to the index —
    * so batch N+1 dedups against the original corpus AND every earlier
    * batch's survivors.
    *
    * foreachBatch rather than a stream-static join: the probe is a
    * multi-join batch plan (banding -> candidates -> distinct -> exact
    * verify -> anti join) plus bucketed-table appends, which the streaming
    * planner cannot express natively; per micro-batch it runs exactly the
    * batch operator, so the scale shape is unchanged — batch-sized shuffles
    * only, the corpus index scanned but never reshuffled. Two documented
    * limits: duplicates WITHIN one micro-batch both survive (neither is in
    * the index yet — pre-clean with [[graft.operators.Dedup.exact]] per
    * batch if that matters), and a replayed epoch re-appends its survivors
    * (the parquet sink is not idempotent; exactly-once needs a sink keyed
    * on (epoch, id)).
    */
  def streamingIncrementalDedup(docsStream: DataFrame, indexTable: String,
      idCol: String, textCol: String, sinkTable: String,
      maxBucket: Int = 100, threshold: Double = 0.7,
      extendIndex: Boolean = true,
      /** Real checkpoint + [[BatchLedger]] — the crash-restart discipline
        * proven on the curate/IVM/BM25 gates: a replayed batch skips the sink
        * and index appends wholesale. Of the dedup ingests, this one and
        * [[streamingExactDedup]] take a ledger; the other five do not.
        */
      checkpointDir: Option[String] = None,
      ledgerTable: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    startDedupIngest(docsStream, sinkTable, extendIndex, checkpointDir, ledgerTable)(
      batch => withoutFlagged(batch, Dedup.minhashDedupIncremental(batch, indexTable,
        idCol, textCol, maxBucket, threshold), idCol))(
      Dedup.minhashAppendToIndex(_, indexTable, idCol, textCol))
  }

  /** Streaming EXACT-dedup ingest over a [[graft.operators.Dedup.exactWriteBucketed]]
    * index: each micro-batch collapses its own duplicates to the minimum id,
    * drops rows whose content the index already holds, appends survivors to
    * the sink and (by default) their hashes back into the index — so batch
    * N+1 dedups against the original corpus and every earlier batch's
    * survivors. Unlike [[streamingIncrementalDedup]] the within-micro-batch
    * duplicate case is handled (the min_by collapse runs before the index
    * probe). Same replay caveat: the parquet sink is not idempotent.
    */
  def streamingExactDedup(docsStream: DataFrame, indexTable: String,
      idCol: String, keyCol: String, sinkTable: String,
      extendIndex: Boolean = true,
      /** Real checkpoint + [[BatchLedger]] — see [[streamingIncrementalDedup]]. */
      checkpointDir: Option[String] = None,
      ledgerTable: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    startDedupIngest(docsStream, sinkTable, extendIndex, checkpointDir, ledgerTable)(
      Dedup.exactDedupIncremental(_, indexTable, idCol, keyCol))(
      Dedup.exactAppendToIndex(_, indexTable, idCol, keyCol))
  }

  /** Streaming SUBSTRING-dedup ingest over a persisted
    * [[graft.operators.Dedup.substringWriteBucketed]] window-hash index:
    * each micro-batch drops docs sharing at least `minShared` distinct
    * `windowTokens`-token windows with an indexed doc (the Lee et al. 2021
    * signal, window size pinned in the index's meta table), appends
    * survivors to `sinkTable` and (by default) their window hashes back
    * into the index. Same caveats as [[streamingIncrementalDedup]]:
    * within-micro-batch duplicates all survive, and replays re-append.
    * One window-specific caveat (mirror of [[streamingSemanticDedup]]'s
    * zero-norm note): docs shorter than the window — including blank or
    * whitespace-only docs — produce no window hashes, so they always pass
    * to the sink un-deduplicated and are never indexed.
    */
  def streamingSubstringDedup(docsStream: DataFrame, indexTable: String,
      idCol: String, textCol: String, sinkTable: String,
      maxBucket: Int = 100, minShared: Long = 1,
      extendIndex: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    startDedupIngest(docsStream, sinkTable, extendIndex)(
      batch => withoutFlagged(batch, Dedup.substringDedupIncremental(batch, indexTable,
        idCol, textCol, maxBucket).filter(col("n_shared") >= minShared), idCol))(
      Dedup.substringAppendToIndex(_, indexTable, idCol, textCol))
  }

  /** Streaming SEMANTIC-dedup ingest over a persisted
    * [[graft.operators.Similarity.ivfWriteBucketed]] IVF index — the vector
    * member of the self-deduplicating-ingest family (exact: md5 index;
    * near-dup text: minhash LSH index; near-dup vectors: this). Each
    * micro-batch probes the index with
    * [[graft.operators.Dedup.semanticDedupIncremental]] (cells assigned by
    * the PERSISTED quantizer, batch-sized shuffles only), drops rows whose
    * exact cosine with an indexed vector reaches `threshold`, appends
    * survivors to `sinkTable` and (when `extendIndex`) quantizes them into
    * the index's bucket layout via
    * [[graft.operators.Similarity.ivfAppendToIndex]] — so batch N+1 dedups
    * against the original corpus AND every earlier batch's survivors,
    * while the quantizer never drifts.
    *
    * Same documented limits as [[streamingIncrementalDedup]]: near-dups
    * WITHIN one micro-batch all survive (none is indexed yet), and a
    * replayed epoch re-appends its survivors. One vector-specific caveat:
    * zero-norm vectors can never match (no direction), so they reach the
    * sink but are not appended to the index (the append path drops them).
    */
  def streamingSemanticDedup(vecsStream: DataFrame, indexTable: String,
      idCol: String, vecCol: String, sinkTable: String,
      threshold: Double = 0.9, maxCell: Int = 100,
      extendIndex: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Dedup, Similarity}
    startDedupIngest(vecsStream, sinkTable, extendIndex)(
      batch => withoutFlagged(batch, Dedup.semanticDedupIncremental(batch, indexTable,
        idCol, vecCol, threshold, maxCell), idCol))(
      Similarity.ivfAppendToIndex(_, indexTable, idCol, vecCol))
  }

  /** Streaming CHUNK-dedup ingest over a persisted
    * [[graft.operators.Multimodal.chunkWriteBucketed]] chunk-fp index —
    * the binary-payload member of the self-deduplicating-ingest family
    * (exact / substring / semantic / paragraph / span / THIS). Each
    * micro-batch of media drops payloads whose distinct-chunk containment
    * against the index reaches `threshold`
    * ([[graft.operators.Multimodal.chunkPairsIncremental]] — chunk
    * geometry from the index's meta, never the caller), appends survivors
    * to `sinkTable`, and (when `extendIndex`) appends their chunk fps back
    * into the index's bucket layout — so a re-encoded copy arriving in
    * batch N+1 of a payload first seen in batch N is caught. Zero-chunk
    * (empty) payloads always pass and are never indexed, like the
    * under-window docs in [[streamingSubstringDedup]]. Same replay caveat
    * as the family: re-appended fps accrete (probes stay correct — the
    * containment count is distinct) until
    * [[graft.operators.Dedup.compactIndex]] rewrites the index.
    */
  def streamingChunkDedup(mediaStream: DataFrame, indexTable: String,
      idCol: String, payloadCol: String, sinkTable: String,
      threshold: Double = 0.5, maxPostings: Int = Int.MaxValue,
      extendIndex: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Multimodal
    startDedupIngest(mediaStream, sinkTable, extendIndex)(
      batch => withoutFlagged(batch, Multimodal.chunkPairsIncremental(batch, indexTable,
        idCol, payloadCol, threshold, maxPostings), idCol))(
      Multimodal.chunkAppendToIndex(_, indexTable, idCol, payloadCol))
  }

  /** Streaming PARAGRAPH-dedup ingest over a persisted
    * [[graft.operators.Dedup.paragraphWriteBucketed]] index — the
    * sub-document member of the self-deduplicating-ingest family. Each
    * micro-batch cleans its documents against the index
    * ([[graft.operators.Dedup.dedupParagraphsIncremental]]: batch
    * paragraphs drop if indexed or repeated earlier in the batch), appends
    * the cleaned documents to `sinkTable`, and (when `extendIndex`)
    * appends the SURVIVING paragraphs' hashes back into the index's bucket
    * layout — so batch N+1 drops a banner first seen in batch N. Documents
    * whose every paragraph was dropped never reach the sink.
    *
    * Same caveat family as the other ingests: a replayed epoch re-appends
    * its hashes (idempotent for dedup purposes — re-probing drops the
    * same paragraphs — but the index accretes duplicate hash rows until
    * [[graft.operators.Dedup.compactHashIndex]] rewrites it).
    */
  def streamingParagraphDedup(docsStream: DataFrame, indexTable: String,
      idCol: String, textCol: String, sinkTable: String,
      extendIndex: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    startDedupIngest(docsStream, sinkTable, extendIndex)(
      Dedup.dedupParagraphsIncremental(_, indexTable, idCol, textCol))(cleaned =>
      Dedup.paragraphAppendToIndex(cleaned.withColumnRenamed("clean_text", textCol),
        indexTable, idCol, textCol))
  }

  /** Streaming duplicated-SPAN removal against a persisted
    * [[graft.operators.Dedup.spanWriteBucketed]] index — the span member
    * of the streaming dedup family (exact / substring / semantic /
    * paragraph / THIS): each micro-batch trims every token run the corpus
    * or an earlier batch already holds
    * ([[graft.operators.Dedup.dedupSpansIncremental]] — batch keep-first
    * over corpus precedence), writes the trimmed documents to the sink,
    * and appends the SURVIVING text's windows to the index so batch N+1
    * also dedups against batch N's kept spans. Same replay caveat as the
    * family: re-appended hashes accrete until
    * [[graft.operators.Dedup.compactIndex]] rewrites the index.
    */
  def streamingSpanDedup(docsStream: DataFrame, indexTable: String,
      idCol: String, textCol: String, sinkTable: String,
      extendIndex: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Dedup
    startDedupIngest(docsStream, sinkTable, extendIndex)(
      Dedup.dedupSpansIncremental(_, indexTable, idCol, textCol))(cleaned =>
      Dedup.spanAppendToIndex(cleaned.withColumnRenamed("clean_text", textCol),
        indexTable, idCol, textCol))
  }

  /** Apply a [[reconcileCurate]] drop set: rewrite the sink WITHOUT the
    * late-linked rows, swapped in recoverably
    * ([[graft.sources.Sources.swapStaged]]) — the actuator half of the
    * reconciliation loop, run at the same cadence as the measurement.
    * Anti-join + full sink rewrite: parquet tables cannot delete in place,
    * and a reconciliation pass that found drops is exactly when a compact
    * rewrite is worth paying.
    */
  def applyReconcile(spark: SparkSession, sinkTable: String,
      drops: DataFrame, idCol: String): Unit = {
    // empty drop set -> no-op: never pay a full sink rewrite for nothing
    // (the common steady-state outcome of a reconciliation pass)
    if (!drops.isEmpty) {
      val staged = s"${sinkTable}_reconciled"
      graft.sources.Sources.dropForOverwrite(spark, staged)
      spark.table(sinkTable)
        .join(drops.select(col(idCol)), Seq(idCol), "left_anti")
        .write.format("parquet").saveAsTable(staged)
      graft.sources.Sources.swapStaged(spark, staged, sinkTable)
    }
  }

  /** Streaming ANN-index maintenance over a persisted
    * [[graft.operators.Similarity.ivfpqWriteBucketed]] IVF-PQ index: every
    * micro-batch of vectors is quantized with the index's PERSISTED coarse
    * centroids AND PQ codebooks and appended in its bucket layout — a
    * continuous embedding feed keeps its ANN index queryable with
    * batch-sized work per increment, no rebuild in the ingest loop. Batch
    * slicing cannot change results: codes depend only on the persisted
    * models, so N micro-batches append exactly what one batch append would
    * (parity-tested). Codebook/centroid staleness under distribution drift
    * is the documented trade (PLANS.md runbook: measured by `recallAtK` on
    * a fixed probe set, actuated by a staged re-train/rebuild).
    */
  def streamingIvfPqIngest(vecsStream: DataFrame, indexTable: String,
      idCol: String, vecCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(vecsStream) { (batch, _) =>
      graft.operators.Similarity.ivfpqAppendToIndex(batch, indexTable, idCol, vecCol)
    }

  /** Streaming ingest into a persisted
    * [[graft.operators.Retrieval.bm25WriteBucketed]] posting index: each
    * micro-batch's postings land in the index's bucket layout and its
    * (n_docs, sum_dl) stats delta row appends — a continuous document feed
    * keeps the lexical index queryable with batch-sized work per
    * increment, the same ingest contract as the other incremental
    * families. Batch slicing cannot change probe results: postings are
    * per-document and parameter-free, df is recomputed from the postings
    * at probe time, and N/avgdl are the SUM of the stats deltas — so N
    * micro-batches append exactly what one batch append would
    * (parity-gated by `stream_bm25_ingest`). Replayed epochs accrete
    * duplicate rows; probes stay exact under accretion and
    * [[graft.operators.Dedup.compactIndex]] reclaims the width.
    */
  def streamingBm25Ingest(docsStream: DataFrame, indexTable: String,
      idCol: String, textCol: String,
      /** Real checkpoint dir for crash-recoverable resume. NO ledger here:
        * [[graft.operators.Retrieval.bm25AppendToIndex]] is replay-idempotent
        * by construction — its id guard drops already-indexed docs, so a
        * replayed batch appends zero postings (spec-pinned).
        */
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(docsStream, checkpointDir) { (batch, _) =>
      graft.operators.Retrieval.bm25AppendToIndex(batch, indexTable, idCol, textCol)
    }

  /** CONTINUOUS incremental view maintenance: a before/after changelog
    * stream ([[graft.operators.ChangeLog.fromSnapshotsFull]] shape, or any
    * Debezium-like feed) keeps a persisted
    * [[graft.operators.ChangeLog.aggStateWriteBucketed]] aggregate current
    * — each micro-batch folds to signed deltas and the state table is
    * rewritten-and-swapped in its own bucket layout
    * ([[graft.operators.ChangeLog.maintainAggTable]]). Per batch the work
    * is change-sized plus one state-sized (|groups|-row) rewrite; the base
    * table is never read. Batch slicing cannot change the result: delta
    * addition is associative and each key's change appears once per
    * snapshot diff (parity-gated by `stream_cdc_agg_maintain` and the
    * spec). A replayed micro-batch DOES double-apply — exactly-once needs
    * a checkpointed sink; documented like the other ingest replays.
    */
  def streamingAggMaintain(changeStream: DataFrame, stateTable: String,
      opCol: String, groupCol: String, aggCols: Seq[String],
      /** Real checkpoint dir: survive a stop/crash and resume from the
        * offsets/commit logs instead of a throwaway temp checkpoint.
        */
      checkpointDir: Option[String] = None,
      /** [[BatchLedger]] table: REQUIRED for crash-replay correctness —
        * delta application is not idempotent, so a replayed batch would
        * double-apply without it (exercised by StreamingRestartSpec's
        * negative control and the `stream_cdc_agg_maintain_restart` gate).
        */
      ledgerTable: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(changeStream, checkpointDir, ledgerTable) { (batch, _) =>
      graft.operators.ChangeLog.maintainAggTable(batch, stateTable, opCol,
        groupCol, aggCols)
    }

  /** [[streamingAggMaintain]] over the RAW Debezium transport with SCHEMA
    * EVOLUTION: the stream stays Kafka-shaped and each micro-batch decodes
    * against the schema its own envelope blocks declare, so a column added
    * mid-log (DDL between segments) WIDENS the standing state instead of
    * failing the query. Per batch:
    *
    *  1. Schema discovery: the batch's distinct `fields` lists
    *     ([[graft.sources.KafkaShapedLog.fieldEpochs]] — epochs-sized
    *     collect, never batch-sized); their union is the batch's row shape.
    *     Blocks absent (older producer) -> fall back to `rowSchema` whole.
    *  2. Decode with `rowSchema` restricted to the discovered fields — a
    *     batch spanning the DDL decodes with the union shape and pre-DDL
    *     events read null for the new column, exactly the ADD COLUMN
    *     semantics of the upstream database.
    *  3. [[graft.operators.ChangeLog.widenAggState]] for newly seen agg
    *     columns (missing sums backfill as 0 — correct, see its doc).
    *  4. COLUMN DROP: a column the batch's HEAD epoch (highest-offset
    *     schema block — [[graft.sources.KafkaShapedLog.currentFields]]) no
    *     longer lists is removed from the state
    *     ([[graft.operators.ChangeLog.narrowAggState]] — fail-closed: its
    *     retractions can never arrive, so a kept sum would silently
    *     drift). Keying the drop on the head epoch, not mere absence, is
    *     what keeps late old-schema stragglers WITHIN a batch from
    *     narrowing anything.
    *  5. Maintain over the FULL state column set: agg columns the state
    *     knows but an event's epoch predates ride as null images (null
    *     deltas add 0), so pre-ADD stragglers maintain correctly.
    *
    * Delivery contract: batches must arrive in offset order (every source
    * this library ships — the file-backed log and Kafka itself — does). A
    * hypothetical WHOLE batch of re-delivered old-schema events would
    * present an old head epoch and transiently narrow; the next in-order
    * batch re-widens with sums restarted from 0, which is recorded loudly
    * in the state schema rather than silently wrong.
    *
    * `rowSchema` is the consumer's WIDEST known row type (it supplies the
    * column TYPES; which columns exist per batch comes from the envelope).
    * Columns in the envelope but not in `rowSchema` are ignored — decoding
    * a type it has no declaration for would be a guess; the consumer
    * upgrades `rowSchema` to start aggregating a brand-new column.
    */
  def streamingAggMaintainEvolving(rawLog: DataFrame, stateTable: String,
      rowSchema: org.apache.spark.sql.types.StructType, keyCol: String,
      groupCol: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.StructType
    startIngest(rawLog) { (batch, _) =>
      val spark = batch.sparkSession
      val epochs = graft.sources.KafkaShapedLog.fieldEpochs(batch)
      val present: Seq[String] =
        if (epochs.isEmpty) rowSchema.fieldNames.toSeq
        else epochs.flatten.distinct
      val presentSchema = StructType(
        rowSchema.fields.filter(f => present.contains(f.name)))
      require(presentSchema.fieldNames.contains(keyCol) &&
        presentSchema.fieldNames.contains(groupCol),
        s"envelope schema ${present.mkString(",")} lost key/group column")
      val decoded = graft.sources.KafkaShapedLog.decodeDebezium(
        batch, presentSchema, keyCol)
      val batchAgg = presentSchema.fieldNames
        .filterNot(n => n == keyCol || n == groupCol).toSeq
      graft.operators.ChangeLog.widenAggState(spark, stateTable, batchAgg)
      // COLUMN DROP: the authoritative current schema is the epoch at the
      // HEAD of the batch (highest offset) — a column the head epoch no
      // longer lists has been dropped by DDL and its sum must leave the
      // state (retractions for it can never arrive — see narrowAggState),
      // while a column merely missing from OLDER events in the same batch
      // (late replay, pre-ADD stragglers) stays and rides as null images
      graft.sources.KafkaShapedLog.currentFields(batch).foreach { head =>
        graft.operators.ChangeLog.narrowAggState(spark, stateTable,
          head.filterNot(n => n == keyCol || n == groupCol))
      }
      val stateAgg = spark.table(stateTable).columns
        .filter(_.startsWith("sum_")).map(_.stripPrefix("sum_")).toSeq
      val padded = stateAgg.foldLeft(decoded) { (df, c) =>
        if (df.columns.contains(s"${c}_after")) df
        else {
          val t = rowSchema.fields.find(_.name == c).map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.LongType)
          df.withColumn(s"${c}_before", lit(null).cast(t))
            .withColumn(s"${c}_after", lit(null).cast(t))
        }
      }
      graft.operators.ChangeLog.maintainAggTable(padded, stateTable, "op",
        groupCol, stateAgg)
    }
  }

  /** The COMPOSED streaming curation funnel — the continuous-ingest shape of
    * the batch [[graft.operators.TextAnalysis.curateFull]] pipeline, stage
    * for stage:
    *
    *  1. STATELESS on the stream (map-side, no state store, no watermark):
    *     Bloom decontamination FLAGGING over a filter built once from the
    *     bench corpus ([[graft.operators.Contamination.flaggedCol]]), then
    *     the Gopher + repetition quality gate
    *     ([[graft.operators.TextAnalysis.qualityFilter]]).
    *  2. Per micro-batch (foreachBatch — exactly the batch operators, so
    *     the scale shape is batch-sized shuffles probing persisted bucketed
    *     indexes): exact-confirm of the bloom-flagged slice against the
    *     bench (two-phase decontam — Bloom false positives survive, exactly
    *     as in curateFull); exact dedup keyed on the whitespace-normalized
    *     fingerprint vs the persisted md5 index, within-batch collapse
    *     included ([[graft.operators.Dedup.exactDedupIncremental]]);
    *     batch-LOCAL fuzzy dedup (LSH banding → exact-Jaccard verify →
    *     connected components → min-id representative, banding parameters
    *     pinned by the LSH index's meta table so probe and local pass agree);
    *     then the incremental LSH probe vs the persisted index
    *     ([[graft.operators.Dedup.minhashDedupIncremental]]).
    *  3. Survivors append to `sinkTable` (pass-through input schema) and
    *     extend both indexes: ALL exact-stage survivors extend the exact
    *     index (a later byte-identical copy of a fuzzy-dropped doc must
    *     still be dropped, as the batch funnel would drop it), while only
    *     FINAL survivors extend the LSH index (first-arrival representative
    *     policy).
    *
    * Parity with the batch funnel: on a corpus whose near-dup groups are
    * CLIQUES under the verify threshold (near-identical copies — the shape
    * real scraped duplicates take), streaming the corpus through empty
    * indexes in id-ordered micro-batches lands exactly curateFull's keeper
    * id set in the sink (StreamingSpec proves stream-of-batches ≡ batch on
    * the planted corpus, duplicates within AND across batches). The one
    * semantic gap is transitive chains that SPAN batches (a~b, b~c, a≁c in
    * three different batches): batch components keep only `a`; streaming
    * keeps `a` and `c`, because `b` was dropped and therefore never indexed.
    * Passing `quarantineTable` closes that gap OFFLINE: fuzzy-dropped docs
    * append there verbatim, and a periodic [[reconcileCurate]] re-discovers
    * the spanning links and emits the late drop set (StreamingSpec pins
    * stream + reconcile ≡ batch on the a~b~c chain). Replays: without
    * `ledgerTable` a replayed batch re-appends (the parquet sink is not
    * idempotent), as with every ingest in this family; WITH it the whole
    * funnel is [[BatchLedger]]-guarded and a replayed batch is a no-op
    * across all four appends (spec-pinned; the `stream_curate_restart`
    * gate exercises a real kill/replay/restart against the batch oracle).
    *
    * EAGER at call time when `bench` is given: the Bloom filter build runs
    * two actions on the small bench side ([[graft.operators.Contamination.buildBloom]]).
    */
  def streamingCurate(docsStream: DataFrame, exactIndexTable: String,
      lshIndexTable: String, idCol: String, textCol: String, sinkTable: String,
      bench: Option[DataFrame] = None, decontamN: Int = 5, fpp: Double = 0.001,
      minWords: Int = 50, maxWords: Int = 100000, minStopHits: Int = 2,
      maxDupLineFrac: Double = 0.3, maxDupNgramFrac: Double = 0.3,
      ngram: Int = 5, maxBucket: Int = 100, threshold: Double = 0.7,
      extendIndex: Boolean = true,
      quarantineTable: Option[String] = None,
      /** Shuffle-partition count for the PER-BATCH jobs (the statePartitions
        * discipline, applied to foreachBatch): every join/aggregate inside
        * a micro-batch is BATCH-sized, not corpus-sized, so running them at
        * the session's corpus-scan default multiplies fixed task overhead
        * across the funnel's ~dozen per-batch jobs. The stream's own plan is
        * stateless (row-local filters — no state store, no shuffle), so the
        * setting only touches work this function launches. None = leave the
        * session default.
        */
      batchShufflePartitions: Option[Int] = None,
      /** Real checkpoint dir for crash-recoverable resume. */
      checkpointDir: Option[String] = None,
      /** [[BatchLedger]] table guarding the WHOLE per-batch funnel (sink +
        * quarantine + both index appends): a replayed batch skips all four,
        * which is what makes "replays re-append" (the family's documented
        * parquet-sink caveat) a non-event at whole-batch granularity.
        */
      ledgerTable: Option[String] = None,
      /** Prebuilt bench Bloom bytes ([[graft.operators.Contamination.buildBloom]]
        * with the SAME textCol/decontamN/fpp): the build scans and
        * aggregates the bench corpus, so callers starting several funnels
        * against one benchmark (the curate query family) build once and
        * share. None = build here at stream start.
        */
      benchBloomBytes: Option[Array[Byte]] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{Contamination, Dedup, TextAnalysis}
    val bloomFlag = "_graft_bloom"
    val fpKey = "_graft_fp_key"
    // stateless front end, ON the stream: flag (never drop — false positives
    // must survive the exact confirm) and quality-gate. Both are row-local
    // filters, so flag-then-gate equals curateFull's decontam-then-gate.
    val flagged = bench
      .map(b => docsStream.withColumn(bloomFlag,
        Contamination.flaggedCol(
          benchBloomBytes.getOrElse(
            Contamination.buildBloom(b, textCol, decontamN, fpp)),
          textCol, decontamN)))
      .getOrElse(docsStream.withColumn(bloomFlag, lit(false)))
    val gated = TextAnalysis.qualityFilter(flagged, textCol, minWords, maxWords,
      minStopHits, maxDupLineFrac, maxDupNgramFrac, ngram)
    // banding parameters pinned ONCE at stream start (not re-read per batch):
    // the index exists by contract before the stream starts, and a stable pin
    // is the stronger guarantee — a mid-stream meta rewrite cannot make two
    // batches band differently
    val (shingleSize, bands, rowsPerBand) =
      graft.operators.Dedup.readIndexMeta(docsStream.sparkSession, lshIndexTable)
    // the confirm's bench side, derived ONCE at stream start: the
    // explode + distinct over the bench corpus is batch-invariant, and
    // re-deriving it inside every micro-batch was the confirm's dominant
    // cost (the eager checkpoint pins gram ROWS, so each batch's confirm
    // is one broadcast join against cached blocks)
    val benchGrams = bench.map(b =>
      Contamination.benchNgrams(b, textCol, decontamN)
        .localCheckpoint(eager = true))
    startIngest(gated, checkpointDir, ledgerTable) { (batch0, bid) =>
      val spark = batch0.sparkSession
      batchShufflePartitions.foreach(n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toString))
      // Pay the stateless front end (source scan + bloom flag + quality
      // gate) exactly ONCE per batch: an EAGER localCheckpoint materializes
      // the micro-batch into storage blocks and truncates lineage, so the
      // funnel's independent exchange map-stages read blocks instead of
      // re-running the scan. A lazy persist() does NOT achieve this here —
      // the funnel's first execution materializes three exchanges under
      // AQE, each of whose single-task map stages recomputed the not-yet-
      // populated cache: measured three equal ~0.9 s jobs per batch at
      // sf0.1 (r18 per-job profile); with the eager checkpoint the front end
      // is one ~0.9 s job and the map stages read blocks.
      val batchCk = batch0.localCheckpoint(eager = true)
      // every checkpoint the body creates, released together at body end
      // (declared out here so the finally can see frames born inside try)
      val ckpts = scala.collection.mutable.ArrayBuffer[DataFrame](batchCk)
      def ck(df: DataFrame): DataFrame = { ckpts += df; df }
      // phase labels (guide §1.5): the funnel runs ~15 jobs per batch;
      // without labels the UI/profiler can't attribute them
      def phase(s: String): Unit =
        spark.sparkContext.setJobDescription(s"curate b$bid: $s")
      try {
      // two-phase decontam: exact n-gram confirm ONLY on the flagged slice
      val batch = benchGrams match {
        case Some(grams) =>
          val confirmed = Contamination
            .reportAgainstGrams(batchCk.filter(col(bloomFlag)), grams,
              idCol, textCol, decontamN)
            .filter(col("contaminated")).select(col(idCol))
          batchCk.join(confirmed, Seq(idCol), "left_anti").drop(bloomFlag)
        case None => batchCk.drop(bloomFlag)
      }
      // exact stage: key = whitespace-normalized lowercase text, so the
      // index's content_hash IS TextAnalysis.fingerprint of the doc
      val exactSurvivors = ck(Dedup.exactDedupIncremental(
          batch.withColumn(fpKey,
            regexp_replace(lower(trim(col(textCol))), "\\s+", " ")),
          exactIndexTable, idCol, fpKey)
        .localCheckpoint(eager = false)) // feeds local fuzzy + probe + appends
      // batch-local fuzzy pass, parameters pinned to the probed index (read
      // once at stream start, above). ONE shingle pass per batch: the same
      // checkpointed sets feed the local LSH pass, the cross-batch index
      // probe AND the index append — shingling is the funnel's expensive
      // map work, and the pre-r11 shape paid it three times per batch.
      graft.functions.VectorFunctions.register(spark)
      val sets = ck(exactSurvivors.select(col(idCol),
          expr(s"graft_shingle_hashes($textCol, $shingleSize)").as("sh"))
        .localCheckpoint(eager = false))
      // ONE banding pass per batch: the minhash signature (bands x
      // rowsPerBand hashes over every shingle of every doc) is the heaviest
      // per-doc map work after shingling, and the local pass, the index
      // probe AND the index append all need the identical banding — the
      // pre-r18 shape signed the batch three times (Dedup band-rows sharing
      // variants). Filters on the checkpointed frame stay row-identical to
      // banding the filtered sets: banding is per-doc.
      val bandRows = ck(Dedup
        .bandRowsOf(sets, idCol, bands, rowsPerBand)
        .localCheckpoint(eager = false))
      phase("local LSH pass + components")
      val localDrop = Dedup
        .components(Dedup.minhashDedupFromBandRows(sets, bandRows, idCol,
          maxBucket, threshold))
        .filter(col("id") =!= col("label")).select(col("id").as(idCol))
      val localSurvivors = exactSurvivors.join(localDrop, Seq(idCol), "left_anti")
      val localSurvivorSets = sets.join(localDrop, Seq(idCol), "left_anti")
      // cross-batch fuzzy: probe the persisted LSH index
      val dupIds = Dedup.probeSetsWithBands(localSurvivorSets,
          bandRows.join(localDrop, Seq(idCol), "left_anti"),
          lshIndexTable, idCol, maxBucket, threshold)
        .select(col("batch_id").as(idCol)).distinct()
      // EAGER: the four appends below all read this frame and run
      // CONCURRENTLY — materialize it once up front so the forked actions
      // read blocks instead of racing the lazy checkpoint's first
      // materialization
      phase("index probe + survivors")
      val survivors = ck(localSurvivors.join(dupIds, Seq(idCol), "left_anti")
        .localCheckpoint(eager = true)) // sink append + LSH index append
      // the batch's four table appends (sink, quarantine, exact index, LSH
      // index) are INDEPENDENT writes to different tables over materialized
      // checkpoints, and each one is mostly fixed commit-protocol/metastore
      // latency (~0.16-0.28 s regardless of rows — MachineryProbe, r18) —
      // submit them concurrently so the batch pays the slowest append, not
      // the sum (guide §2.6 "overlap independent jobs"). Crash semantics are
      // unchanged: the ledger already guards at WHOLE-BATCH granularity (a
      // crash anywhere between the first append and the ledger record
      // replays the entire body), so append ORDER within the body never
      // mattered; the ledger record still runs strictly AFTER every append
      // (`concurrently` joins all writers and rethrows the first failure
      // before [[BatchLedger]] can record).
      val appends = Seq[(String, () => Unit)](
        "sink append" -> (() =>
          survivors.drop(fpKey).write.mode(org.apache.spark.sql.SaveMode.Append)
            .format("parquet").saveAsTable(sinkTable))) ++
        // fuzzy-dropped docs (local pass + index probe) quarantine verbatim:
        // the evidence [[reconcileCurate]] needs to close transitive chains
        // that span batches — a dropped doc is in neither the sink nor the
        // LSH index, so without this record its links are unrecoverable
        quarantineTable.map(qt => "quarantine append" -> (() =>
          exactSurvivors.join(survivors.select(col(idCol)), Seq(idCol), "left_anti")
            .drop(fpKey)
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .format("parquet").saveAsTable(qt))) ++
        (if (!extendIndex) Seq.empty else Seq[(String, () => Unit)](
          "exact index append" -> (() =>
            Dedup.exactAppendToIndex(exactSurvivors, exactIndexTable, idCol,
              fpKey)),
          // final survivors' sets AND band rows, from the same single
          // shingle + signature passes
          "LSH index append" -> (() =>
            Dedup.minhashAppendToIndexFromBandRows(
              sets.join(survivors.select(col(idCol)), Seq(idCol), "left_semi"),
              bandRows.join(survivors.select(col(idCol)), Seq(idCol), "left_semi"),
              lshIndexTable))))
      graft.SparkUtil.concurrently(spark,
        appends.map { case (label, body) => (s"curate b$bid: $label", body) })
      } finally {
        spark.sparkContext.setJobDescription(null)
        // every per-batch checkpoint is superseded once the four appends
        // above have run (each downstream frame either wrote or is itself
        // a materialized checkpoint) — release their blocks NOW rather than
        // letting them accumulate across batches until ContextCleaner GC
        // (guide §5 memory hygiene; leaf-only release contract)
        ckpts.foreach(
          org.apache.spark.sql.graft.GraftSqlShims.unpersistCheckpoint(_))
        ()
      }
    }
  }

  /** Close the streaming funnel's cross-batch transitive-chain gap as a
    * BATCH job: re-run full pair discovery over the sink survivors PLUS the
    * quarantined fuzzy drops (banded with the parameters pinned in the LSH
    * index's meta table, exactly as every probe was), run connected
    * components over the accumulated evidence, and emit the LATE-LINKED
    * drop set — sink rows whose component holds a smaller-id sink member
    * they were only connected to through a quarantined doc (a~b, b~c in
    * three different batches: the stream kept `a` and `c`; this discovers
    * the b-bridge and emits `c`).
    *
    * Keeper policy: the minimum id AMONG SINK MEMBERS of each component —
    * a component whose global minimum is a quarantined doc cannot
    * resurrect it (its content was never admitted), so the earliest
    * admitted member stands. With id-ordered ingest this equals the batch
    * funnel's min-id keeper set exactly (spec-pinned on the chain corpus).
    *
    * Scale shape: one banding pass over |sink| + |quarantine| (hashes only
    * on the wire), the LSH self-join with the usual bucket cap, pointer-
    * jumping components over the pair graph, and one |sink|-keyed
    * aggregate. Run it at reconciliation cadence (per epoch/day), never
    * per batch — the whole point is that the streaming path stays
    * batch-sized and this pass amortizes the chain closure.
    */
  def reconcileCurate(spark: SparkSession, sinkTable: String,
      lshIndexTable: String, quarantineTable: String, idCol: String,
      textCol: String, maxBucket: Int = 100,
      threshold: Double = 0.7): DataFrame = {
    import graft.operators.Dedup
    graft.functions.VectorFunctions.register(spark)
    val (shingleSize, bands, rowsPerBand) = Dedup.readIndexMeta(spark, lshIndexTable)
    val sink = spark.table(sinkTable).select(col(idCol), col(textCol))
    val quarantine = spark.table(quarantineTable)
      .select(col(idCol), col(textCol)).distinct() // replays re-append
    val sets = sink.unionByName(quarantine)
      .select(col(idCol),
        expr(s"graft_shingle_hashes($textCol, $shingleSize)").as("sh"))
      .localCheckpoint(eager = false) // banding + both verify sides
    val pairs = Dedup.minhashDedupFromSets(sets, idCol, bands, rowsPerBand,
      maxBucket, threshold)
    val comps = Dedup.components(pairs).withColumnRenamed("id", idCol)
    val sinkMembers = sink.select(col(idCol)).join(comps, Seq(idCol))
    val keepers = sinkMembers.groupBy(col("label"))
      .agg(min(col(idCol)).as("_keep"))
    sinkMembers.join(keepers, "label")
      .filter(col(idCol) =!= col("_keep"))
      .select(col(idCol))
  }

  /** Stream-stream interval join: every left event joined to right events of
    * the same key with rightTs in [leftTs - upper, leftTs - lower] (backward
    * window). Watermarks on BOTH sides bound the join state — Spark retains
    * each side only until the other's watermark passes the interval, so state
    * is O(rate x window), not O(stream length). Both sides shuffle on the
    * key; at 100 TB/day this is the same key-partitioned discipline as the
    * batch RangeJoin, with watermark-driven cleanup instead of buckets.
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, lowerSec: Long, upperSec: Long,
      watermark: String = "2 hours", joinType: String = "inner"): DataFrame = {
    require(lowerSec <= upperSec, "interval lower bound must not exceed upper bound")
    val l = left.withWatermark(leftTs, watermark)
    // prefix ALL right columns: the common case is a self-join of two filters
    // of the same stream, where every unprefixed name would be ambiguous
    val r = right.toDF(right.columns.toIndexedSeq.map("_r_" + _): _*)
      .withWatermark("_r_" + rightTs, watermark)
    val keyCond = keys.map(k => col(k) === col("_r_" + k)).reduce(_ && _)
    val range = col(leftTs) >= col("_r_" + rightTs) + expr(s"INTERVAL $lowerSec SECONDS") &&
      col(leftTs) <= col("_r_" + rightTs) + expr(s"INTERVAL $upperSec SECONDS")
    // outer variants emit their null-padded rows only once the watermark
    // passes the join bound — drain with allowNoDataBatches=true and a
    // fence ([[eventsStreamFenced]]) ahead by MORE than watermark+upperSec,
    // or the trailing unmatched rows stay buffered forever
    l.join(r, keyCond && range, joinType)
  }

  /** Run a streaming query to a memory sink, drain all available input
    * synchronously, and return the result table. Complete mode for
    * aggregations (default); Append for stream-stream joins.
    *
    * `statePartitions` sizes the streaming state store (fixed at first
    * start): size it to the aggregate's key cardinality, not the batch scan
    * default — 32 state-store instances for a few thousand groups cost ~2x
    * per-batch overhead on this corpus.
    *
    * `allowNoDataBatches` MUST be true for plans whose final results only
    * emit on a trailing no-data micro-batch: Append-mode event-time
    * aggregations and event-time state timeouts (e.g.
    * [[graft.operators.Sessionize.streamingSessionsFlushed]]) finalize
    * when the watermark advances past them, which happens one batch AFTER
    * the last data batch. The default (false) skips that trailing batch —
    * correct and faster for Complete-mode aggregations and plain Append
    * joins/projections, silently wrong for the watermark-finalized shapes.
    */
  /** Sink tables left behind by table-routed [[runToMemory]] drains: the
    * returned frame is a batch scan of the table, so the drop has to wait
    * until the caller has consumed it — harnesses call [[dropDrainResidue]]
    * once per query (after materializing) or at suite teardown.
    */
  private val drainResidue = new scala.collection.concurrent.TrieMap[String, Unit]()

  /** Drop the parquet sink tables accumulated by table-routed drains. Only
    * call AFTER the frames returned by [[runToMemory]] have been consumed —
    * they read these tables. Safe to call when nothing is pending.
    */
  def dropDrainResidue(spark: SparkSession): Unit =
    drainResidue.keys.foreach { t =>
      graft.sources.Sources.dropForOverwrite(spark, t)
      drainResidue.remove(t)
    }

  /** Per-name release: drop ONLY the sink table behind the named
    * [[runToMemory]] drain (the table is `<name>_t`), for a harness that
    * just consumed that one frame but may still hold other table-routed
    * frames unconsumed — the drop-all form above would invalidate those at
    * their next action. No-op if the name was memory-routed or already
    * dropped.
    */
  def dropDrainResidue(spark: SparkSession, name: String): Unit = {
    val t = s"${name}_t"
    if (drainResidue.contains(t)) {
      graft.sources.Sources.dropForOverwrite(spark, t)
      drainResidue.remove(t)
    }
  }

  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
      statePartitions: Option[Int] = None,
      outputMode: OutputMode = OutputMode.Complete(),
      allowNoDataBatches: Boolean = false): DataFrame = {
    // DRIVER-SAFE routing for large results (the sf10 lesson: a memory sink
    // holds every emission on the DRIVER heap — millions of appended
    // session rows OOM an 8g driver, while the executors were never the
    // problem). When the harness sets spark.graft.stream.drain=table
    // (Bench and Probe set it by input volume), Append/Update drains go
    // through [[drainToTable]] into a parquet table instead — emissions
    // land distributed, the returned frame is a batch scan of the table.
    // Complete mode stays on the memory sink regardless: the memory sink
    // REPLACES its contents each batch (snapshot semantics) where a table
    // drain APPENDS, and a Complete-mode result is the aggregate state
    // itself — the thing that must fit SOMEWHERE whole.
    if (spark.conf.get("spark.graft.stream.drain", "memory") == "table" &&
        outputMode != OutputMode.Complete()) {
      val tbl = s"${name}_t"
      val ledger = s"${name}_tl"
      Seq(tbl, ledger).foreach(graft.sources.Sources.dropForOverwrite(spark, _))
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_drain_$name")
      try {
        drainToTable(spark, streamed, tbl, ckpt.toString, ledger,
          statePartitions = statePartitions,
          allowNoDataBatches = allowNoDataBatches, outputMode = outputMode)
      } finally {
        // the drain is synchronous and this checkpoint belongs to THIS call
        // only (real restart gates manage their own dirs through
        // drainToTable directly) — delete it now, or a multi-hundred-query
        // sf10 sweep leaves an unbounded /tmp trail of state snapshots
        StreamFixture.delete(ckpt.toFile)
      }
      // the ledger only guards replays DURING the drain; the returned frame
      // is a scan of the sink table alone, so the ledger can go now. The
      // sink table must outlive this call (the caller hasn't read it yet) —
      // park it for [[dropDrainResidue]] at harness teardown.
      graft.sources.Sources.dropForOverwrite(spark, ledger)
      drainResidue.put(tbl, ())
      return spark.table(tbl).drop("_batch_id")
    }
    def drain(): Unit = {
      // a synchronous drain doesn't need the trailing empty micro-batch that
      // event-time cleanup would use — skipping it saves a full batch round
      // trip per run (results are unaffected: all data batches still run).
      // The restore is its own finally so a throw from start()/stop() cannot
      // leave the session conf mutated.
      val key = "spark.sql.streaming.noDataMicroBatches.enabled"
      val saved = spark.conf.get(key)
      try {
        spark.conf.set(key, allowNoDataBatches.toString)
        val q = streamed.writeStream
          .outputMode(outputMode)
          .format("memory")
          .queryName(name)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally spark.conf.set(key, saved)
    }
    statePartitions match {
      case Some(n) => graft.SparkUtil.withShufflePartitions(spark, n)(drain())
      case None => drain()
    }
    spark.table(name)
  }
}
