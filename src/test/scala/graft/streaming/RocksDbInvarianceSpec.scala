package graft.streaming

import graft.SparkFunSuite

/** Provider-invariance sweep over every NATIVE-stateful streaming query
  * (VERDICT r13 #3): each query runs once under the default HDFS-backed
  * state store and once under RocksDB — the disk-backed engine 100 TB
  * state requires — and the results must be identical. The RocksDB pass
  * runs with an explicit checkpoint root so the sweep can PROVE the
  * provider was engaged (RocksDB writes .zip snapshots / .changelog files
  * where the default provider writes .delta) — a silent heap fallback
  * would otherwise make the whole sweep vacuous.
  *
  * The shapes covered and the state each holds:
  *   - stream_window_agg / stream_window_hop: tumbling/hopping aggregates
  *     (one row per open window x key, Complete mode)
  *   - stream_cdc_materialize: Complete-mode latest-row maintenance
  *   - stream_late_drop: watermarked aggregate with state EVICTION
  *   - stream_sessionize: flatMapGroupsWithState custom state
  *   - stream_session_window: Catalyst MergingSessions state
  *   - stream_interval_join / _outer: stream-stream join state, the
  *     LARGEST (both inputs buffer until the watermark clears the range);
  *     the inner shape is also a driver-contract oracled query
  *     (stream_interval_join_rocksdb), this sweep covers the family.
  *
  * Restart/rollback parity for RocksDB is separately pinned in
  * StreamingRestartSpec (session windows on a real checkpoint across a
  * crash); this sweep pins RESULT parity family-wide.
  */
class RocksDbInvarianceSpec extends SparkFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private val family = Seq(
    "stream_window_agg", "stream_window_hop", "stream_cdc_materialize",
    "stream_late_drop", "stream_sessionize", "stream_session_window",
    "stream_interval_join", "stream_interval_join_outer")

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
    else Seq(f)

  test("every native-stateful query is state-provider-invariant (RocksDB == default)") {
    family.foreach { name =>
      val q = graft.SparkEntry.queries(name)
      val dflt = q(spark, dir).collect().map(_.toString).toSeq
      val ckptRoot = tempDir(s"graft_rdb_$name")
      val rocks = graft.SparkUtil.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" -> rocksProvider,
        "spark.sql.streaming.checkpointLocation" -> ckptRoot.getPath) {
        q(spark, dir).collect().map(_.toString).toSeq
      }
      assert(dflt.nonEmpty, s"$name: empty result under the default provider")
      assert(rocks == dflt,
        s"$name: RocksDB result diverges from the default provider")
      // artifact proof: the pass above really ran on RocksDB
      val stateFiles = walk(ckptRoot)
        .filter(_.getPath.contains("/state/")).map(_.getName)
      assert(stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
        s"$name: no RocksDB artifacts under $ckptRoot — provider not engaged")
      assert(!stateFiles.exists(_.endsWith(".delta")),
        s"$name: HDFS-backed .delta files present — silent heap fallback")
    }
  }
}
