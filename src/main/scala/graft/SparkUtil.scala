package graft

import org.apache.spark.sql.SparkSession

object SparkUtil {

  /** Cores for a tool's `local[N]` master and shuffle partitions:
    * `SPARK_GRAFT_CPUS` when it is a number, else the JVM's
    * `availableProcessors` (which honours CPU affinity and quotas).
    */
  def localCpus(): Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session factory of the mains and tools: master `local[cpus]`,
    * as many shuffle partitions, UTC, no UI and WARN logging, plus `confs`.
    * `cpus` goes in as given: Bench passes its `SPARK_GRAFT_CPUS` contract
    * value through unparsed.
    */
  def localSession(cpus: String, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed release after one measured query run. BLOCKING unpersist of
    * every persisted RDD, localCheckpoint blocks included: the
    * ContextCleaner reclaims those only after a GC notices the dead
    * references, and with the async form the next run starts while
    * eviction is still queued (pending blocks distorted later timings:
    * dedup_groups read 3x slower in-suite than solo, and at sf1 q1_agg read
    * 19 s in-suite vs 2.8 s solo as leftover blocks pushed the 8g heap to
    * its ceiling). Then the cache, and the sink table of a table-routed
    * stream drain, which the run's noop write fully consumed (an sf10 sweep
    * otherwise accumulates 280+ tables of warehouse residue).
    */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    graft.streaming.StreamOps.dropDrainResidue(spark)
    System.gc()
  }

  /** One lock per session (weakly keyed — must not outlive the session):
    * `spark.sql.shuffle.partitions` is session-global mutable state, so two
    * threads interleaving save/set/restore can permanently strand the conf
    * at a temporary value and run unrelated concurrent queries under it
    * (graft.Verify's parallel drain is exactly that shape). The lock makes
    * the whole override+body+restore atomic per session; reentrant so
    * nested overrides on one thread still save/restore pairwise.
    */
  private val shuffleLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.locks.ReentrantLock]())

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to `n`,
    * restoring the previous value afterwards. Used to size iterative or
    * stateful stages (dedup-graph label propagation, streaming state stores)
    * to their own data volume instead of the corpus-scan default.
    *
    * Serialized per session: concurrent callers queue rather than race the
    * session-wide conf (and other queries on the session still observe the
    * temporary value while `body` runs — an override, not isolation; use
    * `spark.newSession()` for that). Materialize (checkpoint/collect)
    * inside `body`: plans evaluated lazily after return see the restored
    * value.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    withConfs(spark, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Submit independent Spark actions from their own threads so they run
    * CONCURRENTLY on the shared scheduler (optimization guide §2.6 "overlap
    * independent jobs") — the pattern the curate funnel's four tail appends
    * and the slice-fixture writes already use, shared: table appends are
    * mostly fixed commit-protocol/metastore latency (~0.16-0.28 s
    * regardless of rows — MachineryProbe, r18), so a sequential body pays
    * the SUM where the scheduler could pay the slowest. Each action's
    * Throwable is captured and the first rethrows AFTER all joins (a failed
    * write surfaces here, at the write site, never as a downstream
    * mystery); each thread labels its jobs with the action's name (job
    * descriptions are thread-local). Callers must hand actions over
    * MATERIALIZED inputs (eager checkpoints): two actions racing a lazy
    * checkpoint's first materialization compute the plan twice.
    */
  def concurrently(spark: SparkSession, actions: Seq[(String, () => Unit)]): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = actions.map { case (label, body) =>
      new Thread(() => {
        try { spark.sparkContext.setJobDescription(label); body() }
        catch { case t: Throwable => failures.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    if (!failures.isEmpty) {
      // first failure is the cause; the rest ride along as suppressed so no
      // diagnostic is reduced to a count ($first interpolates the class name
      // too — getMessage alone can be null)
      val first = failures.poll()
      val ex = new RuntimeException(
        s"concurrent action failed (${failures.size + 1} of ${actions.size}): $first",
        first)
      var t = failures.poll()
      while (t != null) { ex.addSuppressed(t); t = failures.poll() }
      throw ex
    }
  }

  /** [[withShufflePartitions]] generalized to any session-conf overrides,
    * under the same per-session lock (one lock for ALL conf overrides: two
    * different-key overrides interleaving is just as racy as same-key).
    * Values are restored in reverse order; a key with no prior value is
    * unset. Materialize inside `body` — lazily-evaluated plans see the
    * restored values.
    */
  def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val lock = shuffleLocks.computeIfAbsent(spark,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    try {
      val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.reverse.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    } finally lock.unlock()
  }
}
