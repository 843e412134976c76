package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the official artifact has been lost to the driver's window four rounds
    // running, so the dump's wall-clock is a correctness concern (VERDICT
    // r10 #1). Default measured on the 32-core sandbox at sf0.01: 8 threads
    // beat both 4 (258 s vs 209 s) and 32 (311 s) — the dump is hundreds of
    // small jobs, where scheduler overhead dominates past ~8 tasks/stage.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(8, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkUtil.localSession(cpus)
    // the dump re-reads documents/events/embeddings per query; cache the
    // shared inputs once for the run (content identical, plan shape not
    // asserted here — the plan-shape specs run the uncached path)
    graft.queries.Tables.cacheInputs.set(true)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c reruns a subset (local iteration; the driver
    // never sets it, so the official gate always dumps every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val t0 = System.nanoTime()
    val nFail = new java.util.concurrent.atomic.AtomicInteger(0)
    val names = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    val nRun = names.size
    def dumpOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val tq = System.nanoTime()
      try {
        // plain parallel write, NOT coalesce(1): coalesce collapses the
        // whole final stage to one task. Order is preserved for the
        // positional compare — every multi-row query is globally sorted, so
        // the range-partitioned part files concatenate in file-name order to
        // the same row order a single-part write would produce.
        val dir = s"$outDir/$name"
        fn(spark, sfDir).write.mode("overwrite").parquet(dir)
        // an all-empty result can legally write zero part files; the
        // checker needs at least one footer to read the schema from
        val hasPart = Option(new java.io.File(dir).listFiles())
          .exists(_.exists(_.getName.endsWith(".parquet")))
        if (!hasPart)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir)
      } catch { case e: Throwable =>
        nFail.incrementAndGet()
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query wall-clock on stderr: the dump's total is a gate-window
      // concern (VERDICT r10 #1), so regressions must be attributable
      System.err.println(
        f"[verify-t] $name ${(System.nanoTime() - tq) / 1e9}%.2f")
    }
    // The dump is hundreds of INDEPENDENT small jobs whose wall is mostly
    // per-job fixed overhead, so a few concurrent driver threads overlap it
    // (Spark actions are thread-safe; every query writes its own output dir
    // and uses per-query view/table/sink names — audited). Results are
    // partition-layout independent by design (this main's shuffle setting
    // already varies with the machine), so concurrent runs cannot change
    // them. SPARK_GRAFT_VERIFY_THREADS=1 restores the sequential dump.
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    if (threads <= 1) names.foreach { case (n, f) => dumpOne(n, f) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        names.map { case (n, f) =>
          pool.submit(new Runnable { def run(): Unit = dumpOne(n, f) })
        }.foreach(_.get())
      } finally pool.shutdown()
    }
    // the round's own correctness receipt: one unambiguous summary line on
    // stdout (the driver and the round log both see it)
    println(f"[verify] dump complete: $nRun queries, ${nFail.get()} failures, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s, out=$outDir")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
