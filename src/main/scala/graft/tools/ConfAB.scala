package graft.tools

import org.apache.spark.sql.SparkSession

/** In-JVM interleaved A/B of session-conf overrides on named SparkEntry
  * queries. Cross-JVM probes (QueryProbe with different EXTRA_CONFS) carry
  * ±20-30% JVM-level noise (JIT depth, page cache, GC rhythm) — bigger than
  * most conf effects. This runs one warm-up rep, then alternates
  * A(default)/B(override) reps in the SAME JVM so both arms share identical
  * JIT/cache state, and reports per-arm medians.
  *
  * Usage: runMain graft.tools.ConfAB <query,...> [dir]
  * Env:   SPARK_GRAFT_AB_CONFS  k=v;k=v — the B arm (required)
  *        SPARK_GRAFT_AB_PAIRS  interleaved pairs per query (default 3)
  *        SPARK_GRAFT_CPUS      local[N] and shuffle partitions (default:
  *                              the JVM's available processors)
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ConfAB <query,...> [dir]")
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val overrides = sys.env.getOrElse("SPARK_GRAFT_AB_CONFS",
      sys.error("SPARK_GRAFT_AB_CONFS required")).split(";").toSeq
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val pairs = sys.env.getOrElse("SPARK_GRAFT_AB_PAIRS", "3").toInt
    val cpus = graft.SparkUtil.localCpus()
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.streaming.StreamOps.configureDrainFor(spark, dir)
    val defaults = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      graft.streaming.StreamOps.dropDrainResidue(spark)
      System.gc()
      t
    }

    names.foreach { name =>
      once(name) // warm-up, untimed
      val a = scala.collection.mutable.ArrayBuffer.empty[Double]
      val b = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to pairs).foreach { _ =>
        defaults.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        a += once(name)
        overrides.foreach { case (k, v) => spark.conf.set(k, v) }
        b += once(name)
      }
      defaults.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      println(f"[confab] $name%-32s A=${a.map(x => f"$x%.2f").mkString(",")} " +
        f"B=${b.map(x => f"$x%.2f").mkString(",")}  medA=${med(a.toSeq)}%.2f medB=${med(b.toSeq)}%.2f  B/A=${med(b.toSeq) / med(a.toSeq)}%.2f")
    }
    spark.stop()
  }
}
