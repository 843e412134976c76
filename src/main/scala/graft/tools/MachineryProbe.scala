package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decompose the per-micro-batch machinery floor (the r12 finding: ~1.6-2.3 s
  * per one-row batch in the curate funnel): time N one-row micro-batches
  * through foreachBatch bodies of increasing weight —
  *   (a) noop write only
  *   (b) + BatchLedger guard
  *   (c) + one plain saveAsTable append
  *   (d) + one bucketed index append
  * and print per-batch means, so "machinery" stops being one opaque number.
  */
object MachineryProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString)
    import spark.implicits._

    val nBatches = 6
    def run(tag: String)(body: (DataFrame, Long) => Unit): Double = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Long]
      val perBatch: (DataFrame, Long) => Unit = (b, bid) => {
        val t = System.nanoTime(); body(b, bid); times += (System.nanoTime() - t)
      }
      val wall = graft.streaming.StreamFixture.within("graft_mach") { fx =>
        val rows = (0 until nBatches).map(i => Seq((i.toLong, s"row $i")).toDF("id", "text"))
        val q = fx.stage(rows).arriveAll().stream(spark).writeStream.outputMode("append")
          .foreachBatch(perBatch).start()
        val t0 = System.nanoTime()
        q.processAllAvailable(); q.stop()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$tag%-22s wall=$wall%6.2f s  bodyPerBatch=${times.map(_ / 1e9).sum / times.size}%6.3f s  nonBody=${(wall - times.map(_ / 1e9).sum) / nBatches}%6.3f s/batch")
      wall
    }

    // warm the streaming machinery once (JIT, classloading)
    run("warmup") { (b, _) => b.write.format("noop").mode("overwrite").save() }

    run("a: noop body") { (b, _) =>
      b.write.format("noop").mode("overwrite").save()
    }
    Seq("mach_ledger", "mach_sink_b", "mach_sink_c", "mach_idx").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previous probe JVM's warehouse dir survives a fresh metastore's
      // DROP as an orphan location; remove it or the append fails
      val wh = new java.io.File(new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath)
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
        f.delete(); ()
      }
      rmrf(new java.io.File(wh, t))
    }
    run("b: ledger + noop") { (b, bid) =>
      graft.streaming.StreamOps.BatchLedger.once(
        b.sparkSession, Some("mach_ledger"), bid) {
        b.write.format("noop").mode("overwrite").save()
      }
    }
    run("c: one saveAsTable") { (b, _) =>
      b.write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable("mach_sink_c")
    }
    graft.operators.Dedup.exactWriteBucketed(
      Seq((0L, "seed")).toDF("id", "text").limit(0).withColumn("k", col("text")),
      "mach_idx", "id", "k", numBuckets = 4)
    run("d: one bucketed append") { (b, _) =>
      graft.operators.Dedup.exactAppendToIndex(
        b.withColumn("k", col("text")), "mach_idx", "id", "k")
    }
    spark.stop()
  }
}
