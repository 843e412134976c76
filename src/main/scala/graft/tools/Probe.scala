package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Warm-rep probe of named SparkEntry queries: where a query's time goes,
  * and what session confs do to it. The solo reading a suspect bench item
  * is confirmed or retired on (in-suite readings carry position, JIT and
  * page-cache noise).
  *
  * Usage: runMain graft.tools.Probe <query,...> [dir,...] [reps] [k=v ...]
  *
  * `dir` defaults to `SPARK_GRAFT_SF_DIR`, `reps` to 2. Per (dir, query):
  * one untimed warm-up, then `reps` measured reps, each forced through the
  * noop sink and released like a Bench query. Every run prints its wall
  * time, job count, summed job time and driver gap (wall minus the union
  * of job intervals: planning, commits and other driver-side work), the
  * generated classes it compiled and their compile time (whole-JVM
  * counters: in local mode the executors share the driver's JVM), then
  * the stage lines and plan head of each job of at least [[SlowJobMs]].
  * With `k=v` arguments each rep is an in-JVM A/B pair, A under the
  * session's confs and B with the overrides, so both arms share JIT,
  * page-cache and GC state (cross-JVM runs carry ±20-30% noise, more than
  * most conf effects); the (dir, query) ends with per-arm medians and B/A.
  */
object Probe {
  /** Jobs at least this slow get their stage and plan lines printed. */
  val SlowJobMs = 150L
  /** Lines of a slow job's physical plan to print. */
  val PlanLines = 12

  private final case class Job(id: Int, desc: String, startMs: Long, endMs: Long) {
    def ms: Long = endMs - startMs
  }

  /** Finished jobs with their description, stage lines and SQL plan. */
  private final class JobListener extends SparkListener {
    private val running = new ConcurrentHashMap[Int, (String, Long)]()
    private val jobOfStage = new ConcurrentHashMap[Int, Int]()
    private val execOfJob = new ConcurrentHashMap[Int, Long]()
    private val plans = new ConcurrentHashMap[Long, String]()
    private val stages = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[String]]()
    private val done = new ConcurrentLinkedQueue[Job]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      // without a job description, the final stage's call site names the job
      running.put(js.jobId, (prop("spark.job.description")
        .orElse(js.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?"), js.time))
      prop("spark.sql.execution.id").foreach(id => execOfJob.put(js.jobId, id.toLong))
      js.stageInfos.foreach(si => jobOfStage.put(si.stageId, js.jobId))
      stages.put(js.jobId, new ConcurrentLinkedQueue[String]())
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      for (jid <- Option(jobOfStage.get(si.stageId)); lines <- Option(stages.get(jid))) {
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(-1L)
        lines.add(s"stage ${si.stageId}: ${ms}ms wall, ${si.numTasks} tasks, " +
          s"${si.taskMetrics.executorRunTime}ms taskRun, ${si.name.take(80)}")
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(running.remove(je.jobId)).foreach { case (desc, t0) =>
        done.add(Job(je.jobId, desc, t0, je.time))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
      case _ => ()
    }

    def stagesOf(jobId: Int): Seq[String] =
      Option(stages.get(jobId)).map(_.asScala.toSeq).getOrElse(Nil)

    def planOf(jobId: Int): Option[String] =
      Option(execOfJob.get(jobId)).flatMap(id => Option(plans.get(id)))

    /** Forget everything recorded so far; the next run starts clean. */
    def reset(): Unit = {
      Seq(running, jobOfStage, execOfJob, plans, stages).foreach(_.clear())
      done.clear()
    }

    def jobs: Seq[Job] = done.iterator().asScala.toSeq.sortBy(_.id)
  }

  /** Milliseconds covered by at least one job (overlapping jobs count once). */
  private def unionMs(jobs: Seq[Job]): Long =
    jobs.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) { case ((sum, end), j) =>
      if (j.endMs <= end) (sum, end)
      else (sum + j.endMs - math.max(j.startMs, end), j.endMs)
    }._1

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** (classes compiled, compile nanoseconds) so far in this JVM: one
    * `CodegenMetrics` compilation-time sample per janino compile (cache
    * hits compile nothing), and `CodeGenerator`'s compile-time counter.
    */
  private def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe <query,...> [dir,...] [reps] [k=v ...]")
    val names = args(0).split(",").toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val (kvs, plain) = args.toSeq.tail.partition(_.contains("="))
    val overrides = kvs.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val reps = plain.flatMap(_.toIntOption).headOption.getOrElse(2)
    val dirs = plain.find(_.toIntOption.isEmpty).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("Probe: name a data dir or set SPARK_GRAFT_SF_DIR"))
      .split(",").toSeq
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString)
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)

    /** One run: wall seconds, after printing its job breakdown. */
    def run(dir: String, name: String, label: String): Double = {
      listener.reset()
      val (classes0, compileNs0) = codegen()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // listener events arrive asynchronously; let the bus drain
      Thread.sleep(500)
      val jobs = listener.jobs
      val (classes1, compileNs1) = codegen()
      println(f"[probe] $dir $name $label wall=${wallMs / 1e3}%.2f s jobs=${jobs.size} " +
        f"jobMs=${jobs.map(_.ms).sum} gapMs=${wallMs - unionMs(jobs)}%.0f " +
        f"compiles=${classes1 - classes0} compileMs=${(compileNs1 - compileNs0) / 1e6}%.0f")
      // start offsets show serialization vs overlap between jobs
      val epoch = jobs.map(_.startMs).minOption.getOrElse(0L)
      jobs.filter(_.ms >= SlowJobMs).foreach { j =>
        println(f"  job ${j.id}%4d +${(j.startMs - epoch) / 1e3}%7.2f ${j.ms}%6d ms  ${j.desc.take(110)}")
        listener.stagesOf(j.id).foreach(s => println(s"        $s"))
        listener.planOf(j.id).foreach { plan =>
          println("        -- SQL plan (head) --")
          plan.linesIterator.take(PlanLines).foreach(l => println(s"        | $l"))
        }
      }
      graft.SparkUtil.release(spark)
      wallMs / 1e3
    }

    for (dir <- dirs; name <- names) {
      // big dirs route streaming drains through the parquet table sink
      graft.streaming.StreamOps.configureDrainFor(spark, dir)
      try {
        run(dir, name, "warm-up")
        if (overrides.isEmpty) {
          val times = (1 to reps).map(r => run(dir, name, s"#$r"))
          println(f"[probe] $dir $name median=${median(times)}%.2f s over $reps reps")
        } else {
          val pairs = (1 to reps).map { r =>
            (run(dir, name, s"A#$r"),
              graft.SparkUtil.withConfs(spark, overrides: _*)(run(dir, name, s"B#$r")))
          }
          val (a, b) = (median(pairs.map(_._1)), median(pairs.map(_._2)))
          println(f"[probe] $dir $name medA=$a%.2f s medB=$b%.2f s B/A=${b / a}%.2f " +
            s"over $reps pairs, B: ${kvs.mkString(" ")}")
        }
      } catch {
        case e: Exception => println(s"[probe] $dir $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
