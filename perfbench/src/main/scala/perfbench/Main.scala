package perfbench

/** Command line of one benchmark run (see README.md). `run.py` builds the
  * classpath; the core count is the JVM's (CPU affinity and quotas
  * included). `--cache-dir` holds the written tables between runs;
  * `--dump-inputs` prints the digest of the generated inputs and exits
  * without starting Spark.
  */
final case class Args(
    workload: String = "",
    seed: Long = 1,
    seconds: Int = 10,
    trace: Boolean = false,
    small: Boolean = false,
    cores: Int = Runtime.getRuntime.availableProcessors(),
    runDir: String = "",
    cacheDir: String = "",
    spanDir: String = "",
    dumpInputs: Boolean = false)

object Main {
  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--size" :: v :: rest =>
      require(v == "small" || v == "full", s"--size must be small or full, got $v")
      parse(rest, a.copy(small = v == "small"))
    case "--run-dir" :: v :: rest => parse(rest, a.copy(runDir = v))
    case "--cache-dir" :: v :: rest => parse(rest, a.copy(cacheDir = v))
    case "--span-dir" :: v :: rest => parse(rest, a.copy(spanDir = v))
    case "--dump-inputs" :: rest => parse(rest, a.copy(dumpInputs = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(Gen.Workloads.contains(a.workload),
      s"--workload must be one of ${Gen.Workloads.mkString(", ")}")
    if (a.dumpInputs) {
      println(Gen.inputs(a.workload, a.seed, a.small).digest)
      return
    }
    require(a.runDir.nonEmpty && a.cacheDir.nonEmpty, "--run-dir and --cache-dir are required")
    val code =
      try { new Bench(a).run(); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }
}
