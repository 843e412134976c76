package graft.streaming

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A staged file stream: the one way a scenario scripts exact micro-batch
  * boundaries offline (fences, late arrivals, crash-restart phases). Under
  * one temp `root`:
  *  - `side/` holds the staged slices, one parquet file each, not yet
  *    visible to the stream;
  *  - `in/` is the directory [[stream]] reads with `maxFilesPerTrigger=1`,
  *    so every file there is one micro-batch;
  *  - `ckpt/` is the checkpoint a restart scenario replays from.
  *
  * Arrival order is staging order, pinned twice: by file name and by mtimes
  * a minute apart (the file source orders by mtime). [[arrive]] moves the
  * next staged files into `in/` (phased arrival); [[crash]] leaves the
  * checkpoint as a kill between a batch's side effects and its commit would.
  *
  * Lifetime: [[StreamFixture.within]] deletes the root when its block ends,
  * normally or by a throw, for scenarios that stop reading the files once
  * their queries stop. [[StreamFixture.untilExit]] leaves it to one
  * JVM-exit sweep, for fixtures read after their caller returns (memos,
  * lazily read streams).
  */
final class StreamFixture private (val root: File) {
  val side = new File(root, "side")
  val in = new File(root, "in")
  val ckpt = new File(root, "ckpt")
  side.mkdirs(); in.mkdirs()

  private var schema: Option[StructType] = None
  private var staged = 0  // files staged so far; names continue across calls
  private var arrived = 0 // of those, the ones moved into in/

  private def name(i: Int): String = f"b$i%03d.parquet"

  /** Place staged file `i` into `side/` with the mtime of its slot among
    * the `n` files staged at `now`.
    */
  private def place(src: File, i: Int, n: Int, now: Long, copy: Boolean): Unit = {
    val dst = new File(side, name(staged + i))
    if (copy) Files.copy(src.toPath, dst.toPath) else Files.move(src.toPath, dst.toPath)
    dst.setLastModified(now - (n - i) * 60000L)
    ()
  }

  /** Stage `slices` after any already staged, one parquet file each
    * (`repartition(1)`: the slice's plan stays parallel, only the write is
    * one task). The single-file writes are independent jobs, so they run
    * concurrently ([[graft.SparkUtil.concurrently]]; the sequential loop
    * measured ~8.5 s per staging at ScaleUp-sf10, PLANS.md r16), and a
    * failed write fails here, at the write site. Names and mtimes come from
    * the slice index, never from write completion order. Callers hand over
    * plans that are cheap to re-read (eager checkpoints), or each writer
    * recomputes them.
    */
  def stage(slices: Seq[DataFrame]): this.type = {
    require(slices.nonEmpty, "nothing to stage")
    val now = System.currentTimeMillis()
    graft.SparkUtil.concurrently(slices.head.sparkSession,
      slices.zipWithIndex.map { case (sl, i) =>
        s"stage slice ${staged + i}" -> (() => {
          val part = new File(root, s"part${staged + i}")
          sl.repartition(1).write.parquet(part.getPath)
          place(part.listFiles().filter(_.getName.endsWith(".parquet")).head,
            i, slices.size, now, copy = false)
          StreamFixture.delete(part)
        })
      })
    schema = schema.orElse(Some(slices.head.schema))
    staged += slices.size
    this
  }

  /** Stage copies of `from`'s staged files (a filesystem copy instead of
    * re-running their writes), with mtimes pinned as [[stage]] pins them.
    * `from` is left as it was.
    */
  def stageCopies(from: StreamFixture): this.type = {
    require(from.arrived == 0, "stageCopies needs a fixture whose files are all staged")
    val now = System.currentTimeMillis()
    (0 until from.staged).foreach(i =>
      place(new File(from.side, from.name(i)), i, from.staged, now, copy = true))
    schema = schema.orElse(from.schema)
    staged += from.staged
    this
  }

  /** Move the next `n` staged files into the stream directory. */
  def arrive(n: Int): this.type = {
    require(arrived + n <= staged, s"only ${staged - arrived} staged files left")
    (arrived until arrived + n).foreach(i =>
      Files.move(new File(side, name(i)).toPath, new File(in, name(i)).toPath))
    arrived += n
    this
  }

  def arriveAll(): this.type = arrive(staged - arrived)

  /** The stream over `in/`: one file per micro-batch, in arrival order. */
  def stream(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(schema.getOrElse(throw new IllegalStateException("nothing staged")))
      .option("maxFilesPerTrigger", 1).parquet(in.getPath)

  /** Simulate the crash window Spark replays for: the newest micro-batch
    * ran to completion (every side effect landed) but the engine died
    * before recording its commit. Deletes the newest `commits/` entry and
    * its local-FS checksum sibling (a stale `.crc` fails the re-commit's
    * rename), so a restarted query re-executes that batchId over the same
    * offsets-logged input. Offsets are written before a batch and commits
    * after, so any kill between those two writes leaves exactly this state.
    */
  def crash(): Unit = {
    val commits = new File(ckpt, "commits")
    val entries = Option(commits.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))
    require(entries.nonEmpty, s"no commit entries under $commits")
    val latest = entries.maxBy(_.getName.toLong)
    new File(commits, s".${latest.getName}.crc").delete()
    require(latest.delete(), s"could not delete $latest")
  }
}

object StreamFixture {
  /** Run `body` over a fresh fixture, deleting it when `body` returns or
    * throws.
    */
  def within[T](prefix: String)(body: StreamFixture => T): T = {
    val fx = new StreamFixture(Files.createTempDirectory(prefix).toFile)
    try body(fx) finally delete(fx.root)
  }

  /** A fresh fixture that outlives its caller, swept at JVM exit. */
  def untilExit(prefix: String): StreamFixture = {
    stagedCleanupHook
    val root = Files.createTempDirectory(prefix)
    stagedForCleanup.add(root)
    new StreamFixture(root.toFile)
  }

  /** Every [[untilExit]] root (including one staged by the losing side of a
    * concurrent first memo fill, which `TrieMap.getOrElseUpdate` may
    * evaluate on both sides), swept by a JVM shutdown hook so a long sbt
    * session doesn't accumulate fixture dirs in the temp dir.
    */
  private val stagedForCleanup = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val stagedCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagedForCleanup.forEach(d =>
        try delete(d.toFile) catch { case _: Throwable => () })))

  /** Delete `dir` and everything under it; a no-op if it is gone. */
  def delete(dir: File): Unit = {
    import scala.jdk.CollectionConverters._
    if (dir.exists) {
      val walk = Files.walk(dir.toPath)
      // toList materializes before close; deepest-first so dirs empty out
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.sortBy(-_.getNameCount).foreach((p: Path) => Files.deleteIfExists(p))
    }
  }
}
