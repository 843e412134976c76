package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SecurityContext
import graft.plans.{ColumnDenyCheck, DataMaskRule, GraftSecurityExtensions, RowFilterRule, SecurityTags, SqlRenderer, TableScope}
import graft.policy.{ColumnDenyPolicy, DataMaskPolicy, DenyRowPolicy, PolicyManager, RowFilterPolicy}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, pmod, sum, xxhash64}

/** How an op reaches the program. */
sealed trait Mode { def name: String }
object Mode {
  /** `SecurityContext.dfMixed`, then fetch-10 or a noop-sink evaluation. */
  case object Ctx extends Mode { val name = "ctx" }
  /** Raw `spark.sql` in a session with `spark.graft.user` set. */
  case object Ext extends Mode { val name = "ext" }
  /** `SecurityContext.mixedRewriteSql`: SQL text, no execution. */
  case object Rewrite extends Mode { val name = "rewrite" }
  /** `INSERT INTO sink SELECT ...` through `SecurityContext.mixedExecute`. */
  case object Insert extends Mode { val name = "insert" }
  /** One `PolicyManager` write of the open-loop admin client. */
  case object Admin extends Mode { val name = "admin" }
}

/** What a checked op is expected to produce. */
sealed trait Outcome
object Outcome {
  /** The ordered fetch-10 rows, hashed. */
  final case class Rows(hash: String) extends Outcome
  /** Row count and hash sum over every output row. */
  final case class Agg(rows: Long, hash: Long) extends Outcome
  /** `ColumnAccessDeniedException`. */
  case object Denied extends Outcome
}

/** What the program returned for one op, kept until the check after the
  * loop.
  */
sealed trait Got
object Got {
  final case class Threw(e: Throwable) extends Got
  final case class Fetched(rows: Array[Row]) extends Got
  final case class Evaluated(agg: Outcome.Agg) extends Got
  final case class Text(sql: String) extends Got
  /** An insert returned; its rows are checked on the sink. */
  case object Inserted extends Got
  /** An admin op, checked where it ran. */
  final case class Applied(ok: Boolean) extends Got
}

/** One recorded op. Times are `System.nanoTime`; `dueNs` differs from
  * `startNs` only for open-loop admin ops. A `warm` op is checked but kept
  * out of the metrics.
  */
final case class OpRec(mode: Mode, template: String, client: Int, principal: String,
    dueNs: Long, startNs: Long, endNs: Long, inputRows: Long, traced: Boolean, warm: Boolean) {
  def ms: Double = (endNs - dueNs) / 1e6
}

/** A reader client: its own sessions, its principals, its sink. */
final class Client(val id: Int, val principals: Seq[String], val ctx: SecurityContext,
    val ext: Map[String, SparkSession], val sink: String, val sinkDir: String) {
  @volatile var ctxCalls = 0L
}

/** Per-layer numbers gathered by the traced phase. */
final class LayerStats {
  private val q = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  def add(name: String, v: Double): Unit =
    q.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def values(name: String): Seq[Double] =
    Option(q.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
}

/** One run of one workload: data, set-up, expected results, the measured
  * loop and the metrics. All policy-layer state lives in the process-wide
  * `GraftSecurityExtensions.policies`, which both enforcement modes read.
  */
final class Bench(a: Args) {
  private val in = Gen.inputs(a.workload, a.seed, a.small)
  private val scope = TableScope(Gen.Catalog, Gen.Db)
  private val pm: PolicyManager = GraftSecurityExtensions.policies
  private val runDir = new java.io.File(a.runDir).getAbsoluteFile
  private val spans = new Spans(a.trace)
  private val layers = new LayerStats
  private val records = new ConcurrentLinkedQueue[(OpRec, Got)]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val rnd = new java.util.SplittableRandom(a.seed ^ 0x5eed)

  /** One reader per two cores, each with at least one principal. Each
    * read runs Spark jobs on all cores, and the JIT and the collector need
    * cores of their own: with one reader per core a run measures who the
    * scheduler favours more than the program.
    */
  private val readers: Int =
    if (a.workload == "masked_scan") 1 else math.max(1, math.min(a.cores / 2, in.principals.size))
  /** Rate of the open-loop admin client beside the traced readers. */
  private val adminRate = 100.0

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName(s"perfbench-${a.workload}")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.extensions", classOf[GraftSecurityExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(runDir, "warehouse").getPath)
      .config("spark.local.dir", new java.io.File(runDir, "local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private lazy val admin: SparkSession = {
    val s = spark.newSession()
    graft.functions.MaskFunctions.register(s)
    s
  }
  private val listener = new ExecListener

  private val cacheDir = new java.io.File(a.cacheDir).getAbsoluteFile
  /** The tables' parquet files, written once per checkout and size. */
  private val dataRoot = new java.io.File(cacheDir, s"data-${in.dataDigest}")
  private def dataDir(t: String) = new java.io.File(dataRoot, t).getPath

  /** Move a finished `tmp` into place; another run may have got there first. */
  private def publish(tmp: java.io.File, dest: java.io.File): Unit =
    if (!tmp.renameTo(dest)) {
      if (!dest.exists()) throw new IllegalStateException(s"cannot move $tmp to $dest")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }

  // ------------------------------------------------------------ inputs

  /** Write every table's rows as parquet unless an earlier run did, and
    * create the decoy tables' catalog entries. Untimed: this is input, not
    * set-up of the program.
    */
  private def writeData(): Unit = {
    if (!dataRoot.isDirectory) {
      cacheDir.mkdirs()
      val tmp = new java.io.File(cacheDir, s"${dataRoot.getName}.tmp-${ProcessHandle.current().pid()}")
      graft.SparkUtil.concurrently(spark, in.tables.map { t => (s"write ${t.name}", () => {
        val parts = math.max(1, math.min(a.cores.toLong, t.rows / 50000L)).toInt
        spark.range(0, t.rows, 1, parts)
          .selectExpr(t.cols.map(c => s"CAST(${c.expr} AS ${c.sqlType}) AS ${c.name}"): _*)
          .write.mode("overwrite").parquet(new java.io.File(tmp, t.name).getPath)
      }) })
      spark.range(0).selectExpr("CAST(id AS STRING) AS a", "CAST(id AS STRING) AS b",
        "CAST(id AS STRING) AS c", "CAST(id AS STRING) AS d").write.mode("overwrite")
        .parquet(new java.io.File(tmp, "decoy").getPath)
      publish(tmp, dataRoot)
    }
    val decoyDir = dataDir("decoy")
    // decoys go straight into the session catalog: one DDL statement each
    // would cost more than the rest of the run's preparation
    val decoySchema = org.apache.spark.sql.types.StructType.fromDDL("a STRING, b STRING, c STRING, d STRING")
    in.decoyTables.foreach { d =>
      spark.sessionState.catalog.createTable(CatalogTable(
        identifier = TableIdentifier(d, Some(Gen.Db), Some(Gen.Catalog)),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty.copy(locationUri = Some(new java.io.File(decoyDir).toURI)),
        schema = decoySchema, provider = Some("parquet")), ignoreIfExists = true, validateLocation = false)
    }
    registerTables()
  }

  private def registerTables(): Unit = in.tables.foreach { t =>
    spark.sql(s"CREATE TABLE ${t.name} USING parquet LOCATION '${dataDir(t.name)}'")
  }

  private def sinkDir(c: Int) = new java.io.File(runDir, s"sinks/sink_$c").getPath

  /** Empty every reader's sink directory, leaving the directory. */
  private def clearSinks(): Unit = (0 until readers).foreach { c =>
    val d = new java.io.File(sinkDir(c))
    d.mkdirs()
    d.listFiles().foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  private def clearPolicies(): Unit = {
    pm.rowFilterPolicies.foreach(pm.removePolicy)
    pm.dataMaskPolicies.foreach(pm.removePolicy)
    pm.denyPolicies.foreach(pm.removePolicy)
    pm.columnDenyPolicies.foreach(pm.removePolicy)
    in.memberships.foreach { case (u, g) => pm.removeUserFromGroup(u, g) }
    in.churnPairs.foreach { case (u, g) => pm.removeUserFromGroup(u, g) }
  }

  private def addPolicy(p: AnyRef): Boolean = p match {
    case q: RowFilterPolicy => pm.addPolicy(q)
    case q: DataMaskPolicy => pm.addPolicy(q)
    case q: DenyRowPolicy => pm.addPolicy(q)
    case q: ColumnDenyPolicy => pm.addPolicy(q)
  }
  private def removePolicy(p: AnyRef): Boolean = p match {
    case q: RowFilterPolicy => pm.removePolicy(q)
    case q: DataMaskPolicy => pm.removePolicy(q)
    case q: DenyRowPolicy => pm.removePolicy(q)
    case q: ColumnDenyPolicy => pm.removePolicy(q)
  }

  // ------------------------------------------------------------ set-up

  private var clients: Seq[Client] = Nil
  /** Ops keep getting faster for the first minute or so of a run, while
    * the JIT compiles Catalyst's and the program's paths, so the loop
    * starts with warm cycles in the same reader threads as the measured
    * ones, about 15 s of them after the set-ups and the expected results
    * have warmed the JIT too: on policy_heavy (cycles of about 6.5 s) the
    * first cycle's reads take up to 1.6 times as long as the third's, and
    * on masked_scan (cycles of about 3 s) the first cycle's scans take up
    * to four times as long as the sixth's. Every run warms the same
    * number of cycles, so every run measures from the same point of that
    * curve.
    */
  private val warmCycles = if (in.templates.exists(_.kind == Kind.FullEval)) 5 else 2
  private val setupTimes = Seq.newBuilder[Double]
  private val loadTimes = Seq.newBuilder[Double]

  /** One set-up: register the tables, load policies and groups, open the
    * client sessions and warm every op kind once on the lightest template.
    * Returns seconds.
    */
  private def setupOnce(): Double = {
    in.tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    (0 until readers).foreach(c => spark.sql(s"DROP TABLE IF EXISTS sink_$c"))
    clearSinks()
    clearPolicies()
    val t0 = System.nanoTime()
    registerTables()
    val l0 = System.nanoTime()
    in.policies.foreach(addPolicy)
    in.memberships.foreach { case (u, g) => pm.addUserToGroup(u, g) }
    loadTimes += (System.nanoTime() - l0) / 1e9
    clients = (0 until readers).map { c =>
      val mine = in.principals.indices.filter(_ % readers == c).map(in.principals)
      spark.sql(s"CREATE TABLE sink_$c (${in.sinkCols.map { case (n, t) => s"$n $t" }.mkString(", ")}) " +
        s"USING parquet LOCATION '${sinkDir(c)}'")
      val ctx = new SecurityContext(spark.newSession(), pm)
      val ext = mine.map { p =>
        val s = spark.newSession()
        s.conf.set(GraftSecurityExtensions.UserKey, p)
        p -> s
      }.toMap
      new Client(c, mine, ctx, ext, s"sink_$c", sinkDir(c))
    }
    // warm-up, untimed as an op
    val light = in.templates.filter(_.kind != Kind.Insert).minBy(_.inputRows)
    val c = clients.head
    (Seq(Mode.Ctx, Mode.Ext, Mode.Rewrite).map(light -> _) ++
      in.templates.filter(_.kind == Kind.Insert).map(_ -> Mode.Insert))
      .foreach { case (t, m) => execute(c, c.principals.head, t, m, None) }
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------- expected

  /** The table as the principal may see it, written out by hand: masks in
    * the SELECT list, filters (or `false` for a row deny) in the WHERE.
    */
  private def derived(p: String, table: String): String = {
    val e = in.eff(p, table)
    if (!e.touches) table
    else {
      val proj = in.table(table).cols.map { c =>
        e.masks.get(c.name) match {
          case Some(m) => s"CAST(${Gen.maskSql(m, c.name)} AS ${c.sqlType}) AS ${c.name}"
          case None => c.name
        }
      }.mkString(", ")
      val masked = s"SELECT $proj FROM $table"
      val conds = if (e.denied) Seq("false") else e.filters
      if (conds.isEmpty) s"($masked)"
      else s"(SELECT * FROM ($masked) AS masked WHERE ${conds.map(c => s"($c)").mkString(" AND ")})"
    }
  }

  private def fill(text: String, table: String => String, sink: String): String =
    in.tables.foldLeft(text.replace("{sink}", sink))((s, t) => s.replace(s"{${t.name}}", table(t.name)))

  private def secured(t: Template, sink: String): String = fill(t.text, identity, sink)
  private def expectedSelect(p: String, t: Template): String = {
    val s = fill(t.text, derived(p, _), "")
    if (t.kind == Kind.Insert) s.substring(s.indexOf("SELECT")) else s
  }

  private def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toSeq.map(v => if (v == null) "\\N" else v.toString)
      .mkString("\u0001") + "\u0002").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  private def hashCol(df: DataFrame) =
    pmod(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*), lit(2147483647L))
  private def aggOf(df: DataFrame): Outcome.Agg = {
    val r = df.agg(count(lit(1)), coalesce(sum(hashCol(df)), lit(0L))).head()
    Outcome.Agg(r.getLong(0), r.getLong(1))
  }
  private def sinkAgg(c: Client): Outcome.Agg = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      in.sinkCols.map { case (n, t) => s"$n $t" }.mkString(", "))
    aggOf(admin.read.schema(schema).parquet(c.sinkDir))
  }

  private var expected = Map.empty[(String, String), Outcome]

  /** Expected outcome of every (principal, template), from the admin
    * session, a few queries at a time.
    */
  private def computeExpected(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val all = for (p <- in.principals; t <- in.templates) yield scala.concurrent.Future {
      val o: Outcome = in.expectedDenial(p, t) match {
        case Some(_) => Outcome.Denied
        case None =>
          val sql = expectedSelect(p, t)
          try t.kind match {
            case Kind.Fetch => Outcome.Rows(rowsHash(admin.sql(sql).limit(10).collect()))
            case _ => aggOf(admin.sql(sql))
          } catch { case e: Throwable =>
            throw new IllegalStateException(s"expected query for $p/${t.id} failed: $sql", e) }
      }
      (p, t.id) -> o
    }
    try expected = scala.concurrent.Await.result(scala.concurrent.Future.sequence(all),
      scala.concurrent.duration.Duration.Inf).toMap
    finally pool.shutdown()
  }

  // ---------------------------------------------------------- one op

  private def columnDenied(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.ColumnAccessDeniedException])

  /** A predicate in a form that compares across renderings: columns
    * without qualifier, casts dropped, numbers in plain notation, the
    * column left of a comparison.
    */
  private def canon(e: Expression): String = {
    def isConst(x: Expression): Boolean = x match {
      case _: Literal => true
      case c: Cast => isConst(c.child)
      case _ => false
    }
    e match {
      case x: UnresolvedAttribute => x.nameParts.last.toLowerCase
      case c: Cast => canon(c.child)
      case l: Literal if l.value == null => "null"
      case l: Literal =>
        val v = l.value.toString
        try new java.math.BigDecimal(v).stripTrailingZeros.toPlainString
        catch { case _: NumberFormatException => if (v == "true" || v == "false") v else s"'$v'" }
      case b: BinaryComparison if isConst(b.left) && !isConst(b.right) =>
        val flipped = Map(">" -> "<", "<" -> ">", ">=" -> "<=", "<=" -> ">=").getOrElse(b.symbol, b.symbol)
        s"(${canon(b.right)} $flipped ${canon(b.left)})"
      case b: BinaryComparison => s"(${canon(b.left)} ${b.symbol} ${canon(b.right)})"
      case other => s"${other.nodeName}(${other.children.map(canon).mkString(", ")})"
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** What a rewritten text must hold for (principal, template), each item
    * with whether `text` holds it. The rewrite-only API returns SQL in the
    * reference's conventions (filters hoisted into the WHERE of the select
    * that scans the table), which is not meant to be executed, so it is
    * checked for form: every expected mask verbatim in the SELECT list,
    * every expected filter's conjuncts among the WHERE conjuncts, and
    * FALSE among them for a denied table. None when the text does not
    * parse.
    */
  private def rewriteItems(p: String, t: Template, text: String): Option[Seq[(String, Boolean)]] = {
    val parser = admin.sessionState.sqlParser
    val plan = try Some(parser.parsePlan(text)) catch { case _: Throwable => None }
    plan.map { pl =>
      val where = pl.collectWithSubqueries { case f: Filter => conjuncts(f.condition) }.flatten.map(canon).toSet
      t.tables.flatMap { tbl =>
        val e = in.eff(p, tbl)
        val masks = e.masks.toSeq.sorted.collect {
          case (c, m) if t.refs(tbl).contains(c) || t.text.contains("SELECT *") =>
            val want = s"CAST(${Gen.maskSql(m, c)} AS ${in.table(tbl).typeOf(c)}) AS $c"
            s"the $m mask of $tbl.$c" -> text.contains(want)
        }
        val filters =
          if (e.denied) Seq(s"the deny of $tbl" -> where.contains("false"))
          else e.filters.map(f =>
            s"the filter $f on $tbl" -> conjuncts(parser.parseExpression(f)).map(canon).forall(where.contains))
        masks ++ filters
      }
    }
  }

  private def rewriteProblem(p: String, t: Template, text: String): Option[String] =
    rewriteItems(p, t, text) match {
      case None => Some("does not parse")
      case Some(items) => items.collectFirst { case (what, false) => s"lacks $what" }
    }

  /** The rewrite check must find every expected filter, mask and deny
    * missing from the unsecured query text, which already names most of
    * the filtered columns; a check that passes it would pass a renderer
    * that drops them.
    */
  private def checkRewriteCheck(): Unit =
    for (p <- in.principals; t <- in.templates if rewritable(t) && in.expectedDenial(p, t).isEmpty) {
      val held = rewriteItems(p, t, secured(t, "")).getOrElse(Nil).collect { case (what, true) => what }
      if (held.nonEmpty) throw new IllegalStateException(
        s"the rewrite check finds ${held.mkString(", ")} in the unsecured ${t.id} text as $p")
    }

  private def fail(msg: String): Boolean = { failures.add(msg); false }

  /** Run one op and record what it returned; `phase` says whether it is
    * traced. With `phase` None the op is a set-up's warm-up: run, but
    * neither recorded nor checked. A `warm` op is recorded and checked but
    * not traced.
    */
  private def execute(c: Client, p: String, t: Template, mode: Mode,
      phase: Option[Boolean], warm: Boolean = false): Unit = {
    val traced = phase.contains(true) && !warm
    val request = spans.newRequest()
    val opId = s"$request"
    if (traced) spark.sparkContext.setLocalProperty(ExecListener.OpKey, opId)
    val sql = secured(t, c.sink)
    var base: Option[DataFrame] = None
    var frame: Option[DataFrame] = None
    var ctxSpan: Option[Span] = None
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    // the measured call: everything up to the rows, the noop write or the text
    val got: Got =
      try mode match {
        case Mode.Ctx | Mode.Ext =>
          val df =
            if (mode == Mode.Ctx) {
              c.ctxCalls += 1
              val (d, s) = spans.span(request, 0, "context.dfMixed")(c.ctx.dfMixed(p, sql))
              ctxSpan = Some(s); d
            } else c.ext(p).sql(sql)
          base = Some(df)
          t.kind match {
            case Kind.Fetch =>
              val lim = df.limit(10)
              frame = Some(lim)
              Got.Fetched(lim.collect())
            case _ =>
              val obs = Observation(s"chk$request")
              val o = df.observe(obs, count(lit(1)).as("n"), coalesce(sum(hashCol(df)), lit(0L)).as("h"))
              frame = Some(o)
              o.write.format("noop").mode("overwrite").save()
              val m = obs.get
              Got.Evaluated(Outcome.Agg(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long]))
          }
        case Mode.Rewrite =>
          c.ctxCalls += 1
          Got.Text(c.ctx.mixedRewriteSql(p, sql))
        case Mode.Insert =>
          c.ctxCalls += 1
          c.ctx.mixedExecute(p, sql)
          Got.Inserted
        case Mode.Admin => throw new IllegalStateException("admin ops run in adminLoop")
      } catch { case e: Throwable => Got.Threw(e) }
    val t1 = System.nanoTime()
    val wall1 = System.currentTimeMillis()
    if (traced) spark.sparkContext.setLocalProperty(ExecListener.OpKey, null)
    phase.foreach { tr =>
      records.add((OpRec(mode, t.id, c.id, p, t0, t0, t1,
        if (t.kind == Kind.Fetch) 0L else t.inputRows, tr, warm), got))
    }
    if (traced) {
      val op = Span(spans.nextId(), 0, request, s"op.${mode.name}", t0, t1)
      spans.add(op)
      ctxSpan.foreach(s => spans.add(s.copy(parent = op.id)))
      val succeeded = !got.isInstanceOf[Got.Threw]
      traceLayers(c, p, t, mode, sql, request, base, frame, ctxSpan, succeeded, wall0, wall1, opId)
    }
  }

  /** Check every recorded op against its expected result, after the loops.
    * Each insert is checked through its reader's sink: the rows the sink
    * holds must be the sum of the expected rows of the reader's inserts.
    * Returns each op with whether it passed.
    */
  private def checkAll(): Seq[(OpRec, Boolean)] = {
    val recs = records.asScala.toSeq
    val checkedTexts = scala.collection.mutable.Set.empty[(String, String, String)]
    def one(r: OpRec, got: Got): Boolean = {
      val what = s"${r.mode.name} ${r.template} as ${r.principal}"
      (expected.get((r.principal, r.template)), got) match {
        case (_, Got.Applied(ok)) => ok
        case (None, _) => fail(s"$what: no expected result")
        case (Some(Outcome.Denied), Got.Threw(e)) if columnDenied(e) => true
        case (Some(Outcome.Denied), Got.Threw(e)) => fail(s"$what: expected a column deny, got $e")
        case (Some(Outcome.Denied), _) => fail(s"$what: expected a column deny, the op succeeded")
        case (Some(_), Got.Threw(e)) => fail(s"$what: unexpected ${e.toString.take(300)}")
        case (Some(Outcome.Rows(h)), Got.Fetched(rows)) =>
          rowsHash(rows) == h || fail(s"$what: fetched rows differ from the expected rows")
        case (Some(e: Outcome.Agg), Got.Evaluated(agg)) =>
          agg == e || fail(s"$what: evaluated $agg, expected $e")
        case (Some(_), Got.Text(text)) =>
          checkedTexts.contains((r.principal, r.template, text)) || (rewriteProblem(r.principal,
            in.templates.find(_.id == r.template).get, text) match {
            case None => checkedTexts += ((r.principal, r.template, text)); true
            case Some(why) => fail(s"$what: rewritten SQL $why: ${text.take(300)}")
          })
        case (Some(_: Outcome.Agg), Got.Inserted) => true
        case (Some(e), g) => fail(s"$what: unexpected result $g for $e")
      }
    }
    val each = recs.map { case (r, got) => (r, one(r, got)) }
    // the sinks: a reader's inserts all pass or all fail together
    val badSinks = clients.filter { c =>
      val mine = recs.collect { case (r, Got.Inserted) if r.client == c.id => r }
      val want = mine.map(r => expected((r.principal, r.template))).collect { case x: Outcome.Agg => x }
        .foldLeft(Outcome.Agg(0, 0))((x, y) => Outcome.Agg(x.rows + y.rows, x.hash + y.hash))
      val got = sinkAgg(c)
      if (got == want) false
      else { fail(s"insert into ${c.sink}: the sink holds $got after ${mine.size} inserts, expected $want"); true }
    }.map(_.id).toSet
    records.clear()
    each.map { case (r, ok) => (r, ok && !(r.mode == Mode.Insert && badSinks.contains(r.client))) }
  }

  // ---------------------------------------------------------- tracing

  private def timed[T](request: Long, parent: Long, name: String)(body: => T): (T, Double) = {
    val (r, s) = spans.span(request, parent, name)(body)
    (r, s.ms)
  }

  private def tagged(plan: LogicalPlan): (Int, Int) = {
    val f = plan.collectWithSubqueries {
      case x: Filter if x.getTagValue(SecurityTags.RowFilterApplied).contains(true) => 1
    }.size
    val m = plan.collectWithSubqueries {
      case x: Project if x.getTagValue(SecurityTags.MaskApplied).contains(true) => 1
    }.size
    (f, m)
  }

  /** The per-layer replay of one traced op: policy lookups for its
    * (principal, table, column) set, each rule on its analyzed plan, the
    * renderer, and the Catalyst and execution figures of the op itself.
    */
  private def traceLayers(c: Client, p: String, t: Template, mode: Mode, sql: String,
      request: Long, base: Option[DataFrame], frame: Option[DataFrame], ctxSpan: Option[Span],
      succeeded: Boolean, wall0: Long, wall1: Long, opId: String): Unit = {
    val replay = spans.nextId()
    // policy lookups
    var lookupNs = 0L
    def look[T](body: => T): T = {
      val s0 = System.nanoTime(); val r = body; val d = System.nanoTime() - s0
      lookupNs += d; layers.add("policy.lookup_us", d / 1e3); r
    }
    for (tbl <- t.tables) {
      look(pm.isDenied(p, Gen.Catalog, Gen.Db, tbl))
      look(pm.rowFilterConditions(p, Gen.Catalog, Gen.Db, tbl))
      look(pm.hasDataMask(p, Gen.Catalog, Gen.Db, tbl))
      look(pm.deniedColumns(p, Gen.Catalog, Gen.Db, tbl))
      in.table(tbl).colNames.foreach(col => look(pm.dataMaskType(p, Gen.Catalog, Gen.Db, tbl, col)))
    }
    spans.add(Span(spans.nextId(), replay, request, "replay.policy", 0, lookupNs))
    layers.add("policy.lookup_ms_per_query", lookupNs / 1e6)

    // rules and renderer, replayed on a session without a graft user; a
    // context op also replays the whole mixedRewrite, whose time minus its
    // parts is the context's own work (re-analysis and audit)
    val ss = c.ctx.spark
    val whole = if (mode != Mode.Ctx) None else {
      c.ctxCalls += 1
      Some(timed(request, replay, "replay.context.mixedRewrite")(
        scala.util.Try(c.ctx.mixedRewrite(p, sql)))._2)
    }
    val (parsed, parseMs) = timed(request, replay, "replay.parse")(ss.sessionState.sqlParser.parsePlan(sql))
    val qe = ss.sessionState.executePlan(parsed)
    val (analyzed, analysisMs) = timed(request, replay, "replay.analysis")(qe.analyzed)
    qe.tracker.phases.get("analysis").foreach(ph => layers.add("catalyst.analysis_ms", ph.durationMs.toDouble))
    val (denied, denyMs) = timed(request, replay, "replay.column_deny")(
      ColumnDenyCheck.violations(analyzed, p, pm, scope))
    layers.add("plans.column_deny_ms", denyMs)
    if (denied.isEmpty) {
      val (filtered, rfMs) = timed(request, replay, "replay.row_filter")(
        RowFilterRule(ss, p, pm, scope)(analyzed))
      val (masked, dmMs) = timed(request, replay, "replay.data_mask")(
        DataMaskRule(ss, p, pm, scope, auditIdentity = true)(filtered))
      val (reanalyzed, _) = timed(request, replay, "replay.reanalysis")(ss.sessionState.executePlan(masked).analyzed)
      if (rewritable(t))
        layers.add("plans.render_ms", timed(request, replay, "replay.render")(SqlRenderer.toSql(reanalyzed))._2)
      layers.add("plans.row_filter_ms", rfMs)
      layers.add("plans.data_mask_ms", dmMs)
      ctxSpan.foreach(s => layers.add("context.rewrite_ms", s.ms))
      whole.foreach(w => layers.add("context.self_ms", w - parseMs - analysisMs - denyMs - rfMs - dmMs))
    }
    // the op's own Catalyst phases and execution
    if (succeeded && (mode == Mode.Ctx || mode == Mode.Ext)) {
      frame.foreach { f =>
        base.filter(_ => mode == Mode.Ext).foreach { b =>
          val q = b.queryExecution
          val rules = q.tracker.rules.filter(_._1.contains("GraftSecurityExtensions")).values
          val runs = rules.map(_.numInvocations).sum
          layers.add("extension.rule_ms", rules.map(_.totalTimeNs).sum / 1e6)
          layers.add("extension.rule_runs", runs.toDouble)
          val (nf, nm) = tagged(q.analyzed)
          if (runs > 0) layers.add("extension.useful_ratio", (nf + nm).toDouble / runs)
          q.tracker.phases.get("analysis").foreach(ph => layers.add("catalyst.analysis_ms", ph.durationMs.toDouble))
        }
        val q = f.queryExecution
        q.executedPlan
        q.tracker.phases.get("optimization").foreach(ph => layers.add("catalyst.optimization_ms", ph.durationMs.toDouble))
        q.tracker.phases.get("planning").foreach(ph => layers.add("catalyst.planning_ms", ph.durationMs.toDouble))
      }
    }
    if (succeeded && mode != Mode.Rewrite) pendingExec.add((opId, wall0, wall1))
  }

  private val pendingExec = new ConcurrentLinkedQueue[(String, Long, Long)]()

  private def collectExec(): Unit = {
    listener.drain(5000)
    pendingExec.asScala.foreach { case (id, w0, w1) =>
      val o = Option(listener.ops.get(id))
      layers.add("exec.jobs", o.map(_.jobs).getOrElse(0).toDouble)
      layers.add("exec.tasks", o.map(_.tasks).getOrElse(0).toDouble)
      layers.add("exec.shuffle_bytes", o.map(_.shuffleBytes).getOrElse(0L).toDouble)
      layers.add("exec.spill_bytes", o.map(_.spillBytes).getOrElse(0L).toDouble)
      layers.add("exec.job_ms", o.map(_.intervals.asScala.toSeq.map(x => x._2 - x._1).sum).getOrElse(0L).toDouble)
      layers.add("exec.driver_gap_ms", listener.driverGapMs(id, w0, w1))
    }
  }

  /** Exact injected-node counts over every (principal, template) instance
    * that is not column-denied: a property of the seed, not of timing.
    */
  private def injectedCounts(): (Int, Int) = {
    val c = clients.head
    val ss = c.ctx.spark
    val counts = for (p <- in.principals; t <- in.templates if in.expectedDenial(p, t).isEmpty) yield {
      val analyzed = ss.sessionState.executePlan(ss.sessionState.sqlParser.parsePlan(secured(t, c.sink))).analyzed
      tagged(DataMaskRule(ss, p, pm, scope)(RowFilterRule(ss, p, pm, scope)(analyzed)))
    }
    (counts.map(_._1).sum, counts.map(_._2).sum)
  }

  /** Masked projection vs the same unmasked projection over the same
    * in-memory rows, both through the noop sink; ns per row of the mask.
    */
  private def functionsProbe(): Unit = {
    val n = if (a.small) 20000L else 200000L
    val base = admin.range(0, n, 1, a.cores).selectExpr(
      "concat('Name#', cast(id * 7919 AS STRING), ' Ab-', sha2(cast(id AS STRING), 224)) AS s",
      "date_add(DATE'1992-01-01', cast(pmod(id * 31, 2500) AS INT)) AS d",
      "id * 104729 AS n").cache()
    base.count()
    def best(cols: String*): Double = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      base.selectExpr(cols: _*).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }.sorted.apply(2)
    val cases = Seq(
      "MASK" -> ("s", "STRING"), "MASK_SHOW_FIRST_4" -> ("s", "STRING"),
      "MASK_SHOW_LAST_4" -> ("s", "STRING"), "MASK_HASH" -> ("s", "STRING"),
      "MASK_NULL" -> ("s", "STRING"), "MASK_DATE_SHOW_YEAR" -> ("d", "DATE"),
      "MASK_BIGINT" -> ("n", "BIGINT"))
    for ((name, (c, tpe)) <- cases) {
      val maskType = if (name == "MASK_BIGINT") "MASK" else name
      val plain = best(s"$c AS v")
      val masked = best(s"CAST(${Gen.maskSql(maskType, c)} AS $tpe) AS v")
      layers.add(s"functions.$name.ns_per_row", (masked - plain) / n)
    }
    base.unpersist(true)
  }

  // ---------------------------------------------------------- loops

  /** Templates the rewrite-only op runs: the filter and the two joins.
    * SqlRenderer renders IN/EXISTS subquery expressions as `listquery()`
    * and `exists()`, dropping the subquery and its policies from the text,
    * so the subquery template is never among them; `SELECT *` is left out
    * to keep the cycle short.
    */
  private def rewritable(t: Template): Boolean =
    t.kind != Kind.Insert && t.id != "subquery" && t.id != "star"

  /** One cycle of the closed loop: every template in each mode it runs in,
    * in a fixed order; the insert runs once per principal of a reader. The
    * rewrite-only op, which costs a tenth of a read or less, runs three
    * times (as three principals), so that its percentiles rest on more ops
    * for little time.
    */
  private val cycle: IndexedSeq[(Template, Mode)] =
    (for (t <- in.templates; m <- t.kind match {
      case Kind.Insert => Seq.fill((in.principals.size + readers - 1) / readers)(Mode.Insert)
      case _ if !rewritable(t) => Seq(Mode.Ctx, Mode.Ext)
      case _ => Seq(Mode.Ctx, Mode.Ext) ++ Seq.fill(3)(Mode.Rewrite)
    }) yield (t, m)).toIndexedSeq

  /** Nominal length of one cycle, as measured on a 4-vCPU VM. A run
    * measures the whole number of cycles that comes nearest to `--seconds`
    * at that length, so every run of a workload measures the same ops in
    * the same order, whatever the host's speed that minute; a faster
    * program or host measures for less time.
    */
  private val cycleSeconds = if (in.templates.exists(_.kind == Kind.FullEval)) 3.0 else 6.5
  private def cyclesFor(seconds: Double, atLeast: Int): Int =
    math.max(atLeast, math.round(seconds / cycleSeconds).toInt)

  /** Closed loop in rounds: in each round every reader sends the same
    * (template, mode) for one of its principals (the position in the cycle
    * picks which) and waits for the reply, then all wait for the slowest.
    * Readers first run `warmCycles` cycles of warm ops, then `cycles`
    * measured cycles; results are checked after the loop. In the traced
    * half the admin client's open loop runs beside them, so the trace shows
    * reader/writer contention. Returns the wall time of the readers'
    * measured cycles in seconds.
    */
  private def readerLoop(cycles: Int, traced: Boolean, warmCycles: Int): Double = {
    val warmRounds = warmCycles.toLong * cycle.size
    val rounds = warmRounds + cycles.toLong * cycle.size
    var t0 = System.nanoTime()
    var round = 0L
    val barrier = new java.util.concurrent.CyclicBarrier(readers, () => {
      round += 1
      if (round == warmRounds) t0 = System.nanoTime()
    })
    val threads = clients.map { c =>
      new Thread(() => {
        var r = 0L
        while (r < rounds) {
          val i = (r % cycle.size).toInt
          val (t, m) = cycle(i)
          val p = c.principals(i % c.principals.size)
          try execute(c, p, t, m, Some(traced), warm = r < warmRounds)
          catch { case e: Throwable => fail(s"${m.name} ${t.id} as $p: the benchmark failed with $e") }
          barrier.await()
          r += 1
        }
      }, s"reader-${c.id}")
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val adminThread = if (traced) Some(new Thread(() => adminLoop(stop), "admin")) else None
    threads.foreach(_.start()); adminThread.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    stop.set(true)
    adminThread.foreach(_.join())
    wall
  }

  /** Current version of each renewable policy slot, and churn state. */
  private val current = scala.collection.mutable.Map.empty[Int, AnyRef]
  private val inGroup = scala.collection.mutable.Set.empty[Int]

  /** Admin op `k`: every third op is a group membership change when there
    * are churn pairs, the others are policy renewals, so the median op is
    * a renewal. Returns whether the op applied.
    */
  private def adminOp(k: Int): Boolean =
    try {
      if (in.churnPairs.nonEmpty && k % 3 == 2) {
        val i = rnd.nextInt(in.churnPairs.size)
        val (u, g) = in.churnPairs(i)
        if (inGroup.remove(i)) pm.removeUserFromGroup(u, g)
        else { inGroup += i; pm.addUserToGroup(u, g) }
        true
      } else {
        val slot = in.renewable(rnd.nextInt(in.renewable.size))
        val cur = current.getOrElse(slot, in.policies(slot))
        val next = Gen.renewed(cur, 1)
        addPolicy(next) && removePolicy(cur) && { current(slot) = next; true }
      }
    } catch { case e: Throwable => fail(s"admin op $k: $e") }

  /** Untimed admin ops, so that the timed ones find the write path
    * compiled by the JIT rather than interpreted.
    */
  private def adminWarm(n: Int): Unit =
    (0 until n).foreach(k => if (!adminOp(k)) fail(s"admin warm-up op $k did not apply"))

  /** Open loop at `adminRate` until `stop`: op k is due at start + k / rate
    * and is timed from that instant.
    */
  private def adminLoop(stop: java.util.concurrent.atomic.AtomicBoolean): Unit = {
    val period = (1e9 / adminRate).toLong
    val start = System.nanoTime() + period
    var k = 0
    while (!stop.get()) {
      val due = start + k * period
      val wait = due - System.nanoTime()
      if (wait > 300000L) java.util.concurrent.locks.LockSupport.parkNanos(wait - 200000L)
      while (System.nanoTime() < due) Thread.onSpinWait()
      val t0 = System.nanoTime()
      val ok = adminOp(k)
      val t1 = System.nanoTime()
      if (!ok) fail(s"admin op $k did not apply")
      records.add((OpRec(Mode.Admin, "admin", -1, "admin", due, t0, t1, 0, traced = true, warm = false),
        Got.Applied(ok)))
      layers.add("policy.update_us", (t1 - t0) / 1e3)
      layers.add("loadgen.late_ms", (t0 - due) / 1e6)
      k += 1
    }
  }

  // ---------------------------------------------------------- metrics

  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  private def median(xs: Seq[Double]) = pct(xs, 0.5)
  /** A latency percentile of one op mode: each template's percentile over
    * its ops, summarized over the templates by their geometric mean, as
    * TPC-H's power metric summarizes its queries. Every template counts
    * with the same weight, so the figure uses every op of the mode; a
    * percentile over the pooled ops falls where two templates' latencies
    * overlap (and the denied principals' fast ops sit), and moves far when
    * one template shifts a little.
    */
  private def templatePct(rs: Seq[OpRec], q: Double): Double = {
    val per = rs.groupBy(r => (r.mode, r.template)).values.map(g => pct(g.map(_.ms), q)).toSeq
    if (per.isEmpty) Double.NaN else math.exp(per.map(math.log).sum / per.size)
  }
  /** Input rows per second of fully evaluated ops: one op of each
    * (mode, template) at its median time, so a slow outlier weighs as
    * little here as in the latency medians.
    */
  private def scanRate(rs: Seq[OpRec]): Double = {
    val per = rs.groupBy(r => (r.mode, r.template)).values.toSeq
    per.map(_.head.inputRows).sum / per.map(g => median(g.map(r => (r.endNs - r.startNs) / 1e9))).sum
  }
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def heapLiveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the first collection lets Spark's ContextCleaner drop the blocks of
    // broadcasts and shuffles that died with their queries; the second
    // then finds only what is still live
    System.gc()
    Thread.sleep(500)
    System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def json(metrics: Seq[(String, Double, String)], correct: Boolean, attempted: Long,
      failed: Long): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def run(): Unit = {
    runDir.mkdirs()
    var tick = System.nanoTime()
    def phase(what: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"[perfbench] $what: ${(now - tick) / 1e9}%.1f s")
      tick = now
    }
    spark
    phase("spark start")
    writeData()
    phase(s"input data (${in.tables.map(_.rows).sum} rows, ${in.decoyTables.size} decoy tables)")
    checkRewriteCheck()
    // the first set-up pays the JVM's warm-up and is left out of the median
    val reps = 3
    (1 to reps).foreach(_ => setupTimes += setupOnce())
    val setupS = median(setupTimes.result().drop(1))
    phase(s"set-up x$reps (${setupTimes.result().map(x => f"$x%.2f").mkString(", ")} s)")

    // the expected results, untimed; computing them before the loop also
    // warms the JIT on Catalyst's analysis and planning paths
    computeExpected()
    phase("expected results")
    clearSinks()
    val loopS =
      if (!a.trace) readerLoop(cyclesFor(a.seconds, atLeast = 2), traced = false, warmCycles)
      else {
        // the traced run's halves need only enough ops for the per-layer
        // medians, so a half may be a single cycle
        val half = cyclesFor(a.seconds / 2.0, atLeast = 1)
        readerLoop(half, traced = false, warmCycles)
        spark.sparkContext.addSparkListener(listener)
        adminWarm(2000)
        readerLoop(half, traced = true, warmCycles = 0)
      }
    phase("measured loop")
    val done = checkAll()
    phase("checks")
    val heapMb = heapLiveMb()

    val recs = done.map(_._1)
    val main = recs.filter(r => r.traced == a.trace && !r.warm)
    def ops(m: Mode) = main.filter(_.mode == m)
    val reads = main.filter(r => r.mode == Mode.Ctx || r.mode == Mode.Ext)
    val evals = main.filter(_.inputRows > 0)
    val attempted = recs.size.toLong
    val failed = done.count(!_._2).toLong
    val readLoopS = loopS

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("query_ctx_p50_ms", templatePct(ops(Mode.Ctx), 0.5), "ms"),
        ("query_ctx_p90_ms", templatePct(ops(Mode.Ctx), 0.9), "ms"),
        ("query_ext_p50_ms", templatePct(ops(Mode.Ext), 0.5), "ms"),
        ("query_ext_p90_ms", templatePct(ops(Mode.Ext), 0.9), "ms"),
        ("rewrite_p50_ms", templatePct(ops(Mode.Rewrite), 0.5), "ms"),
        ("queries_per_s", reads.size / readLoopS, "1/s"),
        ("insert_p50_ms", templatePct(ops(Mode.Insert), 0.5), "ms"),
        ("scan_rows_per_s", scanRate(evals), "rows/s"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        collectExec()
        val (nf, nm) = injectedCounts()
        functionsProbe()
        val auditRows = clients.map(_.ctx.auditLog.count()).sum.toDouble
        val ctxCalls = clients.map(_.ctxCalls).sum.toDouble
        val untracedReads = recs.filter(r => !r.traced && !r.warm && (r.mode == Mode.Ctx || r.mode == Mode.Ext))
        spans.write(new java.io.File(a.spanDir, s"${a.workload}-seed${a.seed}.jsonl"))
        def med(n: String) = median(layers.values(n))
        def avg(n: String) = mean(layers.values(n))
        Seq(
          ("policy.lookup_us", med("policy.lookup_us"), "us"),
          ("policy.lookup_ms_per_query", med("policy.lookup_ms_per_query"), "ms"),
          ("policy.update_us", med("policy.update_us"), "us"),
          ("policy.update_wait_ms", median(main.filter(_.mode == Mode.Admin).map(_.ms)), "ms"),
          ("policy.load_s", median(loadTimes.result().drop(1)), "s"),
          ("plans.row_filter_ms", med("plans.row_filter_ms"), "ms"),
          ("plans.data_mask_ms", med("plans.data_mask_ms"), "ms"),
          ("plans.column_deny_ms", med("plans.column_deny_ms"), "ms"),
          ("plans.render_ms", med("plans.render_ms"), "ms"),
          ("plans.filters_injected", nf.toDouble, "count"),
          ("plans.masks_injected", nm.toDouble, "count"),
          ("context.rewrite_ms", med("context.rewrite_ms"), "ms"),
          ("context.self_ms", med("context.self_ms"), "ms"),
          ("context.audit_rows_per_query", auditRows / math.max(1.0, ctxCalls), "count"),
          ("extension.rule_ms", med("extension.rule_ms"), "ms"),
          ("extension.rule_runs", avg("extension.rule_runs"), "count"),
          ("extension.useful_ratio", avg("extension.useful_ratio"), "ratio"),
          ("catalyst.analysis_ms", med("catalyst.analysis_ms"), "ms"),
          ("catalyst.optimization_ms", med("catalyst.optimization_ms"), "ms"),
          ("catalyst.planning_ms", med("catalyst.planning_ms"), "ms"),
          ("exec.jobs", avg("exec.jobs"), "count"),
          ("exec.tasks", avg("exec.tasks"), "count"),
          ("exec.job_ms", med("exec.job_ms"), "ms"),
          ("exec.driver_gap_ms", med("exec.driver_gap_ms"), "ms"),
          ("exec.shuffle_bytes", avg("exec.shuffle_bytes"), "bytes"),
          ("exec.spill_bytes", avg("exec.spill_bytes"), "bytes")) ++
          Seq("MASK", "MASK_SHOW_FIRST_4", "MASK_SHOW_LAST_4", "MASK_HASH", "MASK_NULL",
            "MASK_DATE_SHOW_YEAR", "MASK_BIGINT").map(m =>
            (s"functions.$m.ns_per_row", med(s"functions.$m.ns_per_row"), "ns")) ++
          Seq(
            ("loadgen.late_ms", med("loadgen.late_ms"), "ms"),
            ("trace.overhead_pct", 100 * (templatePct(reads, 0.5) / templatePct(untracedReads, 0.5) - 1), "%"),
            ("check.error_rate", failed.toDouble / math.max(1L, attempted), "ratio"))
      }

    def tag(r: OpRec) = if (r.warm) "warm" else if (r.traced) "traced" else ""
    recs.filter(_.mode != Mode.Admin).groupBy(r => (r.mode.name, r.template, tag(r))).toSeq.sortBy(_._1)
      .foreach { case ((m, t, tg), rs) =>
        println(f"# $m%-7s $t%-20s $tg%-6s n=${rs.size}%3d p50=${median(rs.map(_.ms))}%.1f ms " +
          rs.sortBy(_.startNs).map(r => f"${r.ms}%.0f").mkString("[", " ", "]"))
      }
    val counts = recs.groupBy(r => (r.mode.name, tag(r))).map { case ((m, tg), rs) =>
      s"$m${if (tg.nonEmpty) s"($tg)" else ""}=${rs.size}" }.toSeq.sorted.mkString(" ")
    println(s"# ${a.workload} seed=${a.seed} cores=${a.cores} readers=$readers policies=${in.policies.size} " +
      s"principals=${in.principals.size} samples: $counts")
    println(f"# error_rate=${failed.toDouble / math.max(1L, attempted)}%.6f ratio (failed $failed of $attempted)")
    failures.asScala.foreach(f => println(s"# mismatch: $f"))
    metrics.foreach { case (n, v, u) => println(s"# $n = $v $u") }
    spark.stop()
    println(json(metrics, failed == 0 && failures.isEmpty, attempted, failed))
  }
}
