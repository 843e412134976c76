package perfbench

import graft.policy.{ColumnDenyPolicy, DataMaskPolicy, DenyRowPolicy, RowFilterPolicy}

/** One generated column: its name, SQL type and the SQL expression over
  * `id` (the row number) that fills it. The rows are the same for every
  * seed, so a checkout writes them once and every run reads them.
  */
final case class ColSpec(name: String, sqlType: String, expr: String)

final case class TableSpec(name: String, rows: Long, cols: Seq[ColSpec]) {
  def colNames: Seq[String] = cols.map(_.name)
  def typeOf(col: String): String = cols.find(_.name == col).get.sqlType
}

/** What the policies amount to for one (principal, table): the oracle the
  * expected results are built from. It is derived from the generator's own
  * assignment, never from the program's policy lookups.
  */
final case class Effective(denied: Boolean, filters: Seq[String],
    masks: Map[String, String], deniedCols: Set[String]) {
  def touches: Boolean = denied || filters.nonEmpty || masks.nonEmpty
}
object Effective { val none: Effective = Effective(false, Nil, Map.empty, Set.empty) }

/** How a query is executed and checked. */
sealed trait Kind
object Kind {
  /** ORDER BY query; the op fetches at most 10 rows and hashes them. */
  case object Fetch extends Kind
  /** Full evaluation through the noop sink, checked by an observed
    * (count, hash sum) over every output row.
    */
  case object FullEval extends Kind
  /** `INSERT INTO <sink> SELECT ...`, checked on the sink afterwards. */
  case object Insert extends Kind
}

/** A query template. `{table}` placeholders name the policied tables: the
  * secured text puts the bare name there, the expected text a derived table
  * with the principal's filters and masks written out. `refs` lists the
  * columns the query reads per table, which decides an expected column deny.
  */
final case class Template(id: String, kind: Kind, text: String,
    refs: Map[String, Set[String]], inputRows: Long) {
  def tables: Seq[String] = refs.keys.toSeq.sorted
}

final case class Sizes(scale: Double, policies: Int, users: Int, groups: Int,
    decoyTables: Int, principals: Int)

/** Everything a workload run feeds the program, made from the seed alone. */
final case class Inputs(
    workload: String,
    seed: Long,
    sizes: Sizes,
    tables: Seq[TableSpec],
    decoyTables: Seq[String],
    /** Policies in insertion order. Each carries a validity window, so a
      * renewal can replace it by a copy with a later end.
      */
    policies: Vector[AnyRef],
    memberships: Seq[(String, String)],
    principals: Seq[String],
    effective: Map[(String, String), Effective],
    templates: Seq[Template],
    /** DDL column list of the insert sinks (empty when no insert runs). */
    sinkCols: Seq[(String, String)],
    /** Indices into `policies` the admin client may renew. */
    renewable: Vector[Int],
    /** Decoy (user, group) pairs for membership churn. */
    churnPairs: Vector[(String, String)]
) {
  def table(name: String): TableSpec = tables.find(_.name == name).get
  def eff(principal: String, table: String): Effective =
    effective.getOrElse((principal, table), Effective.none)

  /** Column-deny decision for a template: the first (table, columns) the
    * principal may not read, if any.
    */
  def expectedDenial(principal: String, t: Template): Option[String] =
    t.refs.toSeq.sortBy(_._1).collectFirst {
      case (tbl, cols) if (eff(principal, tbl).deniedCols & cols).nonEmpty =>
        s"$tbl.${(eff(principal, tbl).deniedCols & cols).toSeq.sorted.mkString(",")}"
    }

  /** A digest of the table rows' definitions: the key of the written data. */
  def dataDigest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    tables.foreach(t => md.update((t.toString + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** A digest of every generated input, for the determinism test. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: Any): Unit = md.update((s.toString + "\n").getBytes("UTF-8"))
    add(workload); add(seed); add(sizes)
    tables.foreach(add); decoyTables.foreach(add); policies.foreach(add)
    memberships.foreach(add); principals.foreach(add)
    effective.toSeq.sortBy(_._1).foreach(add); templates.foreach(add)
    sinkCols.foreach(add); renewable.foreach(add); churnPairs.foreach(add)
    md.digest().map("%02x".format(_)).mkString
  }
}

object Gen {
  val Catalog = "spark_catalog"
  val Db = "default"
  /** Validity window of every generated policy: open now, closing far ahead.
    * Renewals push the end out by one day each.
    */
  val WindowStart = "2020-01-01T00:00:00Z"
  val WindowEnd = java.time.Instant.parse("2100-01-01T00:00:00Z")

  val Workloads: Seq[String] = Seq("policy_heavy", "masked_scan")

  /** SQL for each mask type with `c` the column, as the expected queries
    * write it. MASK_NULL becomes a typed NULL.
    */
  def maskSql(maskType: String, c: String): String = maskType match {
    case "MASK" => s"mask($c)"
    case "MASK_SHOW_LAST_4" => s"mask_show_last_n($c, 4, 'x', 'x', 'x', -1, '1')"
    case "MASK_SHOW_FIRST_4" => s"mask_show_first_n($c, 4, 'x', 'x', 'x', -1, '1')"
    case "MASK_HASH" => s"mask_hash($c)"
    case "MASK_DATE_SHOW_YEAR" => s"mask($c, 'x', 'x', 'x', -1, '1', 1, 0, -1)"
    case "MASK_NULL" => "NULL"
    case other => throw new IllegalArgumentException(s"no expected SQL for mask $other")
  }

  // ---------------------------------------------------------------- data

  private def h(salt: Int) = s"xxhash64(id, $salt)"
  private def pick(salt: Int, values: Seq[String]) =
    s"element_at(array(${values.map(v => s"'$v'").mkString(", ")}), cast(pmod(${h(salt)}, ${values.size}) + 1 AS INT))"
  private val words = Seq("carefully", "final", "deposits", "sleep", "quickly",
    "regular", "accounts", "ironic", "packages", "boost", "furiously", "express",
    "requests", "haggle", "blithely", "pending", "theodolites", "unusual",
    "instructions", "wake", "silent", "foxes", "bold", "pinto", "beans", "even",
    "courts", "detect", "slyly", "special", "dependencies", "nag", "fluffily")
  /** A fixed paragraph of vocabulary words that text columns cut from. */
  private val paragraph: String = {
    val r = new java.util.SplittableRandom(20240601L)
    Iterator.continually(words(r.nextInt(words.size))).take(1200).mkString(" ")
  }
  /** About `n0`..`n0+span-1` words: a slice of the paragraph at a hashed offset. */
  private def text(salt: Int, n0: Int, span: Int) =
    s"trim(substr('$paragraph', cast(1 + pmod(${h(salt)}, 4000) AS INT), " +
      s"cast(${n0 * 8} + pmod(${h(salt + 100)}, ${span * 8}) AS INT)))"
  private def phone(salt: Int) =
    s"concat(cast(10 + pmod(${h(salt)}, 25) AS STRING), '-', " +
      s"lpad(cast(100 + pmod(${h(salt + 1)}, 900) AS STRING), 3, '0'), '-', " +
      s"lpad(cast(100 + pmod(${h(salt + 2)}, 900) AS STRING), 3, '0'), '-', " +
      s"lpad(cast(pmod(${h(salt + 3)}, 10000) AS STRING), 4, '0'))"
  private def money(salt: Int, lo: Long, hi: Long) =
    s"cast(($lo + pmod(${h(salt)}, ${hi - lo})) / 100 AS DECIMAL(12,2))"
  private def address(salt: Int) =
    s"substr(sha2(concat(cast(id AS STRING), '-$salt'), 256), 1, " +
      s"cast(10 + pmod(${h(salt)}, 20) AS INT))"

  val Nations: Seq[(String, Int)] = Seq("ALGERIA" -> 0, "ARGENTINA" -> 1,
    "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3,
    "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4,
    "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0,
    "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4,
    "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  val Regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val ShipModes: Seq[String] = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  /** TPC-H-shaped tables at scale factor `sf` (sf 0.01: 1.5k customers,
    * 15k orders; sf 0.1: 600k line items), plus a documents table.
    */
  def tpch(sf: Double): Map[String, TableSpec] = {
    val nCust = math.round(150000 * sf)
    val nOrd = math.round(1500000 * sf)
    val nSupp = math.max(10L, math.round(10000 * sf))
    Map(
      "region" -> TableSpec("region", 5, Seq(
        ColSpec("r_regionkey", "INT", "cast(id AS INT)"),
        ColSpec("r_name", "STRING",
          s"element_at(array(${Regions.map(r => s"'$r'").mkString(", ")}), cast(id + 1 AS INT))"),
        ColSpec("r_comment", "STRING", text(71, 4, 6)))),
      "nation" -> TableSpec("nation", 25, Seq(
        ColSpec("n_nationkey", "INT", "cast(id AS INT)"),
        ColSpec("n_name", "STRING",
          s"element_at(array(${Nations.map(n => s"'${n._1}'").mkString(", ")}), cast(id + 1 AS INT))"),
        ColSpec("n_regionkey", "INT",
          s"element_at(array(${Nations.map(_._2).mkString(", ")}), cast(id + 1 AS INT))"),
        ColSpec("n_comment", "STRING", text(72, 4, 8)))),
      "supplier" -> TableSpec("supplier", nSupp, Seq(
        ColSpec("s_suppkey", "BIGINT", "id + 1"),
        ColSpec("s_name", "STRING", "concat('Supplier#', lpad(cast(id + 1 AS STRING), 9, '0'))"),
        ColSpec("s_address", "STRING", address(11)),
        ColSpec("s_nationkey", "INT", s"cast(pmod(${h(12)}, 25) AS INT)"),
        ColSpec("s_phone", "STRING", phone(13)),
        ColSpec("s_acctbal", "DECIMAL(12,2)", money(17, -99999, 999999)),
        ColSpec("s_comment", "STRING", text(18, 5, 8)))),
      "customer" -> TableSpec("customer", nCust, Seq(
        ColSpec("c_custkey", "BIGINT", "id + 1"),
        ColSpec("c_name", "STRING", "concat('Customer#', lpad(cast(id + 1 AS STRING), 9, '0'))"),
        ColSpec("c_address", "STRING", address(21)),
        ColSpec("c_nationkey", "INT", s"cast(pmod(${h(22)}, 25) AS INT)"),
        ColSpec("c_phone", "STRING", phone(23)),
        ColSpec("c_acctbal", "DECIMAL(12,2)", money(27, -99999, 999999)),
        ColSpec("c_mktsegment", "STRING", pick(28, Segments)),
        ColSpec("c_comment", "STRING", text(29, 5, 10)))),
      "orders" -> TableSpec("orders", nOrd, Seq(
        ColSpec("o_orderkey", "BIGINT", "id + 1"),
        ColSpec("o_custkey", "BIGINT", s"pmod(${h(31)}, $nCust) + 1"),
        ColSpec("o_orderstatus", "STRING", pick(32, Seq("F", "O", "P"))),
        ColSpec("o_totalprice", "DECIMAL(12,2)", money(33, 100000, 50000000)),
        ColSpec("o_orderdate", "DATE", s"date_add(DATE'1992-01-01', cast(pmod(${h(34)}, 2400) AS INT))"),
        ColSpec("o_orderpriority", "STRING", pick(35, Priorities)),
        ColSpec("o_clerk", "STRING",
          s"concat('Clerk#', lpad(cast(pmod(${h(36)}, 1000) + 1 AS STRING), 9, '0'))"),
        ColSpec("o_shippriority", "INT", "0"),
        ColSpec("o_comment", "STRING", text(38, 4, 10)))),
      "lineitem" -> TableSpec("lineitem", nOrd * 4, Seq(
        ColSpec("l_orderkey", "BIGINT", "floor(id / 4) + 1"),
        ColSpec("l_partkey", "BIGINT", s"pmod(${h(41)}, ${math.round(200000 * sf)}) + 1"),
        ColSpec("l_suppkey", "BIGINT", s"pmod(${h(42)}, $nSupp) + 1"),
        ColSpec("l_linenumber", "INT", "cast(pmod(id, 4) + 1 AS INT)"),
        ColSpec("l_quantity", "INT", s"cast(pmod(${h(44)}, 50) + 1 AS INT)"),
        ColSpec("l_extendedprice", "DECIMAL(12,2)", money(45, 90000, 10500000)),
        ColSpec("l_discount", "DECIMAL(4,2)", s"cast(pmod(${h(46)}, 11) / 100 AS DECIMAL(4,2))"),
        ColSpec("l_returnflag", "STRING", pick(47, Seq("A", "N", "R"))),
        ColSpec("l_shipdate", "DATE", s"date_add(DATE'1992-01-02', cast(pmod(${h(48)}, 2500) AS INT))"),
        ColSpec("l_shipinstruct", "STRING",
          pick(49, Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"))),
        ColSpec("l_shipmode", "STRING", pick(50, ShipModes)),
        ColSpec("l_comment", "STRING", text(51, 3, 6)))),
      "documents" -> TableSpec("documents", math.round(200000 * sf), Seq(
        ColSpec("doc_id", "BIGINT", "id + 1"),
        ColSpec("text", "STRING", text(61, 30, 50)),
        ColSpec("lang", "STRING", pick(62, Seq("en", "en", "en", "de", "fr", "es"))),
        ColSpec("source", "STRING",
          s"concat('https://', ${pick(63, Seq("news.example.org", "blog.example.com", "wiki.example.net"))}, " +
            s"'/a/', cast(pmod(${h(64)}, 100000) AS STRING))")))
    )
  }

  // ------------------------------------------------------------- policies

  private def window(end: java.time.Instant = WindowEnd): (Option[String], Option[String]) =
    (Some(WindowStart), Some(end.toString))

  def rowFilter(user: String, table: String, cond: String): RowFilterPolicy = {
    val (f, u) = window()
    RowFilterPolicy(user, Catalog, Db, table, cond, f, u)
  }
  def mask(user: String, table: String, col: String, tpe: String): DataMaskPolicy = {
    val (f, u) = window()
    DataMaskPolicy(user, Catalog, Db, table, col, tpe, f, u)
  }
  def deny(user: String, table: String): DenyRowPolicy = {
    val (f, u) = window()
    DenyRowPolicy(user, Catalog, Db, table, f, u)
  }
  def colDeny(user: String, table: String, col: String): ColumnDenyPolicy = {
    val (f, u) = window()
    ColumnDenyPolicy(user, Catalog, Db, table, col, f, u)
  }

  /** The same policy with its window end pushed out by `days`. */
  def renewed(p: AnyRef, days: Long): AnyRef = {
    def later(u: Option[String]) =
      u.map(s => java.time.Instant.parse(s).plus(java.time.Duration.ofDays(days)).toString)
    p match {
      case q: RowFilterPolicy => q.copy(validUntil = later(q.validUntil))
      case q: DataMaskPolicy => q.copy(validUntil = later(q.validUntil))
      case q: DenyRowPolicy => q.copy(validUntil = later(q.validUntil))
      case q: ColumnDenyPolicy => q.copy(validUntil = later(q.validUntil))
    }
  }

  private val StringMaskTypes = Seq("MASK", "MASK_SHOW_FIRST_4", "MASK_SHOW_LAST_4", "MASK_HASH", "MASK_NULL")

  /** Mask candidates of the read mix: string columns that no filter, join
    * key or ORDER BY uses.
    */
  private val MaskCols: Seq[(String, String)] = Seq(
    "customer" -> "c_name", "orders" -> "o_clerk", "nation" -> "n_name",
    "supplier" -> "s_name", "customer" -> "c_phone", "orders" -> "o_comment",
    "nation" -> "n_comment", "supplier" -> "s_address", "customer" -> "c_comment",
    "region" -> "r_comment", "supplier" -> "s_comment", "customer" -> "c_address")

  /** The nation the subquery template's EXISTS names; no nation filter
    * excludes its region (3), so the EXISTS holds for every principal.
    */
  private val ExistsNation = 7

  /** A row filter on `table` whose constant comes from the seed, within a
    * band that keeps its selectivity about the same for every seed.
    */
  private def filterFor(rnd: java.util.SplittableRandom, table: String): String = table match {
    case "customer" => s"c_acctbal > ${rnd.nextInt(0, 500)}"
    case "orders" => s"o_totalprice > ${rnd.nextInt(1000, 5000)}"
    case "nation" => s"n_regionkey <> ${Seq(0, 1, 2, 4)(rnd.nextInt(4))}"
    case "supplier" => s"s_nationkey <> ${rnd.nextInt(25)}"
    case "region" => s"r_regionkey <> ${Seq(0, 1, 2, 4)(rnd.nextInt(4))}"
  }

  /** The read mix's templates with seeded constants: a single-table filter,
    * a 2-way join, a 4-way LEFT JOIN + GROUP BY, an IN + EXISTS subquery and
    * a `SELECT *`, each ordered on a unique key so fetch-10 is deterministic.
    */
  private def readTemplates(rnd: java.util.SplittableRandom,
      t: Map[String, TableSpec]): Seq[Template] = {
    val acct = rnd.nextInt(2000, 2500)
    val day = java.time.LocalDate.of(1992, 1, 1).plusDays(rnd.nextInt(800, 900))
    val seg = Segments(rnd.nextInt(Segments.size))
    val price = rnd.nextInt(200000, 250000)
    Seq(
      Template("filter", Kind.Fetch,
        s"SELECT c.c_custkey, c.c_name, c.c_phone, c.c_acctbal, c.c_mktsegment " +
          s"FROM {customer} c WHERE c.c_acctbal > $acct ORDER BY c.c_custkey",
        Map("customer" -> Set("c_custkey", "c_name", "c_phone", "c_acctbal", "c_mktsegment")), 0),
      Template("join2", Kind.Fetch,
        s"SELECT o.o_orderkey, c.c_name, o.o_orderstatus, o.o_totalprice FROM {orders} o " +
          s"JOIN {customer} c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > $price " +
          s"ORDER BY o.o_orderkey",
        Map("orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          "customer" -> Set("c_custkey", "c_name")), 0),
      Template("join4", Kind.Fetch,
        s"SELECT n.n_name, r.r_name, count(*) AS orders, sum(o.o_totalprice) AS total " +
          s"FROM {orders} o LEFT JOIN {customer} c ON o.o_custkey = c.c_custkey " +
          s"LEFT JOIN {nation} n ON c.c_nationkey = n.n_nationkey " +
          s"LEFT JOIN {region} r ON n.n_regionkey = r.r_regionkey " +
          s"WHERE o.o_orderdate >= DATE'$day' GROUP BY n.n_name, r.r_name " +
          s"ORDER BY n.n_name, r.r_name",
        Map("orders" -> Set("o_custkey", "o_totalprice", "o_orderdate"),
          "customer" -> Set("c_custkey", "c_nationkey"),
          "nation" -> Set("n_nationkey", "n_name", "n_regionkey"),
          "region" -> Set("r_regionkey", "r_name")), 0),
      Template("subquery", Kind.Fetch,
        s"SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, o.o_clerk FROM {orders} o " +
          s"WHERE o.o_custkey IN (SELECT c.c_custkey FROM {customer} c WHERE c.c_mktsegment = '$seg') " +
          s"AND EXISTS (SELECT 1 FROM {nation} n WHERE n.n_nationkey = $ExistsNation) ORDER BY o.o_orderkey",
        Map("orders" -> Set("o_orderkey", "o_orderstatus", "o_totalprice", "o_clerk", "o_custkey"),
          "customer" -> Set("c_custkey", "c_mktsegment"),
          "nation" -> Set("n_nationkey")), 0),
      Template("star", Kind.Fetch,
        "SELECT * FROM {supplier} s ORDER BY s.s_suppkey",
        Map("supplier" -> t("supplier").colNames.toSet), 0))
  }

  private val OrderSink: Seq[(String, String)] = Seq("o_orderkey" -> "BIGINT",
    "o_custkey" -> "BIGINT", "o_orderstatus" -> "STRING", "o_clerk" -> "STRING",
    "o_totalprice" -> "DECIMAL(12,2)")

  private def orderInsert(rnd: java.util.SplittableRandom, t: Map[String, TableSpec]): Template = {
    val day = java.time.LocalDate.of(1992, 1, 1).plusDays(rnd.nextInt(2000, 2100))
    Template("insert", Kind.Insert,
      s"INSERT INTO {sink} SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_clerk, " +
        s"o.o_totalprice FROM {orders} o WHERE o.o_orderdate >= DATE'$day'",
      Map("orders" -> Set("o_orderkey", "o_custkey", "o_orderstatus", "o_clerk",
        "o_totalprice", "o_orderdate")), t("orders").rows)
  }

  /** Many principals over the TPC-H read mix: measured principals with
    * 1-2 row filters and 2-3 masks each through user-exact, group and
    * wildcard policies (the second-last denied the rows of `orders`, the
    * last denied `customer.c_phone`), buried in decoy policies for other
    * users, other groups and decoy tables that never apply to them. Which
    * tables and columns each measured principal's policies cover is fixed;
    * the seed picks their constants, the mask types and the
    * decoys, so every seed asks the same amount of work.
    */
  private def manyPrincipals(seed: Long, sizes: Sizes): Inputs = {
    val rnd = new java.util.SplittableRandom(seed)
    def shuffled[T](xs: Seq[T]): Seq[T] =
      scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong())).shuffle(xs)
    val t = tpch(sizes.scale)
    val queried = Seq("customer", "orders", "nation", "region", "supplier")
    val principals = (0 until sizes.principals).map(i => f"m$i%02d")
    val groups = (0 until sizes.groups).map(i => f"g$i%02d")
    val measuredGroups = groups.take(4)
    val decoyGroups = groups.drop(4)
    val users = (0 until sizes.users).map(i => f"u$i%05d")
    val decoyTables = (0 until sizes.decoyTables).map(i => f"decoy_$i%04d")

    val policies = Vector.newBuilder[AnyRef]
    val memberships = Seq.newBuilder[(String, String)]
    val eff = scala.collection.mutable.Map.empty[(String, String), Effective]
    def upd(p: String, table: String)(f: Effective => Effective): Unit =
      eff((p, table)) = f(eff.getOrElse((p, table), Effective.none))
    def maskType() = StringMaskTypes(rnd.nextInt(StringMaskTypes.size))

    // wildcard: one mask everybody gets
    val wildType = maskType()
    policies += mask("*", "supplier", "s_comment", wildType)
    // groups: the even ones mask a column, the odd ones filter a table
    val groupMask = Map("g00" -> ("customer", "c_address", maskType()),
      "g02" -> ("orders", "o_comment", maskType()))
    val groupFilter = Map("g01" -> ("orders", filterFor(rnd, "orders")),
      "g03" -> ("nation", filterFor(rnd, "nation")))
    groupMask.toSeq.sorted.foreach { case (g, (tbl, col, tpe)) => policies += mask(g, tbl, col, tpe) }
    groupFilter.toSeq.sorted.foreach { case (g, (tbl, cond)) => policies += rowFilter(g, tbl, cond) }
    val denyRows = principals(principals.size - 2)
    val denyCol = principals(principals.size - 1)
    for ((p, i) <- principals.zipWithIndex) {
      val g = measuredGroups(i % measuredGroups.size)
      memberships += p -> g
      upd(p, "supplier")(e => e.copy(masks = e.masks + ("s_comment" -> wildType)))
      groupMask.get(g).foreach { case (tbl, col, tpe) => upd(p, tbl)(e => e.copy(masks = e.masks + (col -> tpe))) }
      groupFilter.get(g).foreach { case (tbl, cond) => upd(p, tbl)(e => e.copy(filters = e.filters :+ cond)) }
      // one exact filter each; the odd principals' groups add a second
      val ftbl = Seq("customer", "orders", "supplier", "region")(i % 4)
      val cond = filterFor(rnd, ftbl)
      policies += rowFilter(p, ftbl, cond)
      upd(p, ftbl)(e => e.copy(filters = e.filters :+ cond))
      // two exact masks; the even principals' groups add a third, and an
      // exact mask on the wildcard or group column wins over it
      for (k <- 0 until 2) {
        val (tbl, col) = MaskCols((2 * i + k) % MaskCols.size)
        val tpe = maskType()
        policies += mask(p, tbl, col, tpe)
        upd(p, tbl)(e => e.copy(masks = e.masks + (col -> tpe)))
      }
      if (p == denyRows) {
        policies += deny(p, "orders")
        upd(p, "orders")(_.copy(denied = true))
      }
      if (p == denyCol) {
        policies += colDeny(p, "customer", "c_phone")
        upd(p, "customer")(e => e.copy(deniedCols = e.deniedCols + "c_phone"))
      }
    }
    val measured = policies.result()

    // decoys: never apply to a measured principal
    val decoyCols = Seq("a", "b", "c", "d")
    val decoy = Vector.newBuilder[AnyRef]
    for (_ <- 0 until math.max(0, sizes.policies - measured.size)) {
      val onQueried = rnd.nextInt(10) == 0
      val user =
        if (!onQueried && rnd.nextInt(100) == 0) "*"
        else if (rnd.nextInt(5) == 0) decoyGroups(rnd.nextInt(decoyGroups.size))
        else users(rnd.nextInt(users.size))
      val (tbl, cols) =
        if (onQueried) { val q = queried(rnd.nextInt(queried.size)); (q, t(q).colNames) }
        else (decoyTables(rnd.nextInt(decoyTables.size)), decoyCols)
      val col = cols(rnd.nextInt(cols.size))
      decoy += (rnd.nextInt(20) match {
        case k if k < 8 => mask(user, tbl, col, maskType())
        case k if k < 14 => rowFilter(user, tbl, s"$col IS NOT NULL")
        case k if k < 17 => deny(user, tbl)
        case _ => colDeny(user, tbl, col)
      })
    }
    // measured policies sit at seeded positions among the decoys
    val all = shuffled(measured ++ decoy.result()).toVector
    users.foreach(u => memberships += u -> groups(rnd.nextInt(groups.size)))
    val churnPairs = (0 until 64).map(_ =>
      users(rnd.nextInt(users.size)) -> decoyGroups(rnd.nextInt(decoyGroups.size))).toVector
    val templates = readTemplates(rnd, t) :+ orderInsert(rnd, t)
    val measuredSet = measured.toSet
    Inputs("policy_heavy", seed, sizes,
      tables = queried.map(t), decoyTables = decoyTables,
      policies = all, memberships = memberships.result(),
      principals = principals, effective = eff.toMap, templates = templates,
      sinkCols = OrderSink,
      renewable = all.indices.filter(i => measuredSet.contains(all(i)) || i % 7 == 0).toVector,
      churnPairs = churnPairs)
  }

  /** One principal with about ten policies covering every mask type over
    * full scans of lineitem, orders, customer and documents.
    */
  private def maskedScan(seed: Long, sizes: Sizes): Inputs = {
    val rnd = new java.util.SplittableRandom(seed)
    val t = tpch(sizes.scale)
    val p = "analyst"
    val qty = rnd.nextInt(44, 47)
    val status = Seq("F", "O", "P")(rnd.nextInt(3))
    val lang = Seq("de", "fr", "es")(rnd.nextInt(3))
    val mode = ShipModes(rnd.nextInt(ShipModes.size))
    val policies = Vector(
      rowFilter(p, "lineitem", s"l_quantity < $qty"),
      rowFilter(p, "orders", s"o_orderstatus <> '$status'"),
      rowFilter(p, "documents", s"lang <> '$lang'"),
      mask(p, "customer", "c_name", "MASK"),
      mask(p, "customer", "c_phone", "MASK_SHOW_LAST_4"),
      mask(p, "orders", "o_clerk", "MASK_SHOW_FIRST_4"),
      mask(p, "lineitem", "l_comment", "MASK_HASH"),
      mask(p, "lineitem", "l_shipinstruct", "MASK_NULL"),
      mask(p, "lineitem", "l_shipdate", "MASK_DATE_SHOW_YEAR"),
      mask(p, "lineitem", "l_suppkey", "MASK"),
      mask(p, "documents", "text", "MASK"),
      mask(p, "documents", "source", "MASK_SHOW_FIRST_4"))
    val eff = Map(
      (p, "lineitem") -> Effective(false, Seq(s"l_quantity < $qty"), Map("l_comment" -> "MASK_HASH",
        "l_shipinstruct" -> "MASK_NULL", "l_shipdate" -> "MASK_DATE_SHOW_YEAR", "l_suppkey" -> "MASK"), Set.empty),
      (p, "orders") -> Effective(false, Seq(s"o_orderstatus <> '$status'"), Map("o_clerk" -> "MASK_SHOW_FIRST_4"), Set.empty),
      (p, "customer") -> Effective(false, Nil, Map("c_name" -> "MASK", "c_phone" -> "MASK_SHOW_LAST_4"), Set.empty),
      (p, "documents") -> Effective(false, Seq(s"lang <> '$lang'"), Map("text" -> "MASK", "source" -> "MASK_SHOW_FIRST_4"), Set.empty))
    val li = t("lineitem"); val ord = t("orders"); val cu = t("customer"); val docs = t("documents")
    val templates = Seq(
      Template("lineitem_scan", Kind.FullEval, "SELECT * FROM {lineitem} l",
        Map("lineitem" -> li.colNames.toSet), li.rows),
      Template("orders_customer_join", Kind.FullEval,
        "SELECT c.c_custkey, c.c_name, c.c_phone, o.o_orderkey, o.o_clerk, o.o_totalprice, o.o_orderdate " +
          "FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey",
        Map("orders" -> Set("o_custkey", "o_orderkey", "o_clerk", "o_totalprice", "o_orderdate"),
          "customer" -> Set("c_custkey", "c_name", "c_phone")), ord.rows + cu.rows),
      Template("documents_scan", Kind.FullEval, "SELECT d.doc_id, d.source, d.text, d.lang FROM {documents} d",
        Map("documents" -> Set("doc_id", "source", "text", "lang")), docs.rows),
      Template("insert", Kind.Insert,
        s"INSERT INTO {sink} SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_shipdate, l.l_comment " +
          s"FROM {lineitem} l WHERE l.l_shipmode = '$mode'",
        Map("lineitem" -> Set("l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate", "l_comment", "l_shipmode")),
        li.rows))
    Inputs("masked_scan", seed, sizes,
      tables = Seq(li, ord, cu, docs), decoyTables = Nil, policies = policies,
      memberships = Nil, principals = Seq(p), effective = eff, templates = templates,
      sinkCols = Seq("l_orderkey" -> "BIGINT", "l_linenumber" -> "INT", "l_suppkey" -> "BIGINT",
        "l_shipdate" -> "DATE", "l_comment" -> "STRING"),
      renewable = policies.indices.toVector, churnPairs = Vector.empty)
  }

  def sizes(workload: String, small: Boolean): Sizes = (workload, small) match {
    case ("policy_heavy", false) => Sizes(0.01, 2000, 500, 20, 200, 8)
    case ("policy_heavy", true) => Sizes(0.001, 1000, 200, 20, 100, 8)
    case ("masked_scan", false) => Sizes(0.1, 12, 1, 0, 0, 1)
    case ("masked_scan", true) => Sizes(0.002, 12, 1, 0, 0, 1)
    case (w, _) => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def inputs(workload: String, seed: Long, small: Boolean): Inputs = {
    val s = sizes(workload, small)
    workload match {
      case "masked_scan" => maskedScan(seed, s)
      case _ => manyPrincipals(seed, s)
    }
  }
}
