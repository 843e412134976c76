package graft.policy

import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Random, Success, Try}

/** Differential check of the indexed [[PolicyManager]] against a test-local
  * linear scan over every policy — the store's lookup semantics written the
  * plain way. Random policy sets (all four kinds; user, group and `*`
  * principals; wildcard catalog, db and table; mixed-case identifiers;
  * open, closed, future and malformed windows) go through both, with group
  * membership churn, removals (including the renewal pair that differs only
  * in window) and JSON imports in between; every lookup must agree,
  * exceptions included.
  */
class PolicyIndexDifferentialSpec extends AnyFunSuite {

  /** The linear reference. A policy matches on principal and names (and
    * column, for a mask lookup); a matching policy's window is then parsed
    * and checked, and a malformed one throws.
    */
  private final class Linear {
    val rowFilters = ArrayBuffer.empty[RowFilterPolicy]
    val masks = ArrayBuffer.empty[DataMaskPolicy]
    val denies = ArrayBuffer.empty[DenyRowPolicy]
    val colDenies = ArrayBuffer.empty[ColumnDenyPolicy]
    val members = scala.collection.mutable.Map.empty[String, Set[String]]
    var now: Instant = Instant.EPOCH

    private def eq(a: String, b: String) = a.equalsIgnoreCase(b)
    def groupsOf(user: String): Set[String] =
      members.collect { case (g, ms) if ms.contains(user.toLowerCase) => g }.toSet
    private def principalRank(p: String, user: String): Int =
      if (eq(p, user)) 2 else if (groupsOf(user).contains(p.toLowerCase)) 1
      else if (p == "*") 0 else -1
    private def nameRank(p: String, actual: String): Int =
      if (eq(p, actual)) 1 else if (p == "*") 0 else -1
    private def ranks(p: TablePolicy, user: String, cat: String, db: String,
        table: String): (Int, Int, Int, Int) =
      (principalRank(p.username, user), nameRank(p.tableName, table),
        nameRank(p.database, db), nameRank(p.catalogName, cat))
    private def matches(p: TablePolicy, user: String, cat: String, db: String,
        table: String): Boolean = {
      val r = ranks(p, user, cat, db, table)
      r._1 >= 0 && r._2 >= 0 && r._3 >= 0 && r._4 >= 0
    }
    private def inWindow(p: TablePolicy): Boolean = {
      val from = p.validFrom.map(Instant.parse)
      val until = p.validUntil.map(Instant.parse)
      from.forall(f => !now.isBefore(f)) && until.forall(u => now.isBefore(u))
    }

    def isDenied(u: String, c: String, d: String, t: String): Boolean =
      denies.filter(matches(_, u, c, d, t)).count(inWindow) > 0
    def rowFilterConditions(u: String, c: String, d: String, t: String): Seq[String] =
      if (isDenied(u, c, d, t)) Seq("false")
      else rowFilters.filter(matches(_, u, c, d, t)).filter(inWindow).map(_.condition).toSeq
    def dataMaskType(u: String, c: String, d: String, t: String,
        col: String): Option[String] = {
      val ms = masks.filter(p => matches(p, u, c, d, t) && eq(p.columnName, col)).filter(inWindow)
      if (ms.isEmpty) None
      else {
        val name = ms.maxBy(ranks(_, u, c, d, t)).maskType
        Some(DataMaskType.builtin.find(x => eq(x.name, name)).map(_.name)
          .getOrElse(throw new IllegalStateException(s"unregistered mask type $name")))
      }
    }
    def hasDataMask(u: String, c: String, d: String, t: String): Boolean =
      masks.filter(matches(_, u, c, d, t)).count(inWindow) > 0
    def deniedColumns(u: String, c: String, d: String, t: String): Seq[String] =
      colDenies.filter(matches(_, u, c, d, t)).filter(inWindow).map(_.columnName).toSeq.distinct

    def add(p: TablePolicy): Unit = p match {
      case q: RowFilterPolicy => rowFilters += q
      case q: DataMaskPolicy => masks += q
      case q: DenyRowPolicy => denies += q
      case q: ColumnDenyPolicy => colDenies += q
    }
    private def sameScope(a: TablePolicy, b: TablePolicy): Boolean =
      eq(a.username, b.username) && eq(a.catalogName, b.catalogName) &&
        eq(a.database, b.database) && eq(a.tableName, b.tableName) &&
        a.validFrom == b.validFrom && a.validUntil == b.validUntil
    private def removeFirst[P <: TablePolicy](buf: ArrayBuffer[P], p: P)(same: P => Boolean): Boolean = {
      val i = buf.indexWhere(q => sameScope(q, p) && same(q))
      if (i >= 0) { buf.remove(i); true } else false
    }
    def remove(p: TablePolicy): Boolean = p match {
      case q: RowFilterPolicy => removeFirst(rowFilters, q)(_.condition == q.condition)
      case q: DataMaskPolicy =>
        removeFirst(masks, q)(x => eq(x.columnName, q.columnName) && eq(x.maskType, q.maskType))
      case q: DenyRowPolicy => removeFirst(denies, q)(_ => true)
      case q: ColumnDenyPolicy => removeFirst(colDenies, q)(x => eq(x.columnName, q.columnName))
    }
    def join(u: String, g: String): Unit =
      members(g.toLowerCase) = members.getOrElse(g.toLowerCase, Set.empty) + u.toLowerCase
    def leave(u: String, g: String): Unit =
      members.get(g.toLowerCase).foreach(ms => members(g.toLowerCase) = ms - u.toLowerCase)
  }

  // the universe: "carol" is both a user and a group name on purpose
  private val users = Seq("alice", "Alice", "BOB", "carol", "dave", "eve")
  private val groups = Seq("analysts", "Analysts", "g2", "carol")
  private val policyPrincipals = users ++ groups ++ Seq("*", "*")
  private val catalogs = Seq("hive", "HIVE", "spark_catalog", "*")
  private val dbs = Seq("default", "Default", "db1", "*")
  private val tables = Seq("orders", "ORDERS", "customer", "t", "*")
  private val columns = Seq("c1", "C1", "name", "price")
  private val maskTypes = DataMaskType.builtin.map(_.name) ++ Seq("mask", "MASK_NO_SUCH_TYPE")
  private val instants = Seq("2025-06-01T00:00:00Z", "2026-01-01T00:00:00Z",
    "2026-06-15T12:00:00Z", "2027-01-01T00:00:00Z", "2028-03-01T00:00:00Z").map(Instant.parse)

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  /** Open, closed, future, bounded or (rarely) malformed. */
  private def window(r: Random): (Option[String], Option[String]) = r.nextInt(20) match {
    case k if k < 8 => (None, None)
    case k if k < 10 => (None, Some("2026-01-01T00:00:00Z"))
    case k if k < 12 => (Some("2026-01-01T00:00:00Z"), None)
    case k if k < 14 => (Some("2027-01-01T00:00:00Z"), None)
    case k if k < 17 => (Some("2026-01-01T00:00:00Z"), Some("2027-01-01T00:00:00Z"))
    case 17 => (None, Some("2026-06-15T12:00:00.000Z"))
    case 18 => (Some("2026-06-15T12:00:00Z"), Some("2026-06-15T12:00:01Z"))
    case _ => (Some("not-a-timestamp"), None)
  }

  private def randomPolicy(r: Random): TablePolicy = {
    val (u, c, d, t) = (pick(r, policyPrincipals), pick(r, catalogs), pick(r, dbs), pick(r, tables))
    val (f, until) = window(r)
    r.nextInt(4) match {
      case 0 => RowFilterPolicy(u, c, d, t, s"x = ${r.nextInt(5)}", f, until)
      case 1 => DataMaskPolicy(u, c, d, t, pick(r, columns),
        if (r.nextInt(15) == 0) "MASK_NO_SUCH_TYPE" else pick(r, maskTypes.init), f, until)
      case 2 => DenyRowPolicy(u, c, d, t, f, until)
      case _ => ColumnDenyPolicy(u, c, d, t, pick(r, columns), f, until)
    }
  }

  /** The same policy with its identifiers in another case. */
  private def recased(r: Random, p: TablePolicy): TablePolicy = {
    def flip(s: String) = if (r.nextBoolean()) s.toUpperCase else s.toLowerCase
    p match {
      case q: RowFilterPolicy => q.copy(username = flip(q.username), tableName = flip(q.tableName))
      case q: DataMaskPolicy => q.copy(catalogName = flip(q.catalogName), columnName = flip(q.columnName),
        maskType = flip(q.maskType))
      case q: DenyRowPolicy => q.copy(database = flip(q.database))
      case q: ColumnDenyPolicy => q.copy(username = flip(q.username), columnName = flip(q.columnName))
    }
  }

  private def same[T](what: String, a: => T, b: => T): Unit = {
    (Try(a), Try(b)) match {
      case (Success(x), Success(y)) => assert(x == y, s"$what: indexed $x, linear $y")
      case (Failure(x), Failure(y)) =>
        assert(x.getClass == y.getClass, s"$what: indexed threw $x, linear threw $y")
      case (x, y) => fail(s"$what: indexed $x, linear $y")
    }
  }

  private def compareAll(m: PolicyManager, ref: Linear): Unit = {
    assert(m.rowFilterPolicies == ref.rowFilters.toSeq)
    assert(m.dataMaskPolicies == ref.masks.toSeq)
    assert(m.denyPolicies == ref.denies.toSeq)
    assert(m.columnDenyPolicies == ref.colDenies.toSeq)
    for (u <- users :+ "nobody") assert(m.groupsOf(u) == ref.groupsOf(u), u)
    val v = m.view()
    for (u <- Seq("alice", "BOB", "Carol", "dave", "eve", "nobody");
         c <- Seq("hive", "Spark_Catalog"); d <- Seq("default", "DB1");
         t <- Seq("orders", "Customer", "t", "other")) {
      val at = s"$u@$c.$d.$t at ${ref.now}"
      same(s"isDenied $at", v.isDenied(u, c, d, t), ref.isDenied(u, c, d, t))
      same(s"rowFilterConditions $at", v.rowFilterConditions(u, c, d, t),
        ref.rowFilterConditions(u, c, d, t))
      same(s"hasDataMask $at", v.hasDataMask(u, c, d, t), ref.hasDataMask(u, c, d, t))
      same(s"deniedColumns $at", v.deniedColumns(u, c, d, t), ref.deniedColumns(u, c, d, t))
      for (col <- Seq("c1", "Name", "price"))
        same(s"dataMaskType $at.$col", v.dataMaskType(u, c, d, t, col).map(_.name),
          ref.dataMaskType(u, c, d, t, col))
    }
    // the manager's own lookups read the same snapshot when nothing writes
    same("manager isDenied", m.isDenied("alice", "hive", "default", "orders"),
      ref.isDenied("alice", "hive", "default", "orders"))
    same("manager rowFilterConditions", m.rowFilterConditions("dave", "hive", "default", "t"),
      ref.rowFilterConditions("dave", "hive", "default", "t"))
    same("manager dataMaskType", m.dataMaskType("carol", "hive", "db1", "orders", "c1").map(_.name),
      ref.dataMaskType("carol", "hive", "db1", "orders", "c1"))
    assert(m.hasColumnDenies == ref.colDenies.nonEmpty)
  }

  private def run(seed: Long, ops: Int): Unit = {
    val r = new Random(seed)
    val m = new PolicyManager
    val ref = new Linear
    def setNow(i: Instant): Unit = { ref.now = i; m.clock = () => i }
    setNow(pick(r, instants))
    for (step <- 0 until ops) {
      r.nextInt(20) match {
        case k if k < 8 =>
          val p = randomPolicy(r)
          assert(m.addPolicy(p)); ref.add(p)
        case k if k < 11 =>
          // remove a stored policy (named in another case) or a random one
          val stored = ref.rowFilters ++ ref.masks ++ ref.denies ++ ref.colDenies
          val p = if (stored.nonEmpty && r.nextInt(4) > 0) recased(r, pick(r, stored.toSeq))
            else randomPolicy(r)
          assert(m.removePolicy(p) == ref.remove(p), s"remove $p")
        case 11 =>
          // the renewal pair: identical but for the window; remove either one
          val base = RowFilterPolicy(pick(r, users), "hive", "default", "orders", "renewed = 1")
          val old = base.copy(validUntil = Some("2026-06-15T12:00:00Z"))
          val renewal = base.copy(validFrom = Some("2026-06-15T12:00:00Z"))
          Seq(old, renewal).foreach { p => m.addPolicy(p); ref.add(p) }
          val gone = if (r.nextBoolean()) old else renewal
          assert(m.removePolicy(gone) && ref.remove(gone))
        case k if k < 15 =>
          val (u, g) = (pick(r, users), pick(r, groups))
          m.addUserToGroup(u, g); ref.join(u, g)
        case k if k < 17 =>
          val (u, g) = (pick(r, users), pick(r, groups))
          m.removeUserFromGroup(u, g); ref.leave(u, g)
        case 17 =>
          // import a small random store's export
          val src = new PolicyManager
          val batch = Seq.fill(1 + r.nextInt(4))(randomPolicy(r))
          batch.foreach(src.addPolicy)
          val joins = Seq.fill(r.nextInt(3))((pick(r, users), pick(r, groups)))
          joins.foreach { case (u, g) => src.addUserToGroup(u, g) }
          m.importJson(src.exportJson())
          (src.rowFilterPolicies ++ src.dataMaskPolicies ++ src.denyPolicies ++
            src.columnDenyPolicies).foreach(ref.add)
          joins.foreach { case (u, g) => ref.join(u, g) }
        case _ =>
          setNow(pick(r, instants))
      }
      if (step % 4 == 3) compareAll(m, ref)
    }
    compareAll(m, ref)
  }

  test("indexed lookups agree with a linear scan over random policy sets") {
    (1L to 24L).foreach(seed => run(seed, 120))
  }

  test("large sets: thousands of policies, every lookup still agrees") {
    run(seed = 99L, ops = 2500)
  }

  test("a view keeps deciding against its snapshot while the store changes") {
    val m = new PolicyManager
    m.addPolicy(RowFilterPolicy("u", "hive", "default", "t", "x = 1"))
    val before = m.view()
    m.addPolicy(DenyRowPolicy("*", "hive", "default", "t"))
    m.addPolicy(DataMaskPolicy("u", "hive", "default", "t", "c", "MASK"))
    assert(before.rowFilterConditions("u", "hive", "default", "t") == Seq("x = 1"))
    assert(before.dataMaskType("u", "hive", "default", "t", "c").isEmpty)
    assert(m.view().rowFilterConditions("u", "hive", "default", "t") == Seq("false"))
    assert(m.view().dataMaskType("u", "hive", "default", "t", "c").map(_.name) == Some("MASK"))
  }
}
