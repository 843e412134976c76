package graft.policy

/** Policy model for the security layer.
  *
  * Mirrors the reference's policy abstractions (see
  * /root/reference/src/main/java/com/hw/security/flink/policy/RowFilterPolicy.java:30-41
  * and DataMaskPolicy.java:30-43) as plain Scala case classes. Identifiers are
  * matched case-insensitively, like Calcite/Spark's default resolver.
  *
  * [[TablePolicy]] is what every policy kind shares: the principal and table
  * it applies to and its validity window. The store indexes policies by
  * these fields.
  */
sealed trait TablePolicy {
  def username: String
  def catalogName: String
  def database: String
  def tableName: String
  def validFrom: Option[String]
  def validUntil: Option[String]
}

final case class RowFilterPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    /** SQL boolean expression AND-ed into every scan of the table. */
    condition: String,
    /** Validity window (Ranger policy schedules): ISO-8601 UTC instants,
      * inclusive start / exclusive end. None = unbounded on that side. A
      * policy outside its window matches nothing; malformed instants fail
      * loudly at lookup (never silently inactive).
      */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

final case class DataMaskPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    columnName: String,
    /** Name of a [[DataMaskType]], e.g. "MASK_SHOW_FIRST_4". */
    maskType: String,
    /** Validity window — see [[RowFilterPolicy.validFrom]]. */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

/** Ranger-style DENY: while active, the principal reads ZERO rows of the
  * table, regardless of any row-filter policy that would otherwise allow
  * rows — deny OVERRIDES allow at every specificity (a wildcard deny beats
  * an exact-user filter; Ranger's evaluation order, and the fail-closed
  * resolution of any deny/allow overlap). Enforced through the row-filter
  * rewrite as the condition `false`, so it applies everywhere row filters
  * do: plain scans, joins, subqueries, views, embedded V1 commands and the
  * auto-enforcement extension.
  */
final case class DenyRowPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    /** Validity window — see [[RowFilterPolicy.validFrom]]. */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

/** Ranger-style COLUMN deny: while active, the principal may not READ the
  * column at all — a query that references it (including via `SELECT *`
  * expansion) fails CLOSED at analysis time with an error, never a silent
  * null or a mask ([[graft.ColumnAccessDeniedException]]). Deny beats every
  * allow and every mask at any specificity: a masked read of a denied
  * column is still a read. A query touching only the table's other columns
  * is unaffected — that is the distinction from [[DenyRowPolicy]], which
  * zeroes the whole table.
  */
final case class ColumnDenyPolicy(
    username: String,
    catalogName: String,
    database: String,
    tableName: String,
    columnName: String,
    /** Validity window — see [[RowFilterPolicy.validFrom]]. */
    validFrom: Option[String] = None,
    validUntil: Option[String] = None
) extends TablePolicy

/** A named masking strategy with a transformer template in which `{col}` is
  * substituted with the column name (reference: enums/DataMaskType.java:30-43,
  * resources/data_mask_types.json). `transformer == None` covers MASK_NULL /
  * MASK_NONE / CUSTOM, which the reference would NPE on
  * (DataMaskVisitor.java:97-98) — we handle them explicitly.
  */
final case class DataMaskType(
    itemId: Int,
    name: String,
    label: String,
    description: String,
    transformer: Option[String]
) {
  def transformerFor(column: String): Option[String] =
    transformer.map(_.replace("{col}", column))
}

object DataMaskType {
  /** Load a mask-type registry from a classpath JSON resource (mirrors the
    * reference's PolicyManager.java:41-58 loading data_mask_types.json);
    * parsed with json4s, which ships in the Spark jars.
    */
  def loadResource(resource: String = "/graft_mask_types.json"): Seq[DataMaskType] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val stream = getClass.getResourceAsStream(resource)
    require(stream != null, s"mask-type resource $resource not found on classpath")
    val src = scala.io.Source.fromInputStream(stream, "UTF-8")
    val json = try JsonMethods.parse(src.mkString) finally src.close()
    for (JObject(fields) <- json.asInstanceOf[JArray].arr.map(_.asInstanceOf[JObject]))
      yield {
        val m = fields.toMap
        DataMaskType(
          itemId = m("itemId") match { case JInt(i) => i.toInt; case _ => -1 },
          name = m("name") match { case JString(s) => s; case _ => "" },
          label = m.get("label").collect { case JString(s) => s }.getOrElse(""),
          description = m.get("description").collect { case JString(s) => s }.getOrElse(""),
          transformer = m.get("transformer").collect { case JString(s) => s })
      }
  }

  /** Built-in registry (same entries as the JSON resource, authored in code
    * so the library works without resource loading). The transformer strings
    * are SQL calls into the mask function family registered by
    * [[graft.functions.MaskFunctions]].
    */
  val builtin: Seq[DataMaskType] = Seq(
    DataMaskType(1, "MASK", "Redact",
      "Replace lowercase with 'x', uppercase with 'X', digits with 'n'",
      Some("mask({col})")),
    DataMaskType(2, "MASK_SHOW_LAST_4", "Partial mask: show last 4",
      "Show last 4 characters; mask the rest with 'x'",
      Some("mask_show_last_n({col}, 4, 'x', 'x', 'x', -1, '1')")),
    DataMaskType(3, "MASK_SHOW_FIRST_4", "Partial mask: show first 4",
      "Show first 4 characters; mask the rest with 'x'",
      Some("mask_show_first_n({col}, 4, 'x', 'x', 'x', -1, '1')")),
    DataMaskType(4, "MASK_HASH", "Hash",
      "Replace the value with its sha256 hex digest",
      Some("mask_hash({col})")),
    DataMaskType(5, "MASK_NULL", "Nullify",
      "Replace the value with NULL", None),
    DataMaskType(6, "MASK_NONE", "Unmasked (retain original value)",
      "No masking", None),
    DataMaskType(12, "MASK_DATE_SHOW_YEAR", "Date: show only year",
      "Keep the year; day -> 1, month -> January",
      Some("mask({col}, 'x', 'x', 'x', -1, '1', 1, 0, -1)")),
    DataMaskType(13, "CUSTOM", "Custom", "User-supplied transformer", None)
  )
}

/** The read side of the policy store: the lookups the security rules make.
  * A [[PolicySnapshot]] answers them from one immutable store state at one
  * instant; a [[PolicyManager]] answers each from its current snapshot at a
  * fresh `clock()`. The rules take this trait, so a caller decides a whole
  * query against one snapshot by passing [[PolicyManager.view]].
  */
trait PolicyView {
  /** True when an ACTIVE deny matches (user, table) at any specificity —
    * deny overrides allow, so callers must check this before honoring any
    * row-filter condition.
    */
  def isDenied(user: String, catalog: String, db: String, table: String): Boolean

  /** All AND-able conditions for (user, table), in insertion order; the
    * reference keeps at most one but nothing stops multiple policies
    * matching — we AND them all. Group-scoped and wildcard policies
    * contribute alongside user-exact ones (additive restriction — no
    * precedence needed, AND is fail-closed). Under an active deny the
    * answer is `Seq("false")`.
    */
  def rowFilterConditions(user: String, catalog: String, db: String, table: String): Seq[String]

  /** The most specific active mask for the column (see [[PolicyManager]]
    * for the precedence), resolved to its registered type; a policy naming
    * an unregistered type fails closed with an exception.
    */
  def dataMaskType(user: String, catalog: String, db: String, table: String,
      column: String): Option[DataMaskType]

  /** Any active mask policy on any column of the table for `user` — the
    * rules' cheap "does this table need the mask pass at all" probe.
    */
  def hasDataMask(user: String, catalog: String, db: String, table: String): Boolean

  /** Column names with an ACTIVE column deny for (user, table), at any
    * specificity, in insertion order — the rewrite entry points fail a
    * query referencing any of them; deny beats allow AND mask, so this is
    * checked before either rewrite runs. Names are as the policies state
    * them; callers match case-insensitively like every lookup here.
    */
  def deniedColumns(user: String, catalog: String, db: String, table: String): Seq[String]

  /** Whether any column-deny policy is stored, active or not: the
    * column-deny check's O(1) "skip the plan walk" probe.
    */
  def hasColumnDenies: Boolean
}

/** A policy's `[validFrom, validUntil)` window, parsed once when the policy
  * is added. A malformed instant is kept as its parse failure and rethrown
  * by every lookup that reaches the policy: a window that cannot be read
  * must never silently deactivate its policy.
  */
private[policy] final class Window private (from: java.time.Instant,
    until: java.time.Instant, failure: RuntimeException) {
  def contains(now: java.time.Instant): Boolean = {
    if (failure != null) throw failure
    (from == null || !now.isBefore(from)) && (until == null || now.isBefore(until))
  }
}

private[policy] object Window {
  private val Always = new Window(null, null, null)

  def of(p: TablePolicy): Window =
    if (p.validFrom.isEmpty && p.validUntil.isEmpty) Always
    else try {
      new Window(p.validFrom.map(java.time.Instant.parse).orNull,
        p.validUntil.map(java.time.Instant.parse).orNull, null)
    } catch { case e: java.time.format.DateTimeParseException => new Window(null, null, e) }
}

/** One stored policy with its global insertion sequence number, its
  * lowercase principal and names, and its parsed window.
  */
private[policy] final case class Entry[P <: TablePolicy](policy: P, seq: Long) {
  val principal: String = PolicyIndex.lc(policy.username)
  val catalog: String = PolicyIndex.lc(policy.catalogName)
  val db: String = PolicyIndex.lc(policy.database)
  val table: String = PolicyIndex.lc(policy.tableName)
  val window: Window = Window.of(policy)
}

/** A matching entry with its specificity: principal 2 exact, 1 via group,
  * 0 wildcard; each name 1 exact, 0 wildcard.
  */
private[policy] final case class Hit[P <: TablePolicy](entry: Entry[P], rank: (Int, Int, Int, Int))

/** One policy kind's entries, bucketed by lowercase (catalog, db, table) —
  * every policy with a `*` name shares the one [[PolicyIndex.Wildcard]]
  * bucket — and within a bucket by lowercase principal. Every list is in
  * insertion order. Persistent maps: a write copies one bucket path, not
  * the store.
  */
private[policy] final case class PolicyIndex[P <: TablePolicy](
    buckets: Map[(String, String, String), Map[String, Vector[Entry[P]]]] =
      Map.empty[(String, String, String), Map[String, Vector[Entry[P]]]],
    size: Int = 0) {
  import PolicyIndex._

  def policies: Seq[P] =
    buckets.valuesIterator.flatMap(_.valuesIterator.flatten).toVector.sortBy(_.seq).map(_.policy)

  def add(p: P, seq: Long): PolicyIndex[P] = {
    val e = Entry(p, seq)
    val k = keyOf(e)
    val b = buckets.getOrElse(k, Map.empty[String, Vector[Entry[P]]])
    PolicyIndex(buckets.updated(k, b.updated(e.principal, b.getOrElse(e.principal, Vector.empty) :+ e)),
      size + 1)
  }

  /** Without the first-inserted policy equal to `p` in principal, names
    * (case-insensitively) and window, and accepted by `same`; None when
    * there is none.
    */
  def remove(p: P)(same: P => Boolean): Option[PolicyIndex[P]] = {
    val probe = Entry(p, -1)
    val k = keyOf(probe)
    for {
      b <- buckets.get(k)
      es <- b.get(probe.principal)
      i = es.indexWhere { e =>
        val q = e.policy
        e.catalog == probe.catalog && e.db == probe.db && e.table == probe.table &&
          q.validFrom == p.validFrom && q.validUntil == p.validUntil && same(q)
      }
      if i >= 0
    } yield {
      val rest = es.patch(i, Nil, 1)
      val nb = if (rest.isEmpty) b.removed(probe.principal) else b.updated(probe.principal, rest)
      PolicyIndex(if (nb.isEmpty) buckets.removed(k) else buckets.updated(k, nb), size - 1)
    }
  }

  /** Entries that apply to one of `principals` (lowercase, with their rank)
    * on the lowercase (catalog, db, table), in insertion order.
    */
  def hits(principals: Seq[(String, Int)], catalog: String, db: String,
      table: String): Seq[Hit[P]] = {
    val key = (catalog, db, table)
    val exact = if (key == Wildcard) None else buckets.get(key)
    val wild = buckets.get(Wildcard)
    val out = Vector.newBuilder[Hit[P]]
    for ((principal, r) <- principals) {
      exact.flatMap(_.get(principal)).foreach(_.foreach(e => out += Hit(e, (r, 1, 1, 1))))
      wild.flatMap(_.get(principal)).foreach(_.foreach { e =>
        val t = nameRank(e.table, table)
        val d = nameRank(e.db, db)
        val c = nameRank(e.catalog, catalog)
        if (t >= 0 && d >= 0 && c >= 0) out += Hit(e, (r, t, d, c))
      })
    }
    val found = out.result()
    if (found.lengthCompare(1) > 0) found.sortBy(_.entry.seq) else found
  }
}

private[policy] object PolicyIndex {
  /** The bucket of every policy with a `*` catalog, database or table name. */
  val Wildcard: (String, String, String) = ("*", "*", "*")

  def lc(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  private def keyOf(e: Entry[_]): (String, String, String) =
    if (e.catalog == "*" || e.db == "*" || e.table == "*") Wildcard
    else (e.catalog, e.db, e.table)

  /** Specificity of a name field: 1 exact, 0 wildcard, -1 no match. */
  private def nameRank(policyName: String, actual: String): Int =
    if (policyName == actual) 1 else if (policyName == "*") 0 else -1
}

/** The whole store at one version: one index per policy kind, group
  * membership in both directions, and the mask-type registry. Immutable;
  * every write returns a new state with the next version, and an added
  * policy's sequence number is the version that added it.
  */
private[policy] final case class PolicyState(
    version: Long = 0L,
    rowFilters: PolicyIndex[RowFilterPolicy] = PolicyIndex[RowFilterPolicy](),
    masks: PolicyIndex[DataMaskPolicy] = PolicyIndex[DataMaskPolicy](),
    denies: PolicyIndex[DenyRowPolicy] = PolicyIndex[DenyRowPolicy](),
    columnDenies: PolicyIndex[ColumnDenyPolicy] = PolicyIndex[ColumnDenyPolicy](),
    /** user -> groups, and group -> members; all lowercase */
    groupsOf: Map[String, Set[String]] = Map.empty,
    members: Map[String, Set[String]] = Map.empty,
    maskTypes: Vector[DataMaskType] = DataMaskType.builtin.toVector) {
  import PolicyIndex.lc

  private def eq(a: String, b: String): Boolean = a.equalsIgnoreCase(b)

  def add(p: TablePolicy): PolicyState = {
    val v = version + 1
    p match {
      case q: RowFilterPolicy => copy(version = v, rowFilters = rowFilters.add(q, v))
      case q: DataMaskPolicy => copy(version = v, masks = masks.add(q, v))
      case q: DenyRowPolicy => copy(version = v, denies = denies.add(q, v))
      case q: ColumnDenyPolicy => copy(version = v, columnDenies = columnDenies.add(q, v))
    }
  }

  // Removal matches with the same case-insensitive comparison as the lookups:
  // a policy added as ('Analyst', 'CUSTOMER', ...) enforces
  // case-insensitively, so it must be removable that way too. Validity
  // windows are part of the identity: a renewal flow holds two policies
  // identical except for [validFrom, validUntil), and removal must delete
  // the one named, not whichever was inserted first. A condition is not an
  // identifier: it compares case-sensitively.
  def remove(p: TablePolicy): Option[PolicyState] = {
    val v = version + 1
    p match {
      case q: RowFilterPolicy =>
        rowFilters.remove(q)(_.condition == q.condition).map(i => copy(version = v, rowFilters = i))
      case q: DataMaskPolicy =>
        masks.remove(q)(x => eq(x.columnName, q.columnName) && eq(x.maskType, q.maskType))
          .map(i => copy(version = v, masks = i))
      case q: DenyRowPolicy =>
        denies.remove(q)(_ => true).map(i => copy(version = v, denies = i))
      case q: ColumnDenyPolicy =>
        columnDenies.remove(q)(x => eq(x.columnName, q.columnName))
          .map(i => copy(version = v, columnDenies = i))
    }
  }

  def join(user: String, group: String): PolicyState = {
    val (u, g) = (lc(user), lc(group))
    copy(version = version + 1,
      groupsOf = groupsOf.updated(u, groupsOf.getOrElse(u, Set.empty[String]) + g),
      members = members.updated(g, members.getOrElse(g, Set.empty[String]) + u))
  }

  /** A group emptied of members stays registered (and exported). */
  def leave(user: String, group: String): PolicyState = {
    val (u, g) = (lc(user), lc(group))
    val gs = groupsOf.getOrElse(u, Set.empty[String]) - g
    copy(version = version + 1,
      groupsOf = if (gs.isEmpty) groupsOf.removed(u) else groupsOf.updated(u, gs),
      members = members.get(g).fold(members)(ms => members.updated(g, ms - u)))
  }

  def maskType(name: String): Option[DataMaskType] = maskTypes.find(t => eq(t.name, name))
}

/** The store's state at one version, read at one instant `now`: the
  * [[PolicyView]] a query is decided against. Immutable and lock-free;
  * concurrent writes to the manager publish new snapshots and never change
  * this one. Each lookup reads the table's bucket for the principals that
  * can match — the user, the user's groups and `*` — so its cost does not
  * grow with policies on other tables or for other principals.
  */
final class PolicySnapshot private[policy] (state: PolicyState,
    now: java.time.Instant) extends PolicyView {
  import PolicyIndex.lc

  /** (lowercase principal, rank) pairs that match `user`: the user itself
    * (2), each of its groups (1) and `*` (0).
    */
  private def principals(user: String): Seq[(String, Int)] = {
    val u = lc(user)
    val groups = (state.groupsOf.getOrElse(u, Set.empty[String]) - u).toSeq.map(_ -> 1)
    ((u, 2) +: groups) ++ (if (u == "*") Nil else Seq("*" -> 0))
  }

  /** Matching entries inside their window, in insertion order; a matching
    * entry with a malformed window throws.
    */
  private def active[P <: TablePolicy](index: PolicyIndex[P], user: String,
      catalog: String, db: String, table: String): Seq[Hit[P]] =
    index.hits(principals(user), lc(catalog), lc(db), lc(table))
      .filter(_.entry.window.contains(now))

  def isDenied(user: String, catalog: String, db: String, table: String): Boolean =
    active(state.denies, user, catalog, db, table).nonEmpty

  def rowFilterConditions(user: String, catalog: String, db: String,
      table: String): Seq[String] =
    // deny overrides allow: when an active deny matches, the scan's
    // condition is `false` FULL STOP — matching allow-filters are discarded
    // rather than AND-ed so the injected predicate (and its audit row)
    // reads as the deny decision, not an accidental conjunction
    if (isDenied(user, catalog, db, table)) Seq("false")
    else active(state.rowFilters, user, catalog, db, table).map(_.entry.policy.condition)

  def dataMaskType(user: String, catalog: String, db: String, table: String,
      column: String): Option[DataMaskType] = {
    // most-specific-wins: rank (user, table, db, catalog) lexicographically;
    // maxBy keeps the first of equals, so insertion order breaks full ties.
    // The column itself is never a wildcard — masking is a per-column
    // decision.
    val matches = state.masks.hits(principals(user), lc(catalog), lc(db), lc(table))
      .filter(h => h.entry.policy.columnName.equalsIgnoreCase(column) &&
        h.entry.window.contains(now))
    if (matches.isEmpty) None
    else {
      val name = matches.maxBy(_.rank).entry.policy.maskType
      // fail closed: a policy naming an unregistered mask type must never
      // degrade to passthrough — that would silently expose the column
      Some(state.maskType(name).getOrElse(throw new IllegalStateException(
        s"mask policy on $catalog.$db.$table.$column references unregistered mask type '$name'")))
    }
  }

  def hasDataMask(user: String, catalog: String, db: String, table: String): Boolean =
    active(state.masks, user, catalog, db, table).nonEmpty

  def deniedColumns(user: String, catalog: String, db: String, table: String): Seq[String] =
    active(state.columnDenies, user, catalog, db, table).map(_.entry.policy.columnName).distinct

  def hasColumnDenies: Boolean = state.columnDenies.size > 0
}

/** In-memory policy store with the lookup semantics of the reference's
  * PolicyManager (PolicyManager.java:61-113): exact (case-insensitive)
  * match on user + catalog + db + table (+ column) — extended toward the
  * Ranger model the reference's own comment names as intent
  * (PolicyManager.java:35):
  *
  *  - USER GROUPS: a policy's `username` may name a registered group
  *    ([[addUserToGroup]]); it then applies to every member. A group name
  *    that collides with a literal username applies to both — register
  *    distinct names (Ranger separates the lists; the single-field model
  *    keeps the reference's policy classes unchanged).
  *  - WILDCARDS: `"*"` in `username`, `catalogName`, `database` or
  *    `tableName` matches anything (each field independently).
  *  - PRECEDENCE (masks only): the MOST SPECIFIC matching mask policy wins —
  *    exact user beats group beats `*`, then exact table beats `*`, then
  *    exact db, then exact catalog; ties fall to insertion order. Row
  *    filters need no precedence: every matching condition is AND-ed in
  *    insertion order (additive restriction is fail-closed by construction
  *    — a wildcard filter can only narrow what a specific filter allows).
  *  - DENY ([[DenyRowPolicy]]): overrides allow at EVERY specificity — a
  *    wildcard deny beats an exact-user row filter (Ranger's evaluation
  *    order; any deny/allow overlap resolves fail-closed to deny). Injected
  *    as row-filter condition `false`.
  *  - VALIDITY WINDOWS: every policy may carry `[validFrom, validUntil)`
  *    ISO-instant bounds (Ranger policy schedules); an out-of-window policy
  *    matches nothing, a malformed instant fails loudly at every lookup
  *    that reaches the policy. `clock` is injectable for deterministic
  *    tests.
  *
  * STORAGE. The store is one immutable, versioned [[PolicySnapshot]] state
  * behind a volatile reference. Policies are indexed by lowercase
  * (catalog, db, table) — all policies with a `*` name share one wildcard
  * bucket — and within a table by lowercase principal; a reverse index maps
  * each user to its groups, and windows are parsed when a policy is added.
  * A lookup therefore reads only the buckets of the user, its groups and
  * `*` on that table and the wildcard bucket: its cost does not grow with
  * policies on other tables or for other principals. Readers take no lock.
  *
  * VIEWS. [[view]] pins one snapshot and one `now` for a whole query, so a
  * concurrent write or a window that closes mid-rewrite cannot decide one
  * scan of the query under the old policy set and another under the new.
  * The manager's own lookup methods read the current snapshot at a fresh
  * `clock()` each call.
  *
  * WRITES are serialized under the manager's monitor and cost O(bucket +
  * log N): persistent maps copy the path to the touched bucket, never the
  * store. Lookups happen on the driver during plan rewrite, never per row.
  */
final class PolicyManager extends PolicyView {

  @volatile private var state = PolicyState()

  /** Clock for validity-window evaluation — injectable so tests and oracled
    * queries can pin "now"; production leaves the default. Read once per
    * [[view]] (plan-rewrite time, driver-side — never per row).
    */
  @volatile var clock: () => java.time.Instant = () => java.time.Instant.now()

  /** The current snapshot at `clock()`: decide one query against it. */
  def view(): PolicySnapshot = {
    // read the state BEFORE the clock: a clock with side effects (a test's
    // mid-rewrite write) must not leak into the view it is timing
    val s = state
    new PolicySnapshot(s, clock())
  }

  private def update(f: PolicyState => Option[PolicyState]): Boolean = synchronized {
    f(state) match {
      case Some(next) => state = next; true
      case None => false
    }
  }

  def addUserToGroup(user: String, group: String): Unit = {
    require(group != "*", "'*' is the wildcard principal, not a group name")
    update(s => Some(s.join(user, group)))
    ()
  }
  def removeUserFromGroup(user: String, group: String): Unit = {
    update(s => Some(s.leave(user, group)))
    ()
  }
  def groupsOf(user: String): Set[String] =
    state.groupsOf.getOrElse(PolicyIndex.lc(user), Set.empty)

  def addPolicy(p: TablePolicy): Boolean = update(s => Some(s.add(p)))
  def removePolicy(p: TablePolicy): Boolean = update(_.remove(p))
  def registerMaskType(t: DataMaskType): Unit = {
    update(s => Some(s.copy(version = s.version + 1, maskTypes = s.maskTypes :+ t)))
    ()
  }

  def rowFilterPolicies: Seq[RowFilterPolicy] = state.rowFilters.policies
  def dataMaskPolicies: Seq[DataMaskPolicy] = state.masks.policies
  def denyPolicies: Seq[DenyRowPolicy] = state.denies.policies
  def columnDenyPolicies: Seq[ColumnDenyPolicy] = state.columnDenies.policies

  def deniedColumns(user: String, catalog: String, db: String, table: String): Seq[String] =
    view().deniedColumns(user, catalog, db, table)
  def isDenied(user: String, catalog: String, db: String, table: String): Boolean =
    view().isDenied(user, catalog, db, table)
  def rowFilterConditions(user: String, catalog: String, db: String,
      table: String): Seq[String] =
    view().rowFilterConditions(user, catalog, db, table)
  def dataMaskType(user: String, catalog: String, db: String, table: String,
      column: String): Option[DataMaskType] =
    view().dataMaskType(user, catalog, db, table, column)
  def hasDataMask(user: String, catalog: String, db: String, table: String): Boolean =
    view().hasDataMask(user, catalog, db, table)
  def hasColumnDenies: Boolean = state.columnDenies.size > 0

  def getMaskType(name: String): Option[DataMaskType] = state.maskType(name)

  /** Export every policy as one JSON document — the admin-tooling round trip
    * a Ranger-style external policy service would use.
    */
  def exportJson(): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val s = state
    val json =
      ("rowFilters" -> s.rowFilters.policies.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("condition" -> p.condition) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("dataMasks" -> s.masks.policies.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("columnName" -> p.columnName) ~ ("maskType" -> p.maskType) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("denies" -> s.denies.policies.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("columnDenies" -> s.columnDenies.policies.toList.map(p =>
        ("username" -> p.username) ~ ("catalogName" -> p.catalogName) ~
          ("database" -> p.database) ~ ("tableName" -> p.tableName) ~
          ("columnName" -> p.columnName) ~
          ("validFrom" -> p.validFrom) ~ ("validUntil" -> p.validUntil))) ~
      ("groups" -> s.members.toList.sortBy(_._1).map { case (g, members) =>
        ("name" -> g) ~ ("members" -> members.toList.sorted) })
    JsonMethods.compact(JsonMethods.render(json))
  }

  /** Load policies from [[exportJson]] output, appending to the store in one
    * write. Unknown fields are ignored; missing required fields fail loudly.
    */
  def importJson(json: String): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val root = JsonMethods.parse(json)
    def str(v: JValue, field: String): String = v \ field match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException(s"policy JSON missing field '$field'")
    }
    def optStr(v: JValue, field: String): Option[String] = v \ field match {
      case JString(s) => Some(s)
      case _ => None
    }
    def section(name: String)(parse: JValue => TablePolicy): List[TablePolicy] =
      root \ name match {
        case JArray(items) => items.map(parse)
        case JNothing => Nil
        case other => throw new IllegalArgumentException(s"$name must be an array, got $other")
      }
    val policies =
      section("rowFilters")(v => RowFilterPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), str(v, "condition"),
        optStr(v, "validFrom"), optStr(v, "validUntil"))) ++
      section("dataMasks")(v => DataMaskPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), str(v, "columnName"), str(v, "maskType"),
        optStr(v, "validFrom"), optStr(v, "validUntil"))) ++
      section("denies")(v => DenyRowPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), optStr(v, "validFrom"), optStr(v, "validUntil"))) ++
      section("columnDenies")(v => ColumnDenyPolicy(
        str(v, "username"), str(v, "catalogName"), str(v, "database"),
        str(v, "tableName"), str(v, "columnName"),
        optStr(v, "validFrom"), optStr(v, "validUntil")))
    val memberships = root \ "groups" match {
      case JArray(items) => items.flatMap { v =>
        val g = str(v, "name")
        require(g != "*", "'*' is the wildcard principal, not a group name")
        (v \ "members" match {
          case JArray(ms) => ms.collect { case JString(m) => m }
          case _ => Nil
        }).map(_ -> g)
      }
      case _ => Nil
    }
    update { s =>
      val added = policies.foldLeft(s)(_ add _)
      Some(memberships.foldLeft(added) { case (st, (u, g)) => st.join(u, g) })
    }
    ()
  }
}
