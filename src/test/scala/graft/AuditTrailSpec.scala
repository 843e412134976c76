package graft

import org.scalatest.funsuite.AnyFunSuite

/** The audit trail keeps its newest records and evicts the oldest; `seq`
  * counts every record, so the retained tail stays dense.
  */
class AuditTrailSpec extends AnyFunSuite {

  private def seqs(t: AuditTrail): Seq[Long] = t.snapshot.map(_.seq)

  test("eviction keeps the newest records, with seq dense over the retained tail") {
    val t = new AuditTrail(3)
    t.record("u", "mixed", "q1", Seq(AccessDecision("ROW_FILTER", "c.d.t", "a = 1")))
    assert(seqs(t) == Seq(0L, 1L))
    t.record("u", "mixed", "q2", Seq(AccessDecision("DATA_MASK", "c.d.t", "b=MASK"),
      AccessDecision("DATA_MASK", "c.d.s", "c=MASK_NULL")))
    assert(seqs(t) == Seq(2L, 3L, 4L))
    assert(t.snapshot.map(e => (e.action, e.detail)) == Seq(
      ("QUERY", "q2"), ("DATA_MASK", "b=MASK"), ("DATA_MASK", "c=MASK_NULL")))
    t.record("v", "row_filter", "q3", Nil)
    assert(seqs(t) == Seq(3L, 4L, 5L))
    assert(t.snapshot.last == AuditEntry(5L, "v", "QUERY", "row_filter", "q3"))
    t.clear()
    assert(t.snapshot.isEmpty)
    t.record("u", "mixed", "q4", Nil)
    assert(seqs(t) == Seq(0L))
  }
}
