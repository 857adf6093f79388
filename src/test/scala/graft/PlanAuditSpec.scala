package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanAudit.unionMs]]: driver-only time is wall minus the union of
  * the job intervals, which must count overlapping AQE jobs once.
  */
class PlanAuditSpec extends AnyFunSuite {

  test("unionMs: disjoint jobs sum; overlapping and nested jobs count once; empty is 0") {
    import PlanAudit.unionMs
    assert(unionMs(Seq((0L, 2L), (5L, 6L), (8L, 10L))) === 5L)
    // AQE submits the next job before the previous one ends
    assert(unionMs(Seq((3L, 7L), (0L, 4L), (6L, 9L))) === 9L)
    assert(unionMs(Seq((1L, 9L), (2L, 3L), (4L, 8L), (5L, 6L))) === 8L)
    assert(unionMs(Seq.empty) === 0L)
    assert(unionMs(Seq((3L, 3L), (5L, 4L))) === 0L)
  }
}
