package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's `cold_sec` attribution: a PlanMemo build is charged to the
  * rep that ran it, from per-rep snapshots of the build tally.
  */
class BenchSpec extends AnyFunSuite {

  test("a build in rep 1 charges rep 1's seconds") {
    assert(Bench.coldSeconds(Seq(3.0, 1.0, 1.1), Seq(5L, 7L, 7L, 7L))
      === Some(3.0))
  }

  test("a build in a later rep charges that rep, not rep 1") {
    assert(Bench.coldSeconds(Seq(1.0, 2.5, 1.1), Seq(5L, 5L, 6L, 6L))
      === Some(2.5))
  }

  test("builds in several reps charge the first rep that built") {
    assert(Bench.coldSeconds(Seq(1.0, 2.5, 3.5), Seq(0L, 0L, 1L, 2L))
      === Some(2.5))
  }

  test("no build in any rep is not cold") {
    assert(Bench.coldSeconds(Seq(1.0, 1.2), Seq(4L, 4L, 4L)) === None)
    assert(Bench.coldSeconds(Seq(0.9), Seq(4L, 4L)) === None)
  }

  test("the tally must hold one snapshot more than there are reps") {
    intercept[IllegalArgumentException](
      Bench.coldSeconds(Seq(1.0, 1.2), Seq(4L, 5L)))
  }
}
