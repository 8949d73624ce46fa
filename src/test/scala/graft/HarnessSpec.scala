package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  test("median: the middle run for odd counts, the mean of the two middle runs for even counts") {
    assert(Harness.median(Seq(7.0)) == 7.0)
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(10.0, 2.0)) == 6.0)
  }
}
