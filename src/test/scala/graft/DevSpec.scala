package graft

import org.scalatest.funsuite.AnyFunSuite

class DevSpec extends AnyFunSuite {

  test("median averages the two middle samples when n is even") {
    assert(Dev.median(Seq(3.0)) == 3.0)
    assert(Dev.median(Seq(4.0, 1.0, 2.0)) == 2.0)
    assert(Dev.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
