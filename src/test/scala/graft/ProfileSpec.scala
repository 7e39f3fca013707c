package graft

import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  test("busy time is the union of job intervals, not their sum") {
    assert(Profile.busyMs(Seq.empty) === 0L)
    assert(Profile.busyMs(Seq((100L, 200L))) === 100L)
    // overlapping and nested spans count once; the gap 400..500 ran no job
    assert(Profile.busyMs(Seq((300L, 400L), (100L, 250L), (200L, 300L), (150L, 180L),
      (500L, 600L))) === 400L)
  }
}
