package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Probe.busyMs`: the union of job intervals, so overlapping jobs count
  * once and wall − busy is the time no job ran. */
class ProbeSpec extends AnyFunSuite {
  import Probe.busyMs

  test("busyMs: empty input is 0") {
    assert(busyMs(Nil) == 0L)
  }

  test("busyMs: disjoint intervals add up") {
    assert(busyMs(Seq((0L, 10L), (20L, 25L), (30L, 31L))) == 16L)
  }

  test("busyMs: overlapping intervals count their shared time once, in any order") {
    assert(busyMs(Seq((5L, 15L), (0L, 10L))) == 15L)
    assert(busyMs(Seq((0L, 10L), (10L, 20L))) == 20L)
  }

  test("busyMs: a nested interval adds nothing") {
    assert(busyMs(Seq((0L, 100L), (10L, 20L), (30L, 90L))) == 100L)
    assert(busyMs(Seq((10L, 20L), (0L, 100L), (100L, 110L))) == 110L)
  }
}
