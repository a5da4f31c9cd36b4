package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Probe.busyMs`: the union of job intervals, so overlapping jobs count
  * once and wall − busy is the time no job ran. `Probe.compiles`: Janino
  * compiles, so a plan whose generated code is cached adds none. */
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

  test("compiles: a new generated class counts, a cached one does not") {
    val spark = TestSpark.spark
    // a literal no other plan uses: its projection's code is new to the cache
    val k = System.nanoTime() % 1000003 + 7
    val df = spark.range(10).selectExpr(s"id * $k + 1 AS v")
    val c0 = Probe.compiles()
    assert(df.collect().map(_.getLong(0)).sum == 45 * k + 10)
    val c1 = Probe.compiles()
    assert(c1 - c0 >= 1)
    df.collect()
    assert(Probe.compiles() == c1)
  }
}
