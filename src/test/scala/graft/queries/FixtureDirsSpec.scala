package graft.queries

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The fixture cache's build protocol: builds run outside the map's bins,
  * under a per-key lock. Latch-driven; every wait is bounded, so a
  * regression fails the test instead of hanging the suite. */
class FixtureDirsSpec extends AnyFunSuite {
  private val timeoutS = 60L

  /** Run `body` on its own thread; the caller joins it with a bound. */
  private final class Caller[T](body: => T) extends Thread {
    @volatile var result: Option[Either[Throwable, T]] = None
    override def run(): Unit =
      result = Some(try Right(body) catch { case e: Throwable => Left(e) })
    def await(): T = {
      join(TimeUnit.SECONDS.toMillis(timeoutS))
      assert(!isAlive, s"caller still blocked after $timeoutS s")
      result.get.fold(e => throw e, identity)
    }
  }
  private def call[T](body: => T): Caller[T] = { val c = new Caller(body); c.start(); c }

  private def key(name: String) = s"$name-${System.nanoTime()}"
  /** Two sf keys whose cache keys have EQUAL hash codes ("Aa" and "BB"
    * hash alike), so they share one map bin at every table size — the case
    * where a build run inside the map's own compute would recurse into or
    * block on its own bin. */
  private def collidingKeys(name: String): (String, String) = {
    val base = key(name)
    val pair = (s"$base-Aa", s"$base-BB")
    assert(("dir|p-|" + pair._1).hashCode == ("dir|p-|" + pair._2).hashCode)
    pair
  }

  test("a builder that uses the cache for another key completes") {
    val (sfOuter, sfInner) = collidingKeys("reentry")
    val outer = call(FixtureDirs.cachedDir("p-", sfOuter) { d =>
      val inner = FixtureDirs.cachedDir("p-", sfInner) { i =>
        Files.writeString(i.resolve("x"), "inner")
      }
      Files.writeString(d.resolve("inner-path"), inner.toString)
    })
    val dir = outer.await()
    val inner = Path.of(Files.readString(dir.resolve("inner-path")))
    assert(Files.readString(inner.resolve("x")) == "inner")
    // both keys are cached: neither builder runs again
    assert(FixtureDirs.cachedDir("p-", sfInner)(_ => fail("rebuilt inner")) == inner)
    assert(FixtureDirs.cachedDir("p-", sfOuter)(_ => fail("rebuilt outer")) == dir)
  }

  test("first builds of two different keys overlap") {
    val (sfA, sfB) = collidingKeys("overlap")
    val aIn, bIn = new CountDownLatch(1)
    // each builder waits for the other to be inside its build: a cache
    // that serialized unrelated keys would leave one latch at 1
    def builder(mine: CountDownLatch, other: CountDownLatch)(d: Path): Unit = {
      mine.countDown()
      assert(other.await(timeoutS, TimeUnit.SECONDS), "builds were serialized")
    }
    val a = call(FixtureDirs.cachedDir("p-", sfA)(builder(aIn, bIn)))
    val b = call(FixtureDirs.cachedDir("p-", sfB)(builder(bIn, aIn)))
    assert(a.await() != b.await())
  }

  test("racing callers of one key build it exactly once") {
    val sf = key("race")
    val builds = new AtomicInteger(0)
    val inBuild, release = new CountDownLatch(1)
    def build(d: Path): Unit = {
      builds.incrementAndGet(); inBuild.countDown()
      assert(release.await(timeoutS, TimeUnit.SECONDS))
    }
    val first = call(FixtureDirs.cachedDir("same-", sf)(build))
    assert(inBuild.await(timeoutS, TimeUnit.SECONDS))
    val second = call(FixtureDirs.cachedDir("same-", sf)(build))
    // the second caller must be parked on the key's lock while the first
    // build is still open
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(timeoutS)
    while (second.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
      Thread.onSpinWait()
    assert(second.getState == Thread.State.BLOCKED)
    release.countDown()
    assert(first.await() == second.await())
    assert(builds.get == 1)
  }
}
