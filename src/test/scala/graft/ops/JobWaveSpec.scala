package graft.ops

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicReference

import org.scalatest.funsuite.AnyFunSuite

/** [[JobWave.run]]'s failure contract, driven by latches (no sleeps): every
  * failure surfaces (the first thrown, later ones suppressed onto it), and
  * an interrupted caller never leaves a worker running. */
class JobWaveSpec extends AnyFunSuite {

  test("two failing bodies give one throwable with the other suppressed") {
    val bothRunning = new CountDownLatch(2)
    def failing(msg: String): () => Unit = () => {
      bothRunning.countDown()
      bothRunning.await() // both bodies are inside the wave before either fails
      throw new IllegalStateException(msg)
    }
    val e = intercept[IllegalStateException](JobWave.run(Seq(failing("a"), failing("b"))))
    assert(e.getSuppressed.length == 1)
    assert(Set(e.getMessage, e.getSuppressed.head.getMessage) == Set("a", "b"))
  }

  test("a failing body does not cancel its sibling's commit (at-least-once)") {
    val done = new AtomicReference[String]()
    val e = intercept[IllegalStateException](JobWave.run(Seq(
      () => throw new IllegalStateException("boom"),
      () => done.set("committed"))))
    assert(e.getMessage == "boom" && e.getSuppressed.isEmpty)
    assert(done.get == "committed")
  }

  test("interrupting the caller interrupts and joins every worker") {
    val started = new CountDownLatch(2)
    val never = new CountDownLatch(1)
    val workers = new ConcurrentLinkedQueue[Thread]()
    val blocked: () => Unit = () => {
      workers.add(Thread.currentThread())
      started.countDown()
      never.await() // only an interrupt ends this body
    }
    val outcome = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try JobWave.run(Seq(blocked, blocked))
      catch { case t: Throwable => outcome.set(t) })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join()
    assert(outcome.get.isInstanceOf[InterruptedException], s"got ${outcome.get}")
    assert(workers.size == 2)
    workers.forEach(w => assert(!w.isAlive, s"$w outlived the wave"))
    // the workers' own interruptions ride along as suppressed failures
    assert(outcome.get.getSuppressed.length == 2)
  }
}
