package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class OverlapSpec extends AnyFunSuite {

  private def armThreadsAlive: Int = Thread.getAllStackTraces.keySet
    .asScala.count(t => t.getName == "overlap-arm" && t.isAlive)

  test("N arms run at once: each waits on one shared N-party latch") {
    val n = 5
    val latch = new CountDownLatch(n)
    // Spark's job group and description travel the same way
    val local = new InheritableThreadLocal[String]
    local.set("caller")
    val got = Overlap.all((0 until n).map { i => () =>
      latch.countDown()
      assert(latch.await(30, TimeUnit.SECONDS), s"arm $i ran without the others")
      (i, local.get)
    })
    assert(got === (0 until n).map(i => (i, "caller")))
    assert(armThreadsAlive === 0)
  }

  test("the deadline is shared: the call fails after one deadline, not N") {
    // arm k ends at 1.5·k s: each within a 2 s deadline of its own
    // (awaited in turn), but all three only after 4.5 s
    val t0 = System.nanoTime
    intercept[TimeoutException] {
      Overlap.all((1 to 3).map(k => () => Thread.sleep(1500L * k)),
        2.seconds)
    }
    val took = (System.nanoTime - t0) / 1e9
    assert(took >= 1.9 && took < 4.0, s"3 arms, 2 s deadline, took $took s")
    assert(armThreadsAlive === 0)
  }

  test("one arm's exception reaches the caller; no arm thread outlives the call") {
    val never = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Overlap.all(Seq(() => never.await(), () => throw boom,
        () => never.await()))
    }
    assert(e eq boom)
    assert(armThreadsAlive === 0)
  }

  test("beside: the body runs on the calling thread, each arm on its own") {
    val caller = Thread.currentThread
    val latch = new CountDownLatch(3)
    val armThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    val arm: () => Unit = () => {
      armThreads.add(Thread.currentThread)
      latch.countDown()
      assert(latch.await(30, TimeUnit.SECONDS), "an arm ran without the others")
    }
    val on = Overlap.beside(Seq(arm, arm)) {
      latch.countDown()
      assert(latch.await(30, TimeUnit.SECONDS), "the body ran without the arms")
      Thread.currentThread
    }
    assert(on eq caller)
    assert(armThreads.asScala.toSet.size === 2 && !armThreads.contains(caller))
    assert(armThreads.asScala.forall(_.getName == "overlap-arm"))
    assert(armThreadsAlive === 0)
  }

  test("beside: a failing arm reaches the caller, unwrapped, after the body") {
    val boom = new IllegalStateException("boom")
    var bodyRan = false
    val e = intercept[IllegalStateException] {
      Overlap.beside(Seq(() => (), () => throw boom)) { bodyRan = true }
    }
    assert(e eq boom)
    assert(bodyRan)
    assert(intercept[IllegalStateException](Overlap.together(Seq(() => throw boom))) eq boom)
    assert(armThreadsAlive === 0)
  }

  test("beside: a failing body waits for its arms, uninterrupted, then throws") {
    val started = new CountDownLatch(1)
    @volatile var finished, interrupted = false
    val boom = new IllegalStateException("body")
    val e = intercept[IllegalStateException] {
      Overlap.beside(Seq(() => {
        started.countDown()
        try Thread.sleep(1000) catch { case _: InterruptedException => interrupted = true }
        finished = true
      })) {
        assert(started.await(30, TimeUnit.SECONDS))
        throw boom
      }
    }
    assert(e eq boom)
    assert(finished && !interrupted, "the call returned before its arm ended")
    assert(armThreadsAlive === 0)
  }
}
