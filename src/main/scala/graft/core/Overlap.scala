package graft.core

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Runs a query's independent arms at the same time and waits for all
  * of them.
  *
  * Queries whose arms are chains of small eager jobs (a brute top-K
  * next to a graph walk, codebook trainings, checkpointed encodes)
  * spend most of each arm's wall in driver latency, so overlapping the
  * arms back-fills idle executors. Each arm yields exactly the frame it
  * would yield run alone; only the wall clock changes.
  *
  * The contract every call gets:
  *   - one thread per arm, so every arm starts at once;
  *   - the threads are created by the calling thread, so Spark's
  *     inheritable local properties (job group, description) reach
  *     the arms' jobs;
  *   - one deadline shared by all arms, not one per arm;
  *   - the first arm to fail fails the call with its own exception;
  *   - the threads are interrupted, and waited for up to a minute,
  *     before the call returns.
  *
  * [[beside]] and [[together]] are for arms that write: an arm cut off
  * in the middle of a Spark write leaves its job running and its
  * half-written files behind, so those calls interrupt nothing and
  * wait for every arm, with no deadline, as the writes would be waited
  * for one after another.
  */
object Overlap {

  /** Runs `arms` concurrently; their results in argument order. */
  def all[T](arms: Seq[() => T], deadline: FiniteDuration = 20.minutes)
      : Seq[T] = {
    val pool = Executors.newFixedThreadPool(arms.size, daemonArms)
    val armEc = ExecutionContext.fromExecutorService(pool)
    // combine on the completing thread: a failure must reach the
    // caller even while every arm thread is still busy
    implicit val inline: ExecutionContext = ExecutionContext.parasitic
    try Await.result(Future.sequence(arms.map(a => Future(a())(armEc))),
      deadline)
    finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Two arms of different result types. */
  def apply[A, B](a: => A, b: => B): (A, B) =
    all(Seq(() => a, () => b)) match {
      case Seq(x, y) => (x.asInstanceOf[A], y.asInstanceOf[B])
    }

  /** Runs `body` on the calling thread while `arms` run beside it, one
    * thread each, created by the caller; returns the body's result once
    * every arm has ended. A failing body still waits for every arm
    * before its exception leaves the call. The exception that leaves is
    * the body's, else the first failed arm's in argument order, as
    * thrown, never wrapped.
    */
  def beside[T](arms: Seq[() => Unit])(body: => T): T = {
    if (arms.isEmpty) return body
    val pool = Executors.newFixedThreadPool(arms.size, daemonArms)
    val ran = arms.map(a => pool.submit((() => a()): Runnable))
    pool.shutdown()
    val out = try body finally pool.awaitTermination(Long.MaxValue, TimeUnit.DAYS)
    ran.foreach { f =>
      try f.get() catch { case e: ExecutionException => throw e.getCause }
    }
    out
  }

  /** Runs `arms` at once and waits for every one ([[beside]] with
    * nothing on the calling thread).
    */
  def together(arms: Seq[() => Unit]): Unit = beside(arms)(())

  private val daemonArms: ThreadFactory = { r =>
    val t = new Thread(r, "overlap-arm")
    t.setDaemon(true)
    t
  }
}
