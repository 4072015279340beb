package graft.core

import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
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

  private val daemonArms: ThreadFactory = { r =>
    val t = new Thread(r, "overlap-arm")
    t.setDaemon(true)
    t
  }
}
