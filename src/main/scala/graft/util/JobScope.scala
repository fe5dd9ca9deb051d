package graft.util

import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException,
  ExecutorService, Executors, Future, TimeUnit, TimeoutException}
import scala.collection.mutable

import org.apache.spark.SparkContext

/** Structured concurrency for Spark actions that one call runs side by
  * side.
  *
  * Tasks fork onto bounded daemon pools the scope owns (never
  * `ExecutionContext.global`). Every task runs under the scope's Spark job
  * tag; tags are thread-local, so each task adds it on the thread that
  * runs it. The first failure cancels the scope's jobs by that tag, and
  * tasks that have not started yet are skipped. [[JobScope.run]] waits for
  * every task before it returns or rethrows, so no job of the call
  * outlives it. It rethrows the first failure, with the later ones
  * attached as suppressed.
  */
final class JobScope private (sc: SparkContext) {
  private val tag = s"graft-scope-${UUID.randomUUID}"
  private val pools = new ConcurrentLinkedQueue[ExecutorService]
  private val forks = new ConcurrentLinkedQueue[Future[_]]
  private val failures = mutable.ArrayBuffer.empty[Throwable]

  /** A fixed pool of `threads` daemon threads, shut down with the scope. */
  def pool(threads: Int): ExecutorService = {
    val p = Executors.newFixedThreadPool(math.max(1, threads), DaemonThreads(tag))
    pools.add(p)
    p
  }

  /** Runs `body` on `pool` under the scope's job tag. */
  def fork[A](pool: ExecutorService)(body: => A): JobScope.Fork[A] = {
    val f = pool.submit(new Callable[A] {
      def call(): A = {
        if (failed) throw JobScope.Skipped
        sc.addJobTag(tag)
        try body
        catch { case t: Throwable => fail(t); throw t }
        finally sc.removeJobTag(tag)
      }
    })
    forks.add(f)
    new JobScope.Fork(this, f)
  }

  private def failed: Boolean = failures.synchronized(failures.nonEmpty)

  /** Records `t` (once, skips excluded) and cancels the scope's running jobs. */
  private def fail(t: Throwable): Unit = {
    val first = failures.synchronized {
      val isNew = (t ne JobScope.Skipped) && !failures.exists(_ eq t)
      if (isNew) failures += t
      isNew && failures.size == 1
    }
    if (first) sc.cancelJobsWithTag(tag, "a sibling task of this call failed")
  }

  /** Waits for `f` to end. A job a task starts after the first cancel is
    * cancelled on the next poll. */
  private def await(f: Future[_]): Unit = {
    var done = false
    while (!done) {
      try { f.get(100, TimeUnit.MILLISECONDS); done = true }
      catch {
        case _: TimeoutException => if (failed) sc.cancelJobsWithTag(tag)
        case _: ExecutionException => done = true
      }
    }
  }

  /** Waits for every task, then shuts the pools down. */
  private def close(): Unit = {
    forks.forEach(await(_))
    pools.forEach(_.shutdown())
  }
}

object JobScope {

  /** Thrown by a task that was skipped because a sibling failed first. */
  private object Skipped
      extends RuntimeException("skipped: a sibling task failed", null, false, false)

  /** A forked task. [[join]] waits for it (cancelling, while it runs, any
    * job a task starts after the scope has failed) and returns its value or
    * rethrows its own exception. A joined task is dropped from the scope,
    * so a long-lived scope does not keep every result reachable. */
  final class Fork[A] private[JobScope] (scope: JobScope, f: Future[A]) {
    def join(): A = {
      scope.await(f)
      scope.forks.remove(f)
      try f.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** Runs `a` and `b` side by side in one scope and returns both results;
    * see [[run]] for the failure contract. */
  def both[A, B](sc: SparkContext)(a: => A, b: => B): (A, B) =
    run(sc) { scope =>
      val pool = scope.pool(2)
      val fa = scope.fork(pool)(a)
      val fb = scope.fork(pool)(b)
      (fa.join(), fb.join())
    }

  /** Runs `body` with a fresh scope on the calling thread; see [[JobScope]]. */
  def run[A](sc: SparkContext)(body: JobScope => A): A = {
    val scope = new JobScope(sc)
    val result =
      try Right(body(scope))
      catch { case t: Throwable => scope.fail(t); Left(t) }
    scope.close()
    scope.failures.toList match {
      case Nil => result.fold(throw _, identity)
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
