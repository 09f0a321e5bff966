package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Driver-side overlap of independent Spark jobs: the one place graft runs
  * jobs concurrently.
  *
  * Each branch runs on a thread of its own, created by the caller, so it
  * inherits the caller's Spark local properties (job group, job tags,
  * session tags) and adds one job tag of its own. The first failure in the
  * scope is the exception every `join` rethrows, and the jobs of every
  * branch still running are then cancelled by tag. A branch whose result is
  * not wanted is cancelled with [[Par.Branch.cancel]]. No branch thread
  * outlives [[Par.scope]], and because branches never wait for a pool slot,
  * a branch may itself call `Par` without deadlock. */
final class Par private (sc: SparkContext) {
  private val failure = new AtomicReference[Throwable]()
  private val forked = scala.collection.mutable.ArrayBuffer.empty[Par.Branch[_]]

  /** Start `body` on a new thread of this scope. */
  def fork[A](body: => A): Par.Branch[A] = {
    val b = new Par.Branch[A](sc, failure, () => body)
    forked += b
    b.thread.start()
    b
  }

  private def close(): Unit = forked.foreach(_.await())
}

object Par {
  private val ids = new AtomicInteger(0)

  final class Branch[A] private[Par] (sc: SparkContext,
      failure: AtomicReference[Throwable], body: () => A) {
    private val tag = s"graft-par-${ids.incrementAndGet()}"
    @volatile private var result: Either[Throwable, A] = _
    @volatile private var discarded = false
    private[Par] val thread = new Thread(() => {
      sc.addJobTag(tag)
      result = try Right(body()) catch { case t: Throwable =>
        if (!discarded) failure.compareAndSet(null, t)
        Left(t)
      }
    }, tag)
    thread.setDaemon(true)

    /** Wait for the thread, cancelling its jobs while the scope has failed
      * or the branch is discarded (re-issued, so a job started after the
      * first cancel is caught too). */
    private[Par] def await(): Unit = while (thread.isAlive) {
      if (discarded || failure.get != null) sc.cancelJobsWithTag(tag)
      thread.join(50)
    }

    /** The branch's result; rethrows the scope's first failure. */
    def join(): A = {
      await()
      Option(failure.get).foreach(t => throw t)
      result.fold(t => throw t, identity)
    }

    /** Discard the branch: its running jobs are cancelled and its outcome,
      * failure included, is ignored. */
    def cancel(): Unit = { discarded = true; sc.cancelJobsWithTag(tag) }
  }

  /** Run `body` with a fork scope; every forked branch has ended when this
    * returns or throws. */
  def scope[R](body: Par => R): R = {
    val p = new Par(SparkSession.active.sparkContext)
    try body(p)
    catch { case t: Throwable =>
      p.failure.compareAndSet(null, t)
      throw p.failure.get
    } finally p.close()
  }

  def apply[A, B](a: => A, b: => B): (A, B) = scope { p =>
    val (fa, fb) = (p.fork(a), p.fork(b))
    (fa.join(), fb.join())
  }

  def apply[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) =
    scope { p =>
      val (fa, fb, fc, fd) = (p.fork(a), p.fork(b), p.fork(c), p.fork(d))
      (fa.join(), fb.join(), fc.join(), fd.join())
    }
}
