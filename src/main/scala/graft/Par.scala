package graft

import java.util.concurrent.atomic.AtomicInteger

/** The one way graft runs independent Spark actions concurrently. */
object Par {

  private val MaxThreads = 4

  /** Run every thunk, at most 4 at a time, each on a thread created for
    * this call; results come back in thunk order. Returns or throws only
    * after EVERY thunk has finished, so a failure never leaves a sibling
    * job running (where a retry could interleave with it); the first
    * failure in thunk order is rethrown with the others suppressed.
    *
    * Threads are per call because Spark's local properties (job group,
    * description, scheduler pool) are inheritable thread-locals copied at
    * thread creation: these threads carry the caller's, where a pooled
    * thread carries whatever was set when it was born. No job group is
    * set here — the caller's (e.g. a tracing span's) must stay the one
    * its jobs are attributed to.
    */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val work = thunks.toIndexedSeq
    val out = new Array[Either[Throwable, A]](work.size)
    val next = new AtomicInteger(0)
    val workers = Seq.fill(math.min(MaxThreads, work.size))(new Thread(() => {
      var i = next.getAndIncrement()
      while (i < work.size) {
        out(i) = try Right(work(i)()) catch { case t: Throwable => Left(t) }
        i = next.getAndIncrement()
      }
    }, "graft-par"))
    workers.foreach(_.start())
    // drain even if the caller is interrupted; restore its status after
    var interrupted = false
    workers.foreach(w => while (w.isAlive)
      try w.join() catch { case _: InterruptedException => interrupted = true })
    if (interrupted) Thread.currentThread().interrupt()
    val failures = out.collect { case Left(t) => t }
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    out.toSeq.collect { case Right(a) => a }
  }
}
