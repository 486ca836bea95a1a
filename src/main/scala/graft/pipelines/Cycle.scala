package graft.pipelines

/** Helper of the pipeline cycles: independent table writes run side by
  * side. (Their accounting is read off their pins through
  * [[graft.operators.Pins.observedRow]].) */
private[graft] object Cycle {

  /** Runs independent table writes side by side, on fresh threads, one
    * per write, created per call (no pool: a pooled thread would carry
    * the local properties of whichever caller created it). A fresh
    * thread inherits the caller's Spark local properties (its job
    * group, so cancellation and per-job accounting follow the caller;
    * an enclosing SQL execution, as in a `foreachBatch` body) and its
    * active session. Returns when every write has finished; the first
    * failure, in argument order, is rethrown as it was thrown, with
    * any later ones attached as suppressed.
    *
    * An interrupt of the caller (a stopping streaming query, a
    * cancelled schedule) is passed on to every write, and the call
    * returns only once they have all stopped — no write submits a job
    * after the caller has gone — then rethrows the interrupt with the
    * caller's interrupt flag set. */
  def overlapped(writes: (() => Unit)*): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (write, i) =>
      val t = new Thread(() =>
        try write() catch { case e: Throwable => failures(i) = e },
        s"graft-write-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        threads.foreach { t =>
          while (t.isAlive)
            try t.join() catch { case _: InterruptedException => () }
        }
        Thread.currentThread().interrupt()
        throw e
    }
    failures.filter(_ != null).toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
