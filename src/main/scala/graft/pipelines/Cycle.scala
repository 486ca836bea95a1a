package graft.pipelines

import org.apache.spark.sql.Row

/** Helpers of the pipeline cycles: accounting read off their pins, and
  * independent table writes run side by side. */
private[graft] object Cycle {

  /** The row of the `Dataset.observe` metrics named `name` that a pin's
    * one pass computed (as [[graft.operators.Pins.pinObserved]] returns
    * it). A row that did not surface throws, naming the cycle and the
    * metrics: there is no second probe to fall back to.
    *
    * Place the observation at the pinned plan's top, or under row
    * filters and projections only: adaptive execution replaces a join
    * that has an empty side with an empty relation, and an observation
    * under that join leaves the executed plan with it (its metrics
    * never surface). */
  def metrics(row: Option[Row], cycle: String, name: String): Row =
    row.getOrElse(throw new IllegalStateException(
      s"$cycle: observed metrics '$name' did not surface from its pin's " +
        "execution"))

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
