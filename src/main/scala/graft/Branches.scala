package graft

/** Runs independent pieces of driver-side work at the same time, so their
  * Spark jobs overlap instead of queueing behind one another (each piece
  * is typically a chain of small jobs whose latency, not data, dominates).
  *
  * Every thunk gets a FRESH thread, not a pooled one: Spark's job group,
  * job description and other local properties are inheritable
  * thread-locals snapshotted when a thread is CREATED, so a pooled thread
  * would carry (and leak cancellation scope for) whichever caller first
  * built the pool. A fresh thread carries the caller's properties as they
  * are at the call.
  *
  * The number of threads is not capped: callers hand over one thunk per
  * independent branch (a sheet, a bundle, a table), and those counts are
  * small by the pipeline's own contract.
  */
private[graft] object Branches {

  /** Runs every thunk on its own thread and waits for ALL of them, so no
    * branch is still running when this returns or throws. Results come
    * back in input order. If any branch failed, the first failure in
    * input order is rethrown with the later ones attached as suppressed.
    * An interrupt while waiting is forwarded to the branches, which are
    * then awaited before the interrupt is rethrown.
    */
  def run[T](thunks: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](thunks.length)
    val errors = new Array[Throwable](thunks.length)
    val threads = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() =>
        try results(i) = f()
        catch { case e: Throwable => errors(i) = e }, s"graft-branch-$i")
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        threads.foreach(t => while (t.isAlive) try t.join() catch {
          case _: InterruptedException => ()
        })
        throw e
    }
    errors.filter(_ != null) match {
      case Array() => results.toSeq.asInstanceOf[Seq[T]]
      case Array(first, rest @ _*) =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
    }
  }
}
