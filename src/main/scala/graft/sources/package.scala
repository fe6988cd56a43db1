package graft

package object sources {
  /** Run independent Spark jobs from a small driver thread pool so a later
    * job's tasks back-fill the cores a prior job's tail leaves idle (guide
    * §2.6 overlap-independent-jobs; actions are only sequential because the
    * driver calls them sequentially). First failure is rethrown after all
    * threads finish. Index table writes run through it (each task touches
    * a distinct output directory), as do callers overlapping independent
    * actions. */
  private[graft] def runParallel(tasks: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      val th = new Thread(() =>
        try t() catch { case e: Throwable => errs.add(e) })
      th.start(); th
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }
}
