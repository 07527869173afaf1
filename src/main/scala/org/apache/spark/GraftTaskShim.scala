package org.apache.spark

/** Task-context bridge for graft's per-task enrichment pools.
  *
  * `TaskContext.get()` is a thread-local that Spark sets only on the
  * task's own thread, so an enricher called from a helper pool sees
  * `null`: no partition id, no local properties, no task listeners.
  * Lives in `org.apache.spark` only to reach the `protected[spark]`
  * `TaskContext.setTaskContext`/`unset` that Spark's own Python and
  * barrier runners use the same way.
  */
object GraftTaskShim {

  /** Run `body` on this thread as part of task `tc`, then unset it, so
    * a pooled thread never keeps a finished task's context. */
  def withTaskContext[T](tc: TaskContext)(body: => T): T = {
    TaskContext.setTaskContext(tc)
    try body finally TaskContext.unset()
  }
}
