package org.apache.spark

/** `TaskContext.setTaskContext`/`unset` are `protected[spark]`; this object
  * is the one door graft opens to them (`graft.infer.InferOps` runs pooled
  * inference calls under the submitting task's context through it). */
object TaskContextScope {
  /** Run `body` on this thread with `tc` as its `TaskContext.get()`. */
  def apply[T](tc: TaskContext)(body: => T): T = {
    TaskContext.setTaskContext(tc)
    try body finally TaskContext.unset()
  }
}
