package org.apache.spark

/** The listener bus delivers events asynchronously, and Spark keeps
  * the call that waits for it private. A harness that reads its own
  * listener right after a job waits here first, so the job's last
  * task-end events are counted with that job.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
