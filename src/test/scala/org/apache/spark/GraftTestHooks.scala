package org.apache.spark

/** Test access to a context's `private[spark]` checkpoint directory:
  * `SparkContext.setCheckpointDir` has no way to unset or restore it, so a
  * test that sets one on the shared session puts the previous value back with
  * this. Lives in this package solely for access. */
object GraftTestHooks {
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
