package org.apache.spark

/** Test-only access to `private[spark]` context state. */
object GraftTestCoreAccess {
  /** Clear the context's checkpoint dir: a spec that set one must not
    * leave it behind, or every Barrier of every later suite in the
    * shared-session JVM would silently become a reliable checkpoint. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None
}
