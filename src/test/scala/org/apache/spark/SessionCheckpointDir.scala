package org.apache.spark

/** Sets and clears a SparkContext's checkpoint dir for one test body.
  * `setCheckpointDir` has no inverse, and every suite shares one forked
  * JVM and one SparkContext, so a dir left set would make every later
  * suite pin reliably. The private[spark] field is the only way back.
  */
object SessionCheckpointDir {
  def withDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = None
  }
}
