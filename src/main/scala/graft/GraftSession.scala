package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's recommended configuration: extensions
  * (native functions + optimizer rules) and the conservative defaults
  * that hold from local[N] to a large cluster.
  */
object GraftSession {

  /** `shufflePartitions` should track total executor cores locally;
    * on a cluster, set it to 2-3× total cores and let AQE coalesce.
    */
  def create(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graftx.GraftSparkExtensions)
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
