package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** What every runner (Bench, Verify, MakeScaled, Dev) shares, each in one
  * place: the session, the query selection and the release between
  * queries. The session is `GraftSession.create`'s, so the config that is
  * measured and verified is the config that ships.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** `SPARK_GRAFT_CPUS`, defaulting to the machine's cores — the same
    * default `GraftSession.create` uses for its shuffle partitions.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) =>
      val parsed = scala.util.Try(v.toInt).toOption
      require(parsed.exists(_ >= 1),
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      parsed.get
  }

  /** `GraftSession.create` on `local[cpus]` with `cpus` shuffle partitions. */
  def session(logLevel: String = "WARN"): SparkSession = {
    val n = cpus
    val spark = GraftSession.create(s"local[$n]", n)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** A comma-separated name list from the environment (empty when unset). */
  def envList(key: String): Seq[String] =
    sys.env.get(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The named `SparkEntry.queries` in registry order, or every entry when
    * `names` is empty. An unknown name fails, listing the valid ones.
    */
  def select(names: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown query ${unknown.mkString("'", "', '", "'")}; valid names:\n  " +
          all.keys.toSeq.sorted.mkString("\n  "))
    all.toSeq.filter { case (n, _) => names.isEmpty || names.contains(n) }
  }

  /** Between queries nothing stays persisted: Spark's cache, the
    * operators' registered pins, and — as a safety net for anything
    * neither tracks (e.g. an unregistered localCheckpoint) — every
    * persistent RDD. Leaked checkpoint blocks were the r4 cross-query
    * contamination: dead storage shrinking unified execution memory
    * for later queries until the async ContextCleaner caught up.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    CacheRegistry.unpersistAll()
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(false) catch { case NonFatal(_) => () }
    }
  }
}
