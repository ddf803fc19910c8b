package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.bridge
import graft.serving.MartServing
import graft.operators.AgriOps

class MartServingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val mart = AgriOps.gridHourly(spark)

  /** A serving-sized mart: 4 keys × 50 days over 4 input partitions. */
  private def smallMart: DataFrame = spark.range(0, 200, 1, 4).select(
    concat(lit("k"), (col("id") % 4).cast("string")).as("key"),
    timestamp_seconds(lit(1704067200L) + (col("id") / 4).cast("long") * 86400L).as("ts"),
    (col("id") * 1.5).as("v"))

  /** The four dashboard shapes over the mart served as `name`. */
  private def shapes(name: String): Seq[(String, DataFrame)] = Seq(
    "keys" -> MartServing.keys(spark, name, "key"),
    "range" -> MartServing.rangeLoad(spark, name, "key", Seq("k0", "k2"), "ts",
      "2024-01-05 00:00:00", "2024-01-20 00:00:00"),
    "wide" -> MartServing.wideSeries(spark, name, "key",
      Seq("k0", "k1", "k2", "k3"), "ts", "v"),
    "kpi" -> MartServing.kpiRow(spark, name, "key", "ts"))

  /** Collect `df` and count the Spark jobs the collect started. */
  private def collectCountingJobs(df: DataFrame): (Seq[Row], Int) = {
    val sc = spark.sparkContext
    bridge.waitListenerBusEmpty(sc) // no earlier job reaches the listener
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val rows = df.collect().toSeq
      bridge.waitListenerBusEmpty(sc)
      (rows, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Shuffle stages and exchanges of `df`'s final (AQE) plan, not
    * counting the cached mart's own lineage.
    */
  private def exchanges(df: DataFrame): Seq[String] =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleQueryStageExec => s.nodeName
      case e: Exchange => e.nodeName
    }

  private def cacheLayout(name: String): Partitioning =
    collect(spark.table(name).queryExecution.executedPlan) {
      case s: InMemoryTableScanExec => s.outputPartitioning
    }.head

  private def persistentRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("registered mart serves dashboard queries from the in-memory cache") {
    MartServing.register(spark, mart, "era5_hourly_srv")
    val daily = MartServing.rangeLoad(spark, "era5_hourly_srv", "region",
      Seq("r0", "r2"), "ts", "2024-01-01 00:00:00", "2024-01-02 23:00:00")
    // served from the columnar cache, not by recomputing the mart's
    // connector scan + aggregation lineage
    // the query's own scan (everything above the InMemoryRelation,
    // which prints the mart's cached lineage beneath it) must be the
    // columnar cache with the dashboard predicates pushed into it
    val plan = daily.queryExecution.executedPlan.toString
    val served = plan.split("InMemoryRelation").head
    assert(served.contains("InMemoryTableScan"),
      s"expected a cache scan above the relation in:\n$plan")
    assert(served.contains("IN (r0,r2)"),
      s"expected key predicate pushed into the cache scan in:\n$plan")
    assert(daily.count() === 2L * 48)
    // and the values are the mart's values
    val direct = mart.filter(col("region").isin("r0", "r2")
      && col("ts") <= to_timestamp(lit("2024-01-02 23:00:00")))
    assert(daily.exceptAll(direct).count() === 0)
  }

  test("keys / wideSeries / kpiRow answer the dashboard's other shapes") {
    MartServing.register(spark, mart, "era5_hourly_srv")
    assert(MartServing.keys(spark, "era5_hourly_srv", "region")
      .collect().map(_.getString(0)).toSeq === Seq("r0", "r1", "r2"))
    val wide = MartServing.wideSeries(spark, "era5_hourly_srv", "region",
      Seq("r0", "r1", "r2"), "ts", "t2m")
    assert(wide.columns.toSeq === Seq("ts", "r0", "r1", "r2"))
    assert(wide.count() === 72) // 3 days x 24 hours
    val kpi = MartServing.kpiRow(spark, "era5_hourly_srv", "region", "ts").head()
    assert(kpi.getLong(0) === 216L && kpi.getLong(1) === 3L)
    assert(kpi.getTimestamp(2).toString.startsWith("2024-01-01 00:00"))
    assert(kpi.getTimestamp(3).toString.startsWith("2024-01-03 23:00"))
  }

  test("serving_* entries serve from the cache and re-register after eviction") {
    // the A45 bench/gate entries: every serving query's physical plan
    // must be a cache scan (InMemoryTableScan above the relation),
    // never a recomputation of the mart lineage
    def servedPlanOk(name: String): Unit = {
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.split("InMemoryRelation").head.contains("InMemoryTableScan"),
        s"$name: expected a cache scan above the relation in:\n$plan")
      assert(df.count() > 0, s"$name returned no rows")
    }
    Seq("serving_keys", "serving_range", "serving_wide", "serving_kpi")
      .foreach(servedPlanOk)
    // the range entry's key predicate reaches the cache scan
    val range = SparkEntry.queries("serving_range")(spark, sf)
    val rplan = range.queryExecution.executedPlan.toString
      .split("InMemoryRelation").head
    assert(rplan.contains("IN (click,purchase)"),
      s"expected the IN-list pushed into the cache scan in:\n$rplan")
    // a harness cache sweep between queries (Bench.clearAll) must not
    // leave later serving entries silently recomputing: the helper
    // re-registers when the cache is gone
    spark.catalog.clearCache()
    servedPlanOk("serving_kpi")
  }

  test("refresh swaps the served version; unregister drops view and cache") {
    MartServing.register(spark, mart, "srv_v")
    val v2 = MartServing.refresh(spark, mart.filter(col("region") === "r0"), "srv_v")
    assert(spark.table("srv_v").count() === v2.count())
    assert(MartServing.keys(spark, "srv_v", "region")
      .collect().map(_.getString(0)).toSeq === Seq("r0"))
    MartServing.unregister(spark, "srv_v")
    assert(!spark.catalog.tableExists("srv_v"))
  }

  test("a small mart is cached as one partition: each shape plans no exchange and runs one job") {
    MartServing.register(spark, smallMart, "srv_small")
    assert(spark.catalog.isCached("srv_small"),
      "SparkEntry.servedDailyMart re-registers a mart that reads as uncached")
    assert(cacheLayout("srv_small") === SinglePartition)
    shapes("srv_small").foreach { case (shape, df) =>
      val (rows, jobs) = collectCountingJobs(df)
      assert(rows.nonEmpty, s"$shape returned no rows")
      assert(exchanges(df).isEmpty,
        s"$shape planned an exchange over the one-partition cache:\n" +
          df.queryExecution.executedPlan)
      assert(jobs === 1, s"$shape ran $jobs Spark jobs")
    }
    val range = shapes("srv_small").toMap.apply("range")
    val served = range.queryExecution.executedPlan.toString.split("InMemoryRelation").head
    assert(served.contains("InMemoryTableScan") && served.contains("IN (k0,k2)"),
      s"expected the IN-list pushed into the cache scan in:\n$served")
    MartServing.unregister(spark, "srv_small")
  }

  test("a mart estimated above one AQE partition, or of unknown size, keeps its partitions") {
    MartServing.register(spark, smallMart, "srv_layout")
    val single = shapes("srv_layout").map { case (shape, df) => shape -> df.collect().toSeq }
    val estimate = smallMart.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (estimate - 1).toString)
    val parallel = try {
      MartServing.register(spark, smallMart, "srv_layout")
      assert(spark.catalog.isCached("srv_layout"))
      assert(cacheLayout("srv_layout").numPartitions === 4)
      val keys = MartServing.keys(spark, "srv_layout", "key")
      keys.collect()
      assert(exchanges(keys).nonEmpty, "the parallel layout must still plan its shuffle")
      shapes("srv_layout").map { case (shape, df) => shape -> df.collect().toSeq }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(parallel === single, "both layouts must serve the same rows")
    assert(single.forall(_._2.nonEmpty))
    // an RDD-backed frame reports spark.sql.defaultSizeInBytes, as a
    // JDBC source does, so it is not narrowed to one partition
    val unknown = spark.createDataFrame(smallMart.rdd, smallMart.schema)
    MartServing.register(spark, unknown, "srv_layout")
    assert(cacheLayout("srv_layout") !== SinglePartition)
    MartServing.unregister(spark, "srv_layout")
  }

  test("refresh then unregister leaves no cached version behind") {
    val baseline = persistentRddIds
    MartServing.register(spark, smallMart, "srv_leak")
    MartServing.refresh(spark, smallMart.filter(col("key") =!= "k3"), "srv_leak")
    assert(spark.catalog.isCached("srv_leak"))
    assert((persistentRddIds -- baseline).size === 1,
      "only the current version may stay cached after a refresh")
    assert(MartServing.keys(spark, "srv_leak", "key")
      .collect().map(_.getString(0)).toSeq === Seq("k0", "k1", "k2"))
    MartServing.unregister(spark, "srv_leak")
    assert(persistentRddIds -- baseline === Set.empty[Int])
  }
}
