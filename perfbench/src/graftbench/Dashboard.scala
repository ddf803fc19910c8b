package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.AgriOps
import graft.serving.MartServing

/** Read-only dashboard serving. The daily mart is built from a seeded
  * hourly series and registered once in set-up. The ops are the
  * queries of successive page renders of the reference dashboard,
  * whose widgets MartServing mirrors: the region list (`keys`), the
  * KPI row (`kpiRow`) and the daily range load (`rangeLoad`) once
  * each, then one `wideSeries` chart per metric, all for the page's
  * region selection. Selections are Zipf-skewed IN-lists and range
  * lengths. The selection sizes, the skew and the chart count are
  * assumptions, not measured traffic.
  */
final class Dashboard(c: Ctx) extends Workload(c) {
  import Dashboard._

  private sealed trait Query
  private case object Keys extends Query
  private case class Range(regions: Seq[String], from: Int, days: Int) extends Query
  private case class Wide(regions: Seq[String], metric: String) extends Query
  private case object Kpi extends Query

  private val rnd = new scala.util.Random(c.seed)
  private val regionZipf = new Zipf(Regions.size, 1.1)
  private val lengthZipf = new Zipf(Days, 1.0)
  private def page(): Seq[Query] = {
    val regions = Seq.fill(1 + rnd.nextInt(MaxInList))(Regions(regionZipf.sample(rnd)))
      .distinct.sorted
    val days = 1 + lengthZipf.sample(rnd)
    Seq(Keys, Kpi, Range(regions, rnd.nextInt(Days - days + 1), days)) ++
      Metrics.map(Wide(regions, _))
  }
  // every page has the same shapes, so runs with different seeds do
  // the same mix of work
  private val queries: IndexedSeq[Query] =
    Iterator.continually(page()).flatten.take(c.nOps).toIndexedSeq
  private var martIds = Set.empty[Int]
  private var lastPlan = ""

  /** A seeded hourly series per region: one value per (region, hour)
    * and variable, drawn from a hash of the seed, the row and the
    * variable.
    */
  private def hourly: DataFrame = {
    val hours = Days * 24L
    val vars = AgriOps.dailyAggSpecs.map(_._1)
    spark.range(Regions.size * hours).select(
      (concat(lit("r"), (col("id") / hours).cast("long")).as("region") +:
        timestamp_seconds(lit(java.time.LocalDate.parse(Start).toEpochDay * 86400L)
          + pmod(col("id"), lit(hours)) * 3600L).as("ts") +:
        vars.zipWithIndex.map { case (v, j) =>
          (pmod(xxhash64(lit(c.seed), col("id"), lit(j)), lit(100000L)) / 1000.0).as(v)
        }): _*)
  }

  private def mart: DataFrame = AgriOps.dailyFromHourly(hourly)

  def setup(): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    MartServing.register(spark, mart, Served)
    martIds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }
  override protected def servingRdds: Set[Int] = martIds

  private def frame(q: Query, name: String): DataFrame = q match {
    case Keys => MartServing.keys(spark, name, "region")
    case Range(rs, from, days) =>
      val d0 = java.time.LocalDate.parse(Start).plusDays(from)
      MartServing.rangeLoad(spark, name, "region", rs, "day",
        s"$d0 00:00:00", s"${d0.plusDays(days - 1)} 00:00:00")
    case Wide(rs, metric) => MartServing.wideSeries(spark, name, "region", rs, "day", metric)
    case Kpi => MartServing.kpiRow(spark, name, "region", "day")
  }

  private def spanName(q: Query): String = q match {
    case Keys => "serving.keys"
    case _: Range => "serving.range"
    case _: Wide => "serving.wide"
    case Kpi => "serving.kpi"
  }

  def op(i: Int): Long = {
    val q = queries(i)
    tracer.span(spanName(q)) {
      val df = frame(q, Served)
      df.collect()
      if (tracer.tracing) lastPlan = df.queryExecution.executedPlan.toString
    }
    1L
  }

  override def kind(i: Int): String = spanName(queries(i))

  override def layerSamples(i: Int): Seq[(String, Double)] =
    super.layerSamples(i) :+ ("serving.cache_scan_ratio" ->
      (if (lastPlan.contains("InMemoryTableScan")) 1.0 else 0.0))

  /** A fixed probe of each shape over the cached mart equals the same
    * shape over an un-cached mart. The un-cached mart is recomputed
    * from the hourly series written to parquet, a plan the cache
    * cannot match, and its probes must not scan the in-memory relation.
    */
  def check(): Seq[String] = {
    val dir = new File(c.ws, "check-hourly").getPath
    hourly.write.parquet(dir)
    AgriOps.dailyFromHourly(spark.read.parquet(dir)).createOrReplaceTempView(Uncached)
    val probes = Seq(Keys, Range(Regions.take(3), 10, 30),
      Wide(Seq(Regions(0), Regions(5)), "t2m_mean"), Kpi)
    probes.flatMap { q =>
      val got = frame(q, Served).collect().toSeq
      val uncached = frame(q, Uncached)
      val want = uncached.collect().toSeq
      if (uncached.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
        Some(s"${spanName(q)} probe: the un-cached side read the cache")
      else if (rows(got) == rows(want) && want.nonEmpty) None
      else Some(s"${spanName(q)} probe: ${got.size} cached rows vs ${want.size} un-cached")
    }
  }

  private def rows(rs: Seq[Row]): Seq[String] = rs.map(_.toString)

  def info: Map[String, Any] = Map(
    "regions" -> Regions.size, "days" -> Days, "hourly_rows" -> Regions.size * Days * 24,
    "mart_rows" -> spark.table(Served).count(),
    "max_in_list" -> MaxInList, "charts_per_page" -> Metrics.size,
    "mix" -> queries.groupBy(spanName).map { case (k, v) => k -> v.size })
}

object Dashboard {
  val Regions: Seq[String] = (0 until 32).map(i => s"r$i")
  val Days = 365
  val MaxInList = 6
  val Start = "2024-01-01"
  val Metrics = Seq("t2m_mean", "tp_sum", "water_balance", "swvl1_mean")
  val Served = "dash_daily"
  val Uncached = "dash_daily_uncached"
}

/** Zipf(s) over 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def sample(rnd: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
