package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AgriOps
import graft.serving.MartServing
import graft.sources.Sources
import graft.sources.grid.GridFiles

/** The reference's write-heavy cycle. Op i lands the next day's tiles
  * for a seeded subset of regions, reads them back through the
  * `graft-grid` connector (a day and region filter, so planning prunes
  * every older tile), writes the hourly mart in hive layout, upserts
  * the daily mart into Derby and refreshes the served mart from it.
  * Every fourth op re-lands an earlier day with corrected (masked)
  * tiles, so the MERGE takes its update branch as well as its insert
  * branch.
  */
final class EtlCycle(c: Ctx) extends Workload(c) {
  import EtlCycle._

  private val rnd = new scala.util.Random(c.seed)
  /** (day, regions, masked) per op. */
  private val plan: IndexedSeq[(Int, Seq[String], Boolean)] = {
    val firsts = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[String])]
    (0 until c.nOps).map { i =>
      if (i % 4 == 3) {
        val (d, rs) = firsts(rnd.nextInt(firsts.size))
        (d, rs, true)
      } else {
        val d = firsts.size
        val rs = rnd.shuffle(Regions).take(RegionsPerOp).sorted
        firsts += ((d, rs))
        (d, rs, false)
      }
    }
  }
  private val nDays = plan.map(_._1).max + 1
  private val incoming = new File(c.ws, "incoming")
  private val tiles = new File(c.ws, "tiles")
  private val hourlyDir = new File(c.ws, "hourly")
  private val url = s"jdbc:derby:${new File(c.ws, "derby")};create=true"
  private val martCols: Seq[String] = AgriOps.dailyAggSpecs
    .flatMap { case (v, fns) => fns.map(f => s"${v}_$f") } :+ "water_balance"
  private var landedBytes = 0L
  private var tileBytes = 0L
  private var martIds = Set.empty[Int]
  // Derby cannot compare the CLOB Spark would give a string key with
  // the target's VARCHAR key
  private val stagingTypes = new java.util.Properties()
  stagingTypes.setProperty("createTableColumnTypes", "REGION VARCHAR(16)")

  def setup(): Unit = {
    // the external download: every op's tiles, staged for landing
    plan.zipWithIndex.foreach { case ((d, rs, masked), i) =>
      rs.foreach(r => GridFiles.writeTile(new File(incoming, s"op=$i").getPath,
        r, Regions.indexOf(r), d, Grid, Grid, nullCells = masked))
    }
    tileBytes = GridFiles.tileFile(new File(incoming, "op=0").getPath,
      plan(0)._2.head, plan(0)._1).length
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        s"""CREATE TABLE $Table (REGION VARCHAR(16) NOT NULL,
           |MART_DAY TIMESTAMP NOT NULL,
           |${martCols.map(m => s"${m.toUpperCase} DOUBLE").mkString(", ")},
           |PRIMARY KEY (REGION, MART_DAY))""".stripMargin)
      st.close()
    } finally conn.close()
  }

  private def grid(day: Int, regions: Seq[String]): DataFrame = {
    val start = java.time.LocalDate.parse(Start).plusDays(day)
    spark.read.format("graft-grid")
      .option("format", "files").option("path", tiles.getPath)
      .option("regions", Regions.mkString(",")).option("days", nDays.toString)
      .option("nlat", Grid.toString).option("nlon", Grid.toString)
      .option("start", Start).option("retries", "0")
      .load()
      .filter(col("region").isin(regions: _*)
        && col("ts") >= to_timestamp(lit(s"$start 00:00:00"))
        && col("ts") < to_timestamp(lit(s"${start.plusDays(1)} 00:00:00")))
  }

  private def upperMart(daily: DataFrame): DataFrame =
    daily.select((col("region").as("REGION") +: col("day").as("MART_DAY") +:
      martCols.map(m => col(m).as(m.toUpperCase))): _*)

  def op(i: Int): Long = {
    val (d, rs, _) = plan(i)
    // land: the downloader's atomic rename into the tile tree
    landedBytes = 0L
    rs.foreach { r =>
      val src = GridFiles.tileFile(new File(incoming, s"op=$i").getPath, r, d)
      val dst = GridFiles.tileFile(tiles.getPath, r, d)
      dst.getParentFile.mkdirs()
      landedBytes += src.length
      Files.move(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
    val dayDir = new File(hourlyDir, s"day=$d").getPath
    tracer.span("agriops.hourly_write") {
      Sources.writePartitioned(AgriOps.hourlyFromGrid(grid(d, rs)), dayDir, Seq("region"))
    }
    tracer.span("sources.upsert") {
      val daily = AgriOps.dailyFromHourly(spark.read.parquet(dayDir))
      Sources.writeJdbcUpsert(upperMart(daily), url, Table, Seq("REGION", "MART_DAY"), stagingTypes)
    }
    val before = persistentIds()
    tracer.span("serving.refresh") {
      MartServing.refresh(spark, spark.read.jdbc(url, Table, new java.util.Properties()), Served)
    }
    martIds = persistentIds() -- before
    rs.size.toLong * 24 * Grid * Grid
  }

  override def kind(i: Int): String = if (plan(i)._3) "reland" else "land"

  private def persistentIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  override protected def servingRdds: Set[Int] = martIds

  override def layerSamples(i: Int): Seq[(String, Double)] = {
    val written = tracer.spans.filter(s => s.op == i &&
      (s.name == "agriops.hourly_write" || s.name == "sources.upsert")).map(_.outputBytes).sum
    super.layerSamples(i) :+
      ("sources.bytes_written_per_input_byte" -> written.toDouble / landedBytes)
  }

  /** The Derby table equals the daily mart recomputed once over every
    * landed tile; the served mart equals the Derby table.
    */
  def check(): Seq[String] = {
    val landed = plan.map { case (d, rs, _) => d -> rs }.distinct
    val hourly = landed.map { case (d, rs) => AgriOps.hourlyFromGrid(grid(d, rs)) }
      .reduce(_ unionByName _)
    val expected = upperMart(AgriOps.dailyFromHourly(hourly))
    val got = spark.read.jdbc(url, Table, new java.util.Properties())
    val served = spark.table(Served)
    Seq(
      diff("derby vs recomputed daily mart", got, expected),
      diff("served mart vs derby", served, got)).flatten
  }

  private def diff(what: String, a: DataFrame, b: DataFrame): Option[String] = {
    val (ra, rb) = (a.collect().map(_.toString).sorted.toSeq, b.collect().map(_.toString).sorted.toSeq)
    if (ra == rb && ra.nonEmpty) None
    else Some(s"$what: ${ra.size} vs ${rb.size} rows, ${ra.diff(rb).size} differ")
  }

  def info: Map[String, Any] = Map(
    "regions" -> Regions.size, "regions_per_op" -> RegionsPerOp,
    "grid" -> s"${Grid}x$Grid", "days" -> nDays,
    "relanded_ops" -> plan.count(_._3), "rows_per_op" -> RegionsPerOp * 24 * Grid * Grid,
    "tile_bytes" -> tileBytes)
}

object EtlCycle {
  val Regions: Seq[String] = (0 until 6).map(i => s"r$i")
  val RegionsPerOp = 4
  val Grid = 16
  val Start = "2024-01-01"
  val Table = "DAILY"
  val Served = "etl_daily"
}
