package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The reference's ERA5 mart surface re-expressed Spark-first over the
  * `events` table (event_type ~ weather variable / region key,
  * user_id ~ grid cell, value ~ reading, ts ~ valid_time).
  *
  * Reference semantics per operator:
  *  - hourlyMart: grid→series spatial mean —
  *    /root/reference/dask_jobs/aggregate_hourly.py:70-76
  *    (`ds.mean(dim=["latitude","longitude"])` per timestamp).
  *  - unitConvert: /root/reference/dask_jobs/aggregate_hourly.py:15-30
  *    (K→°C, m→mm, wind_speed = sqrt(u²+v²)).
  *  - dailyMart: /root/reference/dask_jobs/aggregate_daily.py:9-45
  *    (AGG_SPECS mean/min/max/sum per column).
  *  - waterBalance: /root/reference/dask_jobs/aggregate_daily.py:47-49
  *    (difference of two aggregated columns).
  *  - upsertDedup: flows/load_hourly_parquet_to_postgres.py:21-45
  *    (ON CONFLICT (region, ts) DO UPDATE — last-wins on PK).
  *  - distinctKeys / rangeFilter / pivotWide / kpi:
  *    /root/reference/dashboards/app.py (load_regions, load_daily,
  *    wide_series pivot_table, kpi_row).
  *
  * All plans are fully declarative: groupBy keys are (low-cardinality
  * key × time bucket) so partial aggregation handles 100 TB inputs
  * with a bounded shuffle; no driver-side collects.
  */
object AgriOps {

  /** A1: spatial mean per (series key, hour bucket). The mean is
    * computed via [[Exact.avgD]] (exact decimal sum, one double
    * division) so the mart is bit-identical regardless of
    * partitioning — a re-run on different executor counts must not
    * emit different values.
    */
  def hourlyMart(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(
        Exact.avgD(col("value")).as("avg_value"),
        count(lit(1)).as("n_obs"))

  /** A16: incremental mart maintenance — merge a new batch into
    * previously-materialized per-key partial state instead of
    * recomputing the mart from all history. The state per (series,
    * hour) is the MERGEABLE pair (exact decimal sum, count); merging
    * is a sum of partials, and the final mean is the same single
    * double division [[Exact.avgD]] performs. Because decimal
    * addition is associative, the merged mart is bit-identical to a
    * full recompute — which is exactly what the oracle checks (this
    * query's oracle is A1's full-recompute SQL).
    *
    * This is the 100 TB answer to the reference's re-run-the-cycle
    * LOAD stage (flows/load_hourly_parquet_to_postgres.py:20-35): a
    * day's increment touches a day's partials, not the full history.
    * The same state pair is what a streaming agg would keep — batch
    * and streaming maintenance share one merge algebra.
    */
  def incrementalHourlyMart(oldEvents: DataFrame,
      newEvents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // state carries BOTH counts: n_vals (non-null, the avgD/skipna
    // divisor — without it a null in one increment would silently
    // diverge from the full recompute) and n_obs (rows, the mart's
    // published observation count)
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(sum(col("value").cast(DecimalType(20, 6))).as("vsum"),
          count(col("value")).as("n_vals"),
          count(lit(1)).as("n_obs"))
    partials(oldEvents).unionByName(partials(newEvents))
      .groupBy("event_type", "hour_ts")
      .agg(sum("vsum").as("vsum"), sum("n_vals").as("n_vals"),
        sum("n_obs").as("n_obs"))
      .select(col("event_type"), col("hour_ts"),
        (col("vsum").cast("double") / col("n_vals")).as("avg_value"),
        col("n_obs"))
  }

  /** A2: elementwise unit conversions + derived hypotenuse column. */
  def unitConvert(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("event_type"),
      round(col("value") - lit(273.15), 4).as("value_c"),
      round(col("value") * lit(1000.0), 4).as("value_mm"),
      round(sqrt(col("value") * col("value")
        + col("user_id").cast("double") * col("user_id").cast("double")), 4)
        .as("speed"))

  /** A3: daily rollup with per-column agg specs (mean/min/max/sum).
    * mean/sum via exact decimal (order-independent); min/max are
    * order-independent already.
    */
  def dailyMart(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(
        Exact.avgD(col("value")).as("value_mean"),
        round(min("value"), 4).as("value_min"),
        round(max("value"), 4).as("value_max"),
        Exact.sumD(col("value")).as("value_sum"),
        count(lit(1)).as("n_obs"))

  /** A4: derived balance = difference of two aggregates (water_balance
    * analog) — on lineitem: gross revenue minus discount given.
    */
  def waterBalance(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Exact decimal arithmetic: price×discount products land exactly
    // on half-cent boundaries where double summation order would make
    // rounding non-deterministic (see AnalyticsOps.money).
    val price = col("l_extendedprice").cast(DecimalType(12, 4))
    val disc = col("l_discount").cast(DecimalType(6, 4))
    lineitem
      .groupBy(col("l_returnflag"),
        date_trunc("day", col("l_shipdate")).as("ship_day"))
      .agg(
        round(sum(price), 2).cast("double").as("gross"),
        round(sum(price * disc), 2).cast("double").as("disc"),
        round(sum(price) - sum(price * disc), 2).cast("double").as("balance"))
  }

  /** A5: keyed last-wins upsert semantics: newest (ts, event_id) row
    * per (user_id, event_type) survives.
    */
  def upsertDedup(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        col("ts").as("last_ts"),
        round(col("value"), 4).as("last_value"))
  }

  /** A6: SELECT DISTINCT key ORDER BY 1 (dashboard region list). */
  def distinctKeys(events: DataFrame): DataFrame =
    events.select("event_type").distinct().orderBy("event_type")

  /** A7: key IN-list + time BETWEEN + ORDER BY (dashboard loaders).
    * Filters reach the parquet scan (PushedFilters).
    */
  def rangeFilter(events: DataFrame, keys: Seq[String],
      start: String, end: String): DataFrame =
    events
      .filter(col("event_type").isin(keys: _*)
        && col("ts") >= to_timestamp(lit(start))
        && col("ts") <= to_timestamp(lit(end)))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        round(col("value"), 4).as("value"))
      .orderBy("event_type", "ts", "event_id")

  /** A8: long→wide pivot (day × key, mean) — wide_series analog.
    * Pivot values passed explicitly: one pass, deterministic columns.
    */
  def pivotWide(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", keys)
      .agg(Exact.avgD(col("value")))

  /** A12: wide→long grid unpivot — the EXTRACT-stage analog of the
    * reference's grid decode (dask_jobs/aggregate_hourly.py:60
    * xr.open_dataset: one value column per variable, one row per
    * coordinate): N value columns melt into long (id, metric, value)
    * rows. Pure map (one generator expression, no shuffle); null cells
    * are dropped to match sparse grids — and DuckDB UNPIVOT semantics.
    */
  def gridUnpivot(wide: DataFrame, idCols: Seq[String],
      valueCols: Seq[String], metricCol: String = "metric",
      valueCol: String = "value"): DataFrame =
    wide.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
        metricCol, valueCol)
      .filter(col(valueCol).isNotNull)

  /** A9: KPI row — count / distinct counts / min / max. */
  def kpi(events: DataFrame): DataFrame =
    events.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("event_type")).as("n_types"),
      min("ts").as("min_ts"),
      max("ts").as("max_ts"))

  /** A10: the full hourly-mart pipeline: convert units, then spatial
    * mean per (key, hour) — transform of aggregate_hourly.py end to
    * end (sans NetCDF decode, which the test schema has no analog of).
    */
  def martPipeline(events: DataFrame): DataFrame =
    events
      .select(
        col("event_type"), col("ts"),
        (col("value") - lit(273.15)).as("value_c"),
        (col("value") * lit(1000.0)).as("value_mm"),
        sqrt(col("value") * col("value")
          + col("user_id").cast("double") * col("user_id").cast("double"))
          .as("speed"))
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(
        Exact.avgD(col("value_c")).as("t_c_avg"),
        Exact.sumD(col("value_mm")).as("precip_mm_sum"),
        Exact.avgD(col("speed")).as("speed_avg"))

  /** A11: JSON property extraction (events.props is a JSON object). */
  def jsonExtract(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** Hive-partitioned mart writer — the reference's
    * region=/year=/month= layout (aggregate_hourly.py:105-117).
    * Partition pruning then serves the dashboard's (key, time-range)
    * predicates without touching unrelated files.
    */
  def writePartitionedMart(df: DataFrame, outDir: String): Unit =
    df.withColumn("year", year(col("hour_ts")))
      .withColumn("month", month(col("hour_ts")))
      .write.mode("overwrite")
      .partitionBy("event_type", "year", "month")
      .parquet(outDir)

  /** Read a hive-partitioned mart back (partition columns recovered). */
  def readPartitionedMart(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** A21: the EXTRACT→hourly-mart chain driven end-to-end through the
    * custom DSv2 grid connector (graft.sources.grid.GridSource): read
    * the synthetic lat×lon×time grid, slice two regions and one day
    * (exercising the connector's partition pruning on BOTH axes —
    * 2 of 9 (region, day) splits survive planning), then the A1
    * spatial mean over the grid cells at each hourly stamp.
    */
  def gridSourceMart(spark: SparkSession): DataFrame =
    gridMartOf(spark.read.format("graft-grid").load())

  private def gridMartOf(grid: DataFrame): DataFrame =
    grid
      .filter(col("region").isin("r0", "r1")
        && col("ts") >= to_timestamp(lit("2024-01-02 00:00:00"))
        && col("ts") < to_timestamp(lit("2024-01-03 00:00:00")))
      .groupBy("region", "ts")
      .agg(Exact.avgD(col("t2m")).as("t2m_avg"),
        count(lit(1)).as("n_cells"))

  /** A21 over the `format=files` reader: identical mart, but every
    * cell value is DECODED from an on-disk tile (GridFiles — the
    * downloaded-file path of the EXTRACT stage, reference
    * aggregate_hourly.py:32-46). Shares q_grid_source's DuckDB
    * oracle, so every round re-proves the codec seam yields
    * bit-identical data through the same pruning/pushdown machinery.
    *
    * Tiles are materialized ONCE per JVM (TempDirs.onceDir) and removed on
    * exit: the extract/download is not part of this READ query, so a
    * bench pass times decoding, not tile writing — and repeated
    * invocations (warmups + timed passes + verify) reuse one ~9-file
    * temp dir instead of accumulating orphans (ADVICE r5 #1). The
    * skipExisting backfill path keeps its own writer-owned dirs in
    * GridSourceSpec.
    */
  private def filesTileDir: String =
    graft.TempDirs.onceDir("graft_grid_tiles") { dir =>
      // deliberately MIXED layout: r0's tiles are ZIP-wrapped containers,
      // r1/r2 are bare GRD — so the per-round A25 oracle re-proves the
      // transparent container unwrap (aggregate_hourly.py:32-45's
      // _extract_first_nc analog) alongside the plain path every round
      graft.sources.grid.GridFiles.write(dir,
        Seq("r0", "r1", "r2"), 3, 8, 8,
        zipWrap = (region, _) => region == "r0")
    }

  def gridFilesMart(spark: SparkSession): DataFrame =
    gridMartOf(spark.read.format("graft-grid")
      .option("format", "files").option("path", filesTileDir).load())

  /** A1 skipna semantics under missing data: the same spatial mean
    * over a grid with ~10% MASKED cells (nullCells=true —
    * deterministic, so DuckDB rebuilds the identical mask). The
    * reference's mean is `skipna=True`
    * (/root/reference/dask_jobs/aggregate_hourly.py:71-76): masked
    * cells are excluded from sum AND divisor — Exact.avgD's count(x)
    * denominator. `n_vals` (non-null) vs `n_cells` (all) pins the
    * distinction in the output itself.
    */
  def gridSkipnaMart(spark: SparkSession): DataFrame =
    spark.read.format("graft-grid").option("nullCells", "true").load()
      .filter(col("region").isin("r0", "r1")
        && col("ts") >= to_timestamp(lit("2024-01-02 00:00:00"))
        && col("ts") < to_timestamp(lit("2024-01-03 00:00:00")))
      .groupBy("region", "ts")
      .agg(Exact.avgD(col("t2m")).as("t2m_avg"),
        count(col("t2m")).as("n_vals"),
        count(lit(1)).as("n_cells"))

  /** A21 composed end-to-end: the reference's EXTRACT→hourly chain on
    * the FULL VAR_MAP grid (all 13 downloadable variables,
    * /root/reference/flows/download_era5_land.py:17-31), straight
    * from the DSv2 connector. Mirrors
    * /root/reference/dask_jobs/aggregate_hourly.py exactly: spatial
    * mean over lat×lon per (region, hour) FIRST (:70-76), THEN
    * convert_units on the means (:15-30 — t2m/d2m K→°C, tp m→mm,
    * wind_speed_10m = sqrt(u10²+v10²) of the MEAN components; the
    * reference derives wind from the spatially-averaged u10/v10, not
    * per cell, and so do we). The water-budget terms follow tp's
    * m→mm convention under the names the reference's daily spec
    * anticipates (`pev_mm`, `evavt_mm` —
    * dask_jobs/aggregate_daily.py:17-18); radiation and LAI pass
    * through in native units.
    *
    * Exactness protocol: spatial means via [[Exact.avgD]] (exact
    * decimal sum / cell count — one double division), then each
    * conversion is the same short IEEE chain in Spark and DuckDB, so
    * every output double is bit-identical by construction. Scale: one
    * partial-agg'd groupBy over (region, hour) — the shuffle carries
    * one 13-var decimal row per group per task, never the grid cells.
    */
  def gridHourly(spark: SparkSession): DataFrame =
    hourlyFromGrid(spark.read.format("graft-grid").load())

  /** The hourly transformation itself, over any grid frame — batch
    * (`spark.read`) and streaming (`spark.readStream`, see
    * StreamOps.gridHourlyStream) run this SAME plan: Spark's unified
    * API means mart parity between the two is by construction, and
    * the D-surface spec asserts it empirically.
    *
    * PRESENCE-DRIVEN like the reference's guarded convert blocks
    * (aggregate_hourly.py:15-30 — each conversion runs only
    * `if col in df.columns`): a grid missing a variable yields a mart
    * missing that variable's column, never a null column. A
    * wind_speed_10m needs BOTH components; a partial pair emits
    * neither.
    */
  def hourlyFromGrid(grid: DataFrame): DataFrame = {
    import graft.sources.grid.GridSource
    val vars = GridSource.varSpecs.map(_._1).filter(grid.columns.contains)
    require(vars.nonEmpty, "grid frame carries no known weather variable")
    val means = vars.map(v => Exact.avgD(col(v)).as(s"${v}_raw"))
    val hm = grid
      .groupBy(col("region"), col("ts"))
      .agg(means.head, means.tail: _*)
    val has = vars.toSet
    val outs = Seq.newBuilder[org.apache.spark.sql.Column]
    if (has("t2m")) outs += (col("t2m_raw") - lit(273.15)).as("t2m")
    if (has("d2m")) outs += (col("d2m_raw") - lit(273.15)).as("d2m")
    if (has("tp")) outs += (col("tp_raw") * lit(1000.0)).as("tp")
    if (has("u10") && has("v10"))
      outs += sqrt(col("u10_raw") * col("u10_raw")
        + col("v10_raw") * col("v10_raw")).as("wind_speed_10m")
    if (has("swvl1")) outs += col("swvl1_raw").as("swvl1")
    if (has("swvl2")) outs += col("swvl2_raw").as("swvl2")
    if (has("ssrd")) outs += col("ssrd_raw").as("ssrd")
    if (has("ssr")) outs += col("ssr_raw").as("ssr")
    if (has("evavt")) outs += (col("evavt_raw") * lit(1000.0)).as("evavt_mm")
    if (has("pev")) outs += (col("pev_raw") * lit(1000.0)).as("pev_mm")
    if (has("lai_hv")) outs += col("lai_hv_raw").as("lai_hv")
    if (has("lai_lv")) outs += col("lai_lv_raw").as("lai_lv")
    hm.select(col("region") +: col("ts") +: outs.result(): _*)
  }

  /** A27: diurnal climatology + anomaly — xarray's
    * `ds.groupby("time.hour").mean()` / `ds.groupby(..) - clim`
    * pattern, the standard agri-weather decomposition the reference's
    * stack is built for (aggregate_hourly.py's hourly series feed
    * exactly this kind of seasonal/diurnal normal). Per (series key,
    * hour-of-day): climatological mean over the whole period via
    * [[Exact.avgD]]; every event then gets `anomaly = value − clim`.
    *
    * Exactness: clim_mean is the decimal-sum/count quotient
    * (bit-identical cross-engine); the anomaly is ONE double
    * subtraction of two bit-identical doubles. Scale: one partial-agg
    * groupBy to |keys × 24| rows, broadcast join-back — the fact
    * stream never shuffles (B28's z-score shape).
    */
  def climatology(events: DataFrame): DataFrame = {
    val hod = hour(col("ts")).cast("long")
    val clim = events
      .groupBy(col("event_type"), hod.as("hod"))
      .agg(Exact.avgD(col("value")).as("clim_mean"))
    events.select(col("event_id"), col("event_type"), hod.as("hod"),
        col("value"))
      .join(broadcast(clim), Seq("event_type", "hod"))
      .select(col("event_id"), col("event_type"), col("hod"), col("value"),
        col("clim_mean"),
        (col("value") - col("clim_mean")).as("anomaly"))
  }

  /** A28: growing degree days — THE agronomic accumulation metric
    * (GDD = Σ_days max(0, T_mean − T_base)) the reference's daily
    * t2m mean/min/max mart exists to feed. Daily mean via
    * [[Exact.avgD]], per-day degree contribution is a fixed
    * double-op chain (subtract, clamp at 0), and the running
    * accumulation is an ordered-frame window sum (same sequential
    * accumulation both engines — q_window_running's proven pattern),
    * emitted unrounded.
    *
    * Scale: one partial-agg groupBy to |keys × days| rows, then a
    * window over the already-aggregated daily rows — the window never
    * sees raw events.
    */
  def degreeDays(events: DataFrame, base: Double = 50.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.avgD(col("value")).as("t_mean"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("event_type"), col("day"), col("t_mean"),
        greatest(lit(0.0), col("t_mean") - lit(base)).as("gdd"))
      .withColumn("gdd_cum", sum(col("gdd")).over(w))
  }

  /** A29: threshold-exceedance day counts — the agro-climate
    * indicator family next to A28 (heat-stress days / frost days per
    * month: xarray's `(daily > thr).resample(time="M").sum()`).
    * Daily [[Exact.avgD]] means first, then a month rollup counting
    * days whose mean crosses each threshold. The comparisons run on
    * bit-identical doubles, so the counts are exact cross-engine.
    * Scale: two STRICTLY COARSENING partial-agg groupBys (day keys,
    * then month keys) — the month shuffle sees only daily rows.
    */
  def thresholdDays(events: DataFrame, hot: Double = 80.0,
      cold: Double = 20.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.avgD(col("value")).as("t_mean"))
    daily
      .groupBy(col("event_type"), date_trunc("month", col("day")).as("month"))
      .agg(count(lit(1)).as("n_days"),
        count(when(col("t_mean") > hot, 1)).as("hot_days"),
        count(when(col("t_mean") < cold, 1)).as("cold_days"))
  }

  /** A30: longest hot spell per key — heatwave/dry-spell DURATION, the
    * agro-climate indicator A29's counts can't express (5 scattered
    * hot days stress a crop differently than 5 consecutive ones).
    * Gaps-and-islands on the daily means: consecutive hot days share
    * a constant (epoch-day − row_number) group key, islands collapse
    * to (length, start), and one struct-max picks the longest spell
    * (ties to the latest start — deterministic, mirrored by the
    * oracle's ORDER BY len DESC, start DESC).
    *
    * Scale: the windows and groupBys all run over the |keys × days|
    * daily mart, never raw events; the row_number window partitions
    * by key (A17's SCD2 island shape).
    */
  def heatSpell(events: DataFrame, hot: Double = 50.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.avgD(col("value")).as("t_mean"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val islands = daily.filter(col("t_mean") > hot)
      .withColumn("grp",
        datediff(col("day"), lit("2024-01-01").cast("date"))
          - row_number().over(w))
      .groupBy("event_type", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("spell_start"))
    islands
      .groupBy("event_type")
      .agg(max(struct(col("len"), col("spell_start"))).as("m"),
        count(lit(1)).as("n_spells"))
      .select(col("event_type"), col("m.len").as("max_spell_days"),
        col("m.spell_start").as("spell_start"), col("n_spells"))
  }

  /** A39: longest DRY spell per key (CDD — consecutive dry days, the
    * standard ETCCDI drought-duration index beside A36's SPI level
    * statistic and A30's heat duration): daily precipitation TOTALS
    * (sum semantics — precip accumulates where temperature averages,
    * so the daily stage is [[Exact.sumD]], round-4 in decimal and
    * bit-identical cross-engine), a day is dry when its total falls
    * below `frac` × the KEY'S OWN MEDIAN daily total — the
    * below-normal-run construction climatology indices use (an
    * absolute cutoff is meaningless across stations/volumes: a fixed
    * 50.0 went vacuous the moment totals scaled with data volume, and
    * at 10× volume even 0.75×median stopped firing because daily
    * totals concentrate ~1/√n around the median). `frac` defaults to
    * 1.0 — strictly-below-median days — which is non-vacuous at ANY
    * volume by the median's own property (≈half the days qualify
    * unless the series is constant); binary-exact fracs (1.0, 0.75,
    * 0.5) keep the product ulp-free. And
    * the run length comes from A30's gaps-and-islands (epoch-day −
    * row_number constant per consecutive run; struct-max with
    * deterministic latest-start tiebreak). The median is B15's
    * round-4 interpolated percentile — the comparison runs on
    * bit-identical doubles.
    *
    * Scale: A30's shape plus one |keys|-row percentile agg broadcast
    * back; raw events never see a window.
    */
  def drySpell(events: DataFrame, frac: Double = 1.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.sumD(col("value")).as("p_total"))
    val med = daily.groupBy("event_type")
      .agg(round(expr("percentile(p_total, 0.5)"), 4).as("med"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val islands = daily.join(broadcast(med), "event_type")
      .filter(col("p_total") < col("med") * lit(frac))
      .withColumn("grp",
        datediff(col("day"), lit("2024-01-01").cast("date"))
          - row_number().over(w))
      .groupBy("event_type", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("spell_start"))
    islands
      .groupBy("event_type")
      .agg(max(struct(col("len"), col("spell_start"))).as("m"),
        count(lit(1)).as("n_spells"))
      .select(col("event_type"), col("m.len").as("max_dry_days"),
        col("m.spell_start").as("spell_start"), col("n_spells"))
  }

  /** A40: chill hours per key-month — the HOURLY threshold
    * accumulation A29's daily counts can't express (fruit-tree
    * dormancy models count hours below ~7.2 °C; a day whose MEAN
    * clears the bar can still contribute six cold hours at dawn):
    * hourly spatial means first (A1's stage, [[Exact.avgD]] —
    * bit-identical doubles), then one month rollup counting hours
    * strictly below `chillBelow`, beside the total hour count.
    *
    * Scale: two strictly-coarsening partial-agg groupBys (hour keys,
    * then month keys) — the month shuffle sees only hourly rows; the
    * comparison runs on bit-identical doubles so the counts are exact
    * cross-engine.
    */
  /** A41: simple daily intensity index (SDII) per key — mean
    * precipitation on WET days (total wet-day precip ÷ wet-day
    * count), the ETCCDI intensity metric completing the family: A39
    * measures drought DURATION, A36 the anomaly LEVEL, this the
    * character of the rain that does fall (same monthly total as
    * drizzle or cloudbursts — crops and erosion care which). Wet =
    * daily total ≥ the key's own round-4 median (A39's self-
    * calibrating dichotomy — non-vacuous at any volume); the mean
    * sums floor(p_total·10⁶) integers (ADVICE r9: p_total is a
    * DERIVED round-4 double, and Spark's double→DECIMAL cast rounds
    * HALF_UP while DuckDB's truncates — floor of the same double
    * product is the only genuinely engine-identical quantizer; the
    * A37/C69 protocol), then one fixed double chain, published
    * UNROUNDED (identical ops on identical operands).
    *
    * Scale: two strictly-coarsening groupBys + one |keys|-row
    * percentile broadcast — raw events shuffle once.
    */
  def sdii(events: DataFrame, frac: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.sumD(col("value")).as("p_total"))
    val med = daily.groupBy("event_type")
      .agg(round(expr("percentile(p_total, 0.5)"), 4).as("med"))
    // long-safe floor (the B54 floorDec shape): Spark's floor(double)
    // returns LONG and wraps past 2⁶³; above 2⁵³ the double is already
    // integral so the decimal cast IS the floor there.
    val prod = col("p_total") * lit(1e6)
    val pq = when(prod < lit(9.007199254740992e15),
      floor(prod).cast(DecimalType(38, 0)))
      .otherwise(prod.cast(DecimalType(38, 0)))
    daily.join(broadcast(med), "event_type")
      .filter(col("p_total") >= col("med") * lit(frac))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_wet_days"),
        (sum(pq).cast("double") / lit(1e6) / count(lit(1))).as("sdii"))
  }

  /** A42: Rx5day — max 5-day precipitation total per key (ETCCDI's
    * flood-risk intensity index; SDII says how hard it rains on a wet
    * day, this how much can land in one storm WINDOW — levee design
    * and waterlogging care about the 5-day accumulation, not the
    * daily mean). Daily totals via [[Exact.sumD]] (round-4, bit-
    * identical), floor(×10⁶)-quantized (derived doubles — the A37/A41
    * protocol; a windowed double SUM is 3–9 ulps apart cross-engine),
    * then a calendar RANGE window (4 preceding days .. current — a
    * ROWS frame would silently span gaps in sparse series) summing
    * INTEGERS, and one struct-max with the deterministic latest-end
    * tiebreak. Published as the exact quotient ÷10⁶.
    *
    * Scale: one strictly-coarsening groupBy, one bounded-frame window
    * over the |keys × days| daily mart (never raw events), one
    * partial-agg struct-max.
    */
  def rx5day(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.sumD(col("value")).as("p_total"))
      .withColumn("x",
        datediff(col("day"), lit("2024-01-01").cast("date")))
    val prod = col("p_total") * lit(1e6)
    val pq = when(prod < lit(9.007199254740992e15),
      floor(prod).cast(DecimalType(38, 0)))
      .otherwise(prod.cast(DecimalType(38, 0)))
    val w = Window.partitionBy("event_type").orderBy("x")
      .rangeBetween(-4, 0)
    daily.withColumn("pq", pq)
      .withColumn("tot5q", sum(col("pq")).over(w))
      .groupBy("event_type")
      .agg(max(struct(col("tot5q"), col("day"))).as("m"))
      .select(col("event_type"),
        (col("m.tot5q").cast("double") / lit(1e6)).as("rx5day"),
        col("m.day").as("window_end"))
  }

  /** A43: WSDI — warm-spell duration per key (ETCCDI's heat-wave
    * EXPOSURE index: total days inside runs of at least `minRun`
    * consecutive above-threshold days; A30 finds the single longest
    * spell, this the season's cumulative warm-spell load, which is
    * what heat-stress accumulation actually tracks). Threshold = the
    * key's OWN round-4 `pct` percentile of daily means (B15's
    * construction — self-calibrating like A39's median dichotomy).
    * The classical ETCCDI dials are pct 0.90 / minRun 6; the GATE
    * runs 0.5 / 3 because at the 30-day test span p90 leaves ~3
    * scattered warm days and a 6-run never forms (measured 0 rows at
    * every SF — the A39 vacuity lesson), while the median dichotomy
    * forms qualifying runs at any volume. Comparisons on
    * bit-identical doubles; A30's gaps-and-islands; keys with no
    * qualifying run yield no row (oracle-mirrored).
    *
    * Scale: two strictly-coarsening groupBys + a |keys|-row
    * percentile broadcast + one window over the |keys × warm-days|
    * mart.
    */
  def wsdi(events: DataFrame, pct: Double = 0.5,
      minRun: Int = 3): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.avgD(col("value")).as("t_mean"))
    val thr = daily.groupBy("event_type")
      .agg(round(expr(s"percentile(t_mean, $pct)"), 4).as("thr"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val islands = daily.join(broadcast(thr), "event_type")
      .filter(col("t_mean") > col("thr"))
      .withColumn("grp",
        datediff(col("day"), lit("2024-01-01").cast("date"))
          - row_number().over(w))
      .groupBy("event_type", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("spell_start"))
    islands.filter(col("len") >= minRun)
      .groupBy("event_type")
      .agg(sum(col("len")).as("wsdi_days"), count(lit(1)).as("n_spells"),
        max(struct(col("len"), col("spell_start"))).as("m"))
      .select(col("event_type"), col("wsdi_days"), col("n_spells"),
        col("m.len").as("longest_spell"),
        col("m.spell_start").as("longest_start"))
  }

  /** A44: R95pTOT — the share of total precipitation that falls on
    * VERY WET days (strictly above the key's own round-4 p95 of daily
    * totals; ETCCDI's extreme-precip concentration index): Rx5day
    * reads the worst single window, SDII the mean wet-day intensity —
    * this reads how much of the water budget arrives in the extreme
    * tail (0.4 means flood infrastructure carries 40% of the rain).
    * Daily totals via [[Exact.sumD]], threshold via B15's round-4
    * interpolated percentile (self-calibrating — non-vacuous at any
    * volume: an interpolated p95 sits strictly below the max unless
    * the top days tie), totals floor(×10⁶)-quantized (the A41/A42
    * protocol) so both sums are exact integers and the share is ONE
    * double division; zero-total keys publish null.
    *
    * Scale: two strictly-coarsening groupBys + a |keys|-row
    * percentile broadcast.
    */
  def r95ptot(events: DataFrame, pct: Double = 0.95): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.sumD(col("value")).as("p_total"))
    val thr = daily.groupBy("event_type")
      .agg(round(expr(s"percentile(p_total, $pct)"), 4).as("thr"))
    val prod = col("p_total") * lit(1e6)
    val pq = when(prod < lit(9.007199254740992e15),
      floor(prod).cast(DecimalType(38, 0)))
      .otherwise(prod.cast(DecimalType(38, 0)))
    daily.join(broadcast(thr), "event_type")
      .select(col("event_type"), pq.as("pq"),
        (col("p_total") > col("thr")).as("vw"))
      .groupBy("event_type")
      .agg(count(when(col("vw"), 1)).as("n_very_wet"),
        sum(when(col("vw"), col("pq"))).as("wet_q"),
        sum(col("pq")).as("tot_q"))
      .select(col("event_type"), col("n_very_wet"),
        when(col("tot_q") =!= 0,
          coalesce(col("wet_q"), lit(0).cast(DecimalType(38, 0)))
            .cast("double") / col("tot_q").cast("double"))
          .as("r95ptot"))
  }

  def chillHours(events: DataFrame, chillBelow: Double = 45.0): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(Exact.avgD(col("value")).as("t_mean"))
    hourly
      .groupBy(col("event_type"),
        date_trunc("month", col("hour")).as("month"))
      .agg(count(lit(1)).as("n_hours"),
        count(when(col("t_mean") < chillBelow, 1)).as("chill_hours"))
  }

  /** A31: growing-season bounds per key-year — onset (first warm
    * day), end (last warm day), calendar span, and warm-day count:
    * the planting/harvest-window summary the reference's daily t2m
    * mart feeds (the 'when does the season start' question A28's GDD
    * accumulation presumes an answer to). Warm days are daily
    * Exact.avgD means above `thr` compared on bit-identical doubles;
    * min/max/count over them is exact cross-engine. Two
    * strictly-coarsening partial-agg groupBys (events → |keys×days| →
    * |keys×years|); keys with no warm days in a year yield no row
    * (oracle-mirrored).
    */
  def growingSeason(events: DataFrame, thr: Double = 50.0): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.avgD(col("value")).as("t_mean"))
    daily.filter(col("t_mean") > thr)
      .groupBy(col("event_type"), year(col("day")).cast("long").as("yr"))
      .agg(min("day").as("season_start"), max("day").as("season_end"),
        count(lit(1)).as("warm_days"))
      .withColumn("season_len",
        (datediff(col("season_end"), col("season_start")) + 1).cast("long"))
  }

  /** The reference's per-column daily AGG_SPECS
    * (/root/reference/dask_jobs/aggregate_daily.py:9-18): core specs
    * verbatim (t2m mean/min/max, d2m mean, tp sum, swvl1/swvl2 mean,
    * wind_speed_10m mean) plus the file's own anticipated water-budget
    * extensions (`pev_mm`/`evavt_mm` sum, :17-18) and means for the
    * remaining VAR_MAP columns. Spec order fixes output column order;
    * flattened `{base}_{fn}` names (:33-43).
    */
  val dailyAggSpecs: Seq[(String, Seq[String])] = Seq(
    "t2m" -> Seq("mean", "min", "max"),
    "d2m" -> Seq("mean"),
    "tp" -> Seq("sum"),
    "swvl1" -> Seq("mean"),
    "swvl2" -> Seq("mean"),
    "wind_speed_10m" -> Seq("mean"),
    "ssrd" -> Seq("mean"),
    "ssr" -> Seq("mean"),
    "evavt_mm" -> Seq("sum"),
    "pev_mm" -> Seq("sum"),
    "lai_hv" -> Seq("mean"),
    "lai_lv" -> Seq("mean"))

  /** Hourly mart → daily mart under [[dailyAggSpecs]], PRESENCE-DRIVEN
    * exactly like the reference (aggregate_daily.py:27-29 keeps only
    * `cols_present` — a schema-drifting backfill with a missing source
    * column yields an ABSENT output column, never a null one), and the
    * derived `water_balance = tp_sum − pev_mm_sum` appears only when
    * both terms do (:46-48's conditional). Daily means/sums
    * re-quantize the hourly doubles through the decimal protocol
    * (order-independent); min/max need no protocol; the balance is one
    * double subtraction of two bit-identical doubles.
    */
  def dailyFromHourly(hourly: DataFrame): DataFrame = {
    val present = hourly.columns.toSet
    val aggs = dailyAggSpecs.collect { case (c, fns) if present(c) =>
      fns.map {
        case "mean" => Exact.avgD(col(c)).as(s"${c}_mean")
        case "min" => min(col(c)).as(s"${c}_min")
        case "max" => max(col(c)).as(s"${c}_max")
        case "sum" => Exact.sumD(col(c)).as(s"${c}_sum")
      }
    }.flatten
    require(aggs.nonEmpty, "hourly frame carries no AGG_SPECS column")
    val daily = hourly
      .groupBy(col("region"), date_trunc("day", col("ts")).as("day"))
      .agg(aggs.head, aggs.tail: _*)
    if (present("tp") && present("pev_mm"))
      daily.withColumn("water_balance", col("tp_sum") - col("pev_mm_sum"))
    else daily
  }

  /** A21/A22 composed further: hourly mart → daily mart, the whole
    * EXTRACT→TRANSFORM reference pipeline as ONE declarative plan —
    * connector scan, two partial-agg'd shuffles, nothing else. With
    * the full VAR_MAP live, the water balance
    * (aggregate_daily.py:46-48) now flows from the connector scan
    * end-to-end: tp and pev decode from the grid, convert to mm at
    * the hourly stage, sum at the daily stage, and difference here.
    */
  def gridPipeline(spark: SparkSession): DataFrame =
    dailyFromHourly(gridHourly(spark))

  /** A34: vapor pressure deficit — THE derived agrimet variable the
    * reference's t2m + d2m pairing exists for (dewpoint is carried
    * expressly so VPD/relative-humidity analyses can run downstream
    * of the daily mart; crop stress models consume VPD, not raw
    * dewpoint). Tetens saturation pressure
    * es(T) = 0.6108·e^(17.27T/(T+237.3)) kPa at the air and dewpoint
    * temperatures; VPD = es(t2m) − es(d2m).
    *
    * Determinism: the hourly t2m/d2m are bit-identical cross-engine
    * (decimal-mean protocol), so both engines feed `exp` the same
    * double; a 1-ulp libm wiggle is absorbed by the round-4 publish
    * (the C32 ppl protocol), and vpd subtracts the two ROUNDED
    * pressures so its inputs are bit-identical again.
    *
    * Scale shape: a pure per-row map over the hourly mart — no new
    * shuffle, no join; the mart's partitioning passes through.
    */
  def vpdFromHourly(hourly: DataFrame): DataFrame = {
    def es(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(lit(0.6108) * exp(lit(17.27) * t / (t + lit(237.3))), 4)
    hourly.select(col("region"), col("ts"), col("t2m"), col("d2m"),
        es(col("t2m")).as("es_kpa"), es(col("d2m")).as("ea_kpa"))
      .withColumn("vpd_kpa", round(col("es_kpa") - col("ea_kpa"), 4))
  }

  /** A34 entry: VPD over the live connector's hourly mart. */
  def gridVpd(spark: SparkSession): DataFrame =
    vpdFromHourly(gridHourly(spark))

  /** A35: Hargreaves reference evapotranspiration — the
    * temperature-only ET0 estimate (FAO-56 eq. 52:
    * 0.0023·(T_mean+17.8)·√(T_max−T_min)·Ra) field pipelines run
    * when only the t2m mart exists; the reference carries actual
    * evapotranspiration (evavt) and potential evaporation (pev) from
    * ERA5, and Hargreaves is the standard cross-check/fallback
    * computed FROM the daily temperature mart itself. Extraterrestrial
    * radiation Ra is the usual seasonal sinusoid of day-of-year
    * (amplitude/phase constants are mid-latitude textbook values),
    * rounded to 6 BEFORE use so the one libm `sin` in the chain
    * cannot leak a ulp into downstream products — after that every
    * op (+,−,×,√) is IEEE exactly-rounded on bit-identical inputs.
    *
    * Scale shape: one partial-agg groupBy to |keys × days| rows, then
    * a pure map — the A28/A29 daily-mart coarsening shape.
    */
  def et0Hargreaves(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.avgD(col("value")).as("t_mean"),
        min("value").as("t_min"), max("value").as("t_max"))
    val doy = dayofyear(col("day")).cast("double")
    daily
      .withColumn("ra", round(lit(25.0) + lit(12.0) *
        sin(lit(2.0) * lit(math.Pi) * (doy - lit(81.0)) / lit(365.25)), 6))
      .withColumn("et0", round(lit(0.0023) * (col("t_mean") + lit(17.8)) *
        sqrt(greatest(col("t_max") - col("t_min"), lit(0.0))) * col("ra"), 4))
  }

  /** A37: trend/seasonal/residual decomposition of the hourly mart —
    * the STL-lite split (xarray/pandas `seasonal_decompose` family)
    * agrimet series analysis starts from: trend = centered 24-hour
    * moving mean, seasonal = mean DETRENDED value per hour-of-day
    * (A27's climatology, applied after trend removal so a drifting
    * series doesn't smear its drift into the diurnal profile),
    * residual = value − trend − seasonal.
    *
    * Determinism: the moving mean CANNOT be a double window sum (the
    * B41 lesson — cross-engine windowed double accumulation differs
    * by ulps); instead the hourly values are ×10⁶-quantized to
    * DECIMAL(38,0)/HUGEINT and the window sums INTEGERS (exact,
    * associative, any accumulation order), with one double division
    * per row. The seasonal mean quantizes the DERIVED detrended
    * doubles with floor(x·10⁶) — NOT a decimal cast: DuckDB's
    * double→DECIMAL cast TRUNCATES toward zero while Spark's rounds
    * half-up (measured: 14 of 29 full-precision doubles in one
    * hod-group landed one 1e-6 step apart), so [[Exact.avgD]] is only
    * safe on limited-decimal inputs; floor of the exactly-rounded
    * ×10⁶ product is bit-identical by construction (C30's protocol).
    * The residual is two subtractions of bit-identical doubles.
    * Nothing needs rounding.
    *
    * Scale shape: the window runs over the |keys × hours| MART, never
    * raw events (A28's coarsen-first shape); the seasonal join-back
    * is a |keys × 24|-row broadcast — the mart stream shuffles once
    * for the window and never again.
    */
  def seasonalDecompose(events: DataFrame, halfWindow: Int = 12): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val I = DecimalType(38, 0)
    val wT = Window.partitionBy("event_type").orderBy("hour_ts")
      .rowsBetween(-halfWindow, halfWindow - 1)
    // floor-quantize, NOT a decimal cast: avg_value is itself a
    // full-precision quotient, and the double→DECIMAL cast diverges
    // cross-engine on such inputs (truncate vs half-up — see the
    // seasonal note below; bit at sf0.1 where per-hour counts stop
    // being powers of two)
    val y6 = floor(col("avg_value") * lit(1000000.0)).cast(I)
    val trended = hourlyMart(events)
      .select(col("event_type"), col("hour_ts"), col("avg_value"))
      .withColumn("trend", sum(y6).over(wT).cast("double") /
        (count(lit(1)).over(wT).cast("double") * lit(1000000.0)))
      .withColumn("detrended", col("avg_value") - col("trend"))
    val qd = floor(col("detrended") * lit(1000000.0)).cast(I)
    val seas = trended
      .groupBy(col("event_type").as("et"), hour(col("hour_ts")).as("shod"))
      .agg((sum(qd).cast("double") /
        (count(lit(1)).cast("double") * lit(1000000.0))).as("seasonal"))
    trended
      .join(broadcast(seas), col("event_type") === col("et")
        && hour(col("hour_ts")) === col("shod"))
      .select(col("event_type"), col("hour_ts"), col("avg_value"),
        col("trend"), col("seasonal"),
        (col("avg_value") - col("trend") - col("seasonal")).as("resid"))
  }

  /** A38: seasonal-strength index — Hyndman & Athanasopoulos'
    * F_s = max(0, 1 − Var(resid)/Var(detrended)) over the A37
    * decomposition: how much of the detrended variance the hour-of-
    * day profile explains (≈1 strongly diurnal, ≈0 profile-free) —
    * the one-number screen for whether A37's seasonal correction is
    * worth applying per key.
    *
    * Exactness: resid and detrended are bit-identical doubles (A37's
    * protocol); both are floor(×10⁶)-quantized BEFORE squaring (they
    * are derived full-precision doubles — the decimal cast diverges
    * cross-engine), variances come from exact DECIMAL(38,0)
    * co-moments n·Σx²−(Σx)², one double division + max, and the
    * index publishes ROUND-6: the co-moments exceed 2⁵³, and DuckDB's
    * HUGEINT→DOUBLE cast is NOT correctly rounded there (measured one
    * ulp low on 4.2e19 at sf0.1) while Spark's decimal cast is — the
    * round absorbs that cast gap. A flat detrended series (zero
    * variance) yields null, not a division blow-up.
    *
    * Scale shape: A37's plan plus one strictly-coarsening partial-agg
    * groupBy to |keys| rows — nothing new shuffles.
    */
  def seasonalStrength(events: DataFrame, halfWindow: Int = 12): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val I = DecimalType(38, 0)
    val dec = seasonalDecompose(events, halfWindow)
    val rq = floor(col("resid") * lit(1000000.0)).cast(I)
    val dq = floor((col("avg_value") - col("trend")) * lit(1000000.0)).cast(I)
    val stats = dec
      .select(col("event_type"), rq.as("rq"), dq.as("dq"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("rq")).as("r1"), sum(col("rq") * col("rq")).as("r2"),
        sum(col("dq")).as("d1"), sum(col("dq") * col("dq")).as("d2"))
    val n = col("n_hours").cast(I)
    val vr = (n * col("r2") - col("r1") * col("r1")).cast("double")
    val vd = (n * col("d2") - col("d1") * col("d1")).cast("double")
    stats.select(col("event_type"), col("n_hours"),
      when(vd > 0.0, round(greatest(lit(0.0), lit(1.0) - vr / vd), 6))
        .as("seasonal_strength"))
  }

  /** A36: standardized precipitation-style anomaly index — each day's
    * total standardized against the key's own daily-total
    * distribution (z = (x − μ)/σ over the period), the drought/wet-
    * spell indicator built on the daily sum mart (SPI-1 at daily
    * granularity; the month-scale variant is the same plan over A3's
    * monthly rollup). Daily totals go through [[Exact.sumD]]
    * (bit-identical), and the standardization reuses B28's scaled-
    * integer co-moment protocol verbatim — count/Σy/Σy² in
    * DECIMAL(38,0), one sqrt + one division in double at the end.
    *
    * Scale shape: strictly-coarsening partial-agg groupBy (events →
    * |keys × days|), a |keys|-row broadcast join-back — the daily
    * frame never re-shuffles (B28's shape, one level coarser).
    */
  def spi(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val I = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(Exact.sumD(col("value")).as("d_total"))
    def y6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (c.cast(DecimalType(20, 6)) * lit(1000000)).cast(I)
    val stats = daily.groupBy(col("event_type").as("et")).agg(
      count(lit(1)).as("n"),
      sum(y6(col("d_total"))).as("s1"),
      sum(y6(col("d_total")) * y6(col("d_total"))).as("s2"))
    daily.join(broadcast(stats), col("event_type") === col("et"))
      .select(col("event_type"), col("day"), col("d_total"),
        AnalyticsOps.zscoreExpr(col("d_total")).as("spi"))
  }
}
