package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the C-surface operators composed in
  * the order a production training-data pipeline runs them, each
  * stage filtering the previous stage's survivors:
  *
  *   1. quality gate (C8) ∧ repetition gate (C19) — row-local filters
  *      first, they're the cheapest and shrink everything downstream
  *   2. exact dedup (C1) — keep the min-id copy of identical texts
  *   3. near-dup clustering (C21/C31) at τ — keep each component's
  *      canonical doc (clustering runs ON the stage-2 survivors: who
  *      is canonical legitimately depends on who's still present)
  *   4. benchmark decontamination (C16) against a FIXED eval set
  *      drawn from the full corpus (the eval set never shrinks with
  *      the pipeline — that would hide contamination)
  *   5. deterministic train/val/test assignment (C27)
  *
  * The whole chain is one oracle-gated query: the DuckDB mirror runs
  * the same five stages as chained CTEs (including the recursive
  * transitive closure), so the composition itself — not just each
  * stage — is verified.
  *
  * Scale shape: stages 1-2 and 4-5 are map/groupBy-local passes; the
  * only super-linear machinery is stage 3's prefix-filtered
  * similarity join + log-round label propagation, both already
  * audited at 10× in scale runs. Stages share nothing across rounds,
  * so the pipeline is a straight-line DAG — no iteration at the top
  * level, safe to checkpoint between stages at 100 TB.
  */
object PipelineOps {

  /** `labels`: optional precomputed [[DedupOps.dedupGroups]] output
    * over the stage-2 survivor set (quality ∧ repetition gates, then
    * exact dedup — the set stage 3 clusters). When supplied, the
    * pipeline skips its own similarity join + closure and consumes the
    * labels directly: cluster once, consume everywhere (VERDICT r3
    * #5). The caller owns the contract that the labels were computed
    * on the same gated survivor set at the same τ.
    */
  def curate(documents: DataFrame, benchmark: DataFrame,
      tau: Double = 0.7, maxOverlap: Double = 0.5,
      labels: Option[DataFrame] = None): DataFrame = {
    // r15 (guide §1.2/§5): pin each stage's survivor KEY-SET (a
    // doc_id-only frame — the lightweight proxy of guide §8) before
    // the next stage consumes it. The former lazy chain re-planned
    // every prior stage inside both the next stage's filter branch
    // AND its join-back left side, so the composed plan held 132
    // parquet scans / 224 exchanges and each gate/dedup/decontaminate
    // aggregation executed up to 2^stage times (the §7 union lesson,
    // compounded). With the key-sets materialized, every stage's
    // heavy derivation runs exactly ONCE and the stage frames rebuild
    // as scan ⋈ tiny pinned key-sets; same rows by construction
    // (inner joins on the identical, uniquely-keyed doc_id sets).
    // Each pin releases the caches its own stage registered.
    import graft.CacheRegistry.pin
    // 1. row-local gates — intersect the two keep-sets first (keys
    // only), then join the corpus once instead of twice (§2.3)
    val qKeep = TextOps.quality(documents)
      .filter(col("keep")).select("doc_id")
    val rKeep = TextOps.repetition(documents)
      .filter(col("keep")).select("doc_id")
    val k1 = pin(qKeep.join(rKeep, "doc_id"))
    val s1 = documents.join(k1, "doc_id")
    // 2. exact dedup among survivors
    val k2 = pin(DedupOps.exactDedup(s1)
      .select(col("keep_id").as("doc_id")))
    val s2 = s1.join(k2, "doc_id")
    // 3. near-dup canonical election among survivors (dedupGroups
    // directly: dedupApply's join-back against the corpus would be
    // paid only to project everything but doc_id away again)
    val canon = pin(labels.getOrElse(DedupOps.dedupGroups(s2, tau))
      .filter(col("is_canonical")).select("doc_id"))
    val s3 = s2.join(canon, "doc_id")
    // 4. decontamination vs the fixed eval set
    val dKeep = pin(DedupOps.decontaminate(s3, benchmark, maxOverlap)
      .filter(col("keep")).select("doc_id"))
    val s4 = s3.join(dKeep, "doc_id")
    // 5. split assignment
    TextOps.trainSplit(s4)
      .join(s4.select("doc_id", "n_chars"), "doc_id")
      .select("doc_id", "source", "n_chars", "split")
  }

  /** The A-surface composed end-to-end: the reference's whole
    * ETL cycle — extract (hourly spatial means,
    * dask_jobs/aggregate_hourly.py) → daily rollup
    * (aggregate_daily.py AGG_SPECS) → wide per-day mart with a
    * derived balance column (the tp_sum − pev_mm_sum water_balance
    * branch, aggregate_daily.py:47-49, as inflow − outflow of the
    * two flow-like series) — as ONE declarative plan over the events
    * analog. The LOAD stage (staged-MERGE upsert into the serving
    * store, flows/load_hourly_parquet_to_postgres.py) is exercised by
    * the idempotency spec: two writeJdbcUpsert runs of this mart into
    * Derby leave the table exactly equal to the mart.
    *
    * Exactness: hourly means via [[Exact.avgD]]; daily sums via
    * [[Exact.sumD]] over the hourly doubles; the pivot's conditional
    * sums see exactly one non-null value per (day, type) so no double
    * summation order exists; the balance is one double subtraction.
    *
    * Scale shape: two partial-agg'd shuffles (hour keys, then day
    * keys — each strictly coarser than the last) and a final
    * conditional-agg pivot on the already-tiny daily mart. No joins,
    * no windows, nothing driver-side; the same plan at 100 TB is
    * bounded by the first groupBy, which map-side combines to one row
    * per (type, hour) per task.
    */
  def martPipeline(events: DataFrame,
      types: Seq[String] = Seq("click", "error", "purchase", "signup", "view"))
      : DataFrame = {
    // the derived balance column is defined as purchase inflow minus
    // error outflow — a caller-supplied `types` list without both
    // would otherwise fail at analysis time with an unresolved-column
    // error three operators deep (ADVICE r3)
    require(types.contains("purchase") && types.contains("error"),
      s"martPipeline derives water_balance = purchase_sum - error_sum; " +
        s"types must include 'purchase' and 'error' (got: ${types.mkString(",")})")
    val daily = AgriOps.hourlyMart(events)
      .groupBy(col("event_type"), date_trunc("day", col("hour_ts")).as("day"))
      .agg(Exact.sumD(col("avg_value")).as("value_sum"),
        sum(col("n_obs")).as("n_obs"))
    val sums = types.map(t =>
      sum(when(col("event_type") === t, col("value_sum"))).as(s"${t}_sum"))
    val aggs = sums.tail :+ sum(col("n_obs")).as("n_obs")
    daily.groupBy(col("day"))
      .agg(sums.head, aggs: _*)
      .withColumn("water_balance", col("purchase_sum") - col("error_sum"))
  }
}
