package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, col, count, lit, pmod, to_timestamp}
import graft.operators._
import graft.sources.Tables
import graft.streaming.StreamOps

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory each entry maps to.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AgriOps.martPipeline(Tables.events(spark, "/root/testdata/sf0.001"))

  private val rangeKeys = Seq("click", "purchase")
  private val pivotKeys = Seq("click", "error", "purchase", "signup", "view")

  /** Prior clustering for the `dedup_incremental_fold` gate,
    * materialized ONCE per JVM per sf dir (parquet in a temp dir,
    * removed on exit). `dedup_incremental` stays the SELF-CONTAINED
    * gate — it re-clusters the 90% corpus inside its own plan — but
    * that means its bench figure times prior clustering too, which is
    * NOT the operation production runs (production holds
    * `priorLabels` from the last fold; VERDICT r5 #1). The fold entry
    * reads the prior labels from disk exactly as a real ingest
    * pipeline would, so its timed region measures the fold alone.
    * Bench's warmup pass pays the one-time materialization; timed
    * passes and verify reuse it.
    */
  private def priorLabels(s: SparkSession, d: String,
      corpus: DataFrame, tag: String = "c90"): DataFrame =
    s.read.parquet(TempDirs.onceDir("graft_prior_labels", s"$d#$tag") { p =>
      DedupOps.dedupGroups(corpus, 0.7).write.mode("overwrite").parquet(p)
    })

  /** Trained IVF-PQ index for the C87 `knn_ivfpq_fold` twins,
    * materialized ONCE per JVM per sf dir (the priorLabels pattern —
    * parquet in a temp dir, removed on exit): a production ANN index
    * is built once and searched many times, so the fold entries'
    * timed region is the SEARCH alone, reading codebooks + codes +
    * assignments from storage exactly as a deployment would. Bench's
    * warmup pass pays the one-time training; timed passes and verify
    * reuse it.
    */
  private def ivfpqIndexDir(s: SparkSession, d: String): String =
    TempDirs.onceDir("graft_ivfpq_index", d) { p =>
      SimilarityOps.writeIvfPqIndex(
        SimilarityOps.knnIvfPqIndex(Tables.embeddings(s, d)), p)
    }

  /** Frozen merge table for the C89 `bpe_apply` entry, materialized
    * ONCE per JVM per sf dir (the ivfpqIndexDir pattern): the
    * tokenizer trains on the 80% slice, freezes its ordered merge
    * list to parquet, and the apply entry tokenizes the HELD-OUT 20%
    * from storage — the timed region is the apply pass alone, and
    * the apply corpus is text the trainer never saw.
    */
  private def bpeMergesDir(s: SparkSession, d: String): String =
    TempDirs.onceDir("graft_bpe_merges", d) { p =>
      TextOps.bpeTrain(
          Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 0), 2)
        .write.mode("overwrite").parquet(p)
    }

  /** Served daily mart for the A24/A45 serving bench family (r13,
    * VERDICT r12 #7): MartServing.register once per JVM per sf dir.
    * The dashboard contract is an InMemoryTableScan over a registered
    * mart VERSION, so the serving entries' timed region must hit the
    * cache — Bench skips its between-pass cache clear for these
    * entries (the warmup pass pays registration), and this helper
    * re-registers whenever the cache was evicted by a harness sweep
    * between QUERIES, so a timed pass never silently times mart
    * recomputation. At 100 TB the mart is still serving-sized
    * (keys × days), so register cost is the pipeline's, not the
    * dashboards'. `register` picks the layout: at the gate's scale
    * factors the mart is estimated under one AQE partition and is
    * cached as one partition, so each serving entry runs one job with
    * no exchange. `isCached` reads either layout's cache, so the
    * re-register check holds for both.
    */
  private def servedDailyMart(s: SparkSession, d: String): String = {
    val name = "graft_served_daily_" + java.lang.Integer.toHexString(d.hashCode)
    if (!s.catalog.tableExists(name) || !s.catalog.isCached(name))
      graft.serving.MartServing.register(s,
        AgriOps.dailyMart(Tables.events(s, d)), name)
    name
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. reference surface (ERA5 mart semantics)
    "q_hourly_mart" -> ((s, d) => AgriOps.hourlyMart(Tables.events(s, d))),
    "q_unit_convert" -> ((s, d) => AgriOps.unitConvert(Tables.events(s, d))),
    "q_daily_mart" -> ((s, d) => AgriOps.dailyMart(Tables.events(s, d))),
    "q_water_balance" -> ((s, d) => AgriOps.waterBalance(Tables.lineitem(s, d))),
    "q_upsert_dedup" -> ((s, d) => AgriOps.upsertDedup(Tables.events(s, d))),
    "q_distinct_keys" -> ((s, d) => AgriOps.distinctKeys(Tables.events(s, d))),
    "q_range_filter" -> ((s, d) => AgriOps.rangeFilter(Tables.events(s, d),
      rangeKeys, "2024-01-05 00:00:00", "2024-01-12 00:00:00")),
    "q_pivot_wide" -> ((s, d) => AgriOps.pivotWide(Tables.events(s, d), pivotKeys)),
    "q_kpi" -> ((s, d) => AgriOps.kpi(Tables.events(s, d))),
    "q_grid_unpivot" -> ((s, d) => AgriOps.gridUnpivot(
      AgriOps.pivotWide(Tables.events(s, d), pivotKeys),
      Seq("day"), pivotKeys, "metric", "avg_value")),
    "q_mart_pipeline" -> ((s, d) => AgriOps.martPipeline(Tables.events(s, d))),
    "q_incremental_mart" -> ((s, d) => {
      // split history vs increment mid-corpus: the merged partials
      // must reproduce the full-recompute mart (A1's oracle)
      val ev = Tables.events(s, d)
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      AgriOps.incrementalHourlyMart(
        ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
    }),
    "q_json_extract" -> ((s, d) => AgriOps.jsonExtract(Tables.events(s, d))),
    "q_scd2" -> ((s, d) => TimeSeriesOps.scd2History(Tables.events(s, d))),
    "q_climatology" -> ((s, d) => AgriOps.climatology(Tables.events(s, d))),
    "q_gdd" -> ((s, d) => AgriOps.degreeDays(Tables.events(s, d))),
    "q_threshold_days" -> ((s, d) => AgriOps.thresholdDays(Tables.events(s, d))),
    "q_heat_spell" -> ((s, d) => AgriOps.heatSpell(Tables.events(s, d))),
    "q_growing_season" -> ((s, d) => AgriOps.growingSeason(Tables.events(s, d))),
    "q_vpd" -> ((s, _) => AgriOps.gridVpd(s)),
    "q_et0" -> ((s, d) => AgriOps.et0Hargreaves(Tables.events(s, d))),
    "q_spi" -> ((s, d) => AgriOps.spi(Tables.events(s, d))),
    "q_seasonal" -> ((s, d) => AgriOps.seasonalDecompose(Tables.events(s, d))),
    "q_seasonal_strength" -> ((s, d) =>
      AgriOps.seasonalStrength(Tables.events(s, d))),
    // A39/A40 (r9): drought DURATION (CDD) beside A36's SPI level and
    // A30's heat duration; hourly chill accumulation beside A29's
    // daily threshold counts
    "q_dry_spell" -> ((s, d) => AgriOps.drySpell(Tables.events(s, d))),
    "q_chill_hours" -> ((s, d) => AgriOps.chillHours(Tables.events(s, d))),
    // A41 (r9): SDII wet-day intensity — the ETCCDI metric beside
    // A39's drought duration
    "q_sdii" -> ((s, d) => AgriOps.sdii(Tables.events(s, d))),
    // A42 (r10): Rx5day — max 5-day precipitation window per key
    "q_rx5day" -> ((s, d) => AgriOps.rx5day(Tables.events(s, d))),
    // A43 (r10): WSDI — cumulative warm-spell day load per key
    "q_wsdi" -> ((s, d) => AgriOps.wsdi(Tables.events(s, d))),
    // A44 (r10): R95pTOT — extreme-precip concentration share
    "q_r95ptot" -> ((s, d) => AgriOps.r95ptot(Tables.events(s, d))),
    // B. general analytics
    "q1_pricing" -> ((s, d) => AnalyticsOps.pricingSummary(Tables.lineitem(s, d))),
    "q3_shipping" -> ((s, d) => AnalyticsOps.shippingPriority(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_local_volume" -> ((s, d) => AnalyticsOps.localSupplierVolume(
      Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
      Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_join_semi" -> ((s, d) => AnalyticsOps.suppliersWithShipments(
      Tables.supplier(s, d), Tables.lineitem(s, d))),
    // r13 (VERDICT r12 #4): gate corpus carries injected order-less
    // twins — the natural corpus has zero, which made the hash gate
    // vacuous (the hash of an empty set proves nothing)
    "q_join_anti" -> ((s, d) => AnalyticsOps.customersWithoutOrders(
      AnalyticsOps.withSyntheticOrderless(Tables.customer(s, d)),
      Tables.orders(s, d))),
    "q_join_outer" -> ((s, d) => AnalyticsOps.orderCountDistribution(
      Tables.customer(s, d), Tables.orders(s, d))),
    "q_window_running" -> ((s, d) => AnalyticsOps.runningWindow(Tables.events(s, d))),
    "q_window_topn" -> ((s, d) => AnalyticsOps.topNPerGroup(Tables.part(s, d), 3)),
    "q_topk_agg" -> ((s, d) => AnalyticsOps.topNPerGroupAgg(Tables.part(s, d), 3)),
    "q_rollup" -> ((s, d) => AnalyticsOps.rollupSummary(Tables.lineitem(s, d))),
    "q_grouping_sets" -> ((s, d) => AnalyticsOps.groupingSetsSummary(Tables.lineitem(s, d))),
    "q_cube" -> ((s, d) => AnalyticsOps.cubeSummary(Tables.lineitem(s, d))),
    "q_approx_distinct" -> ((s, d) => AnalyticsOps.approxDistinctChecked(Tables.lineitem(s, d))),
    "q_approx_pct" -> ((s, d) => AnalyticsOps.approxPercentilesChecked(Tables.events(s, d))),
    "q_salted_sum" -> ((s, d) => ScaleOps.saltedSum(Tables.events(s, d), "event_type", "value")),
    "q_sessionize" -> ((s, d) => StreamOps.sessionizeBatch(Tables.events(s, d))),
    "q_asof_join" -> ((s, d) => AsofJoinOps.lastPurchase(Tables.events(s, d))),
    "q_asof_native" -> ((s, d) => AsofJoinOps.lastPurchaseNative(Tables.events(s, d))),
    "q_histogram" -> ((s, d) => AnalyticsOps.histogram(Tables.events(s, d))),
    "q_stats" -> ((s, d) => AnalyticsOps.dispersionStats(Tables.events(s, d))),
    "q_percentiles" -> ((s, d) => AnalyticsOps.percentiles(Tables.events(s, d))),
    "q_ntile" -> ((s, d) => AnalyticsOps.quartileAssign(Tables.events(s, d))),
    "q_corr" -> ((s, d) => AnalyticsOps.correlation(Tables.events(s, d))),
    "q_argmax" -> ((s, d) => AnalyticsOps.argmaxPerGroup(Tables.part(s, d))),
    "q_mode" -> ((s, d) => AnalyticsOps.modePerKey(Tables.events(s, d))),
    "q_regression" -> ((s, d) => AnalyticsOps.regressionPerKey(Tables.events(s, d))),
    "q_bloom_join" -> ((s, d) => AnalyticsOps.urgentOrderRevenue(
      Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_range_window" -> ((s, d) => TimeSeriesOps.trailingWindow(Tables.events(s, d))),
    "q_ewma" -> ((s, d) => TimeSeriesOps.ewma(Tables.events(s, d))),
    "sample_per_group" -> ((s, d) => TextOps.samplePerGroup(Tables.documents(s, d))),
    // C75 (r10): Neyman-allocated stratified sample, budget 100
    "sample_stratified" -> ((s, d) =>
      TextOps.sampleStratified(Tables.documents(s, d), 100)),
    // C. training-data pipeline
    "dedup_exact" -> ((s, d) => DedupOps.exactDedup(Tables.documents(s, d))),
    "dedup_minhash_lsh" -> ((s, d) => DedupOps.minhashLshPairs(Tables.documents(s, d))),
    "dedup_simhash" -> ((s, d) => DedupOps.simhashPairs(Tables.documents(s, d))),
    "ngram_jaccard" -> ((s, d) => DedupOps.ngramJaccard(Tables.documents(s, d), 0.5)),
    "ngram_jaccard_prefix" -> ((s, d) => DedupOps.ngramJaccardPrefix(Tables.documents(s, d), 0.5)),
    "knn_brute" -> ((s, d) => SimilarityOps.knnBrute(Tables.embeddings(s, d))),
    "knn_lsh" -> ((s, d) => SimilarityOps.knnLsh(Tables.embeddings(s, d))),
    "knn_lsh_recall" -> ((s, d) => SimilarityOps.knnLshRecall(Tables.embeddings(s, d))),
    "knn_ivf" -> ((s, d) => SimilarityOps.knnIvf(Tables.embeddings(s, d))),
    "dedup_embedding" -> ((s, d) => SimilarityOps.embeddingNearDups(Tables.embeddings(s, d))),
    "emb_quantize" -> ((s, d) => SimilarityOps.embQuantize(Tables.embeddings(s, d))),
    "emb_kmeans" -> ((s, d) => SimilarityOps.embKmeans(Tables.embeddings(s, d))),
    "knn_ivf_trained" -> ((s, d) => SimilarityOps.knnIvfTrained(Tables.embeddings(s, d))),
    // C78 (r11): IVF-PQ — trained coarse cells + product-quantized
    // residuals + bounded-broadcast ADC scoring + exact refine; the
    // top-k rows are rows-only (PQ distortion is data-dependent), the
    // certification twin below is the oracle gate
    "knn_ivfpq" -> ((s, d) => SimilarityOps.knnIvfPq(Tables.embeddings(s, d))),
    "knn_ivfpq_recall" -> ((s, d) => SimilarityOps.knnIvfPqRecall(Tables.embeddings(s, d))),
    // C87 (r12, VERDICT r11 #3): train-once/search-many — the search
    // half alone against the STORED index (materialized once per JVM,
    // outside the timed region; the dedup_cluster_stats_fold
    // pattern). Search output is bit-identical to knn_ivfpq by
    // deterministic training, and the fold recall twin re-gates the
    // stored index through the SAME brute-force oracle at both SFs —
    // proving the write → read → search lifecycle the 100 TB story
    // assumes, not just the in-memory composition.
    "knn_ivfpq_fold" -> ((s, d) => SimilarityOps.knnIvfPqSearch(
      Tables.embeddings(s, d),
      SimilarityOps.readIvfPqIndex(s, ivfpqIndexDir(s, d)))),
    "knn_ivfpq_fold_recall" -> ((s, d) => SimilarityOps.knnIvfPqRecall(
      Tables.embeddings(s, d),
      index = Some(SimilarityOps.readIvfPqIndex(s, ivfpqIndexDir(s, d))))),
    // C83 (r11): MMR diversity re-rank over the IVF candidate list —
    // the greedy trajectory is engine-exact (round-3 relevance,
    // round-6 penalties, c_id tiebreak), so the oracle unrolls all
    // k rounds and hash-gates the full selection order
    "mmr_rerank" -> ((s, d) => SimilarityOps.mmrRerank(Tables.embeddings(s, d))),
    // C84 (r11): greedy k-center (farthest-point) coreset sampling —
    // Gonzalez running-min form, one corpus scan per round; oracle
    // unrolls the selection trajectory
    "sample_kcenter" -> ((s, d) => SimilarityOps.kCenterSample(Tables.embeddings(s, d))),
    // C85 (r11): hybrid retrieval — reciprocal-rank fusion of the
    // BM25 arm (C53) and the IVF-ANN arm (C15); rank-only arithmetic,
    // engine-exact
    "hybrid_rrf" -> ((s, d) => SimilarityOps.hybridRrf(
      Tables.documents(s, d), Tables.embeddings(s, d))),
    "dedup_semantic" -> ((s, d) => SimilarityOps.dedupSemantic(Tables.embeddings(s, d))),
    // C86 (r12, VERDICT r11 #2): the PRODUCTION semantic-dedup path —
    // closure over C36 kNN-graph candidates instead of the exact
    // O(n²) scorer. Components are rows-only by design (LSH bucket
    // membership has no DuckDB twin); the recall twin below is the
    // oracle gate, run on the twin-injected corpus (C71 pattern so
    // identical-embedding twins make the truth non-vacuous). At
    // large SF the bench runs THIS and skips the exact gate forms
    // (dedup_semantic, its fold, decontaminate_semantic) by name.
    "dedup_semantic_ann" -> ((s, d) =>
      SimilarityOps.dedupSemanticAnn(Tables.embeddings(s, d))),
    "dedup_semantic_ann_recall" -> ((s, d) =>
      SimilarityOps.dedupSemanticAnnRecall(
        SimilarityOps.withSyntheticParaphrases(Tables.embeddings(s, d)))),
    // C79 (r11): the SEMANTIC incremental fold — cluster 90% of the
    // vectors, fold the remaining 10% in via the shared collapsed-
    // closure kernel; gated against the FULL-corpus closure oracle
    // (dedup_semantic's SQL), so fold ≡ recluster is re-proven every
    // round — the C43 pattern in embedding space
    "dedup_semantic_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      SimilarityOps.dedupSemanticIncremental(corpus,
        SimilarityOps.dedupSemantic(corpus), batch)
    }),
    // C77 (r10): semantic decontamination over the twin-injected
    // corpus (natural max cosine 0.49 — the injection is what makes
    // the 0.95 gate non-vacuous, the C71 pattern)
    "decontaminate_semantic" -> ((s, d) => {
      val aug = SimilarityOps.withSyntheticParaphrases(Tables.embeddings(s, d))
      SimilarityOps.decontaminateSemantic(
        aug.filter(pmod(col("vec_id"), lit(20)) =!= 0),
        aug.filter(pmod(col("vec_id"), lit(20)) === 0))
    }),
    "cluster_purity" -> ((s, d) => SimilarityOps.clusterPurity(Tables.embeddings(s, d))),
    "knn_graph" -> ((s, d) => SimilarityOps.knnGraph(Tables.embeddings(s, d))),
    "lang_id" -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    "text_quality" -> ((s, d) => TextOps.quality(Tables.documents(s, d))),
    "token_count" -> ((s, d) => TextOps.tokenCount(Tables.documents(s, d))),
    // repartition: the operator is map-only by design (at production
    // scale parallelism comes from input splits), but the small test
    // parquet is a single split — one task would do ALL the hashing
    // (VERDICT r3 #1 measured the map serial in the bench JVM)
    "doc_fingerprint" -> ((s, d) =>
      TextOps.fingerprint(Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism))),
    "text_normalize" -> ((s, d) => TextOps.normalizeText(Tables.documents(s, d))),
    "sample_fraction" -> ((s, d) => TextOps.sampleFraction(Tables.documents(s, d), 0.25)),
    "train_order" -> ((s, d) => TextOps.trainOrder(Tables.documents(s, d))),
    "sample_mix" -> ((s, d) => TextOps.sampleMix(Tables.documents(s, d),
      Map("src0" -> 0.5, "src1" -> 0.2, "src2" -> 0.0))),
    "decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.decontaminate(docs,
        docs.filter(pmod(col("doc_id"), lit(20)) === 0), 0.5)
    }),
    // C76 (r10): batch novelty vs the standing corpus (C43's split)
    "ngram_novelty" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.ngramNovelty(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0))
    }),
    // C74 (r10): DSIR importance weights — the deterministic
    // doc_id-derived subset stands in for the external target domain
    "dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.dsirWeights(docs,
        docs.filter(pmod(col("doc_id"), lit(20)) === 0))
    }),
    // C62: the same benchmark split, audited from the benchmark's
    // side — corpus EXCLUDES the benchmark docs so coverage is earned
    // through genuine overlap, not self-matches
    "minhash_accuracy" -> ((s, d) =>
      DedupOps.minhashAccuracy(Tables.documents(s, d))),
    "ngram_coverage" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.ngramCoverage(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0))
    }),
    // union of the synthetic-PNG table (REAL IHDR byte parsing), the
    // synthetic-JPEG table (REAL SOFn marker-segment scan), and the
    // raw-text table (declared fake-decode fallback): the rows check
    // exercises all three decode paths
    "multimodal_stub" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      MultimodalOps.mediaStatsFrom(s,
        MultimodalOps.toPngMediaTable(s, docs)
          .union(MultimodalOps.toJpegMediaTable(s, docs))
          .union(MultimodalOps.toGifMediaTable(s, docs))
          .union(MultimodalOps.toGifAnimMediaTable(s, docs))
          .union(MultimodalOps.toWavMediaTable(s, docs))
          .union(MultimodalOps.toMediaTable(docs)))
    }),
    // C11 oracle-gated twin (VERDICT r7 #5): the REAL-format decode
    // paths (PNG IHDR + JPEG SOFn + GIF logical screen descriptor,
    // r9; r10 adds the ANIMATED-GIF branch whose frame count is
    // DECODED by walking image-descriptor blocks — VERDICT r9 #6;
    // r11 adds the WAV/RIFF chunk walk, the first AUDIO branch)
    // produce deterministic doc_id-derived metadata, so the per-item
    // projection is fully DuckDB-expressible — rows+schema+hash
    // gated; only the fake-decode fallback and the binary payload
    // itself stay spec-gated in multimodal_stub
    "multimodal_meta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      MultimodalOps.extractMetaFrom(s,
        MultimodalOps.toPngMediaTable(s, docs)
          .union(MultimodalOps.toJpegMediaTable(s, docs))
          .union(MultimodalOps.toGifMediaTable(s, docs))
          .union(MultimodalOps.toGifAnimMediaTable(s, docs))
          .union(MultimodalOps.toWavMediaTable(s, docs)))
    }),
    // C88 (r12, VERDICT r11 #6): perceptual near-dup over the BINARY
    // column — 63-bit content dHash per item (media_dhash) and the
    // hamming-banded pair join (media_dedup), both fully DuckDB-
    // gated: bodies are the document text, so the oracle recomputes
    // every block sum, bit, and pair from doc_id + text alone, and
    // the banded join is provably EXACT to hamming ≤ 3 (pigeonhole
    // over 4 bands) so the oracle is the plain O(n²) scan
    "media_dhash" -> ((s, d) => MultimodalOps.mediaDHash(
      MultimodalOps.toTwinMediaTable(s, Tables.documents(s, d)))),
    "media_dedup" -> ((s, d) => MultimodalOps.mediaDedup(
      MultimodalOps.toTwinMediaTable(s, Tables.documents(s, d)))),
    "text_repetition" -> ((s, d) => TextOps.repetition(Tables.documents(s, d))),
    "gopher_quality" -> ((s, d) =>
      TextOps.gopherQuality(TextOps.withSyntheticSlop(Tables.documents(s, d)))),
    // C90 (r13): NB quality classifier distilled from the C61 gate —
    // same slop-injected corpus, so both classes are populated at
    // every SF (the natural corpus is ~all-keep and the model would
    // be vacuous without the injected negatives)
    "nb_quality" -> ((s, d) =>
      TextOps.nbQuality(TextOps.withSyntheticSlop(Tables.documents(s, d)))),
    "quality_report" -> ((s, d) => TextOps.qualityReport(Tables.documents(s, d))),
    "sample_temperature" -> ((s, d) => TextOps.sampleTemperature(Tables.documents(s, d))),
    "dedup_groups" -> ((s, d) => DedupOps.dedupGroups(Tables.documents(s, d), 0.7)),
    // D11 driver gate (r14, VERDICT r13 #5): the STREAMING incremental
    // fold drained end-to-end (3-file AvailableNow ingest) — final
    // carried labels equal the batch re-cluster, so it shares C21's
    // closure oracle and the streaming kernel is hash-certified per
    // round, not just spec-tested
    "stream_dedup_fold" -> ((s, d) => StreamOps.streamDedupFoldGate(s, d)),
    // D1 driver gate (r14): the windowed-agg streaming kernel drained
    // end-to-end (3-file AvailableNow, incremental exact-decimal
    // state) — equals the batch hourly mart, shares A1's oracle
    "stream_hourly_gate" -> ((s, d) => StreamOps.streamHourlyGate(s, d)),
    // C43: cluster 90% of the corpus first, then fold the remaining
    // 10% in incrementally — gated against the FULL-corpus closure
    // oracle, so the incremental path is proven equal to re-clustering
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      DedupOps.dedupIncremental(corpus,
        DedupOps.dedupGroups(corpus, 0.7), batch, 0.7)
    }),
    // C43 fold-only gate: same fold, but prior labels come from disk
    // (materialized once per JVM) — the timed region is the operation
    // production actually runs per batch. Shares the full-closure
    // oracle, so it is ALSO a second correctness proof that folding
    // against stored labels equals re-clustering.
    "dedup_incremental_fold" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      DedupOps.dedupIncremental(corpus, priorLabels(s, d, corpus), batch, 0.7)
    }),
    "pack_sequences" -> ((s, d) => TextOps.packSequences(Tables.documents(s, d))),
    "vocab_topk" -> ((s, d) => TextOps.vocabTopK(Tables.documents(s, d))),
    "keywords" -> ((s, d) => TextOps.keywords(Tables.documents(s, d))),
    "doc_chunk" -> ((s, d) => TextOps.docChunks(Tables.documents(s, d))),
    "chunk_dedup" -> ((s, d) => TextOps.chunkDedup(Tables.documents(s, d))),
    "train_split" -> ((s, d) => TextOps.trainSplit(Tables.documents(s, d))),
    "train_split_grouped" -> ((s, d) =>
      TextOps.trainSplitGrouped(Tables.documents(s, d))),
    "bpe_pairs" -> ((s, d) => TextOps.bpePairs(Tables.documents(s, d))),
    // C80: the ITERATIVE trainer — 2 greedy merge rounds, each
    // selecting the corpus-wide top pair and rewriting every sequence
    // (left-to-right non-overlapping); the oracle UNROLLS the loop in
    // chained CTEs, so selection, rewrite, and the merge table are all
    // hash-gated per round
    "bpe_train" -> ((s, d) => TextOps.bpeTrain(Tables.documents(s, d), 2)),
    // C80's batched dial (r12, VERDICT r11 #5): top-4 pairwise-
    // disjoint merges per round, rewritten in ONE pass — the oracle
    // unrolls the same rounds with the top-N + disjointness-filter
    // selection CTEs, so batched selection AND rewrite are hash-gated
    "bpe_train_batched" -> ((s, d) =>
      TextOps.bpeTrain(Tables.documents(s, d), 2, batch = 4)),
    // C89 (r12): the tokenizer's train→freeze→apply lifecycle — the
    // 80% slice trains and freezes its merge table to parquet (once
    // per JVM, outside the timed region), the held-out 20% tokenizes
    // FROM STORAGE; the oracle re-derives the training rounds on the
    // 80% slice and replays the frozen rewrite on the 20%, so the
    // out-of-training apply is hash-gated position by position
    "bpe_apply" -> ((s, d) => TextOps.bpeApply(
      Tables.documents(s, d).filter(pmod(col("doc_id"), lit(5)) === 0),
      s.read.parquet(bpeMergesDir(s, d)), 2)),
    // C82 (r11): the APPLY half of the tokenizer — the same 2 trained
    // merge rounds, publishing the final rewritten token table for a
    // deterministic mod-25 doc sample (the rewrite runs on the FULL
    // corpus; only the published slice is sampled)
    "bpe_encode" -> ((s, d) => TextOps.bpeEncode(Tables.documents(s, d), 2)),
    "dedup_apply" -> ((s, d) => DedupOps.dedupApply(Tables.documents(s, d), 0.7)),
    "dedup_priority" -> ((s, d) => DedupOps.dedupPriority(Tables.documents(s, d), 0.7)),
    "doc_entropy" -> ((s, d) => TextOps.docEntropy(Tables.documents(s, d))),
    "ccnet_bucket" -> ((s, d) => TextOps.ccnetBucket(Tables.documents(s, d))),
    "ccnet_bucket_approx" -> ((s, d) =>
      TextOps.ccnetBucketApprox(Tables.documents(s, d))),
    "dedup_weights" -> ((s, d) => DedupOps.dedupWeights(Tables.documents(s, d), 0.7)),
    "boilerplate_strip" -> ((s, d) => TextOps.boilerplateStrip(Tables.documents(s, d))),
    "sample_topk" -> ((s, d) => TextOps.sampleTopK(Tables.documents(s, d))),
    "corpus_stats" -> ((s, d) => TextOps.corpusStats(Tables.documents(s, d))),
    "dedup_substring" -> ((s, d) => DedupOps.dedupSubstring(Tables.documents(s, d))),
    // C48's 100 TB variant (VERDICT r10 #6): grams shuffle as
    // (xxhash64, len) keys instead of the gram STRINGS — the output
    // is identical on a collision-free domain, which IS the oracle
    // (same SQL as the string form; a hash collision would desync
    // the counts and fail the hash gate)
    "dedup_substring_hashed" -> ((s, d) =>
      DedupOps.dedupSubstring(Tables.documents(s, d), hashGrams = true)),
    "dedup_substring_rewrite" -> ((s, d) => DedupOps.dedupSubstringRewrite(Tables.documents(s, d))),
    "q_gap_fill" -> ((s, d) => TimeSeriesOps.gapFill(Tables.events(s, d))),
    "q_interpolate" -> ((s, d) => TimeSeriesOps.interpolate(Tables.events(s, d))),
    "q_zscore" -> ((s, d) => AnalyticsOps.zscoreFlags(Tables.events(s, d))),
    "q_cusum" -> ((s, d) => AnalyticsOps.cusum(Tables.events(s, d))),
    "q_theilsen" -> ((s, d) => AnalyticsOps.theilSen(Tables.events(s, d))),
    "q_ks_test" -> ((s, d) => AnalyticsOps.ksTest(Tables.events(s, d))),
    "q_ks_binned" -> ((s, d) => AnalyticsOps.ksTestBinned(Tables.events(s, d))),
    "q_gini" -> ((s, d) => AnalyticsOps.gini(Tables.events(s, d))),
    "q_benford" -> ((s, d) => AnalyticsOps.benford(Tables.events(s, d))),
    "q_autocorr" -> ((s, d) => AnalyticsOps.autocorr(Tables.events(s, d))),
    // B57 (r10): Ljung–Box portmanteau whiteness test, lags 1..3
    "q_ljung_box" -> ((s, d) => AnalyticsOps.ljungBox(Tables.events(s, d))),
    "bm25" -> ((s, d) => TextOps.bm25(Tables.documents(s, d))),
    "url_dedup" -> ((s, d) =>
      TextOps.urlDedup(TextOps.withSyntheticCrawlUrl(Tables.documents(s, d)))),
    "mix_schedule" -> ((s, d) => TextOps.mixSchedule(Tables.documents(s, d),
      Map("src0" -> 2000L, "src1" -> 9000L))),
    "pack_efficiency" -> ((s, d) => TextOps.packEfficiency(Tables.documents(s, d))),
    "q_skew_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ScaleOps.saltedJoin(ev,
        ev.groupBy("event_type").agg(count(lit(1)).as("type_total")),
        "event_type")
        .select("event_id", "event_type", "value", "type_total")
    }),
    "pii_redact" -> ((s, d) =>
      TextOps.piiRedact(TextOps.withSyntheticPii(Tables.documents(s, d)))),
    "lm_score" -> ((s, d) => TextOps.lmScore(Tables.documents(s, d))),
    "url_domains" -> ((s, d) =>
      TextOps.urlDomains(TextOps.withSyntheticUrl(Tables.documents(s, d)))),
    "source_overlap" -> ((s, d) => DedupOps.sourceOverlap(Tables.documents(s, d))),
    "pipeline_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      PipelineOps.curate(docs, docs.filter(pmod(col("doc_id"), lit(20)) === 0))
    }),
    "q_winsorize" -> ((s, d) => AnalyticsOps.winsorize(Tables.events(s, d))),
    "q_retention" -> ((s, d) => AnalyticsOps.cohortRetention(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => AnalyticsOps.funnel(Tables.events(s, d))),
    "q_rolling_active" -> ((s, d) => AnalyticsOps.rollingActive(Tables.events(s, d))),
    "emb_centroid" -> ((s, d) => SimilarityOps.labelCentroids(Tables.embeddings(s, d))),
    "q_range_join" -> ((s, d) => ScaleOps.rangeJoin(
      Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_profile" -> ((s, d) => AnalyticsOps.profile(Tables.lineitem(s, d))),
    // B36 approx form: HLL estimates join back to the exact profile;
    // the oracle asserts the 10% error-bound predicate (B10 pattern)
    "q_profile_approx" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val exact = AnalyticsOps.profile(li)
        .select(col("col_name"), col("n_distinct").as("exact_nd"))
      AnalyticsOps.profile(li, approxDistinct = true)
        .join(exact, "col_name")
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("min_v"), col("max_v"), col("exact_nd"),
          (abs(col("n_distinct") - col("exact_nd"))
            <= col("exact_nd").cast("double") * lit(0.1)).as("approx_ok"))
    }),
    // B36 bench form: PURE approx profile — no exact twin in the same
    // query, so BENCH shows the single-pass Expand-free scan's real
    // win over q_profile (VERDICT r3 #6). Declared rows-only: HLL
    // estimates aren't hash-reproducible cross-engine; the 10% band is
    // oracle-gated via q_profile_approx and the plan shape via spec.
    "q_profile_fast" -> ((s, d) =>
      AnalyticsOps.profile(Tables.lineitem(s, d), approxDistinct = true)),
    "sample_balance" -> ((s, d) => SimilarityOps.sampleBalance(Tables.embeddings(s, d))),
    "oov_rate" -> ((s, d) => TextOps.oovRate(Tables.documents(s, d))),
    "q_mad" -> ((s, d) => AnalyticsOps.madFlags(Tables.events(s, d))),
    "q_mad_approx" -> ((s, d) => AnalyticsOps.madFlagsApprox(Tables.events(s, d))),
    "q_heavy_hitters" -> ((s, d) => AnalyticsOps.heavyHitters(Tables.events(s, d))),
    "q_welch" -> ((s, d) => AnalyticsOps.welchDrift(Tables.events(s, d))),
    // B56 (r10): Jarque–Bera normality screen — the parametric shape
    // axis of the drift family
    "q_jarque_bera" -> ((s, d) => AnalyticsOps.jarqueBera(Tables.events(s, d))),
    "q_mann_kendall" -> ((s, d) => AnalyticsOps.mannKendall(Tables.events(s, d))),
    // B58 (r10): seasonal Mann–Kendall — within-season sign pairs
    "q_seasonal_mk" -> ((s, d) =>
      AnalyticsOps.seasonalMannKendall(Tables.events(s, d))),
    "q_spearman" -> ((s, d) => AnalyticsOps.spearman(Tables.events(s, d))),
    "q_spearman_approx" -> ((s, d) =>
      AnalyticsOps.spearmanApprox(Tables.events(s, d))),
    "q_chisq" -> ((s, d) => AnalyticsOps.chiSquare(Tables.events(s, d))),
    "q_runs_test" -> ((s, d) => AnalyticsOps.runsTest(Tables.events(s, d))),
    "q_mannwhitney" -> ((s, d) =>
      AnalyticsOps.mannWhitney(Tables.events(s, d))),
    "knn_graph_recall" -> ((s, d) =>
      SimilarityOps.knnGraphRecall(Tables.embeddings(s, d))),
    "simhash_accuracy" -> ((s, d) =>
      DedupOps.simhashAccuracy(Tables.documents(s, d))),
    "emb_pca" -> ((s, d) => SimilarityOps.embPca(Tables.embeddings(s, d))),
    // C73 (r9): the pre-ANN vector sanity datasheet
    "emb_norm_audit" -> ((s, d) =>
      SimilarityOps.embNormAudit(Tables.embeddings(s, d))),
    // C68's scaled-form certification (VERDICT r8 #2): exact columns
    // hashed, scaled_ok band asserted by the oracle
    "emb_pca_scaled" -> ((s, d) =>
      SimilarityOps.embPcaScaled(Tables.embeddings(s, d))),
    "corpus_divergence" -> ((s, d) =>
      TextOps.corpusDivergence(Tables.documents(s, d))),
    "dedup_cluster_stats" -> ((s, d) =>
      DedupOps.dedupClusterStats(Tables.documents(s, d))),
    // C70 artifact-grade twin (VERDICT r8 #5): labels from parquet
    // (materialized once per JVM, outside the timed region) so the
    // bench measures the |components|-row datasheet rollup production
    // runs — shares C70's closure oracle, so rolling up STORED labels
    // is also correctness-proven every round
    "dedup_cluster_stats_fold" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      DedupOps.dedupClusterStats(docs,
        labels = Some(priorLabels(s, d, docs, tag = "full")))
    }),
    // B42's fallback gate (VERDICT r8 #3): seeded sampled-slopes
    // median beside the exact slope; both engine-replayable (md5
    // pair priorities), band_ok recomputed by the oracle
    "q_theilsen_sampled" -> ((s, d) =>
      AnalyticsOps.theilSenSampled(Tables.events(s, d))),
    // B31's sketch swap (VERDICT r8 #4): exact clip columns hashed,
    // flags_match excused only inside the approx-vs-exact cut interval
    "q_winsorize_approx" -> ((s, d) =>
      AnalyticsOps.winsorizeApprox(Tables.events(s, d))),
    // B54: omnibus rank test over the whole key family
    "q_kruskal" -> ((s, d) =>
      AnalyticsOps.kruskalWallis(Tables.events(s, d))),
    // B55: Brown–Forsythe variance-homogeneity — the drift family's
    // variance axis
    "q_levene" -> ((s, d) =>
      AnalyticsOps.leveneTest(Tables.events(s, d))),
    // C71/C72 (VERDICT r8 #6): the emitted PAIR SETS' recall against
    // exact similarity truth, re-measured by the driver at both SFs.
    // Corpus carries injected near-dup twins (the C29 synthetic-hazard
    // pattern) because the natural corpus has only 1-4 pairs above the
    // certification thresholds — too few for a stable floor
    "minhash_pair_recall" -> ((s, d) => DedupOps.minhashPairRecall(
      DedupOps.withSyntheticNearDups(Tables.documents(s, d)))),
    "simhash_pair_recall" -> ((s, d) => DedupOps.simhashPairRecall(
      DedupOps.withSyntheticNearDups(Tables.documents(s, d)))),
    "q_grid_source" -> ((s, _) => AgriOps.gridSourceMart(s)),
    "q_grid_files" -> ((s, _) => AgriOps.gridFilesMart(s)),
    "q_grid_skipna" -> ((s, _) => AgriOps.gridSkipnaMart(s)),
    "q_grid_pipeline" -> ((s, _) => AgriOps.gridPipeline(s)),
    "pipeline_mart" -> ((s, d) => PipelineOps.martPipeline(Tables.events(s, d))),
    "q_skew_audit" -> ((s, d) => ScaleOps.skewAudit(Tables.events(s, d), "event_type")),
    "q_percent_rank" -> ((s, d) => AnalyticsOps.percentRanks(Tables.events(s, d))),
    // A45 (r13, VERDICT r12 #7): the dashboard-shape SERVING family —
    // MartServing's four query shapes over the registered daily mart
    // (register happens once per JVM outside the timed region; Bench
    // keeps the cache warm between these entries' passes, so the
    // measured latency is the dashboard SLA: an InMemoryTableScan
    // with pushed predicates, spec-asserted). Oracles re-derive the
    // mart as a CTE — serving a cached mart version must equal
    // recomputing it.
    "serving_keys" -> ((s, d) => graft.serving.MartServing.keys(
      s, servedDailyMart(s, d), "event_type")),
    "serving_range" -> ((s, d) => graft.serving.MartServing.rangeLoad(
      s, servedDailyMart(s, d), "event_type", rangeKeys,
      "day", "2024-01-05 00:00:00", "2024-01-12 00:00:00")),
    "serving_wide" -> ((s, d) => graft.serving.MartServing.wideSeries(
      s, servedDailyMart(s, d), "event_type", pivotKeys, "day", "value_mean")),
    "serving_kpi" -> ((s, d) => graft.serving.MartServing.kpiRow(
      s, servedDailyMart(s, d), "event_type", "day")),
  )

  /** DuckDB-equivalent SQL for the driver's correctness oracle.
    * Omitted for non-SQL-expressible ops (minhash/simhash/LSH/HLL/
    * fingerprints/multimodal) → rows-only check.
    */
  // shared by q_hourly_mart and q_incremental_mart: the incremental
  // merge must be indistinguishable from a full recompute
  // shared by q_grid_source (synthetic reader) and q_grid_files
  // (on-disk tile reader): both must match the same rebuilt grid
  //
  // Mean divisors below (here and in every avgD-mirroring oracle)
  // are count(x) — NON-NULL values — mirroring Exact.avgD's skipna
  // contract EXACTLY, not count(*): value-identical on null-free
  // columns, but a future null (e.g. another testdata encoding
  // drift) now fails loudly at the oracle instead of silently
  // diverging (ADVICE r5 #2). Row/cell counters (n_obs, n_cells,
  // n_rows) stay count(*) — they count rows, like Spark's
  // count(lit(1)).
  private val gridSourceSql =
    """WITH r AS (SELECT * FROM (VALUES ('r0', 0), ('r1', 1)) t(region, ridx)),
      |h AS (SELECT unnest(generate_series(0, 23)) AS hr),
      |la AS (SELECT unnest(generate_series(0, 7)) AS lat),
      |lo AS (SELECT unnest(generate_series(0, 7)) AS lon),
      |g AS (SELECT region,
      |  TIMESTAMP '2024-01-02 00:00:00' + to_hours(hr) AS ts,
      |  CAST(253150 + ((lat*31 + lon*17 + hr*13 + 1*11 + ridx*7) % 400)
      |    * 100 AS DOUBLE) / 1000.0 AS t2m
      |  FROM r, h, la, lo)
      |SELECT region, ts,
      |(CAST(sum(CAST(t2m AS DECIMAL(20,6))) AS DOUBLE) / count(t2m))
      |  AS t2m_avg,
      |count(*) AS n_cells
      |FROM g GROUP BY region, ts""".stripMargin

  private val hourlyMartSql =
    """SELECT event_type, date_trunc('hour', ts) AS hour_ts,
      |(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value))
      |  AS avg_value, count(*) AS n_obs
      |FROM events GROUP BY event_type, date_trunc('hour', ts)""".stripMargin

  // shared by q_profile (verbatim) and q_profile_approx (wrapped with
  // exact_nd + the always-true error-bound column)
  private val profileSql =
    """SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
      |  count(*) - count(l_quantity) AS n_null,
      |  count(DISTINCT l_quantity) AS n_distinct,
      |  round(min(l_quantity), 4) AS min_v,
      |  round(max(l_quantity), 4) AS max_v FROM lineitem
      |UNION ALL
      |SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
      |  count(DISTINCT l_extendedprice),
      |  round(min(l_extendedprice), 4), round(max(l_extendedprice), 4)
      |  FROM lineitem
      |UNION ALL
      |SELECT 'l_discount', count(*), count(*) - count(l_discount),
      |  count(DISTINCT l_discount),
      |  round(min(l_discount), 4), round(max(l_discount), 4) FROM lineitem
      |UNION ALL
      |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
      |  count(DISTINCT l_returnflag),
      |  CAST(min(length(l_returnflag)) AS DOUBLE),
      |  CAST(max(length(l_returnflag)) AS DOUBLE) FROM lineitem
      |UNION ALL
      |SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
      |  count(DISTINCT l_linestatus),
      |  CAST(min(length(l_linestatus)) AS DOUBLE),
      |  CAST(max(length(l_linestatus)) AS DOUBLE) FROM lineitem""".stripMargin

  // A21/A22 full chain: DuckDB rebuilds the 13-var grid from
  // generate_series with the SAME (salt, mod, base, step) constants
  // the connector publishes (graft.sources.grid.GridSource.varSpecs
  // — one source of truth for both engines), then mirrors the
  // spatial-mean → convert_units → daily AGG_SPECS chain step by
  // step under the decimal protocol. The daily stage is GENERATED
  // from AgriOps.dailyAggSpecs (same source of truth as the Spark
  // plan), and the water balance (tp_sum − pev_mm_sum,
  // aggregate_daily.py:46-48) is one double subtraction in an outer
  // select, exactly as Spark's withColumn appends it.
  private def decMeanSql(c: String) =
    s"CAST(sum(CAST($c AS DECIMAL(20,6))) AS DOUBLE) / count($c)"

  // the CTE prefix through `hc` (13-var grid → spatial means →
  // unit-converted hourly mart) — shared by q_grid_pipeline and the
  // hourly-mart-derived entries (q_vpd)
  private val gridHcCteSql: String = {
    val mix = "lat*31 + lon*17 + hr*13 + day*11 + ridx*7"
    val varExprs = graft.sources.grid.GridSource.varSpecs.map {
      case (v, (salt, mod, base, step)) =>
        s"CAST($base + (($mix + $salt) % $mod) * $step AS DOUBLE) / 1000.0 AS $v"
    }.mkString(",\n  ")
    val rawMeans = graft.sources.grid.GridSource.varSpecs
      .map { case (v, _) => s"${decMeanSql(v)} AS ${v}_raw" }.mkString(",\n  ")
    s"""WITH r AS (SELECT * FROM (VALUES ('r0', 0), ('r1', 1), ('r2', 2)) t(region, ridx)),
       |dd AS (SELECT unnest(generate_series(0, 2)) AS day),
       |h AS (SELECT unnest(generate_series(0, 23)) AS hr),
       |la AS (SELECT unnest(generate_series(0, 7)) AS lat),
       |lo AS (SELECT unnest(generate_series(0, 7)) AS lon),
       |g AS (SELECT region,
       |  TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(day AS INTEGER)) + to_hours(hr) AS ts,
       |  $varExprs
       |  FROM r, dd, h, la, lo),
       |hm AS (SELECT region, ts, $rawMeans FROM g GROUP BY region, ts),
       |hc AS (SELECT region, ts,
       |  t2m_raw - 273.15 AS t2m, d2m_raw - 273.15 AS d2m,
       |  tp_raw * 1000.0 AS tp,
       |  sqrt(u10_raw*u10_raw + v10_raw*v10_raw) AS wind_speed_10m,
       |  swvl1_raw AS swvl1, swvl2_raw AS swvl2,
       |  ssrd_raw AS ssrd, ssr_raw AS ssr,
       |  evavt_raw * 1000.0 AS evavt_mm, pev_raw * 1000.0 AS pev_mm,
       |  lai_hv_raw AS lai_hv, lai_lv_raw AS lai_lv FROM hm)""".stripMargin
  }

  private val gridPipelineSql: String = {
    val dailyAggs = graft.operators.AgriOps.dailyAggSpecs.flatMap {
      case (c, fns) => fns.map {
        case "mean" => s"${decMeanSql(c)} AS ${c}_mean"
        case "min" => s"min($c) AS ${c}_min"
        case "max" => s"max($c) AS ${c}_max"
        case "sum" =>
          s"CAST(round(sum(CAST($c AS DECIMAL(20,6))), 4) AS DOUBLE) AS ${c}_sum"
      }
    }.mkString(",\n  ")
    gridHcCteSql + "\n" +
      s"""SELECT *, tp_sum - pev_mm_sum AS water_balance FROM (
         |SELECT region, date_trunc('day', ts) AS day,
         |  $dailyAggs
         |FROM hc GROUP BY region, date_trunc('day', ts))""".stripMargin
  }

  // A-surface ETL composition: hourly CTE (A1's own oracle verbatim)
  // → daily sums → conditional-sum pivot + balance, chained exactly
  // like the Spark plan
  private val martPipelineSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val sums = types.map(t =>
      s"sum(CASE WHEN event_type = '$t' THEN value_sum END) AS ${t}_sum")
      .mkString(",\n  ")
    s"""WITH hourly AS ($hourlyMartSql),
       |daily AS (SELECT event_type, date_trunc('day', hour_ts) AS day,
       |  CAST(round(sum(CAST(avg_value AS DECIMAL(20,6))), 4) AS DOUBLE)
       |    AS value_sum,
       |  CAST(sum(n_obs) AS BIGINT) AS n_obs
       |  FROM hourly GROUP BY event_type, date_trunc('day', hour_ts))
       |SELECT day, $sums,
       |  CAST(sum(n_obs) AS BIGINT) AS n_obs,
       |  sum(CASE WHEN event_type = 'purchase' THEN value_sum END)
       |    - sum(CASE WHEN event_type = 'error' THEN value_sum END)
       |    AS water_balance
       |FROM daily GROUP BY day""".stripMargin
  }

  // shared by dedup_groups (C21) and train_split_grouped (C39): the
  // token-Jaccard edge set and its recursive transitive closure down
  // to per-doc min-label components
  // C78/C87: the IVF-PQ recall gate's oracle — exact brute-force
  // top-k truth; shared verbatim by the end-to-end entry and the
  // stored-index fold twin (same gate, different engine-side index
  // provenance)
  private val ivfPqRecallSql =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
      |  FROM embeddings),
      |s AS (SELECT q_id, c_id,
      |  round(list_cosine_similarity(q_emb, c_emb), 3) AS sim
      |  FROM q, c WHERE q_id <> c_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |  ORDER BY sim DESC, c_id) AS rank FROM s)
      |SELECT count(*) AS n_truth, TRUE AS recall_ok
      |FROM r WHERE rank <= 5""".stripMargin

  // C88: the twin-injected media table's content-hash CTEs — every
  // item's body is its document's text, so block sums, comparison
  // bits, and the 63-bit dHash are all rebuilt from (doc_id, text)
  /** The A3 daily mart as a CTE — the serving oracles' shared base:
    * a query served from the registered in-memory mart must equal
    * the same query over a fresh recomputation of the mart.
    */
  private val dailyMartCteSql =
    """WITH mart AS (
      |  SELECT event_type, date_trunc('day', ts) AS day,
      |  (CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value))
      |    AS value_mean,
      |  round(min(value), 4) AS value_min,
      |  round(max(value), 4) AS value_max,
      |  CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
      |    AS value_sum,
      |  count(*) AS n_obs
      |  FROM events GROUP BY event_type, date_trunc('day', ts))""".stripMargin

  private val mediaDHashCteSql =
    """WITH m AS (
      |  SELECT doc_id AS media_id, 'png' AS format, 33 AS hdr, text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000001 AS media_id, 'jpeg' AS format,
      |    39 AS hdr, text
      |  FROM documents WHERE doc_id % 40 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000002 AS media_id, 'gif' AS format,
      |    13 AS hdr, text
      |  FROM documents WHERE doc_id % 40 = 20
      |  UNION ALL
      |  SELECT doc_id + 3000000003 AS media_id, 'wav' AS format,
      |    44 AS hdr, text
      |  FROM documents WHERE doc_id % 40 = 10),
      |b AS (SELECT media_id, format, hdr, text, strlen(text) AS L FROM m),
      |byt AS (SELECT media_id, (i * 64) // L AS blk,
      |    ord(substr(text, CAST(i AS INT) + 1, 1)) AS v
      |  FROM b, unnest(generate_series(0, L - 1)) AS u(i)),
      |ba AS (SELECT media_id, blk, sum(v) AS s, count(*) AS c
      |  FROM byt GROUP BY 1, 2),
      |grid AS (SELECT media_id, j
      |  FROM b, unnest(generate_series(0, 63)) AS g(j)),
      |blocks AS (SELECT g.media_id, g.j,
      |    coalesce(a.s, 0) AS s, coalesce(a.c, 0) AS c
      |  FROM grid g LEFT JOIN ba a ON a.media_id = g.media_id
      |    AND a.blk = g.j),
      |h AS (SELECT x.media_id,
      |    CAST(sum(CASE WHEN x.s * y.c > y.s * x.c
      |      THEN 1::BIGINT << x.j ELSE 0 END) AS BIGINT) AS dhash
      |  FROM blocks x JOIN blocks y ON y.media_id = x.media_id
      |    AND y.j = x.j + 1
      |  WHERE x.j <= 62 GROUP BY 1)""".stripMargin

  private val closureCteSql =
    """WITH RECURSIVE t AS (SELECT doc_id, source,
      |  list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> x <> '')) AS toks
      |  FROM documents),
      |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0
      |    / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
      |    >= 0.7),
      |e AS (SELECT id1, id2 FROM p UNION ALL SELECT id2, id1 FROM p),
      |r AS (SELECT doc_id AS id, doc_id AS lbl FROM documents
      |  UNION
      |  SELECT e.id1, r.lbl FROM e JOIN r ON r.id = e.id2),
      |c AS (SELECT id AS doc_id, min(lbl) AS component FROM r GROUP BY id)""".stripMargin

  /** C80 oracle generator: the BPE training loop UNROLLED to
    * `rounds` chained CTE blocks — each block mirrors the Spark round
    * exactly (lead-window pair count, (n DESC, a, b) top-1, island-
    * parity greedy eligibility, lag-consumed removal, re-posed
    * rewrite) so selection AND rewrite are hash-gated per round.
    */
  private def bpeTrainSql(rounds: Int): String =
    bpeCtesSql(rounds) + (1 to rounds)
      .map(i => s"SELECT * FROM r${i}_stats")
      .mkString("\n", "\nUNION ALL\n", "")

  // C82: same unrolled merge rounds, final select = the rewritten
  // token table (the published mod-sample mirrors TextOps.bpeEncode)
  private def bpeEncodeSql(rounds: Int, docMod: Int): String =
    bpeCtesSql(rounds) +
      s"\nSELECT doc_id, pos, tok FROM r$rounds WHERE doc_id % $docMod = 0"

  /** C89's oracle generator (r12): train rounds re-derived on the
    * TRAINING slice (documents where doc_id % mod <> 0 — bpeCtesSql's
    * blocks verbatim over the filtered base), then the APPLY corpus
    * (doc_id % mod = 0) rewritten round by round against each
    * r{i}_top — the frozen-merge replay, with no selection CTEs on
    * the apply side at all.
    */
  private def bpeApplySql(rounds: Int, mod: Int): String = {
    val trainBase =
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents WHERE doc_id % $mod <> 0),
         |r0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
         |  FROM tk, unnest(generate_series(1, len(t))) AS u(i))""".stripMargin
    val trainBlocks = (1 to rounds).map { i =>
      s"""r${i}_big AS (SELECT doc_id, pos, tok,
         |  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM r${i - 1}),
         |r${i}_top AS (SELECT tok AS a, nxt AS b, count(*) AS n
         |  FROM r${i}_big WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY n DESC, a, b LIMIT 1),
         |r${i}_j AS (SELECT g.doc_id, g.pos, g.tok, g.nxt,
         |  (g.tok = t.a AND g.nxt = t.b) AS m FROM r${i}_big g, r${i}_top t),
         |r${i}_el AS (SELECT doc_id, pos,
         |  (row_number() OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2) = 1
         |    AS elig
         |  FROM (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |    FROM r${i}_j WHERE m)),
         |r${i}_c AS (SELECT j.doc_id, j.pos, j.tok, j.nxt,
         |  coalesce(e.elig, FALSE) AS elig
         |  FROM r${i}_j j LEFT JOIN r${i}_el e USING (doc_id, pos)),
         |r$i AS (SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
         |    AS pos,
         |  CASE WHEN elig THEN tok || '+' || nxt ELSE tok END AS tok
         |  FROM (SELECT *, coalesce(lag(elig) OVER (PARTITION BY doc_id
         |    ORDER BY pos), FALSE) AS consumed FROM r${i}_c)
         |  WHERE NOT consumed)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val applyBase =
      s""",
         |atk AS (SELECT doc_id,
         |  list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
         |  FROM documents WHERE doc_id % $mod = 0),
         |a0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
         |  FROM atk, unnest(generate_series(1, len(t))) AS u(i))""".stripMargin
    val applyBlocks = (1 to rounds).map { i =>
      s"""a${i}_big AS (SELECT doc_id, pos, tok,
         |  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM a${i - 1}),
         |a${i}_j AS (SELECT g.doc_id, g.pos, g.tok, g.nxt,
         |  (g.tok = t.a AND g.nxt = t.b) AS m FROM a${i}_big g, r${i}_top t),
         |a${i}_el AS (SELECT doc_id, pos,
         |  (row_number() OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2) = 1
         |    AS elig
         |  FROM (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |    FROM a${i}_j WHERE m)),
         |a${i}_c AS (SELECT j.doc_id, j.pos, j.tok, j.nxt,
         |  coalesce(e.elig, FALSE) AS elig
         |  FROM a${i}_j j LEFT JOIN a${i}_el e USING (doc_id, pos)),
         |a$i AS (SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
         |    AS pos,
         |  CASE WHEN elig THEN tok || '+' || nxt ELSE tok END AS tok
         |  FROM (SELECT *, coalesce(lag(elig) OVER (PARTITION BY doc_id
         |    ORDER BY pos), FALSE) AS consumed FROM a${i}_c)
         |  WHERE NOT consumed)""".stripMargin
    }.mkString(",\n", ",\n", "")
    trainBase + trainBlocks + applyBase + applyBlocks +
      s"\nSELECT doc_id, pos, tok FROM a$rounds"
  }

  /** C80's batched-oracle generator (r12): the same unrolled rounds
    * with the top-1 selection CTE replaced by top-N + the
    * NON-RECURSIVE disjointness filter (a candidate survives iff no
    * higher-ranked candidate shares a token — the exact rule the
    * engine applies, a bounded self-anti-join), the match join keyed
    * on the selected SET, and per-selected-pair stats rows. Rewrite
    * CTEs are the sequential generator's verbatim: disjoint pairs
    * cannot match adjacent positions, so the island-parity machinery
    * is untouched.
    */
  private def bpeTrainBatchedSql(rounds: Int, batch: Int): String =
    bpeCtesSqlBatched(rounds, batch) + (1 to rounds)
      .map(i => s"SELECT * FROM r${i}_stats")
      .mkString("\n", "\nUNION ALL\n", "")

  private def bpeCtesSqlBatched(rounds: Int, batch: Int): String = {
    val base =
      """WITH tk AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |r0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
        |  FROM tk, unnest(generate_series(1, len(t))) AS u(i))""".stripMargin
    val blocks = (1 to rounds).map { i =>
      s"""r${i}_big AS (SELECT doc_id, pos, tok,
         |  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM r${i - 1}),
         |r${i}_cand AS (SELECT tok AS a, nxt AS b, count(*) AS n,
         |  row_number() OVER (ORDER BY count(*) DESC, tok, nxt) AS rk
         |  FROM r${i}_big WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  QUALIFY rk <= $batch),
         |r${i}_sel AS (SELECT c.a, c.b, c.n FROM r${i}_cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM r${i}_cand d WHERE d.rk < c.rk
         |    AND (d.a = c.a OR d.a = c.b OR d.b = c.a OR d.b = c.b))),
         |r${i}_j AS (SELECT g.doc_id, g.pos, g.tok, g.nxt, s.a, s.b,
         |  (s.a IS NOT NULL) AS m
         |  FROM r${i}_big g LEFT JOIN r${i}_sel s
         |    ON g.tok = s.a AND g.nxt = s.b),
         |r${i}_el AS (SELECT doc_id, pos, a, b,
         |  (row_number() OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2) = 1
         |    AS elig
         |  FROM (SELECT doc_id, pos, a, b,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |    FROM r${i}_j WHERE m)),
         |r${i}_c AS (SELECT j.doc_id, j.pos, j.tok, j.nxt,
         |  coalesce(e.elig, FALSE) AS elig
         |  FROM r${i}_j j LEFT JOIN r${i}_el e USING (doc_id, pos)),
         |r$i AS (SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
         |    AS pos,
         |  CASE WHEN elig THEN tok || '+' || nxt ELSE tok END AS tok
         |  FROM (SELECT *, coalesce(lag(elig) OVER (PARTITION BY doc_id
         |    ORDER BY pos), FALSE) AS consumed FROM r${i}_c)
         |  WHERE NOT consumed),
         |r${i}_mc AS (SELECT a, b, count(*) AS n_merges
         |  FROM r${i}_el WHERE elig GROUP BY 1, 2),
         |r${i}_stats AS (SELECT CAST($i AS BIGINT) AS round,
         |  s.a || ' ' || s.b AS pair, s.n,
         |  coalesce(m.n_merges, 0) AS n_merges,
         |  (SELECT count(DISTINCT tok) FROM r$i) AS vocab_size
         |  FROM r${i}_sel s LEFT JOIN r${i}_mc m
         |    ON m.a = s.a AND m.b = s.b)""".stripMargin
    }.mkString(",\n", ",\n", "")
    base + blocks
  }

  private def bpeCtesSql(rounds: Int): String = {
    val base =
      """WITH tk AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |r0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
        |  FROM tk, unnest(generate_series(1, len(t))) AS u(i))""".stripMargin
    val blocks = (1 to rounds).map { i =>
      s"""r${i}_big AS (SELECT doc_id, pos, tok,
         |  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |  FROM r${i - 1}),
         |r${i}_top AS (SELECT tok AS a, nxt AS b, count(*) AS n
         |  FROM r${i}_big WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY n DESC, a, b LIMIT 1),
         |r${i}_j AS (SELECT g.doc_id, g.pos, g.tok, g.nxt,
         |  (g.tok = t.a AND g.nxt = t.b) AS m FROM r${i}_big g, r${i}_top t),
         |r${i}_el AS (SELECT doc_id, pos,
         |  (row_number() OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2) = 1
         |    AS elig
         |  FROM (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |    FROM r${i}_j WHERE m)),
         |r${i}_c AS (SELECT j.doc_id, j.pos, j.tok, j.nxt,
         |  coalesce(e.elig, FALSE) AS elig
         |  FROM r${i}_j j LEFT JOIN r${i}_el e USING (doc_id, pos)),
         |r$i AS (SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
         |    AS pos,
         |  CASE WHEN elig THEN tok || '+' || nxt ELSE tok END AS tok
         |  FROM (SELECT *, coalesce(lag(elig) OVER (PARTITION BY doc_id
         |    ORDER BY pos), FALSE) AS consumed FROM r${i}_c)
         |  WHERE NOT consumed),
         |r${i}_stats AS (SELECT CAST($i AS BIGINT) AS round,
         |  t.a || ' ' || t.b AS pair, t.n,
         |  (SELECT count(*) FROM r${i}_el WHERE elig) AS n_merges,
         |  (SELECT count(DISTINCT tok) FROM r$i) AS vocab_size
         |  FROM r${i}_top t)""".stripMargin
    }.mkString(",\n", ",\n", "")
    base + blocks
  }

  // C83: knn_ivf's candidate CTEs (identical constants) + the greedy
  // MMR trajectory unrolled — cumulative selected set selu{r},
  // round-6 penalty cosines, score literals INTERPOLATED from the
  // same Scala doubles the engine multiplies by (0.7 / 1−0.7 differ
  // in the last ulp; both sides must use the same bits)
  private def mmrSql(k: Int, nCand: Int, lambda: Double): String = {
    val lam = lambda.toString
    val oml = (1.0 - lambda).toString
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |s AS (SELECT vec_id AS list_id, emb AS semb FROM e WHERE vec_id < 16),
         |d AS (SELECT e.vec_id, s.list_id,
         |  list_cosine_similarity(e.emb, s.semb) AS d FROM e, s),
         |asg AS (SELECT vec_id AS c_id, list_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY d DESC, list_id) AS rn FROM d) WHERE rn = 1),
         |probes AS (SELECT vec_id AS q_id, list_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY d DESC, list_id) AS rn FROM d WHERE vec_id < 10)
         |  WHERE rn <= 4),
         |cand0 AS (SELECT p.q_id, a.c_id FROM probes p
         |  JOIN asg a USING (list_id) WHERE p.q_id <> a.c_id),
         |sc AS (SELECT c.q_id, c.c_id,
         |  round(list_cosine_similarity(eq.emb, ec.emb), 3) AS rel
         |  FROM cand0 c JOIN e eq ON eq.vec_id = c.q_id
         |  JOIN e ec ON ec.vec_id = c.c_id),
         |cand AS (SELECT q_id, c_id, rel FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id
         |     ORDER BY rel DESC, c_id) AS rn FROM sc) WHERE rn <= $nCand),
         |sel1 AS (SELECT q_id, c_id, rel, rel AS score,
         |  CAST(1 AS BIGINT) AS mmr_rank FROM
         |  (SELECT *, row_number() OVER (PARTITION BY q_id
         |     ORDER BY rel DESC, c_id) AS rn FROM cand) WHERE rn = 1),
         |selu1 AS (SELECT * FROM sel1)""".stripMargin
    val blocks = (2 to k).map { r =>
      s"""pen$r AS (SELECT c.q_id, c.c_id, c.rel,
         |  max(round(list_cosine_similarity(ec.emb, es.emb), 6)) AS mp
         |  FROM cand c
         |  JOIN selu${r - 1} s ON s.q_id = c.q_id
         |  JOIN e ec ON ec.vec_id = c.c_id
         |  JOIN e es ON es.vec_id = s.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} x
         |    WHERE x.q_id = c.q_id AND x.c_id = c.c_id)
         |  GROUP BY 1, 2, 3),
         |sel$r AS (SELECT q_id, c_id, rel, score,
         |  CAST($r AS BIGINT) AS mmr_rank FROM
         |  (SELECT q_id, c_id, rel,
         |     round($lam * rel - $oml * mp, 6) AS score,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY round($lam * rel - $oml * mp, 6) DESC, c_id) AS rn
         |   FROM pen$r) WHERE rn = 1),
         |selu$r AS (SELECT * FROM selu${r - 1}
         |  UNION ALL SELECT * FROM sel$r)""".stripMargin
    }.mkString(",\n", ",\n", "")
    base + blocks +
      s"\nSELECT q_id, mmr_rank, c_id, rel, round(score, 6) AS score" +
      s" FROM selu$k"
  }

  // C84: the Gonzalez trajectory unrolled — running min-dist CTEs
  // st{r} fold in only the newly selected center, mirroring the
  // engine's per-round state exactly
  private def kCenterSql(k: Int): String = {
    val base =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |c1 AS (SELECT CAST(1 AS BIGINT) AS round, min(vec_id) AS vec_id,
        |  0.0 AS min_dist FROM e),
        |st1 AS (SELECT v.vec_id,
        |  1 - round(list_cosine_similarity(v.emb, ce.emb), 6) AS md
        |  FROM e v, (SELECT e.emb FROM c1 JOIN e USING (vec_id)) ce),
        |cu1 AS (SELECT * FROM c1)""".stripMargin
    val blocks = (2 to k).map { r =>
      val st =
        if (r < k)
          s""",
             |st$r AS (SELECT s.vec_id,
             |  least(s.md, 1 - round(list_cosine_similarity(v.emb, ce.emb), 6))
             |    AS md
             |  FROM st${r - 1} s JOIN e v ON v.vec_id = s.vec_id,
             |  (SELECT e.emb FROM cr$r c JOIN e ON e.vec_id = c.vec_id) ce)"""
            .stripMargin
        else ""
      s"""cr$r AS (SELECT CAST($r AS BIGINT) AS round, vec_id, md AS min_dist
         |  FROM (SELECT s.vec_id, s.md,
         |    row_number() OVER (ORDER BY s.md DESC, s.vec_id) AS rn
         |    FROM st${r - 1} s WHERE s.vec_id NOT IN
         |      (SELECT vec_id FROM cu${r - 1})) WHERE rn = 1),
         |cu$r AS (SELECT * FROM cu${r - 1} UNION ALL SELECT * FROM cr$r)"""
        .stripMargin + st
    }.mkString(",\n", ",\n", "")
    base + blocks +
      s"\nSELECT round, vec_id, round(min_dist, 6) AS min_dist FROM cu$k"
  }

  // C54/C55 shared oracle pieces: Lloyd's loop unrolled to the same
  // 2 update rounds as the Spark default — round-6 similarities
  // before each argmax (ulp-proof ordering), C30's exact ×2^20
  // integer quantization for the centroid means, list(… ORDER BY pos)
  // to rebuild the vectors
  private def kmAssignCte(name: String, cents: String) =
    s"""$name AS (SELECT vec_id, cluster, rsim FROM (
       |  SELECT e.vec_id, c.cluster,
       |    round(list_cosine_similarity(e.emb, c.cemb), 6) AS rsim,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_cosine_similarity(e.emb, c.cemb), 6)
       |        DESC, c.cluster) AS rn
       |  FROM e, $cents c) WHERE rn = 1)""".stripMargin

  private def kmUpdateCte(uname: String, cname: String, asg: String) =
    s"""$uname AS (SELECT cluster, pos,
       |  CAST(sum(CAST(floor(val * 1048576.0) AS DECIMAL(38,0))) AS DOUBLE)
       |    / (count(*) * 1048576.0) AS cval
       |  FROM (SELECT $asg.cluster, generate_subscripts(e.emb, 1) AS pos,
       |      unnest(e.emb) AS val
       |    FROM e JOIN $asg USING (vec_id)) GROUP BY 1, 2),
       |$cname AS (SELECT cluster, list(cval ORDER BY pos) AS cemb
       |  FROM $uname GROUP BY cluster)""".stripMargin

  // the training chain through the trained centroid table c2
  private val kmeansCteSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cluster, emb AS cemb FROM e WHERE vec_id < 8),
       |${kmAssignCte("a0", "c0")},
       |${kmUpdateCte("u1", "c1", "a0")},
       |${kmAssignCte("a1", "c1")},
       |${kmUpdateCte("u2", "c2", "a1")}""".stripMargin

  private val embKmeansSql: String =
    s"""$kmeansCteSql,
       |${kmAssignCte("a2", "c2")}
       |SELECT vec_id, cluster, round(rsim, 3) AS sim FROM a2""".stripMargin

  // C55: C15's probe plan over the TRAINED cells — corpus assignment
  // a2, per-query top-3 learned cells on the same round-6 ordering,
  // exact round-3 cosine inside probed cells only
  private val knnIvfTrainedSql: String =
    s"""$kmeansCteSql,
       |${kmAssignCte("a2", "c2")},
       |probes AS (SELECT q_id, cluster AS list_id FROM (
       |  SELECT e.vec_id AS q_id, c.cluster,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(list_cosine_similarity(e.emb, c.cemb), 6)
       |        DESC, c.cluster) AS rn
       |  FROM e, c2 c WHERE e.vec_id < 10) WHERE rn <= 3),
       |cand AS (SELECT p.q_id, a.vec_id AS c_id FROM probes p
       |  JOIN a2 a ON a.cluster = p.list_id WHERE p.q_id <> a.vec_id),
       |sc AS (SELECT c.q_id, c.c_id,
       |  round(list_cosine_similarity(eq.emb, ec.emb), 3) AS sim
       |  FROM cand c JOIN e eq ON eq.vec_id = c.q_id
       |  JOIN e ec ON ec.vec_id = c.c_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |  ORDER BY sim DESC, c_id) AS rank FROM sc)
       |SELECT q_id, rank, c_id, sim FROM r WHERE rank <= 5""".stripMargin

  // C32's full oracle, shared verbatim by lm_score and (as the
  // scoring CTE) ccnet_bucket — one source of truth for the bigram-LM
  // determinism protocol
  private val lmScoreSql =
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |bl AS (SELECT doc_id, CASE WHEN len(toks) >= 2
      |  THEN list_transform(generate_series(1, len(toks) - 1),
      |    i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))
      |  ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[]) END AS bgs FROM t),
      |bu AS (SELECT doc_id, unnest(bgs) AS p FROM bl),
      |bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bu),
      |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
      |uc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY 1),
      |terms AS (SELECT doc_id,
      |  CAST(-ln(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE))
      |    AS DECIMAL(38,18)) AS q
      |  FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1)),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(q) AS DOUBLE) / count(*) AS avg_nll
      |  FROM terms GROUP BY 1)
      |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
      |round(sc.avg_nll, 4) AS avg_nll,
      |round(exp(round(sc.avg_nll, 4)), 4) AS ppl
      |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  // C22's oracle, shared verbatim as C60's packing CTE
  private val packSequencesSql =
    """WITH t AS (SELECT source, doc_id,
      |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT source, doc_id, n_tokens,
      |  COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS cum_before FROM t)
      |SELECT source, CAST(cum_before // 256 AS BIGINT) AS bin_id,
      |CAST(row_number() OVER (PARTITION BY source, cum_before // 256
      |  ORDER BY doc_id) AS BIGINT) AS pos_in_bin,
      |doc_id, n_tokens
      |FROM c""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_grid_pipeline" -> gridPipelineSql,
    "pipeline_mart" -> martPipelineSql,
    // avg/sum of doubles mirror graft.operators.Exact: exact decimal
    // sum (order-independent), then one double op — a plain double
    // avg's last ulp differs between engines and flips round(.,4)
    "q_hourly_mart" -> hourlyMartSql,
    // D1 gate: AvailableNow drain with associative exact-decimal
    // state equals the batch mart, so A1's SQL is the oracle
    "stream_hourly_gate" -> hourlyMartSql,
    "q_incremental_mart" -> hourlyMartSql,
    "q_unit_convert" ->
      """SELECT event_id, event_type,
        |round(value - 273.15, 4) AS value_c,
        |round(value * 1000.0, 4) AS value_mm,
        |round(sqrt(value*value + user_id*user_id), 4) AS speed
        |FROM events""".stripMargin,
    "q_daily_mart" ->
      """SELECT event_type, date_trunc('day', ts) AS day,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value))
        |  AS value_mean,
        |round(min(value), 4) AS value_min,
        |round(max(value), 4) AS value_max,
        |CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE) AS value_sum,
        |count(*) AS n_obs
        |FROM events GROUP BY event_type, date_trunc('day', ts)""".stripMargin,
    "q_water_balance" ->
      """SELECT l_returnflag, date_trunc('day', l_shipdate) AS ship_day,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))), 2) AS DOUBLE) AS gross,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
        |  * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS disc,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)))
        |  - sum(CAST(l_extendedprice AS DECIMAL(12,4))
        |  * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS balance
        |FROM lineitem GROUP BY l_returnflag, date_trunc('day', l_shipdate)""".stripMargin,
    "q_upsert_dedup" ->
      """SELECT user_id, event_type, event_id AS last_event_id,
        |ts AS last_ts, round(value, 4) AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q_distinct_keys" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q_range_filter" ->
      """SELECT event_id, ts, user_id, event_type, round(value, 4) AS value
        |FROM events
        |WHERE event_type IN ('click', 'purchase')
        |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_type, ts, event_id""".stripMargin,
    "q_pivot_wide" ->
      """SELECT date_trunc('day', ts) AS day,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'click') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'click')) AS click,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'error') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'error')) AS error,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'purchase')) AS purchase,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'signup') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'signup')) AS signup,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'view') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'view')) AS view
        |FROM events GROUP BY date_trunc('day', ts)""".stripMargin,
    "q_kpi" ->
      """SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
        |count(DISTINCT event_type) AS n_types,
        |min(ts) AS min_ts, max(ts) AS max_ts FROM events""".stripMargin,
    "q_grid_unpivot" ->
      """WITH wide AS (SELECT date_trunc('day', ts) AS day,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'click') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'click')) AS click,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'error') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'error')) AS error,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'purchase')) AS purchase,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'signup') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'signup')) AS signup,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) FILTER (WHERE event_type = 'view') AS DOUBLE) / count(value) FILTER (WHERE event_type = 'view')) AS view
        |FROM events GROUP BY date_trunc('day', ts))
        |SELECT day, metric, avg_value FROM
        |(UNPIVOT wide ON click, error, purchase, signup, view
        | INTO NAME metric VALUE avg_value)""".stripMargin,
    "q_mart_pipeline" ->
      """SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        |(CAST(sum(CAST(value - 273.15 AS DECIMAL(20,6))) AS DOUBLE)
        |  / count(value - 273.15)) AS t_c_avg,
        |CAST(round(sum(CAST(value * 1000.0 AS DECIMAL(20,6))), 4) AS DOUBLE)
        |  AS precip_mm_sum,
        |(CAST(sum(CAST(sqrt(value*value + user_id*user_id)
        |  AS DECIMAL(20,6))) AS DOUBLE)
        |  / count(sqrt(value*value + user_id*user_id))) AS speed_avg
        |FROM events GROUP BY event_type, date_trunc('hour', ts)""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    // SCD2 history: island detection (change flag → running version),
    // then per-version interval bounds; valid_to = next valid_from
    "q_scd2" ->
      """WITH x AS (SELECT user_id, event_type, ts, event_id,
        |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS DISTINCT FROM event_type
        |    THEN 1 ELSE 0 END AS changed
        |  FROM events),
        |y AS (SELECT *, CAST(sum(changed) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |  AS version FROM x),
        |v AS (SELECT user_id, version,
        |  min(event_type) AS event_type,
        |  min(ts) AS valid_from, count(*) AS n_events
        |  FROM y GROUP BY user_id, version)
        |SELECT user_id, version, event_type, valid_from,
        |lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        |  AS valid_to,
        |n_events,
        |lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
        |  IS NULL AS is_current
        |FROM v""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_qty,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_base_price,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
        |  * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |  AS DOUBLE) AS sum_disc_price,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
        |  * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))
        |  * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(6,4)))), 2)
        |  AS DOUBLE) AS sum_charge,
        |(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / count(l_quantity)) AS avg_qty,
        |(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / count(l_extendedprice)) AS avg_price,
        |(CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) / count(l_discount)) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
        |  * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |  AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_volume" ->
      """SELECT n_name,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
        |  * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |  AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q_join_semi" ->
      """SELECT s_suppkey, s_name, s_nationkey FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)""".stripMargin,
    "q_join_anti" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_name, c_mktsegment FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000000, c_name || '#orderless',
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 40 = 0)
        |SELECT c_custkey, c_name, c_mktsegment FROM cust
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = cust.c_custkey)""".stripMargin,
    "q_join_outer" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id, ts,
        |round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
        |round(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
        |  AS prev_value
        |FROM events""".stripMargin,
    "q_window_topn" ->
      """SELECT p_brand, rn, p_partkey, p_name, p_retailprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
        |  ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part)
        |WHERE rn <= 3""".stripMargin,
    // same semantics as q_window_topn — the native bounded-heap
    // aggregate must reproduce the window plan's output exactly
    "q_topk_agg" ->
      """SELECT p_brand, rn, p_partkey, p_name, p_retailprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
        |  ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part)
        |WHERE rn <= 3""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |coalesce(l_linestatus, 'ALL') AS linestatus,
        |round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q_grouping_sets" ->
      """WITH t AS (SELECT *,
        |  substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS sm FROM lineitem)
        |SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |coalesce(l_linestatus, 'ALL') AS linestatus,
        |coalesce(sm, 'ALL') AS ship_month,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_qty,
        |count(*) AS n_rows
        |FROM t
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (sm), ())""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |coalesce(l_linestatus, 'ALL') AS linestatus,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(20,6))), 2) AS DOUBLE) AS sum_qty,
        |count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q_sessionize" ->
      """WITH x AS (SELECT user_id, ts, event_id, value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (SELECT *, CASE WHEN prev_ts IS NULL
        |  OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END
        |  AS new_session FROM x),
        |z AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |  AS session_id FROM y)
        |SELECT user_id, session_id,
        |min(ts) AS session_start, max(ts) AS session_end,
        |count(*) AS n_events,
        |CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE) AS sum_value
        |FROM z GROUP BY user_id, session_id""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |p.purchase_id AS last_purchase_id,
        |p.purchase_value AS last_purchase_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, event_id AS purchase_id,
        |     round(value, 4) AS purchase_value
        |   FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,
    // B30 = B12 through the custom Catalyst operator; same oracle
    "q_asof_native" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |p.purchase_id AS last_purchase_id,
        |p.purchase_value AS last_purchase_value
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts, event_id AS purchase_id,
        |     round(value, 4) AS purchase_value
        |   FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |count(*) AS n,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value))
        |  AS avg_value,
        |round(min(value), 4) AS min_value,
        |round(max(value), 4) AS max_value
        |FROM events GROUP BY CAST(floor(value / 50.0) AS BIGINT)""".stripMargin,
    "q_stats" ->
      """SELECT event_type,
        |round(stddev_samp(value), 4) AS value_stddev,
        |round(var_samp(value), 4) AS value_var,
        |(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value))
        |  AS value_mean,
        |count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_percentiles" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.25), 4) AS p25,
        |round(quantile_cont(value, 0.5), 4) AS p50,
        |round(quantile_cont(value, 0.75), 4) AS p75
        |FROM events GROUP BY event_type""".stripMargin,
    "q_ntile" ->
      """SELECT event_id, event_type, round(value, 4) AS value,
        |CAST(ntile(4) OVER (PARTITION BY event_type
        |  ORDER BY value, event_id) AS BIGINT) AS quartile
        |FROM events""".stripMargin,
    "q_corr" ->
      """SELECT event_type,
        |round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_value_user,
        |count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    // argmax join-back: window formulation is the SQL-clear mirror of
    // Spark's max(struct(price, -key)) single-pass aggregate
    "q_argmax" ->
      """SELECT p_brand, p_partkey, p_name, p_retailprice AS max_price
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
        |  ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part)
        |WHERE rn = 1""".stripMargin,
    // mode: ties break to the lexicographically LARGEST value — the
    // order max(struct(cnt, value)) induces
    "q_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id, event_type AS mode_event_type, cnt AS n_mode
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY cnt DESC, event_type DESC) AS rn FROM c)
        |WHERE rn = 1""".stripMargin,
    // regression co-moments in HUGEINT (mirrors Spark DECIMAL(38,0)):
    // integer sums are exact/associative; the closed form then runs
    // the identical sequence of double ops in both engines
    "q_regression" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(user_id AS HUGEINT)) AS sx,
        |  sum(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)) AS sy,
        |  sum(CAST(user_id AS HUGEINT)
        |    * CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)) AS sxy,
        |  sum(CAST(user_id AS HUGEINT) * CAST(user_id AS HUGEINT)) AS sxx
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n,
        |CAST(n * sxy - sx * sy AS DOUBLE)
        |  / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6 AS slope,
        |CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
        |  - (CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE) / 1e6)
        |    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept
        |FROM m""".stripMargin,
    "q_bloom_join" ->
      """SELECT o_orderpriority,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
        |  * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2)
        |  AS DOUBLE) AS revenue,
        |count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |GROUP BY o_orderpriority""".stripMargin,
    // RANGE frame on epoch millis (events carry sub-second precision;
    // identical timestamps share one frame → tie-independent)
    "q_range_window" ->
      """SELECT event_id, user_id, ts,
        |CAST(round(sum(CAST(value AS DECIMAL(20,6)))
        |  OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |    RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW), 4) AS DOUBLE)
        |  AS trailing_sum,
        |count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS trailing_n
        |FROM events""".stripMargin,
    // dyadic-weight EWMA over 8 lags: weights 2^-k and the quantized
    // values are exact decimals, so num/den are exact; ONE double
    // division at the end is bit-identical across engines
    "q_ewma" -> {
      val terms = (0 until 8).map { k =>
        val w = java.math.BigDecimal.ONE.divide(
          java.math.BigDecimal.valueOf(2).pow(k))
        val xk =
          if (k == 0) "CAST(value AS DECIMAL(20,6))"
          else s"lag(CAST(value AS DECIMAL(20,6)), $k) OVER w"
        (s"COALESCE($xk, 0) * CAST($w AS DECIMAL(10,8))",
          s"CASE WHEN $xk IS NOT NULL THEN CAST($w AS DECIMAL(10,8)) ELSE CAST(0 AS DECIMAL(10,8)) END")
      }
      s"""SELECT event_id, user_id, ts, round(value, 4) AS value,
         |CAST(${terms.map(_._1).mkString(" + ")} AS DOUBLE)
         |  / CAST(${terms.map(_._2).mkString(" + ")} AS DOUBLE) AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
    },
    "sample_per_group" ->
      """SELECT source, sample_rank, doc_id, lang FROM (
        |  SELECT source, doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296, doc_id)
        |    AS BIGINT) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 5""".stripMargin,
    // C75: Neyman allocation — exact integer co-moments per stratum,
    // weights n_h·S_h floor(·1e6)-quantized so the cross-strata total
    // is an exact integer sum (sqrt is IEEE-correctly-rounded in both
    // engines), Hamilton largest-remainder seats, C13's Knuth ring
    "sample_stratified" ->
      """WITH g AS (SELECT source AS stratum, count(*) AS n_h,
        |  sum(CAST(n_chars AS HUGEINT)) AS s1,
        |  sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS s2
        |  FROM documents GROUP BY 1),
        |w AS (SELECT stratum, n_h,
        |  CASE WHEN n_h > 1 AND n_h * s2 > s1 * s1
        |    THEN CAST(floor(CAST(n_h AS DOUBLE)
        |      * sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE)
        |        / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0)))
        |      * 1e6) AS BIGINT)
        |    ELSE 0 END AS wq
        |  FROM g),
        |t AS (SELECT *, sum(wq) OVER () AS wq_tot FROM w),
        |i AS (SELECT stratum, n_h,
        |  CAST(100 AS DOUBLE) * CAST(wq AS DOUBLE)
        |    / CAST(wq_tot AS DOUBLE) AS ideal FROM t),
        |b AS (SELECT stratum, n_h, ideal,
        |  CAST(floor(ideal) AS BIGINT) AS base,
        |  ideal - floor(ideal) AS rem FROM i),
        |r AS (SELECT *, 100 - sum(base) OVER () AS leftover,
        |  row_number() OVER (ORDER BY rem DESC, stratum) AS rr FROM b),
        |seats AS (SELECT stratum,
        |  CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS seats FROM r),
        |sel AS (SELECT d.source AS stratum, seats, doc_id, n_chars,
        |  CAST(row_number() OVER (PARTITION BY d.source
        |    ORDER BY (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296,
        |      doc_id) AS BIGINT) AS sample_rank
        |  FROM documents d JOIN seats ON d.source = seats.stratum)
        |SELECT stratum, seats, sample_rank, doc_id, n_chars
        |FROM sel WHERE sample_rank <= seats""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |round(len(list_intersect(a.toks, b.toks)) * 1.0
        |  / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
        |  AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0
        |  / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        |  >= 0.5""".stripMargin,
    // identical semantics to ngram_jaccard — the prefix filter is an
    // exact optimization, so the same oracle must hash-match
    "ngram_jaccard_prefix" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |round(len(list_intersect(a.toks, b.toks)) * 1.0
        |  / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4)
        |  AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0
        |  / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        |  >= 0.5""".stripMargin,
    "knn_brute" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
        |  FROM embeddings),
        |s AS (SELECT q_id, c_id,
        |  round(list_cosine_similarity(q_emb, c_emb), 3) AS sim
        |  FROM q, c WHERE q_id <> c_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY sim DESC, c_id) AS rank FROM s)
        |SELECT q_id, rank, c_id, sim FROM r WHERE rank <= 5""".stripMargin,
    // C65: the brute-force truth set's SIZE is the oracle's half; the
    // recall_ok predicate (LSH found >= floor of it) must hold
    "knn_lsh_recall" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
        |  FROM embeddings),
        |s AS (SELECT q_id, c_id,
        |  round(list_cosine_similarity(q_emb, c_emb), 3) AS sim
        |  FROM q, c WHERE q_id <> c_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY sim DESC, c_id) AS rank FROM s)
        |SELECT count(*) AS n_truth, TRUE AS recall_ok
        |FROM r WHERE rank <= 5""".stripMargin,
    // C78: same C65 recall-gate shape — the brute-force truth size is
    // the oracle's half; recall_ok asserts the IVF-PQ probe → ADC
    // shortlist → exact-refine pipeline recovered >= the floor of it
    "knn_ivfpq_recall" -> ivfPqRecallSql,
    // C87: the stored-index search shares the SAME brute-force truth
    // gate — a stale/corrupt persisted index fails CORRECTNESS here
    "knn_ivfpq_fold_recall" -> ivfPqRecallSql,
    // C15: deterministic seeds (vec_id < 16), argmax assignment with
    // the (d DESC, list_id ASC) tiebreak, top-4 probe cells per query,
    // exact cosine inside probed cells. Unrounded cosine ordering
    // between DISTINCT seeds is stable cross-engine (gaps are O(0.1),
    // ulp noise is 1e-15); the published sim uses the round-3 protocol
    "knn_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |s AS (SELECT vec_id AS list_id, emb AS semb FROM e WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, s.list_id,
        |  list_cosine_similarity(e.emb, s.semb) AS d FROM e, s),
        |asg AS (SELECT vec_id AS c_id, list_id FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY d DESC, list_id) AS rn FROM d) WHERE rn = 1),
        |probes AS (SELECT vec_id AS q_id, list_id FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY d DESC, list_id) AS rn FROM d WHERE vec_id < 10)
        |  WHERE rn <= 4),
        |cand AS (SELECT p.q_id, a.c_id FROM probes p
        |  JOIN asg a USING (list_id) WHERE p.q_id <> a.c_id),
        |sc AS (SELECT c.q_id, c.c_id,
        |  round(list_cosine_similarity(eq.emb, ec.emb), 3) AS sim
        |  FROM cand c JOIN e eq ON eq.vec_id = c.q_id
        |  JOIN e ec ON ec.vec_id = c.c_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY sim DESC, c_id) AS rank FROM sc)
        |SELECT q_id, rank, c_id, sim FROM r WHERE rank <= 5""".stripMargin,
    "emb_kmeans" -> embKmeansSql,
    "knn_ivf_trained" -> knnIvfTrainedSql,
    // C83/C84: unrolled greedy trajectories (see the generators)
    "mmr_rerank" -> mmrSql(5, 20, 0.7),
    "sample_kcenter" -> kCenterSql(8),
    // C85: both arms' oracle CTEs verbatim (bm25 at nQueries=5/k=10,
    // knn_ivf at vec_id<5/rn<=10) + the rank-arithmetic fusion
    "hybrid_rrf" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |cs AS (SELECT count(*) AS n_docs,
        |  CAST(sum(CAST(dl AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avgdl
        |  FROM dl),
        |dfv AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT doc_id AS q_id, tok FROM tf WHERE doc_id < 5),
        |terms AS (SELECT q.q_id, tf.doc_id,
        |  CAST(ln(1.0 + (CAST(cs.n_docs AS DOUBLE) - dfv.df + 0.5)
        |      / (CAST(dfv.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
        |    / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |       * (1.0 - CAST(0.75 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / cs.avgdl))
        |    AS DECIMAL(38,18)) AS term
        |  FROM tf JOIN q USING (tok) JOIN dfv USING (tok)
        |  JOIN dl ON dl.doc_id = tf.doc_id, cs
        |  WHERE tf.doc_id <> q.q_id),
        |lsc AS (SELECT q_id, doc_id, round(CAST(sum(term) AS DOUBLE), 4)
        |  AS score FROM terms GROUP BY 1, 2),
        |lexr AS (SELECT q_id, doc_id AS c_id,
        |  CAST(rank AS BIGINT) AS lex_rank FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, doc_id) AS rank FROM lsc)
        |  WHERE rank <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |s AS (SELECT vec_id AS list_id, emb AS semb FROM e WHERE vec_id < 16),
        |d AS (SELECT e.vec_id, s.list_id,
        |  list_cosine_similarity(e.emb, s.semb) AS d FROM e, s),
        |asg AS (SELECT vec_id AS c_id, list_id FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY d DESC, list_id) AS rn FROM d) WHERE rn = 1),
        |probes AS (SELECT vec_id AS q_id, list_id FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id
        |     ORDER BY d DESC, list_id) AS rn FROM d WHERE vec_id < 5)
        |  WHERE rn <= 4),
        |cand AS (SELECT p.q_id, a.c_id FROM probes p
        |  JOIN asg a USING (list_id) WHERE p.q_id <> a.c_id),
        |esc AS (SELECT c.q_id, c.c_id,
        |  round(list_cosine_similarity(eq.emb, ec.emb), 3) AS sim
        |  FROM cand c JOIN e eq ON eq.vec_id = c.q_id
        |  JOIN e ec ON ec.vec_id = c.c_id),
        |embr AS (SELECT q_id, c_id, CAST(rank AS BIGINT) AS emb_rank FROM
        |  (SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rank FROM esc) WHERE rank <= 10),
        |f AS (SELECT coalesce(l.q_id, m.q_id) AS q_id,
        |  coalesce(l.c_id, m.c_id) AS c_id,
        |  coalesce(l.lex_rank, 0) AS lex_rank,
        |  coalesce(m.emb_rank, 0) AS emb_rank,
        |  round((CASE WHEN l.lex_rank IS NULL THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(1.0 AS DOUBLE) / (60 + l.lex_rank) END)
        |   + (CASE WHEN m.emb_rank IS NULL THEN CAST(0 AS DOUBLE)
        |    ELSE CAST(1.0 AS DOUBLE) / (60 + m.emb_rank) END), 6) AS rrf
        |  FROM lexr l FULL OUTER JOIN embr m
        |    ON l.q_id = m.q_id AND l.c_id = m.c_id)
        |SELECT q_id, rank, c_id, lex_rank, emb_rank, rrf FROM
        |  (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |     ORDER BY rrf DESC, c_id) AS BIGINT) AS rank FROM f)
        |WHERE rank <= 10""".stripMargin,
    // C77: max round-3 cosine per corpus vector vs the eval side of
    // the mod-20 split over the twin-injected table; the flag
    // compares the ROUNDED value (same branch both engines)
    "decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings),
        |aug AS (SELECT * FROM e
        |  UNION ALL SELECT vec_id + 1000000001, emb FROM e
        |  WHERE vec_id % 40 = 0),
        |ev AS (SELECT vec_id AS e_id, emb AS e_emb FROM aug
        |  WHERE vec_id % 20 = 0),
        |c AS (SELECT vec_id, emb FROM aug WHERE vec_id % 20 <> 0),
        |s AS (SELECT c.vec_id, count(*) AS n_eval,
        |  max(round(list_cosine_similarity(c.emb, ev.e_emb), 3))
        |    AS max_sim
        |  FROM c, ev GROUP BY 1)
        |SELECT vec_id, n_eval, max_sim,
        |max_sim >= 0.95 AS contaminated FROM s""".stripMargin,
    // C57: C12's exact round-3 pair condition under a recursive
    // transitive closure (the C21 oracle pattern in embedding space)
    "dedup_semantic" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[])
        |  AS emb FROM embeddings),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.emb, b.emb), 3) >= 0.4),
        |ed AS (SELECT id1, id2 FROM p UNION ALL SELECT id2, id1 FROM p),
        |r AS (SELECT vec_id AS id, vec_id AS lbl FROM e
        |  UNION
        |  SELECT ed.id1, r.lbl FROM ed JOIN r ON r.id = ed.id2),
        |c AS (SELECT id AS vec_id, min(lbl) AS component FROM r
        |  GROUP BY id),
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.vec_id, c.component, s.n_members,
        |c.vec_id = c.component AS is_canonical
        |FROM c JOIN s USING (component)""".stripMargin,
    // C86: the ANN-path recall gate — truth = exact-closure duplicate
    // count over the twin-injected corpus (recursive CTE, hash-gated
    // n_truth); recall_ok is the in-row claim the oracle asserts TRUE
    // (the C66 pattern: the ANN side has no DuckDB twin, but whether
    // it detected >= floor of the SQL-expressible truth does)
    "dedup_semantic_ann_recall" ->
      """WITH RECURSIVE aug AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000001, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id % 40 = 0),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.emb, b.emb), 3) >= 0.4),
        |ed AS (SELECT id1, id2 FROM p UNION ALL SELECT id2, id1 FROM p),
        |r AS (SELECT vec_id AS id, vec_id AS lbl FROM aug
        |  UNION
        |  SELECT ed.id1, r.lbl FROM ed JOIN r ON r.id = ed.id2),
        |c AS (SELECT id AS vec_id, min(lbl) AS component FROM r
        |  GROUP BY id)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
        |FROM c WHERE vec_id <> component""".stripMargin,
    // C88a: the oracle recomputes the ENTIRE content hash from
    // doc_id + text alone — header lengths are the builders' closed
    // forms (png 33, jpeg 39), bodies are the text bytes (pure-ASCII
    // corpus: ord(char) = byte), block sums/counts in exact integers,
    // bits by the division-free cross-product rule, the 63-bit value
    // assembled by shifts (bit 63 deliberately unused — DuckDB
    // refuses 1::BIGINT << 63)
    "media_dhash" -> (mediaDHashCteSql +
      """
        |SELECT b.media_id, b.format, CAST(b.hdr + b.L AS BIGINT) AS n_bytes,
        |CAST(b.L AS BIGINT) AS body_len, h.dhash
        |FROM b JOIN h USING (media_id)""".stripMargin),
    // C88b: the banded Spark join is provably EXACT to hamming <= 3
    // (pigeonhole over 4 x 16-bit bands), so the oracle is the plain
    // O(n²) popcount scan — any banding bug desyncs the pair set and
    // fails the hash
    "media_dedup" -> (mediaDHashCteSql +
      """
        |SELECT a.media_id AS id1, b.media_id AS id2,
        |CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),
    // C79: the semantic fold shares C57's FULL-corpus closure oracle —
    // fold(90% clustered, 10% batch) must equal the one-shot
    // recluster, which is exactly what this re-proves every round
    "dedup_semantic_incremental" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[])
        |  AS emb FROM embeddings),
        |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.emb, b.emb), 3) >= 0.4),
        |ed AS (SELECT id1, id2 FROM p UNION ALL SELECT id2, id1 FROM p),
        |r AS (SELECT vec_id AS id, vec_id AS lbl FROM e
        |  UNION
        |  SELECT ed.id1, r.lbl FROM ed JOIN r ON r.id = ed.id2),
        |c AS (SELECT id AS vec_id, min(lbl) AS component FROM r
        |  GROUP BY id),
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.vec_id, c.component, s.n_members,
        |c.vec_id = c.component AS is_canonical
        |FROM c JOIN s USING (component)""".stripMargin,
    // C58: trained cells vs ground-truth labels; majority ties break
    // to the smallest label
    "cluster_purity" ->
      (s"""$kmeansCteSql,
          |${kmAssignCte("a2", "c2")},
          |j AS (SELECT a2.cluster, CAST(emb0.label AS BIGINT) AS label
          |  FROM a2 JOIN embeddings emb0 USING (vec_id)),
          |g AS (SELECT cluster, label, count(*) AS n FROM j GROUP BY 1, 2),
          |m AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_members
          |  FROM g GROUP BY 1),
          |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
          |  ORDER BY n DESC, label ASC) AS rn FROM g)
          |SELECT r.cluster, m.n_members, r.label AS major_label,
          |r.n AS n_major,
          |CAST(r.n AS DOUBLE) / CAST(m.n_members AS DOUBLE) AS purity
          |FROM r JOIN m USING (cluster) WHERE rn = 1""".stripMargin),
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |round(list_cosine_similarity(a.emb, b.emb), 3) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.emb, b.emb), 3) >= 0.4""".stripMargin,
    "lang_id" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(toks, t -> t IN ('the','a','and'))) AS score_en,
        |  len(list_filter(toks, t -> t IN ('der','und','das'))) AS score_de,
        |  len(list_filter(toks, t -> t IN ('el','y','que'))) AS score_es,
        |  len(list_filter(toks, t -> t IN ('le','et','la'))) AS score_fr
        |  FROM t),
        |g AS (SELECT *, greatest(score_en, score_de, score_es, score_fr) AS best
        |  FROM s)
        |SELECT doc_id,
        |CASE WHEN best = 0 THEN 'und'
        |     WHEN score_en = best THEN 'en'
        |     WHEN score_de = best THEN 'de'
        |     WHEN score_es = best THEN 'es'
        |     ELSE 'fr' END AS pred_lang,
        |CAST(best AS BIGINT) AS best_score
        |FROM g""".stripMargin,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |CAST(length(text) AS BIGINT) AS n_chars_calc,
        |CAST(len(toks) AS BIGINT) AS n_tokens,
        |round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
        |  * 1.0 / length(text), 4) AS punct_ratio,
        |round(len(list_filter(toks, t -> t IN ('the','a','and','of','to')))
        |  * 1.0 / len(toks), 4) AS stopword_ratio,
        |(len(toks) >= 5 AND len(toks) <= 500
        |  AND len(list_filter(toks, t -> t IN ('the','a','and','of','to')))
        |  * 1.0 / len(toks) <= 0.5) AS keep
        |FROM t""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |  x -> x <> '')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |  AS BIGINT) AS bpe_ish_tokens
        |FROM documents""".stripMargin,
    "sample_fraction" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296
        |  < CAST(0.25 * 4294967296 AS BIGINT)""".stripMargin,
    // C42: int8 symmetric quantization recomputed end-to-end; the
    // int8 payload is gated through its sum/L1 summaries and the
    // dequant-MSE bound column (B10 pattern: oracle emits TRUE, so
    // every Spark-side bound must hold)
    "emb_quantize" ->
      """WITH s AS (SELECT vec_id,
        |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
        |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
        |    / 127.0 AS scale
        |  FROM embeddings),
        |q AS (SELECT vec_id, scale,
        |  list_transform(x, v -> CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(least(greatest(round(v / scale), -127), 127) AS BIGINT)
        |    END) AS q
        |  FROM s)
        |SELECT vec_id, scale,
        |CAST(list_sum(q) AS BIGINT) AS q_sum,
        |CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1,
        |TRUE AS quant_ok
        |FROM q""".stripMargin,
    // C40: seeded md5 permutation key + 32-bit-hash shard
    // (md5_number_upper >> 32 is the C10-established mirror of the
    // Spark side's byte-swapped conv)
    "train_order" ->
      """SELECT doc_id, source,
        |md5('graft:' || CAST(doc_id AS VARCHAR)) AS ord,
        |CAST(md5_number_upper('graft:' || CAST(doc_id AS VARCHAR)) >> 32
        |  AS BIGINT) % 8 AS shard
        |FROM documents""".stripMargin,
    // C41: per-source ring thresholds; unlisted sources keep all rows.
    // floor() before the CAST: DuckDB CAST rounds to nearest while the
    // Spark side truncates via .toLong — for a fraction like 0.3 the
    // two thresholds would differ by 1 (ADVICE r3; same convention as
    // the train_split_grouped oracle)
    "sample_mix" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296
        |  < CASE source
        |      WHEN 'src0' THEN CAST(floor(0.5 * 4294967296) AS BIGINT)
        |      WHEN 'src1' THEN CAST(floor(0.2 * 4294967296) AS BIGINT)
        |      WHEN 'src2' THEN 0
        |      ELSE 4294967296 END""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(lower(text),
        |  '[0-9]{4,}', '<num>', 'g'), '\s+', ' ', 'g')) AS text_norm,
        |CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS BIGINT)
        |  AS n_num_runs
        |FROM documents""".stripMargin,
    "decontaminate" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(t) >= 3
        |  THEN list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |  ELSE [array_to_string(t, ' ')] END AS grams FROM toks),
        |d AS (SELECT doc_id, unnest(grams) AS gm FROM g),
        |b AS (SELECT DISTINCT gm FROM d WHERE doc_id % 20 = 0),
        |j AS (SELECT d.doc_id, count(*) AS n_grams, count(b.gm) AS n_hits
        |  FROM d LEFT JOIN b ON d.gm = b.gm GROUP BY d.doc_id)
        |SELECT doc_id, n_grams, CAST(n_hits AS BIGINT) AS n_hits,
        |round(n_hits * 1.0 / n_grams, 4) AS contamination,
        |(n_hits * 1.0 / n_grams <= 0.5) AS keep
        |FROM j""".stripMargin,
    // C76: batch novelty — string grams (the C48/C62 collision-free
    // oracle convention for Spark's 8-byte gram-hash join)
    "ngram_novelty" ->
      """WITH bt AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        |    AS t FROM documents WHERE doc_id % 10 = 0),
        |bgr AS (SELECT source, CASE WHEN len(t) >= 3
        |  THEN list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |  ELSE [array_to_string(t, ' ')] END AS grams FROM bt),
        |bg AS (SELECT DISTINCT source, gm FROM
        |  (SELECT source, unnest(grams) AS gm FROM bgr)),
        |ct AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        |    AS t FROM documents WHERE doc_id % 10 <> 0),
        |cgr AS (SELECT CASE WHEN len(t) >= 3
        |  THEN list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |  ELSE [array_to_string(t, ' ')] END AS grams FROM ct),
        |cg AS (SELECT DISTINCT gm FROM
        |  (SELECT unnest(grams) AS gm FROM cgr)),
        |tot AS (SELECT source, count(*) AS n_grams FROM bg GROUP BY 1),
        |nov AS (SELECT source, count(*) AS n_new
        |  FROM bg ANTI JOIN cg USING (gm) GROUP BY 1)
        |SELECT tot.source, n_grams, coalesce(n_new, 0) AS n_new,
        |round(coalesce(n_new, 0) * 1.0 / n_grams, 6) AS novelty
        |FROM tot LEFT JOIN nov ON tot.source = nov.source""".stripMargin,
    // C74: DSIR — hashed-unigram importance ratios; bucket via the
    // md5_number_upper mirror, per-bucket log ratio floor(·1e9)-
    // quantized (C69's protocol), integer per-doc sum, target_like
    // compared on the INTEGER sum so the boolean has no knife-edge
    "dsir_weights" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |  string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |tb AS (SELECT doc_id,
        |  CAST(md5_number_upper(tok) >> 32 AS BIGINT) % 4096 AS bucket
        |  FROM tok),
        |raw AS (SELECT bucket, count(*) AS c_r FROM tb GROUP BY 1),
        |tgt AS (SELECT bucket, count(*) AS c_t FROM tb
        |  WHERE doc_id % 20 = 0 GROUP BY 1),
        |nr AS (SELECT count(*) AS n_r FROM tb),
        |nt AS (SELECT count(*) AS n_t FROM tb WHERE doc_id % 20 = 0),
        |model AS (SELECT coalesce(raw.bucket, tgt.bucket) AS bucket,
        |  CAST(floor((ln((coalesce(c_t, 0) + 1.0) / (n_t + 4096.0))
        |    - ln((coalesce(c_r, 0) + 1.0) / (n_r + 4096.0))) * 1e9)
        |    AS DECIMAL(38,0)) AS term_q
        |  FROM raw FULL JOIN tgt ON raw.bucket = tgt.bucket
        |  CROSS JOIN nr CROSS JOIN nt),
        |db AS (SELECT doc_id, bucket, count(*) AS c_db
        |  FROM tb GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(sum(c_db) AS BIGINT) AS n_toks,
        |  sum(CAST(c_db AS DECIMAL(38,0)) * term_q) AS lwq
        |  FROM db JOIN model USING (bucket) GROUP BY 1)
        |SELECT d.doc_id, d.source, n_toks,
        |round(CAST(lwq AS DOUBLE) / 1e9, 6) AS log_weight,
        |round(CAST(lwq AS DOUBLE) / 1e9 / CAST(n_toks AS DOUBLE), 6)
        |  AS lw_per_tok,
        |lwq > 0 AS target_like
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // C63: composite of the C8/C19/C61 keeps with the fixed-precedence
    // first-failing-reason — each rule's oracle fragment reused
    "quality_report" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        |    AS toks, text FROM documents),
        |q8 AS (SELECT doc_id,
        |  (len(toks) >= 5 AND len(toks) <= 500
        |   AND CAST(len(list_filter(toks, x -> list_contains(
        |     ['the','a','and','of','to'], x))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE) <= 0.5) AS keep_quality FROM t),
        |b AS (SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams FROM t),
        |x AS (SELECT doc_id, unnest(bigrams) AS bg FROM b),
        |gb AS (SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
        |  FROM (SELECT doc_id, bg, count(*) AS c FROM x GROUP BY doc_id, bg)
        |  GROUP BY doc_id),
        |q19 AS (SELECT b.doc_id,
        |  ((b.n_tokens - b.n_distinct) * 2 <= b.n_tokens
        |   AND COALESCE(gb.top_bigram_n, 0) * 10 <= COALESCE(gb.n_bigrams, 0))
        |  AS keep_repetition FROM b LEFT JOIN gb USING (doc_id)),
        |q61 AS (SELECT doc_id,
        |  (len(toks) >= 30 AND len(toks) <= 100000
        |   AND 3 * len(toks)
        |     <= coalesce(list_sum(list_transform(toks, x -> strlen(x))), 0)
        |   AND coalesce(list_sum(list_transform(toks, x -> strlen(x))), 0)
        |     <= 10 * len(toks)
        |   AND 10 * len(regexp_extract_all(text, '#|\.\.\.')) <= len(toks)
        |   AND 5 * len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        |     >= 4 * len(toks)
        |   AND (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
        |     + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END) >= 2)
        |  AS keep_gopher FROM t)
        |SELECT q8.doc_id, q8.keep_quality, q19.keep_repetition,
        |q61.keep_gopher,
        |(q8.keep_quality AND q19.keep_repetition AND q61.keep_gopher) AS keep,
        |CASE WHEN NOT q8.keep_quality THEN 'quality'
        |     WHEN NOT q19.keep_repetition THEN 'repetition'
        |     WHEN NOT q61.keep_gopher THEN 'gopher'
        |     ELSE 'pass' END AS drop_reason
        |FROM q8 JOIN q19 USING (doc_id) JOIN q61 USING (doc_id)""".stripMargin,
    // C64: exact distinct-trigram Jaccard pairs (gram strings — the
    // C16 collision argument) with the oracle asserting the 64-perm
    // estimator's ±0.35 band held on every pair
    "minhash_accuracy" ->
      """WITH t0 AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        |    AS toks FROM documents),
        |t AS (SELECT doc_id, source, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [array_to_string(toks, ' ')] END) AS g FROM t0)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |round(len(list_intersect(a.g, b.g)) * 1.0
        |  / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 4)
        |  AS jaccard, TRUE AS est_ok
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) * 1.0
        |  / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3""".stripMargin,
    // C62: gram strings in the oracle (hash-free semantics, identical
    // counts — C16's argument), benchmark split mirrored
    "ngram_coverage" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(t) >= 3
        |  THEN list_transform(generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |  ELSE [array_to_string(t, ' ')] END AS grams FROM toks),
        |d AS (SELECT doc_id, unnest(grams) AS gm FROM g),
        |bd AS (SELECT DISTINCT doc_id, gm FROM d WHERE doc_id % 20 = 0),
        |c AS (SELECT DISTINCT gm FROM d WHERE doc_id % 20 <> 0),
        |j AS (SELECT bd.doc_id, count(*) AS n_grams, count(c.gm) AS n_covered
        |  FROM bd LEFT JOIN c ON bd.gm = c.gm GROUP BY bd.doc_id)
        |SELECT doc_id, n_grams, CAST(n_covered AS BIGINT) AS n_covered,
        |round(n_covered * 1.0 / n_grams, 4) AS coverage
        |FROM j""".stripMargin,
    "vocab_topk" ->
      """WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents) GROUP BY doc_id, tok),
        |v AS (SELECT tok, sum(tf) AS cf, count(*) AS df FROM tf GROUP BY tok),
        |r AS (SELECT tok, CAST(cf AS BIGINT) AS cf, CAST(df AS BIGINT) AS df,
        |  CAST(row_number() OVER (ORDER BY cf DESC, tok) AS BIGINT) AS rank
        |  FROM v)
        |SELECT rank, tok, cf, df FROM r WHERE rank <= 100""".stripMargin,
    // integer sort key (tf desc, df asc, tok) — the tf-idf ranking
    // without float log(), which libm computes differently per engine
    "keywords" ->
      """WITH tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents) GROUP BY doc_id, tok),
        |d AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok)
        |SELECT doc_id, kw_rank, tok, tf, df FROM (
        |  SELECT tf.doc_id, tf.tok, tf.tf, d.df,
        |  CAST(row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf DESC, d.df ASC, tf.tok) AS BIGINT) AS kw_rank
        |  FROM tf JOIN d USING (tok))
        |WHERE kw_rank <= 3""".stripMargin,
    // greedy contiguous packing as a prefix sum — all integer (DIV,
    // counts), so bins are identical across engines/partitionings
    "pack_sequences" -> packSequencesSql,
    // C60: two coarsening rollups over C22's shared CTE; fill ratio
    // is one division of exact integers
    "pack_efficiency" ->
      (s"""WITH packed AS ($packSequencesSql),
          |bins AS (SELECT source, bin_id,
          |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
          |  count(*) AS n_docs
          |  FROM packed GROUP BY 1, 2)
          |SELECT source, count(*) AS n_bins,
          |CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
          |CAST(sum(n_docs) AS BIGINT) AS n_docs,
          |count(CASE WHEN bin_tokens > 256 THEN 1 END) AS n_overfull,
          |CAST(sum(bin_tokens) AS DOUBLE)
          |  / (CAST(count(*) AS DOUBLE) * 256.0) AS fill_ratio
          |FROM bins GROUP BY source""".stripMargin),
    // C59: ceil via integer (b + t - 1) // t; sources without a
    // budget run one epoch
    "mix_schedule" ->
      """WITH dt AS (SELECT doc_id, source,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |st AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM dt GROUP BY 1),
        |e AS (SELECT dt.doc_id, dt.source, dt.n_tokens,
        |  CAST(CASE
        |    WHEN dt.source = 'src0'
        |      THEN (2000 + st.src_tokens - 1) // st.src_tokens
        |    WHEN dt.source = 'src1'
        |      THEN (9000 + st.src_tokens - 1) // st.src_tokens
        |    ELSE 1 END AS BIGINT) AS epochs
        |  FROM dt JOIN st USING (source))
        |SELECT doc_id, source, n_tokens, epochs,
        |n_tokens * epochs AS sched_tokens FROM e""".stripMargin,
    // integer-domain repetition stats; keep rule by integer
    // cross-multiplication (dup ratio ≤ 0.5, top-bigram share ≤ 0.1)
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams FROM t),
        |x AS (SELECT doc_id, unnest(bigrams) AS bg FROM b),
        |g AS (SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
        |  FROM (SELECT doc_id, bg, count(*) AS c FROM x GROUP BY doc_id, bg)
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |CAST(b.n_distinct AS BIGINT) AS n_distinct,
        |CAST(COALESCE(g.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |CAST(COALESCE(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |((b.n_tokens - b.n_distinct) * 2 <= b.n_tokens
        |  AND COALESCE(g.top_bigram_n, 0) * 10 <= COALESCE(g.n_bigrams, 0))
        |  AS keep
        |FROM b LEFT JOIN g USING (doc_id)""".stripMargin,
    // per-source threshold floor(sqrt(n_min/n_s)·2^32) uses only
    // correctly-rounded IEEE ops on integers — bit-identical across
    // engines; priority is the same HUGEINT Knuth ring as C18
    "sample_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n_source
        |  FROM documents GROUP BY source),
        |f AS (SELECT source, n_source,
        |  CAST(floor(sqrt(CAST((SELECT min(n_source) FROM c) AS DOUBLE)
        |    / CAST(n_source AS DOUBLE)) * 4294967296) AS BIGINT) AS threshold
        |  FROM c)
        |SELECT d.doc_id, d.source, d.lang, f.n_source, f.threshold
        |FROM documents d JOIN f USING (source)
        |WHERE (CAST(d.doc_id AS HUGEINT) * 2654435761) % 4294967296
        |  < f.threshold""".stripMargin,
    // transitive closure by recursive CTE mirrors Spark's min-label
    // propagation exactly: both compute min reachable doc_id
    // A27: clim_mean is the Exact.avgD quotient; anomaly is one
    // double subtraction of two bit-identical doubles — unrounded
    "q_climatology" ->
      """WITH clim AS (SELECT event_type, extract(hour FROM ts) AS hod,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS clim_mean
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, extract(hour FROM e.ts) AS hod,
        |e.value, c.clim_mean, e.value - c.clim_mean AS anomaly
        |FROM events e JOIN clim c ON e.event_type = c.event_type
        |  AND extract(hour FROM e.ts) = c.hod""".stripMargin,
    // A28: ordered-frame running double sum — same sequential
    // accumulation both engines (q_window_running's proven pattern)
    "q_gdd" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS t_mean
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, t_mean,
        |greatest(0.0, t_mean - 50.0) AS gdd,
        |sum(greatest(0.0, t_mean - 50.0)) OVER (PARTITION BY event_type
        |  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS gdd_cum
        |FROM daily""".stripMargin,
    // A29: counts compare bit-identical daily means against fixed
    // thresholds — exact cross-engine
    "q_threshold_days" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS t_mean
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, date_trunc('month', day) AS month,
        |count(*) AS n_days,
        |count(CASE WHEN t_mean > 80.0 THEN 1 END) AS hot_days,
        |count(CASE WHEN t_mean < 20.0 THEN 1 END) AS cold_days
        |FROM daily GROUP BY 1, 2""".stripMargin,
    // A30: gaps-and-islands on daily means — epoch-day minus
    // row_number is constant per consecutive run; struct-max ties to
    // the latest start, mirrored by ORDER BY len DESC, start DESC
    "q_heat_spell" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS t_mean
        |  FROM events GROUP BY 1, 2),
        |hot AS (SELECT event_type, day,
        |  datediff('day', DATE '2024-01-01', day)
        |    - row_number() OVER (PARTITION BY event_type ORDER BY day) AS grp
        |  FROM daily WHERE t_mean > 50.0),
        |islands AS (SELECT event_type, grp, count(*) AS len,
        |  min(day) AS spell_start FROM hot GROUP BY 1, 2)
        |SELECT event_type, len AS max_spell_days, spell_start, n_spells
        |FROM (SELECT event_type, len, spell_start,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY len DESC, spell_start DESC) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n_spells
        |  FROM islands)
        |WHERE rn = 1""".stripMargin,
    // A39: CDD dry-spell duration — daily exact-decimal precip TOTALS
    // (sum semantics, round-4 in decimal); dry = strictly below the
    // key's own round-4 median total (the below-normal-run
    // dichotomy — non-vacuous at any volume), then A30's islands
    "q_dry_spell" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
        |    AS p_total
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type,
        |  round(quantile_cont(p_total, 0.5), 4) AS med
        |  FROM daily GROUP BY 1),
        |dry AS (SELECT daily.event_type, day,
        |  datediff('day', DATE '2024-01-01', day)
        |    - row_number() OVER (PARTITION BY daily.event_type
        |      ORDER BY day) AS grp
        |  FROM daily JOIN med USING (event_type)
        |  WHERE p_total < med * 1.0),
        |islands AS (SELECT event_type, grp, count(*) AS len,
        |  min(day) AS spell_start FROM dry GROUP BY 1, 2)
        |SELECT event_type, len AS max_dry_days, spell_start, n_spells
        |FROM (SELECT event_type, len, spell_start,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY len DESC, spell_start DESC) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n_spells
        |  FROM islands)
        |WHERE rn = 1""".stripMargin,
    // A41: SDII — wet-day totals floor(×1e6)-quantized (the derived
    // round-4 double's DECIMAL cast rounds in Spark but truncates in
    // DuckDB — ADVICE r9), integer sum, fixed double chain unrounded
    "q_sdii" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
        |    AS p_total
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type,
        |  round(quantile_cont(p_total, 0.5), 4) AS med
        |  FROM daily GROUP BY 1),
        |wet AS (SELECT daily.event_type, p_total
        |  FROM daily JOIN med USING (event_type)
        |  WHERE p_total >= med * 1.0)
        |SELECT event_type, count(*) AS n_wet_days,
        |CAST(sum(CAST(floor(p_total * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
        |  / 1e6 / count(*) AS sdii
        |FROM wet GROUP BY 1""".stripMargin,
    // A42: Rx5day — daily round-4 totals floor(×1e6)-quantized, a
    // calendar RANGE window (4 preceding days) summing integers, one
    // struct-max with the latest-end tiebreak, ÷1e6 publish
    "q_rx5day" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
        |    AS p_total,
        |  datediff('day', DATE '2024-01-01', date_trunc('day', ts)) AS x
        |  FROM events GROUP BY 1, 2),
        |win AS (SELECT event_type, day,
        |  sum(CAST(floor(p_total * 1e6) AS DECIMAL(38,0)))
        |    OVER (PARTITION BY event_type ORDER BY x
        |      RANGE BETWEEN 4 PRECEDING AND CURRENT ROW) AS tot5q
        |  FROM daily)
        |SELECT event_type, CAST(tot5q AS DOUBLE) / 1e6 AS rx5day,
        |day AS window_end
        |FROM (SELECT event_type, tot5q, day,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY tot5q DESC, day DESC) AS rn FROM win)
        |WHERE rn = 1""".stripMargin,
    // A44: R95pTOT — very-wet = daily total strictly above the key's
    // own round-4 p95; both sums on floor(×1e6) integers, one double
    // division; zero-total keys null
    "q_r95ptot" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
        |    AS p_total
        |  FROM events GROUP BY 1, 2),
        |thr AS (SELECT event_type,
        |  round(quantile_cont(p_total, 0.95), 4) AS thr
        |  FROM daily GROUP BY 1),
        |q AS (SELECT daily.event_type,
        |  CAST(floor(p_total * 1e6) AS DECIMAL(38,0)) AS pq,
        |  p_total > thr AS vw
        |  FROM daily JOIN thr USING (event_type)),
        |g AS (SELECT event_type,
        |  count(CASE WHEN vw THEN 1 END) AS n_very_wet,
        |  sum(CASE WHEN vw THEN pq END) AS wet_q, sum(pq) AS tot_q
        |  FROM q GROUP BY 1)
        |SELECT event_type, n_very_wet,
        |CASE WHEN tot_q <> 0 THEN
        |  CAST(coalesce(wet_q, 0) AS DOUBLE) / CAST(tot_q AS DOUBLE)
        |END AS r95ptot
        |FROM g""".stripMargin,
    // A43: WSDI — warm = daily mean strictly above the key's own
    // round-4 pct-percentile, A30's islands, runs >= minRun summed;
    // keys with no qualifying run yield no row
    "q_wsdi" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS t_mean
        |  FROM events GROUP BY 1, 2),
        |thr AS (SELECT event_type,
        |  round(quantile_cont(t_mean, 0.5), 4) AS thr
        |  FROM daily GROUP BY 1),
        |hot AS (SELECT daily.event_type, day,
        |  datediff('day', DATE '2024-01-01', day)
        |    - row_number() OVER (PARTITION BY daily.event_type
        |      ORDER BY day) AS grp
        |  FROM daily JOIN thr USING (event_type)
        |  WHERE t_mean > thr),
        |islands AS (SELECT event_type, grp, count(*) AS len,
        |  min(day) AS spell_start FROM hot GROUP BY 1, 2),
        |q AS (SELECT * FROM islands WHERE len >= 3),
        |agg AS (SELECT event_type, CAST(sum(len) AS BIGINT) AS wsdi_days,
        |  count(*) AS n_spells FROM q GROUP BY 1),
        |top AS (SELECT event_type, len AS longest_spell,
        |  spell_start AS longest_start FROM
        |  (SELECT event_type, len, spell_start,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY len DESC, spell_start DESC) AS rn FROM q)
        |  WHERE rn = 1)
        |SELECT agg.event_type, wsdi_days, n_spells, longest_spell,
        |longest_start
        |FROM agg JOIN top USING (event_type)""".stripMargin,
    // A40: chill hours — HOURLY exact-decimal means, month rollup
    // counting hours strictly below thr
    "q_chill_hours" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS t_mean
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, date_trunc('month', hour) AS month,
        |count(*) AS n_hours,
        |count(CASE WHEN t_mean < 45.0 THEN 1 END) AS chill_hours
        |FROM hourly GROUP BY 1, 2""".stripMargin,
    // A31: warm days = daily exact-decimal means above thr; min/max/
    // count per key-year; keys with no warm days yield no row
    "q_growing_season" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS t_mean
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(year(day) AS BIGINT) AS yr,
        |min(day) AS season_start, max(day) AS season_end,
        |count(*) AS warm_days,
        |CAST(datediff('day', min(day), max(day)) + 1 AS BIGINT)
        |  AS season_len
        |FROM daily WHERE t_mean > 50.0 GROUP BY 1, 2""".stripMargin,
    // A32: Tetens VPD over the connector's hourly mart (shared hc
    // CTE); exp sees bit-identical inputs, round-4 absorbs the libm
    // ulp, and vpd subtracts the two ROUNDED pressures
    "q_vpd" -> (gridHcCteSql + "\n" +
      """SELECT region, ts, t2m, d2m,
        |round(0.6108 * exp(17.27 * t2m / (t2m + 237.3)), 4) AS es_kpa,
        |round(0.6108 * exp(17.27 * d2m / (d2m + 237.3)), 4) AS ea_kpa,
        |round(round(0.6108 * exp(17.27 * t2m / (t2m + 237.3)), 4)
        |  - round(0.6108 * exp(17.27 * d2m / (d2m + 237.3)), 4), 4)
        |  AS vpd_kpa
        |FROM hc""".stripMargin),
    // A33: Hargreaves ET0; Ra's sin is rounded to 6 before use so the
    // only non-exactly-rounded op can't leak a ulp into the products
    "q_et0" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS t_mean,
        |  min(value) AS t_min, max(value) AS t_max
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, t_mean, t_min, t_max,
        |round(25.0 + 12.0 * sin(2.0 * pi()
        |  * (CAST(dayofyear(day) AS DOUBLE) - 81.0) / 365.25), 6) AS ra,
        |round(0.0023 * (t_mean + 17.8)
        |  * sqrt(greatest(t_max - t_min, 0.0))
        |  * round(25.0 + 12.0 * sin(2.0 * pi()
        |    * (CAST(dayofyear(day) AS DOUBLE) - 81.0) / 365.25), 6), 4)
        |  AS et0
        |FROM daily""".stripMargin,
    // A35: STL-lite decomposition — the moving mean sums ×1e6
    // HUGEINT quantized values (exact in any accumulation order; a
    // double window sum diverges by ulps cross-engine, the B41
    // lesson), seasonal is the exact-decimal mean of the detrended
    // series per hour-of-day, residual is pure subtraction
    "q_seasonal" ->
      (s"""WITH hourly AS ($hourlyMartSql),
          |tr AS (SELECT event_type, hour_ts, avg_value,
          |  CAST(sum(CAST(floor(avg_value * 1000000.0)
          |      AS HUGEINT)) OVER w AS DOUBLE)
          |    / (CAST(count(*) OVER w AS DOUBLE) * 1000000.0) AS trend
          |  FROM hourly WINDOW w AS (PARTITION BY event_type
          |    ORDER BY hour_ts
          |    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
          |dt AS (SELECT *, avg_value - trend AS detrended FROM tr),
          |se AS (SELECT event_type, hour(hour_ts) AS hod,
          |  CAST(sum(CAST(floor(detrended * 1000000.0) AS HUGEINT)) AS DOUBLE)
          |    / (CAST(count(*) AS DOUBLE) * 1000000.0) AS seasonal
          |  FROM dt GROUP BY 1, 2)
          |SELECT dt.event_type, dt.hour_ts, dt.avg_value, dt.trend,
          |se.seasonal,
          |dt.avg_value - dt.trend - se.seasonal AS resid
          |FROM dt JOIN se ON dt.event_type = se.event_type
          |  AND hour(dt.hour_ts) = se.hod""".stripMargin),
    // A38: seasonal strength over the A35 decomposition — resid and
    // detrended floor-quantized BEFORE squaring (derived doubles),
    // exact HUGEINT co-moment variances, one division + max at the end
    "q_seasonal_strength" ->
      (s"""WITH hourly AS ($hourlyMartSql),
          |tr AS (SELECT event_type, hour_ts, avg_value,
          |  CAST(sum(CAST(floor(avg_value * 1000000.0)
          |      AS HUGEINT)) OVER w AS DOUBLE)
          |    / (CAST(count(*) OVER w AS DOUBLE) * 1000000.0) AS trend
          |  FROM hourly WINDOW w AS (PARTITION BY event_type
          |    ORDER BY hour_ts
          |    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
          |dt AS (SELECT *, avg_value - trend AS detrended FROM tr),
          |se AS (SELECT event_type, hour(hour_ts) AS hod,
          |  CAST(sum(CAST(floor(detrended * 1000000.0) AS HUGEINT)) AS DOUBLE)
          |    / (CAST(count(*) AS DOUBLE) * 1000000.0) AS seasonal
          |  FROM dt GROUP BY 1, 2),
          |res AS (SELECT dt.event_type, dt.detrended,
          |  dt.avg_value - dt.trend - se.seasonal AS resid
          |  FROM dt JOIN se ON dt.event_type = se.event_type
          |    AND hour(dt.hour_ts) = se.hod),
          |q AS (SELECT event_type,
          |  CAST(floor(resid * 1000000.0) AS HUGEINT) AS rq,
          |  CAST(floor(detrended * 1000000.0) AS HUGEINT) AS dq FROM res),
          |s AS (SELECT event_type, count(*) AS n_hours,
          |  sum(rq) AS r1, sum(rq * rq) AS r2,
          |  sum(dq) AS d1, sum(dq * dq) AS d2 FROM q GROUP BY 1)
          |SELECT event_type, n_hours,
          |CASE WHEN CAST(n_hours * d2 - d1 * d1 AS DOUBLE) > 0.0
          |  THEN round(greatest(0.0,
          |    1.0 - CAST(n_hours * r2 - r1 * r1 AS DOUBLE)
          |    / CAST(n_hours * d2 - d1 * d1 AS DOUBLE)), 6) END
          |  AS seasonal_strength
          |FROM s""".stripMargin),
    // A34: daily-total standardized anomaly — B28's HUGEINT co-moment
    // protocol applied one coarsening level up (round-4 decimal daily
    // sums, ×1e6 stays integral)
    "q_spi" ->
      """WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
        |    AS d_total
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(CAST(d_total AS DECIMAL(20,6)) * 1000000 AS HUGEINT)) AS s1,
        |  sum(CAST(CAST(d_total AS DECIMAL(20,6)) * 1000000 AS HUGEINT)
        |    * CAST(CAST(d_total AS DECIMAL(20,6)) * 1000000 AS HUGEINT)) AS s2
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, d.day, d.d_total,
        |CAST(m.n * CAST(CAST(d.d_total AS DECIMAL(20,6)) * 1000000 AS HUGEINT)
        |    - m.s1 AS DOUBLE)
        |  / (CAST(m.n AS DOUBLE)
        |     * sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
        |            / CAST(m.n * (m.n - 1) AS DOUBLE))) AS spi
        |FROM d JOIN m ON d.event_type = m.event_type""".stripMargin,
    // C48: grams grouped as strings (collision-free oracle
    // semantics); per-doc span counts via semi join back
    "dedup_substring" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS t FROM documents),
        |grams AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)),
        |shared AS (SELECT g FROM grams GROUP BY g
        |  HAVING count(DISTINCT doc_id) > 1),
        |dup AS (SELECT doc_id, count(*) AS dup_grams FROM grams
        |  WHERE g IN (SELECT g FROM shared) GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM grams
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(tot.n_grams, 0) AS n_grams,
        |coalesce(dup.dup_grams, 0) AS dup_grams,
        |CASE WHEN coalesce(tot.n_grams, 0) > 0
        |  THEN CAST(coalesce(dup.dup_grams, 0) AS DOUBLE) / tot.n_grams
        |  ELSE 0.0 END AS dup_ratio
        |FROM documents d LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN dup ON d.doc_id = dup.doc_id""".stripMargin,
    // C48 hashed-key variant: the ORACLE is the string-gram SQL — on
    // a collision-free domain the (xxhash64, len) keying must produce
    // byte-identical doc-level counts, so equality to the string form
    // is exactly what the gate proves
    "dedup_substring_hashed" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS t FROM documents),
        |grams AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
        |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)),
        |shared AS (SELECT g FROM grams GROUP BY g
        |  HAVING count(DISTINCT doc_id) > 1),
        |dup AS (SELECT doc_id, count(*) AS dup_grams FROM grams
        |  WHERE g IN (SELECT g FROM shared) GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM grams
        |  GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(tot.n_grams, 0) AS n_grams,
        |coalesce(dup.dup_grams, 0) AS dup_grams,
        |CASE WHEN coalesce(tot.n_grams, 0) > 0
        |  THEN CAST(coalesce(dup.dup_grams, 0) AS DOUBLE) / tot.n_grams
        |  ELSE 0.0 END AS dup_ratio
        |FROM documents d LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN dup ON d.doc_id = dup.doc_id""".stripMargin,
    // C49: min-doc_id span ownership; covered = union of non-owner
    // span positions; reassembly = position-ordered string_agg
    "dedup_substring_rewrite" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS t FROM documents),
        |tokpos AS (SELECT doc_id, i AS pos, t[i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |grams AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g
        |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)),
        |owner AS (SELECT g, min(doc_id) AS owner FROM grams GROUP BY g),
        |covered AS (SELECT DISTINCT gr.doc_id, gr.pos + j AS pos
        |  FROM grams gr JOIN owner o ON gr.g = o.g AND gr.doc_id > o.owner,
        |  unnest(generate_series(0, 7)) AS v(j)),
        |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
        |  ANTI JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos),
        |rebuilt AS (SELECT doc_id,
        |  string_agg(tok, ' ' ORDER BY pos) AS text_clean,
        |  count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean,
        |CAST(len(t.t) AS BIGINT) AS n_tokens,
        |coalesce(r.n_kept, 0) AS n_kept
        |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id""".stripMargin,
    // C47: datasheet means are integer-valued doubles through the
    // exact decimal protocol
    "corpus_stats" ->
      """WITH t AS (SELECT source, lang,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |  FROM documents)
        |SELECT source, lang, count(*) AS n_docs,
        |CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |CAST(sum(CAST(CAST(n_tokens AS DOUBLE) AS DECIMAL(20,6)))
        |  AS DOUBLE) / count(n_tokens) AS mean_tokens,
        |min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
        |CAST(sum(CAST(CAST(n_chars_calc AS DOUBLE) AS DECIMAL(20,6)))
        |  AS DOUBLE) / count(n_chars_calc) AS mean_chars
        |FROM t GROUP BY 1, 2""".stripMargin,
    // C46: k smallest seeded md5 priorities — deterministic global
    // sample, unique tie-break on doc_id
    "sample_topk" ->
      """SELECT doc_id, source,
        |md5('graft:' || CAST(doc_id AS VARCHAR)) AS prio
        |FROM documents ORDER BY prio, doc_id LIMIT 100""".stripMargin,
    // C44: segment = 5 consecutive tokens; a segment in >1 distinct
    // docs is boilerplate; docs reassembled from survivors in order
    "boilerplate_strip" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  unnest(generate_series(0, CAST(ceil(len(toks)/5.0) AS BIGINT) - 1))
        |    AS seg_no,
        |  toks FROM t),
        |g AS (SELECT doc_id, seg_no,
        |  array_to_string(toks[(seg_no*5 + 1):(seg_no*5 + 5)], ' ') AS seg
        |  FROM s),
        |hot AS (SELECT seg FROM g GROUP BY seg
        |  HAVING count(DISTINCT doc_id) > 1),
        |k AS (SELECT * FROM g WHERE seg NOT IN (SELECT seg FROM hot)),
        |r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_no) AS clean_text,
        |  count(*) AS n_kept FROM k GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_segs FROM g GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |CAST(coalesce(tot.n_segs, 0) - coalesce(r.n_kept, 0) AS BIGINT)
        |  AS n_dropped
        |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
        |LEFT JOIN tot ON d.doc_id = tot.doc_id""".stripMargin,
    // C45: weight = 1/|component| — one double division on the exact
    // integer size from the shared closure CTE
    "dedup_weights" -> (closureCteSql +
      """,
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.doc_id, c.component, s.n_members,
        |CAST(1.0 AS DOUBLE) / s.n_members AS weight
        |FROM c JOIN s USING (component)""".stripMargin),
    "dedup_groups" -> (closureCteSql +
      """,
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.doc_id, c.component, s.n_members,
        |c.doc_id = c.component AS is_canonical
        |FROM c JOIN s USING (component)""".stripMargin),
    // D11 gate: the streaming fold converges to the batch re-cluster
    // (StreamOpsSpec "D11" pins bit-equality), so the oracle is C21's
    // closure SQL verbatim
    "stream_dedup_fold" -> (closureCteSql +
      """,
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.doc_id, c.component, s.n_members,
        |c.doc_id = c.component AS is_canonical
        |FROM c JOIN s USING (component)""".stripMargin),
    // C70: the closure's component-size histogram — all integer counts
    "dedup_cluster_stats" -> (closureCteSql +
      """,
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT n_members AS size, count(*) AS n_components,
        |CAST(sum(n_members) AS BIGINT) AS n_docs,
        |CAST(sum(n_members) - count(*) AS BIGINT) AS n_dropped
        |FROM s GROUP BY 1""".stripMargin),
    // C70 fold twin (VERDICT r8 #5): the rollup of STORED labels must
    // equal the self-contained re-cluster — same closure oracle
    "dedup_cluster_stats_fold" -> (closureCteSql +
      """,
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT n_members AS size, count(*) AS n_components,
        |CAST(sum(n_members) AS BIGINT) AS n_docs,
        |CAST(sum(n_members) - count(*) AS BIGINT) AS n_dropped
        |FROM s GROUP BY 1""".stripMargin),
    // C43: the incremental fold-in must equal the full re-cluster —
    // the oracle IS dedup_groups' full-corpus closure, verbatim
    "dedup_incremental" -> (closureCteSql +
      """,
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.doc_id, c.component, s.n_members,
        |c.doc_id = c.component AS is_canonical
        |FROM c JOIN s USING (component)""".stripMargin),
    // C43 fold-only variant: folding against STORED prior labels must
    // also equal the full re-cluster — same closure oracle verbatim
    "dedup_incremental_fold" -> (closureCteSql +
      """,
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.doc_id, c.component, s.n_members,
        |c.doc_id = c.component AS is_canonical
        |FROM c JOIN s USING (component)""".stripMargin),
    // C39: the SAME closure, split elected on the component label —
    // identical CASE thresholds to train_split, keyed one level up
    "train_split_grouped" -> (closureCteSql +
      """
        |SELECT c.doc_id, d.source, c.component,
        |CASE WHEN (CAST(c.component AS HUGEINT) * 2654435761) % 4294967296
        |       < CAST(floor(0.8 * 4294967296) AS BIGINT) THEN 'train'
        |     WHEN (CAST(c.component AS HUGEINT) * 2654435761) % 4294967296
        |       < CAST(floor(0.9 * 4294967296) AS BIGINT) THEN 'val'
        |     ELSE 'test' END AS split
        |FROM c JOIN documents d USING (doc_id)""".stripMargin),
    // exact quartiles gated by equality; the approx_percentile median
    // is gated by the in-row bracket predicate (oracle emits TRUE):
    // rank error 1/1000 keeps the sketch far inside [p25, p75]
    "q_approx_pct" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.25), 4) AS p25,
        |round(quantile_cont(value, 0.75), 4) AS p75,
        |TRUE AS approx_in_bounds
        |FROM events GROUP BY event_type""".stripMargin,
    // salted two-phase aggregation must be bit-identical to the plain
    // groupBy — partials run in exact decimal, so the salt spread (and
    // partition layout) cannot change the merged sum
    "q_salted_sum" ->
      """SELECT event_type,
        |CAST(round(sum(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
        |  AS value_sum,
        |count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    // exact column gated by equality; HLL column gated by the error
    // bound (oracle emits TRUE, so Spark's sketch must stay within 10%)
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |count(DISTINCT l_partkey) AS exact_nd,
        |TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // sliding-window chunking: starts step by stride while inside the
    // doc; DuckDB's t[a:b] slice clamps exactly like Spark's slice()
    "doc_chunk" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(0, (len(toks) - 1) // 32))
        |  AS chunk_id, toks FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |CAST(chunk_id * 32 AS BIGINT) AS chunk_start,
        |CAST(len(toks[(chunk_id * 32 + 1):(chunk_id * 32 + 64)]) AS BIGINT)
        |  AS n_chunk_tokens,
        |array_to_string(toks[(chunk_id * 32 + 1):(chunk_id * 32 + 64)], ' ')
        |  AS chunk_text
        |FROM c""".stripMargin,
    "chunk_dedup" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, unnest(generate_series(0, (len(toks) - 1) // 32))
        |  AS chunk_id, toks FROM t),
        |x AS (SELECT doc_id, chunk_id,
        |  md5(array_to_string(toks[(chunk_id * 32 + 1):(chunk_id * 32 + 64)],
        |    ' ')) AS chunk_hash FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY chunk_hash
        |    ORDER BY doc_id, chunk_id) AS rn,
        |  count(*) OVER (PARTITION BY chunk_hash) AS n_copies FROM x)
        |SELECT chunk_hash, doc_id AS keep_doc_id,
        |CAST(chunk_id AS BIGINT) AS keep_chunk_id, n_copies
        |FROM r WHERE rn = 1""".stripMargin,
    // 80/10/10 hash split on the Knuth ring (thresholds are exact:
    // 0.8 * 2^32 and 0.9 * 2^32 floor to the same longs both sides)
    "train_split" ->
      """SELECT doc_id, source,
        |CASE WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296
        |       < CAST(floor(0.8 * 4294967296) AS BIGINT) THEN 'train'
        |     WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296
        |       < CAST(floor(0.9 * 4294967296) AS BIGINT) THEN 'val'
        |     ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    // C80: the trainer's oracle is the loop UNROLLED — per round: a
    // lead-window pair count + deterministic top-1, the island-parity
    // greedy apply (merge offsets 1, 3, … of each consecutive-match
    // run; overlap only exists when a == b), lag-consumed removal,
    // re-posed rewrite. The merge table row re-derives n_merges and
    // the post-rewrite vocab by scalar subqueries on the same CTEs.
    "bpe_train" -> bpeTrainSql(2),
    "bpe_train_batched" -> bpeTrainBatchedSql(2, 4),
    "bpe_apply" -> bpeApplySql(2, 5),
    "bpe_encode" -> bpeEncodeSql(2, 25),
    "bpe_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT CASE WHEN len(toks) >= 2
        |  THEN list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1])
        |  ELSE CAST([] AS VARCHAR[]) END AS pairs FROM t),
        |p AS (SELECT unnest(pairs) AS pair FROM b),
        |g AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT)
        |  AS rank, pair, n
        |FROM g ORDER BY rank LIMIT 50""".stripMargin,
    // C32: corpus-trained bigram MLE NLL. Per-term -ln quantized to
    // DECIMAL(38,18) (order-independent sums in both engines); the
    // published mean + ppl use the q_corr round-4 protocol, and ppl
    // exponentiates the ROUNDED mean so exp sees identical inputs
    "lm_score" -> lmScoreSql,
    // positional fingerprint: md5-derived 32-bit token hash
    // (md5_number_upper reads the first 8 digest bytes little-endian —
    // the Spark side byte-swaps hex chars 9..16 to match) MULTIPLIED
    // by the positional coefficient i*2654435761 mod 2^32, summed
    "doc_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |CAST(COALESCE(list_sum(list_transform(generate_series(1, len(toks)), i ->
        |  CAST((CAST((i * 2654435761) % 4294967296 AS HUGEINT)
        |    * CAST(md5_number_upper(toks[i]) >> 32 AS BIGINT))
        |    % 4294967296 AS BIGINT))), 0) % 4294967296
        |  AS BIGINT) AS rolling_fp,
        |list_min(list_transform(generate_series(1, len(toks)), i ->
        |  CAST(md5_number_upper(toks[i]) >> 32 AS BIGINT))) AS min_fp
        |FROM t""".stripMargin,
    // C31: C21's transitive closure filtered to the canonical rows —
    // the corpus a dedup pass actually keeps
    "dedup_apply" ->
      """WITH RECURSIVE t AS (SELECT doc_id, source,
        |  list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')) AS toks
        |  FROM documents),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0
        |    / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
        |    >= 0.7),
        |e AS (SELECT id1, id2 FROM p UNION ALL SELECT id2, id1 FROM p),
        |r AS (SELECT doc_id AS id, doc_id AS lbl FROM documents
        |  UNION
        |  SELECT e.id1, r.lbl FROM e JOIN r ON r.id = e.id2),
        |c AS (SELECT id AS doc_id, min(lbl) AS component FROM r GROUP BY id),
        |s AS (SELECT component, count(*) AS n_members FROM c
        |  GROUP BY component)
        |SELECT c.doc_id, d.source, d.n_chars, s.n_members AS n_merged
        |FROM c JOIN s USING (component) JOIN documents d USING (doc_id)
        |WHERE c.doc_id = c.component""".stripMargin,
    // C50: the same transitive closure, canonical row elected by
    // (source-tier, longest copy, doc_id) instead of min doc_id; the
    // tier is the deterministic srcN → N mod 3 stand-in
    "dedup_priority" -> (closureCteSql +
      """,
        |j AS (SELECT c.component, c.doc_id, d.source, d.n_chars,
        |  CAST(substr(d.source, 4) AS BIGINT) % 3 AS prio
        |  FROM c JOIN documents d USING (doc_id)),
        |nm AS (SELECT component, count(*) AS n_members FROM j
        |  GROUP BY component),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY component
        |  ORDER BY prio, n_chars DESC, doc_id) AS rn FROM j)
        |SELECT rk.component, rk.prio, rk.doc_id AS keep_id, rk.source,
        |rk.n_chars, nm.n_members
        |FROM rk JOIN nm USING (component) WHERE rn = 1""".stripMargin),
    // C51: per-character counts from an index unnest (no regex char
    // split — RE2 has no lookahead and '' splitting disagrees across
    // engines); each p·ln p term quantized to DECIMAL(38,18) before
    // the order-independent sum (the C32 protocol), published
    // rounded to 4 in nats
    "doc_entropy" ->
      """WITH ix AS (SELECT doc_id, length(text) AS n,
        |  unnest(generate_series(1, length(text))) AS i, text
        |  FROM documents),
        |ch AS (SELECT doc_id, n,
        |  substr(text, CAST(i AS INTEGER), 1) AS ch FROM ix),
        |g AS (SELECT doc_id, n, ch, count(*) AS cnt FROM ch
        |  GROUP BY 1, 2, 3),
        |e AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
        |  count(*) AS n_distinct_chars,
        |  round(-CAST(sum(CAST((CAST(cnt AS DOUBLE) / n)
        |    * ln(CAST(cnt AS DOUBLE) / n) AS DECIMAL(38,18))) AS DOUBLE), 4)
        |    AS entropy_nats
        |  FROM g GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(e.n_chars, 0) AS n_chars,
        |coalesce(e.n_distinct_chars, 0) AS n_distinct_chars,
        |coalesce(e.entropy_nats, 0.0) AS entropy_nats
        |FROM documents d LEFT JOIN e USING (doc_id)""".stripMargin,
    // C52: C32's scores (shared CTE) cut into per-lang ppl terciles;
    // the ntile runs only over scored rows so null placement can't
    // diverge (Spark sorts nulls first ASC, DuckDB last), and the
    // (round-4 ppl, doc_id) key is a total order
    "ccnet_bucket" ->
      s"""WITH base AS ($lmScoreSql),
         |wl AS (SELECT b.doc_id, d.lang, b.ppl
         |  FROM base b JOIN documents d USING (doc_id)),
         |okq AS (SELECT doc_id, lang, ppl, ntile(3) OVER (
         |  PARTITION BY lang ORDER BY ppl, doc_id) AS t
         |  FROM wl WHERE ppl IS NOT NULL)
         |SELECT doc_id, lang, ppl,
         |CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         |  AS bucket
         |FROM okq
         |UNION ALL
         |SELECT doc_id, lang, ppl, 'unscored' AS bucket FROM wl
         |WHERE ppl IS NULL""".stripMargin,
    // C52 approx twin: the hashed columns are the EXACT entry's; the
    // oracle asserts the in-row band predicate TRUE on every row —
    // Spark's threshold-cut path must agree with the exact terciles
    // outside the cut-vs-edge interval
    "ccnet_bucket_approx" ->
      s"""WITH base AS ($lmScoreSql),
         |wl AS (SELECT b.doc_id, d.lang, b.ppl
         |  FROM base b JOIN documents d USING (doc_id)),
         |okq AS (SELECT doc_id, lang, ppl, ntile(3) OVER (
         |  PARTITION BY lang ORDER BY ppl, doc_id) AS t
         |  FROM wl WHERE ppl IS NOT NULL)
         |SELECT doc_id, lang, ppl,
         |CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         |  AS bucket, TRUE AS approx_ok
         |FROM okq
         |UNION ALL
         |SELECT doc_id, lang, ppl, 'unscored' AS bucket, TRUE AS approx_ok
         |FROM wl WHERE ppl IS NULL""".stripMargin,
    // C61: Gopher rule gates — same tokenization, same integer
    // cross-multiplication rules, same injected slop tail (doc_id ≡ 0
    // mod 7) so the symbol-ratio rule fires on real variance
    "gopher_quality" ->
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN text || ' ### ### ### ... ... ...' ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        |    AS toks FROM aug),
        |s AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(toks, x -> strlen(x))), 0)
        |    AS BIGINT) AS word_chars,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        |    AS BIGINT) AS alpha_words,
        |  CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT)
        |    AS n_symbols,
        |  CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_words, word_chars, alpha_words, n_symbols, n_stop,
        |(n_words >= 30 AND n_words <= 100000
        |  AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
        |  AND 10 * n_symbols <= n_words
        |  AND 5 * alpha_words >= 4 * n_words
        |  AND n_stop >= 2) AS keep
        |FROM s""".stripMargin,
    // C11 metadata twin: DuckDB rebuilds what the byte-level decoders
    // must extract — PNG header is 33 bytes (8 sig + 4 len + 17
    // IHDR + 4 CRC) and JPEG 39 (SOI + 18 APP0 + 19 SOF0), dims are
    // the wrap expression's doc_id formulas, payload body is the
    // UTF-8 text bytes (strlen = byte length in DuckDB)
    "multimodal_meta" ->
      """WITH img AS (
        |SELECT doc_id,
        |CAST(33 + strlen(text) AS INTEGER) AS n_bytes,
        |CAST(64 + doc_id % 512 AS INTEGER) AS width,
        |CAST(64 + (doc_id * 31) % 512 AS INTEGER) AS height,
        |CAST(1 AS INTEGER) AS n_frames, 'png' AS format
        |FROM documents
        |UNION ALL
        |SELECT doc_id,
        |CAST(39 + strlen(text) AS INTEGER) AS n_bytes,
        |CAST(64 + (doc_id * 7) % 512 AS INTEGER) AS width,
        |CAST(64 + (doc_id * 13) % 512 AS INTEGER) AS height,
        |CAST(1 AS INTEGER) AS n_frames, 'jpeg' AS format
        |FROM documents
        |UNION ALL
        |SELECT doc_id,
        |CAST(13 + strlen(text) AS INTEGER) AS n_bytes,
        |CAST(64 + (doc_id * 3) % 512 AS INTEGER) AS width,
        |CAST(64 + (doc_id * 17) % 512 AS INTEGER) AS height,
        |CAST(1 AS INTEGER) AS n_frames, 'gif' AS format
        |FROM documents
        |UNION ALL
        |SELECT doc_id,
        |CAST(14 + 14 * (1 + doc_id % 7) AS INTEGER) AS n_bytes,
        |CAST(64 + (doc_id * 5) % 512 AS INTEGER) AS width,
        |CAST(64 + (doc_id * 11) % 512 AS INTEGER) AS height,
        |CAST(1 + doc_id % 7 AS INTEGER) AS n_frames, 'gif' AS format
        |FROM documents),
        |wavp AS (SELECT doc_id,
        |  CAST(8000 * (1 + doc_id % 5) AS INTEGER) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(8 + 8 * ((doc_id // 2) % 2) AS INTEGER) AS bit_depth,
        |  strlen(text) AS data_len FROM documents),
        |wav AS (SELECT doc_id,
        |  CAST(44 + data_len AS INTEGER) AS n_bytes,
        |  sample_rate, channels, bit_depth,
        |  CAST(data_len // (channels * (bit_depth // 8)) AS BIGINT)
        |    AS n_samples FROM wavp)
        |SELECT doc_id, n_bytes, width, height, n_frames, format,
        |CAST(NULL AS INTEGER) AS sample_rate,
        |CAST(NULL AS INTEGER) AS channels,
        |CAST(NULL AS INTEGER) AS bit_depth,
        |CAST(NULL AS BIGINT) AS n_samples,
        |CAST(NULL AS BIGINT) AS duration_ms
        |FROM img
        |UNION ALL
        |SELECT doc_id, n_bytes,
        |CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
        |CAST(NULL AS INTEGER) AS n_frames, 'wav' AS format,
        |sample_rate, channels, bit_depth, n_samples,
        |CAST((n_samples * 1000) // sample_rate AS BIGINT) AS duration_ms
        |FROM wav""".stripMargin,
    // C34: same injected URL, same regex subset; domain = host group
    "url_domains" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' see https://mirror' || CAST(doc_id % 25 AS VARCHAR)
        |    || '.example.org/doc/' || doc_id AS text
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(regexp_extract_all(text,
        |  'https?://[A-Za-z0-9.-]+(/[A-Za-z0-9./_-]*)?', 0)) AS url FROM aug)
        |SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
        |count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls
        |FROM u GROUP BY 1""".stripMargin,
    // C35: unordered source pairs sharing a 5-token head; the
    // doc-level self-join is the oracle's formulation — the Spark
    // side does the group-list expansion, same multiset of pairs
    "source_overlap" ->
      """WITH t AS (SELECT doc_id, source, array_to_string(
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '')[1:5], ' ') AS h
        |  FROM documents)
        |SELECT least(a.source, b.source) AS source_a,
        |greatest(a.source, b.source) AS source_b,
        |count(*) AS n_dup_pairs
        |FROM t a JOIN t b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // C33: the five-stage curation chain as chained CTEs — quality ∧
    // repetition → exact dedup → recursive-CTE near-dup closure
    // (canonical only) → decontamination vs the FULL-corpus eval set
    // → hash split. Verifies the COMPOSITION, not just each stage.
    "pipeline_curate" ->
      """WITH RECURSIVE t0 AS (SELECT doc_id, text, source, n_chars,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |qk AS (SELECT doc_id FROM t0
        |  WHERE len(toks) >= 5 AND len(toks) <= 500
        |    AND len(list_filter(toks, t -> t IN ('the','a','and','of','to')))
        |      * 1.0 / len(toks) <= 0.5),
        |rb AS (SELECT doc_id, len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_distinct,
        |  CASE WHEN len(toks) >= 2
        |    THEN list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams FROM t0),
        |rg AS (SELECT doc_id, max(c) AS tb, sum(c) AS nb
        |  FROM (SELECT doc_id, bg, count(*) AS c
        |    FROM (SELECT doc_id, unnest(bigrams) AS bg FROM rb)
        |    GROUP BY doc_id, bg)
        |  GROUP BY doc_id),
        |rk AS (SELECT b.doc_id FROM rb b LEFT JOIN rg g USING (doc_id)
        |  WHERE (b.n_tokens - b.n_distinct) * 2 <= b.n_tokens
        |    AND COALESCE(g.tb, 0) * 10 <= COALESCE(g.nb, 0)),
        |s1 AS (SELECT t0.* FROM t0
        |  JOIN qk USING (doc_id) JOIN rk USING (doc_id)),
        |ek AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
        |s2 AS (SELECT s1.* FROM s1 JOIN ek USING (doc_id)),
        |t2 AS (SELECT doc_id, source, list_distinct(toks) AS dt FROM s2),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM t2 a JOIN t2 b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.dt, b.dt)) * 1.0
        |    / (len(a.dt) + len(b.dt) - len(list_intersect(a.dt, b.dt)))
        |    >= 0.7),
        |e AS (SELECT id1, id2 FROM p UNION ALL SELECT id2, id1 FROM p),
        |r AS (SELECT doc_id AS id, doc_id AS lbl FROM s2
        |  UNION
        |  SELECT e.id1, r.lbl FROM e JOIN r ON r.id = e.id2),
        |c AS (SELECT id AS doc_id, min(lbl) AS component FROM r GROUP BY id),
        |s3 AS (SELECT s2.* FROM s2 JOIN c USING (doc_id)
        |  WHERE c.doc_id = c.component),
        |g3 AS (SELECT doc_id, CASE WHEN len(toks) >= 3
        |  THEN list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [array_to_string(toks, ' ')] END AS grams FROM s3),
        |d3 AS (SELECT doc_id, unnest(grams) AS gm FROM g3),
        |bset AS (SELECT DISTINCT gm FROM
        |  (SELECT CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [array_to_string(toks, ' ')] END AS grams
        |   FROM t0 WHERE doc_id % 20 = 0), UNNEST(grams) AS u(gm)),
        |dk AS (SELECT d3.doc_id FROM d3 LEFT JOIN bset b ON d3.gm = b.gm
        |  GROUP BY d3.doc_id HAVING count(b.gm) * 1.0 / count(*) <= 0.5),
        |s4 AS (SELECT s3.* FROM s3 JOIN dk USING (doc_id))
        |SELECT doc_id, source, n_chars,
        |CASE WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296
        |       < CAST(floor(0.8 * 4294967296) AS BIGINT) THEN 'train'
        |     WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296
        |       < CAST(floor(0.9 * 4294967296) AS BIGINT) THEN 'val'
        |     ELSE 'test' END AS split
        |FROM s4""".stripMargin,
    // A18/A19 share the hourly-resample head; forward-fill and linear
    // interpolation are window reconstructions over the dense spine
    "q_gap_fill" ->
      """WITH agg AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)/count(*) AS v
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
        |  FROM agg GROUP BY event_type)
        |SELECT s.event_type, s.hour,
        |  last_value(a.v IGNORE NULLS) OVER (PARTITION BY s.event_type
        |    ORDER BY s.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS avg_value,
        |  a.v IS NULL AS is_gap
        |FROM spine s
        |LEFT JOIN agg a ON s.event_type = a.event_type AND s.hour = a.hour""".stripMargin,
    "q_interpolate" ->
      """WITH agg AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)/count(*) AS v
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
        |  FROM agg GROUP BY event_type),
        |j AS (SELECT s.event_type, s.hour, a.v
        |  FROM spine s
        |  LEFT JOIN agg a ON s.event_type = a.event_type AND s.hour = a.hour),
        |f AS (SELECT *,
        |  last_value(v IGNORE NULLS) OVER wp AS prev_v,
        |  last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
        |    OVER wp AS prev_t,
        |  first_value(v IGNORE NULLS) OVER wn AS next_v,
        |  first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
        |    OVER wn AS next_t
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hour,
        |  CASE WHEN v IS NOT NULL THEN v
        |    WHEN prev_v IS NULL THEN next_v
        |    WHEN next_v IS NULL THEN prev_v
        |    ELSE prev_v + (next_v - prev_v) *
        |      (CAST(date_diff('hour', prev_t, hour) AS DOUBLE)
        |       / CAST(date_diff('hour', prev_t, next_t) AS DOUBLE))
        |  END AS value_interp,
        |  v IS NULL AS is_gap
        |FROM f""".stripMargin,
    // B31: cutoffs via B15's proven round(quantile,4) construction,
    // then branch-identical clip comparisons in both engines
    "q_winsorize" ->
      """WITH c AS (SELECT event_type,
        |  round(quantile_cont(value, 0.05), 4) AS c_lo,
        |  round(quantile_cont(value, 0.95), 4) AS c_hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
        |  least(greatest(e.value, c.c_lo), c.c_hi) AS value_winsor,
        |  (e.value < c.c_lo OR e.value > c.c_hi) AS was_clipped
        |FROM events e JOIN c USING (event_type)""".stripMargin,
    // B34: bounded 7-day fan-out of the deduped (user, day) table
    "q_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |  FROM events),
        |fan AS (SELECT user_id,
        |  unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |    AS w FROM ud),
        |uw AS (SELECT DISTINCT user_id, w FROM fan),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT uw.w, count(*) AS active_users
        |FROM uw JOIN days ON uw.w = days.day
        |GROUP BY uw.w""".stripMargin,
    // B33: the same stage-chained min-ts funnel as CTEs
    "q_funnel" ->
      """WITH b AS (SELECT user_id, date_trunc('day', ts) AS day,
        |  event_type, ts FROM events),
        |v AS (SELECT user_id, day, min(ts) AS v_ts FROM b
        |  WHERE event_type = 'view' GROUP BY user_id, day),
        |c AS (SELECT b.user_id, b.day, min(b.ts) AS c_ts FROM b
        |  JOIN v ON b.user_id = v.user_id AND b.day = v.day
        |  WHERE b.event_type = 'click' AND b.ts >= v.v_ts
        |  GROUP BY b.user_id, b.day),
        |p AS (SELECT b.user_id, b.day, min(b.ts) AS p_ts FROM b
        |  JOIN c ON b.user_id = c.user_id AND b.day = c.day
        |  WHERE b.event_type = 'purchase' AND b.ts >= c.c_ts
        |  GROUP BY b.user_id, b.day)
        |SELECT v.day, count(*) AS n_view,
        |count(c.c_ts) AS n_click_after_view,
        |count(p.p_ts) AS n_purchase_after_click
        |FROM v
        |LEFT JOIN c ON v.user_id = c.user_id AND v.day = c.day
        |LEFT JOIN p ON v.user_id = p.user_id AND v.day = p.day
        |GROUP BY v.day""".stripMargin,
    // B32: month offsets via date_diff on month-truncated stamps —
    // exactly months_between's integral value on the Spark side
    "q_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('month', min(ts)) AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('month', ts) AS m
        |  FROM events)
        |SELECT f.cohort,
        |CAST(date_diff('month', f.cohort, a.m) AS BIGINT) AS month_offset,
        |count(*) AS n_active
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // B28: co-moments in HUGEINT (exact, = Spark's DECIMAL(38,0));
    // sd and z are the identical double-op sequence as the Spark side
    "q_zscore" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)) AS s1,
        |  sum(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)
        |    * CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)) AS s2
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  CAST(m.n * CAST(CAST(e.value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)
        |      - m.s1 AS DOUBLE)
        |    / (CAST(m.n AS DOUBLE)
        |       * sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
        |              / CAST(m.n * (m.n - 1) AS DOUBLE))) AS z,
        |  abs(CAST(m.n * CAST(CAST(e.value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)
        |      - m.s1 AS DOUBLE)
        |    / (CAST(m.n AS DOUBLE)
        |       * sqrt(CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
        |              / CAST(m.n * (m.n - 1) AS DOUBLE)))) > 2.5 AS is_anomaly
        |FROM events e JOIN m ON e.event_type = m.event_type""".stripMargin,
    // B41: CUSUM change-in-mean — the fold runs on n-scaled HUGEINT
    // deviations (n·y6 − Σy6: exact, associative — a double window
    // fold is 3-9 ulps apart cross-engine), argmax on integers,
    // publish divides n·1e6 back out (one exact cast, one division)
    "q_cusum" ->
      """WITH m AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT)) AS s1
        |  FROM events GROUP BY event_type),
        |s AS (SELECT e.event_type, e.ts, e.event_id, m.n,
        |  sum(m.n * CAST(CAST(e.value AS DECIMAL(20,6)) * 1000000
        |      AS HUGEINT) - m.s1) OVER (PARTITION BY e.event_type
        |    ORDER BY e.ts, e.event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_scaled
        |  FROM events e JOIN m USING (event_type)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY abs(s_scaled) DESC, ts DESC, s_scaled DESC,
        |    event_id DESC) AS rn FROM s)
        |SELECT event_type, ts AS cp_ts,
        |CAST(s_scaled AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
        |  AS s_at_cp,
        |CAST(abs(s_scaled) AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
        |  AS max_abs_s,
        |n AS n_events FROM r WHERE rn = 1""".stripMargin,
    // B42: Theil–Sen — pairwise slopes over the daily mart (exact
    // numerators/denominators), round-4 median (even-count midpoint
    // averaging may associate differently across engines)
    "q_theilsen" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS y
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, CAST(datediff('day',
        |  TIMESTAMP '2024-01-01 00:00:00', day) AS DOUBLE) AS x FROM daily),
        |p AS (SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope
        |  FROM d2 a JOIN d2 b ON a.event_type = b.event_type
        |    AND a.day < b.day)
        |SELECT event_type, round(median(slope), 4) AS ts_slope,
        |count(*) AS n_pairs FROM p GROUP BY 1""".stripMargin,
    // B43: lag-1 autocorrelation — daily means floor-quantized to
    // HUGEINT (the A37 protocol), Pearson r from exact co-moments,
    // two sqrt + one division in double, unrounded
    "q_autocorr" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS y
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, day,
        |  CAST(floor(y * 1000000.0) AS HUGEINT) AS yq FROM daily),
        |p AS (SELECT event_type, yq, lag(yq) OVER (
        |  PARTITION BY event_type ORDER BY day) AS xq FROM q),
        |f AS (SELECT * FROM p WHERE xq IS NOT NULL),
        |s AS (SELECT event_type, count(*) AS n_pairs,
        |  sum(xq) AS sx, sum(yq) AS sy, sum(xq * yq) AS sxy,
        |  sum(xq * xq) AS sxx, sum(yq * yq) AS syy
        |  FROM f GROUP BY 1)
        |SELECT event_type, n_pairs,
        |CAST(n_pairs * sxy - sx * sy AS DOUBLE)
        |  / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
        |     * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS r1
        |FROM s""".stripMargin,
    // B57: Ljung–Box — three lag columns from one window pass, B43's
    // paired-Pearson r_k per lag on exact HUGEINT co-moments, fixed
    // double chains; r round-6, Q round-4; degenerate lags null
    "q_ljung_box" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS y
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, day,
        |  CAST(floor(y * 1000000.0) AS HUGEINT) AS yq FROM daily),
        |p AS (SELECT event_type, yq,
        |  lag(yq, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |  lag(yq, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
        |  lag(yq, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
        |  FROM q),
        |s AS (SELECT event_type, count(*) AS n_days,
        |  count(l1) AS n1, sum(CASE WHEN l1 IS NOT NULL THEN l1 END) AS sx1,
        |  sum(CASE WHEN l1 IS NOT NULL THEN yq END) AS sy1,
        |  sum(l1 * yq) AS sxy1, sum(l1 * l1) AS sxx1,
        |  sum(CASE WHEN l1 IS NOT NULL THEN yq * yq END) AS syy1,
        |  count(l2) AS n2, sum(CASE WHEN l2 IS NOT NULL THEN l2 END) AS sx2,
        |  sum(CASE WHEN l2 IS NOT NULL THEN yq END) AS sy2,
        |  sum(l2 * yq) AS sxy2, sum(l2 * l2) AS sxx2,
        |  sum(CASE WHEN l2 IS NOT NULL THEN yq * yq END) AS syy2,
        |  count(l3) AS n3, sum(CASE WHEN l3 IS NOT NULL THEN l3 END) AS sx3,
        |  sum(CASE WHEN l3 IS NOT NULL THEN yq END) AS sy3,
        |  sum(l3 * yq) AS sxy3, sum(l3 * l3) AS sxx3,
        |  sum(CASE WHEN l3 IS NOT NULL THEN yq * yq END) AS syy3
        |  FROM p GROUP BY 1),
        |z AS (SELECT event_type, n_days,
        |  CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE)
        |    / (sqrt(CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE))
        |       * sqrt(CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE))) AS r1,
        |  CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
        |    / (sqrt(CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE))
        |       * sqrt(CAST(n2 * syy2 - sy2 * sy2 AS DOUBLE))) AS r2,
        |  CAST(n3 * sxy3 - sx3 * sy3 AS DOUBLE)
        |    / (sqrt(CAST(n3 * sxx3 - sx3 * sx3 AS DOUBLE))
        |       * sqrt(CAST(n3 * syy3 - sy3 * sy3 AS DOUBLE))) AS r3,
        |  (n1 > 1 AND n1 * sxx1 > sx1 * sx1 AND n1 * syy1 > sy1 * sy1
        |   AND n2 > 1 AND n2 * sxx2 > sx2 * sx2 AND n2 * syy2 > sy2 * sy2
        |   AND n3 > 1 AND n3 * sxx3 > sx3 * sx3 AND n3 * syy3 > sy3 * sy3
        |   AND n_days > 4) AS ok
        |  FROM s)
        |SELECT event_type, n_days,
        |CASE WHEN ok THEN round(r1, 6) END AS r1,
        |CASE WHEN ok THEN round(r2, 6) END AS r2,
        |CASE WHEN ok THEN round(r3, 6) END AS r3,
        |CASE WHEN ok THEN round(CAST(n_days AS DOUBLE)
        |  * (CAST(n_days AS DOUBLE) + 2.0)
        |  * (r1 * r1 / (CAST(n_days AS DOUBLE) - 1.0)
        |     + r2 * r2 / (CAST(n_days AS DOUBLE) - 2.0)
        |     + r3 * r3 / (CAST(n_days AS DOUBLE) - 3.0)), 4) END AS lb_stat
        |FROM z""".stripMargin,
    // B44: key-vs-rest KS — sup computed on the integer cross-product
    // form (cum_k·n_rest − cum_rest·n_k), value-ASC tie chain, one
    // division publishes D
    "q_ks_test" ->
      """WITH vals AS (SELECT DISTINCT value FROM events),
        |keys AS (SELECT DISTINCT event_type FROM events),
        |cnt AS (SELECT event_type, value, count(*) AS c FROM events
        |  GROUP BY 1, 2),
        |grid AS (SELECT k.event_type, v.value, coalesce(cnt.c, 0) AS c
        |  FROM keys k CROSS JOIN vals v
        |  LEFT JOIN cnt USING (event_type, value)),
        |ck AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |  ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS cum_k FROM grid),
        |ck2 AS (SELECT *, sum(cum_k) OVER (PARTITION BY value) AS cum_all
        |  FROM ck),
        |nk AS (SELECT event_type, count(*) AS n_k FROM events GROUP BY 1),
        |na AS (SELECT count(*) AS n_all FROM events),
        |sc AS (SELECT ck2.event_type, ck2.value, nk.n_k,
        |  na.n_all - nk.n_k AS n_rest,
        |  abs(CAST(ck2.cum_k AS HUGEINT) * (na.n_all - nk.n_k)
        |    - CAST(ck2.cum_all - ck2.cum_k AS HUGEINT) * nk.n_k) AS d_num
        |  FROM ck2 JOIN nk USING (event_type), na),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY d_num DESC, value ASC) AS rn FROM sc)
        |SELECT event_type, n_k, n_rest, value AS d_at_value,
        |CAST(d_num AS DOUBLE)
        |  / (CAST(n_k AS DOUBLE) * CAST(n_rest AS DOUBLE)) AS ks_d
        |FROM r WHERE rn = 1""".stripMargin,
    // B44 binned production variant: half-up-quantized bins (width
    // 10^-2; floor(v·100 + 0.5) keeps 2-decimal edge values on their
    // semantic bin — ADVICE r8) bound the grid by construction; same
    // integer cross-product sup, bin-ASC tie chain, center published
    "q_ks_binned" ->
      """WITH b AS (SELECT event_type,
        |  CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS bin FROM events),
        |bins AS (SELECT DISTINCT bin FROM b),
        |keys AS (SELECT DISTINCT event_type FROM b),
        |cnt AS (SELECT event_type, bin, count(*) AS c FROM b
        |  GROUP BY 1, 2),
        |grid AS (SELECT k.event_type, v.bin, coalesce(cnt.c, 0) AS c
        |  FROM keys k CROSS JOIN bins v
        |  LEFT JOIN cnt USING (event_type, bin)),
        |ck AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |  ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS cum_k FROM grid),
        |ck2 AS (SELECT *, sum(cum_k) OVER (PARTITION BY bin) AS cum_all
        |  FROM ck),
        |nk AS (SELECT event_type, count(*) AS n_k FROM b GROUP BY 1),
        |na AS (SELECT count(*) AS n_all FROM b),
        |sc AS (SELECT ck2.event_type, ck2.bin, nk.n_k,
        |  na.n_all - nk.n_k AS n_rest,
        |  abs(CAST(ck2.cum_k AS HUGEINT) * (na.n_all - nk.n_k)
        |    - CAST(ck2.cum_all - ck2.cum_k AS HUGEINT) * nk.n_k) AS d_num
        |  FROM ck2 JOIN nk USING (event_type), na),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY d_num DESC, bin ASC) AS rn FROM sc)
        |SELECT event_type, n_k, n_rest,
        |CAST(bin AS DOUBLE) / 100.0 AS d_at_bin,
        |CAST(d_num AS DOUBLE)
        |  / (CAST(n_k AS DOUBLE) * CAST(n_rest AS DOUBLE)) AS ks_d
        |FROM r WHERE rn = 1""".stripMargin,
    // B46: Benford — leading digit from the floor(value·1e6 + 0.5)
    // BIGINT's decimal string (round-half-up in pure double ops is
    // bit-identical across engines; never double→string formatting);
    // xq > 0 filter so sub-1e-6 values can't produce digit 0; exact
    // share quotient, round-6 reference p
    "q_benford" ->
      """WITH q AS (SELECT event_type,
        |  CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS xq FROM events),
        |d AS (SELECT event_type,
        |  CAST(substr(CAST(xq AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM q WHERE xq > 0),
        |g AS (SELECT event_type, digit, count(*) AS n FROM d
        |  GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n) AS n_total FROM g GROUP BY 1)
        |SELECT g.event_type, g.digit, g.n,
        |CAST(g.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share,
        |round(log10(1.0 + 1.0 / CAST(g.digit AS DOUBLE)), 6) AS benford_p
        |FROM g JOIN t USING (event_type)""".stripMargin,
    // B45: Gini — ×1e6 HUGEINT rank dot product, one division; tie
    // blocks make intra-tie order irrelevant
    "q_gini" ->
      """WITH rk AS (SELECT event_type, value,
        |  CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS xq,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS i
        |  FROM events),
        |s AS (SELECT event_type, count(*) AS n, sum(xq) AS sx,
        |  sum((2 * i - 1) * xq) AS swx FROM rk GROUP BY 1)
        |SELECT event_type, n,
        |CAST(swx - n * sx AS DOUBLE)
        |  / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) AS gini
        |FROM s""".stripMargin,
    // C56: same synthetic crawl URL, same RE2/Java-common regex chain
    // ('g' where Spark's replace-all semantics could matter)
    "url_dedup" ->
      """WITH aug AS (SELECT doc_id,
        |  'HTTPS://WWW.Host' || (doc_id % 7) || '.Example.COM:443/Docs/'
        |  || (doc_id % 50) || '/?utm_source=s' || doc_id || '&id='
        |  || (doc_id % 5) || '&utm_campaign=c#sec' || doc_id AS url
        |  FROM documents),
        |n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM aug),
        |n2 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(u,
        |  '&utm_[a-z]+=[^&#]*', '', 'g'), '\?utm_[a-z]+=[^&#]*&', '?'),
        |  '\?utm_[a-z]+=[^&#]*$', '') AS u FROM n1),
        |n3 AS (SELECT doc_id, regexp_replace(u, '[?&]$', '') AS u FROM n2),
        |n4 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    lower(regexp_extract(u, '^[A-Za-z]+://[^/]*')),
        |    '^(https://[^/:]+):443$', '\1'), '^(http://[^/:]+):80$', '\1'),
        |    '^(https?://)www\.', '\1')
        |  || regexp_replace(regexp_replace(regexp_replace(u,
        |    '^[A-Za-z]+://[^/]*', ''), '/\?', '?'), '/$', '') AS url_norm
        |  FROM n3)
        |SELECT url_norm, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM n4 GROUP BY 1""".stripMargin,
    // C53: BM25 with Lucene idf; every fractional constant CAST to
    // DOUBLE (a bare 1.2 literal is DECIMAL in DuckDB and would
    // change the arithmetic domain), per-term DECIMAL(38,18)
    // quantization before the order-independent sum, rank on the
    // ROUND-4 score
    "bm25" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |cs AS (SELECT count(*) AS n_docs,
        |  CAST(sum(CAST(dl AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS avgdl
        |  FROM dl),
        |dfv AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT doc_id AS q_id, tok FROM tf WHERE doc_id < 5),
        |terms AS (SELECT q.q_id, tf.doc_id,
        |  CAST(ln(1.0 + (CAST(cs.n_docs AS DOUBLE) - dfv.df + 0.5)
        |      / (CAST(dfv.df AS DOUBLE) + 0.5))
        |    * (CAST(tf.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
        |    / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |       * (1.0 - CAST(0.75 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE) / cs.avgdl))
        |    AS DECIMAL(38,18)) AS term
        |  FROM tf JOIN q USING (tok) JOIN dfv USING (tok)
        |  JOIN dl ON dl.doc_id = tf.doc_id, cs
        |  WHERE tf.doc_id <> q.q_id),
        |sc AS (SELECT q_id, doc_id, count(*) AS n_hits,
        |  round(CAST(sum(term) AS DOUBLE), 4) AS score
        |  FROM terms GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY score DESC, doc_id) AS rank FROM sc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, score, n_hits
        |FROM r WHERE rank <= 10""".stripMargin,
    // B29: the salted join must be indistinguishable from the plain one
    "q_skew_join" ->
      """WITH d AS (SELECT event_type, count(*) AS type_total
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value, d.type_total
        |FROM events e JOIN d ON e.event_type = d.event_type""".stripMargin,
    // C29: same injected PII, same regexes (Java/RE2-common subset),
    // phones counted after email removal in both engines
    "pii_redact" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@mail.example.com or +1 (555) 010-'
        |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\-. ]{5,}[0-9]', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9()\-. ]{5,}[0-9]')) AS n_phones
        |FROM aug""".stripMargin,
    // C30: exact integer quantization (×2^20, floor) then one double
    // division — bit-identical to the Spark decimal-sum formulation
    "emb_centroid" ->
      """WITH x AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |  unnest(embedding) AS val FROM embeddings)
        |SELECT label, CAST(pos AS BIGINT) AS pos,
        |  CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1048576.0) AS DECIMAL(38,0)))
        |    AS DOUBLE) / (count(*) * 1048576.0) AS centroid,
        |  count(*) AS n
        |FROM x GROUP BY 1, 2""".stripMargin,
    // B35: the oracle states the range join declaratively (DuckDB
    // plans it as an IEJoin); Spark side must produce the identical
    // aggregate through the bucketized equi-join reformulation
    "q_range_join" ->
      """WITH iv AS (SELECT o_orderpriority AS priority,
        |  date_trunc('quarter', o_orderdate) AS q_start,
        |  min(o_orderdate) AS lo, max(o_orderdate) AS hi
        |  FROM orders GROUP BY 1, 2)
        |SELECT iv.priority, iv.q_start, count(*) AS n_items,
        |CAST(round(sum(CAST(l_quantity AS DECIMAL(20,6))), 2) AS DOUBLE)
        |  AS sum_qty
        |FROM lineitem JOIN iv
        |  ON l_shipdate >= iv.lo AND l_shipdate <= iv.hi
        |GROUP BY iv.priority, iv.q_start""".stripMargin,
    // B36: per-column profile; string columns profile min/max LENGTH
    // so the long schema stays numeric (no cross-engine double/ts
    // string formatting in the hash)
    "q_profile" -> profileSql,
    // B36 approx: exact mirror + TRUE literal — the hash fails if any
    // HLL estimate drifts past the 10% bound
    "q_profile_approx" ->
      s"""WITH p AS ($profileSql)
         |SELECT col_name, n_rows, n_null, min_v, max_v,
         |n_distinct AS exact_nd, TRUE AS approx_ok FROM p""".stripMargin,
    // C37: same Knuth-ring remainder election; every class lands on
    // exactly n_max rows
    "sample_balance" ->
      """WITH c AS (SELECT label, count(*) AS n_label
        |  FROM embeddings GROUP BY label),
        |m AS (SELECT max(n_label) AS n_max FROM c),
        |r AS (SELECT e.label, e.vec_id, c.n_label, m.n_max,
        |  row_number() OVER (PARTITION BY e.label
        |    ORDER BY (CAST(e.vec_id AS HUGEINT) * 2654435761) % 4294967296,
        |      e.vec_id) AS rk
        |  FROM embeddings e JOIN c USING (label) CROSS JOIN m),
        |x AS (SELECT label, vec_id,
        |  CAST(n_max // n_label
        |    + CASE WHEN rk <= n_max % n_label THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_copies FROM r)
        |SELECT label, vec_id, n_copies,
        |CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_id
        |FROM x""".stripMargin,
    // C38: occurrences (not types) against the C23 vocab head
    "oov_rate" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(
        |  string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |v AS (SELECT tok, sum(tf) AS cf FROM (
        |  SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok)
        |  GROUP BY tok),
        |head AS (SELECT tok FROM v ORDER BY cf DESC, tok LIMIT 100)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |count(*) - count(h.tok) AS n_oov,
        |round(CAST(count(*) - count(h.tok) AS DOUBLE) / count(*), 4)
        |  AS oov_rate
        |FROM t LEFT JOIN head h ON t.tok = h.tok
        |GROUP BY t.doc_id""".stripMargin,
    // B37: both medians via the proven round(quantile_cont,4)
    // construction; the per-row score is the identical double-op
    // sequence in both engines; MAD=0 keys yield null, not Inf
    "q_mad" ->
      """WITH med AS (SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY event_type),
        |st AS (SELECT e.event_type, m.med,
        |  round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type, m.med)
        |SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
        |CASE WHEN st.mad <> 0
        |  THEN (e.value - st.med) / (1.4826 * st.mad) END AS robust_z,
        |CASE WHEN st.mad <> 0
        |  THEN abs((e.value - st.med) / (1.4826 * st.mad)) > 3.0 END
        |  AS is_outlier
        |FROM events e JOIN st USING (event_type)""".stripMargin,
    // B37 approx twin: hashed columns are the exact scorer's; the
    // oracle asserts flags_match TRUE — the sketch-median path may
    // only disagree inside the boundary band around k
    "q_mad_approx" ->
      """WITH med AS (SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY event_type),
        |st AS (SELECT e.event_type, m.med,
        |  round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type, m.med)
        |SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
        |CASE WHEN st.mad <> 0
        |  THEN (e.value - st.med) / (1.4826 * st.mad) END AS robust_z,
        |CASE WHEN st.mad <> 0
        |  THEN abs((e.value - st.med) / (1.4826 * st.mad)) > 3.0 END
        |  AS is_outlier,
        |TRUE AS flags_match
        |FROM events e JOIN st USING (event_type)""".stripMargin,
    // B49: Mann–Kendall — integer sign pairs over floor-quantized
    // daily means, tie-corrected variance (< 2^53 under the day
    // guard, so the double cast is exact), round-6 z
    "q_mann_kendall" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS y
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, day, floor(y * 1000000.0) AS yq FROM daily),
        |s AS (SELECT a.event_type,
        |  sum(CASE WHEN b.yq > a.yq THEN 1
        |           WHEN b.yq < a.yq THEN -1 ELSE 0 END) AS s_stat
        |  FROM q a JOIN q b ON a.event_type = b.event_type
        |    AND a.day < b.day GROUP BY 1),
        |t AS (SELECT event_type, yq, count(*) AS t FROM q GROUP BY 1, 2),
        |nt AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |  CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM t GROUP BY 1)
        |SELECT s.event_type, nt.n_days, CAST(s.s_stat AS BIGINT) AS s_stat,
        |CASE WHEN s.s_stat > 0 THEN round(CAST(s.s_stat - 1 AS DOUBLE)
        |  / sqrt(CAST(nt.n_days * (nt.n_days - 1) * (2 * nt.n_days + 5)
        |    - nt.tie_term AS DOUBLE) / 18.0), 6)
        |WHEN s.s_stat < 0 THEN round(CAST(s.s_stat + 1 AS DOUBLE)
        |  / sqrt(CAST(nt.n_days * (nt.n_days - 1) * (2 * nt.n_days + 5)
        |    - nt.tie_term AS DOUBLE) / 18.0), 6)
        |ELSE 0.0 END AS mk_z
        |FROM s JOIN nt ON s.event_type = nt.event_type""".stripMargin,
    // B58: Hirsch–Slack seasonal MK — within-season sign pairs,
    // per-season tie-corrected variance summed as INTEGER numerators
    // (one ÷18 after the exact cross-season sum), continuity-corrected
    // z round-6
    "q_seasonal_mk" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS y
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, day, month(day) AS season,
        |  floor(y * 1000000.0) AS yq FROM daily),
        |s AS (SELECT a.event_type, a.season,
        |  sum(CASE WHEN b.yq > a.yq THEN 1
        |           WHEN b.yq < a.yq THEN -1 ELSE 0 END) AS s_m
        |  FROM q a JOIN q b ON a.event_type = b.event_type
        |    AND a.season = b.season AND a.day < b.day GROUP BY 1, 2),
        |t AS (SELECT event_type, season, yq, count(*) AS t FROM q
        |  GROUP BY 1, 2, 3),
        |v AS (SELECT event_type, season, sum(t) AS n_m,
        |  sum(t * (t - 1) * (2 * t + 5)) AS tie_m FROM t GROUP BY 1, 2),
        |v2 AS (SELECT event_type, season, n_m,
        |  n_m * (n_m - 1) * (2 * n_m + 5) - tie_m AS num_m FROM v),
        |tot AS (SELECT v2.event_type, count(*) AS n_seasons,
        |  CAST(sum(n_m) AS BIGINT) AS n_days,
        |  CAST(sum(coalesce(s_m, 0)) AS BIGINT) AS s_stat,
        |  CAST(sum(num_m) AS BIGINT) AS var_num
        |  FROM v2 LEFT JOIN s ON s.event_type = v2.event_type
        |    AND s.season = v2.season GROUP BY 1)
        |SELECT event_type, n_seasons, n_days, s_stat,
        |CASE WHEN var_num <= 0 THEN NULL
        |WHEN s_stat > 0 THEN round(CAST(s_stat - 1 AS DOUBLE)
        |  / sqrt(CAST(var_num AS DOUBLE) / 18.0), 6)
        |WHEN s_stat < 0 THEN round(CAST(s_stat + 1 AS DOUBLE)
        |  / sqrt(CAST(var_num AS DOUBLE) / 18.0), 6)
        |ELSE 0.0 END AS smk_z
        |FROM tot""".stripMargin,
    // B48: Welch's t, odd vs even days — exact HUGEINT co-moments per
    // (key, parity), the identical fixed double chain for mean /
    // variance / t / dof in both engines, round-6 published (the
    // co-moments exceed 2^53: the A38 HUGEINT→DOUBLE cast finding)
    "q_welch" ->
      """WITH q AS (SELECT event_type, day(ts) % 2 AS p,
        |  CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS xq
        |  FROM events),
        |g AS (SELECT event_type, p, count(*) AS n, sum(xq) AS s1,
        |  sum(xq * xq) AS s2 FROM q GROUP BY 1, 2),
        |j AS (SELECT coalesce(a.event_type, b.event_type) AS event_type,
        |  a.n AS na, a.s1 AS s1a, a.s2 AS s2a,
        |  b.n AS nb, b.s1 AS s1b, b.s2 AS s2b
        |  FROM (SELECT * FROM g WHERE p = 1) a
        |  FULL OUTER JOIN (SELECT * FROM g WHERE p = 0) b
        |    ON a.event_type = b.event_type),
        |z AS (SELECT event_type, na, nb,
        |  CAST(s1a AS DOUBLE) / (CAST(na AS DOUBLE) * 1000000.0) AS ma,
        |  CAST(s1b AS DOUBLE) / (CAST(nb AS DOUBLE) * 1000000.0) AS mb,
        |  CAST(na * s2a - s1a * s1a AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)
        |       * 1000000000000.0) / CAST(na AS DOUBLE) AS sea,
        |  CAST(nb * s2b - s1b * s1b AS DOUBLE)
        |    / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)
        |       * 1000000000000.0) / CAST(nb AS DOUBLE) AS seb
        |  FROM j)
        |SELECT event_type, coalesce(na, 0) AS n_odd,
        |coalesce(nb, 0) AS n_even,
        |CASE WHEN na > 1 AND nb > 1 AND sea + seb > 0.0
        |  THEN round((ma - mb) / sqrt(sea + seb), 6) END AS t_stat,
        |CASE WHEN na > 1 AND nb > 1 AND sea + seb > 0.0
        |  THEN round((sea + seb) * (sea + seb)
        |    / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
        |       + seb * seb / (CAST(nb AS DOUBLE) - 1.0)), 6) END AS dof
        |FROM z""".stripMargin,
    // B56: Jarque–Bera — deviations from the key's round-4 median
    // (central moments are shift-invariant; the median is the proven
    // cross-engine center), half-up ×1e4 quantized, HUGEINT power
    // sums, fixed double chains; g1/g2 round-6, JB round-4 (grows
    // with n — the A38 >2⁵³ cast caveat)
    "q_jarque_bera" ->
      """WITH c AS (SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS ref_c
        |  FROM events GROUP BY 1),
        |q AS (SELECT e.event_type,
        |  CAST(floor((value - ref_c) * 10000.0 + 0.5) AS HUGEINT) AS zq
        |  FROM events e JOIN c USING (event_type)),
        |g AS (SELECT event_type, count(*) AS n, sum(zq) AS s1,
        |  sum(zq * zq) AS s2, sum(zq * zq * zq) AS s3,
        |  sum(zq * zq * zq * zq) AS s4 FROM q GROUP BY 1),
        |z AS (SELECT event_type, n,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4,
        |  s2 * n > s1 * s1 AND n > 3 AS ok
        |  FROM g),
        |m AS (SELECT event_type, n, ok,
        |  e2 - m1 * m1 AS m2,
        |  e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1 AS m3,
        |  e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2
        |    - 3.0 * m1 * m1 * m1 * m1 AS m4
        |  FROM z),
        |s AS (SELECT event_type, n, ok,
        |  m3 / sqrt(m2 * m2 * m2) AS g1, m4 / (m2 * m2) AS g2 FROM m)
        |SELECT event_type, n,
        |CASE WHEN ok THEN round(g1, 6) END AS skewness,
        |CASE WHEN ok THEN round(g2, 6) END AS kurtosis,
        |CASE WHEN ok THEN round(CAST(n AS DOUBLE) / 6.0
        |  * (g1 * g1 + (g2 - 3.0) * (g2 - 3.0) / 4.0), 4) END AS jb_stat
        |FROM s""".stripMargin,
    // B50: tie-corrected Spearman — integer 2·avg-rank domain
    // (2·min_rank + |ties| − 1), HUGEINT co-moments, one fixed double
    // chain, round-6
    "q_spearman" ->
      """WITH r AS (SELECT event_type,
        |  2 * rank() OVER (PARTITION BY event_type ORDER BY value)
        |    + count(*) OVER (PARTITION BY event_type, value) - 1 AS ra,
        |  2 * rank() OVER (PARTITION BY event_type ORDER BY user_id)
        |    + count(*) OVER (PARTITION BY event_type, user_id) - 1 AS rb
        |  FROM events),
        |a AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(ra AS HUGEINT)) AS sa, sum(CAST(rb AS HUGEINT)) AS sb,
        |  sum(CAST(ra AS HUGEINT) * rb) AS sab,
        |  sum(CAST(ra AS HUGEINT) * ra) AS saa,
        |  sum(CAST(rb AS HUGEINT) * rb) AS sbb
        |  FROM r GROUP BY 1)
        |SELECT event_type, n,
        |CASE WHEN CAST(n * saa - sa * sa AS DOUBLE) > 0.0
        |  AND CAST(n * sbb - sb * sb AS DOUBLE) > 0.0
        |  THEN round(CAST(n * sab - sa * sb AS DOUBLE)
        |    / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
        |       * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6)
        |END AS spearman
        |FROM a""".stripMargin,
    // B50's sketch swap: the exact columns are B50's SQL verbatim;
    // approx_ok (binned-rank rho within the band) must hold per key
    "q_spearman_approx" ->
      """WITH r AS (SELECT event_type,
        |  2 * rank() OVER (PARTITION BY event_type ORDER BY value)
        |    + count(*) OVER (PARTITION BY event_type, value) - 1 AS ra,
        |  2 * rank() OVER (PARTITION BY event_type ORDER BY user_id)
        |    + count(*) OVER (PARTITION BY event_type, user_id) - 1 AS rb
        |  FROM events),
        |a AS (SELECT event_type, count(*) AS n,
        |  sum(CAST(ra AS HUGEINT)) AS sa, sum(CAST(rb AS HUGEINT)) AS sb,
        |  sum(CAST(ra AS HUGEINT) * rb) AS sab,
        |  sum(CAST(ra AS HUGEINT) * ra) AS saa,
        |  sum(CAST(rb AS HUGEINT) * rb) AS sbb
        |  FROM r GROUP BY 1)
        |SELECT event_type, n,
        |CASE WHEN CAST(n * saa - sa * sa AS DOUBLE) > 0.0
        |  AND CAST(n * sbb - sb * sb AS DOUBLE) > 0.0
        |  THEN round(CAST(n * sab - sa * sb AS DOUBLE)
        |    / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
        |       * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6)
        |END AS spearman, TRUE AS approx_ok
        |FROM a""".stripMargin,
    // B51: full R×C grid including EMPTY cells, per-cell (O−E)²/E
    // floor-quantized ×10⁶ into an exact integer sum (order-
    // independent), one unquantize division
    "q_chisq" ->
      """WITH obs AS (SELECT event_type, user_id % 4 AS cohort,
        |  count(*) AS o FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
        |  FROM obs GROUP BY 1),
        |ct AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS c
        |  FROM obs GROUP BY 1),
        |tt AS (SELECT (SELECT count(*) FROM rt) AS n_rows,
        |  (SELECT count(*) FROM ct) AS n_cols,
        |  (SELECT CAST(sum(r) AS BIGINT) FROM rt) AS n),
        |grid AS (SELECT rt.event_type, ct.cohort, rt.r, ct.c,
        |  coalesce(obs.o, 0) AS o, tt.n, tt.n_rows, tt.n_cols
        |  FROM rt CROSS JOIN ct CROSS JOIN tt
        |  LEFT JOIN obs ON obs.event_type = rt.event_type
        |    AND obs.cohort = ct.cohort),
        |terms AS (SELECT n, n_rows, n_cols,
        |  CAST(floor((CAST(o AS DOUBLE)
        |      - CAST(CAST(r AS HUGEINT) * c AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE)
        |      - CAST(CAST(r AS HUGEINT) * c AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(CAST(r AS HUGEINT) * c AS DOUBLE) / CAST(n AS DOUBLE))
        |    * 1000000.0) AS HUGEINT) AS tq
        |  FROM grid)
        |SELECT max(n) AS n,
        |  (max(n_rows) - 1) * (max(n_cols) - 1) AS dof,
        |  CAST(sum(tq) AS DOUBLE) / 1000000.0 AS chi2
        |FROM terms""".stripMargin,
    // B52: runs around the SELECTED median (sum of the two middle
    // ×10⁶-quantized order statistics — never interpolated), exact
    // integer run counts, the normal-approximation z round-6
    "q_runs_test" ->
      """WITH b AS (SELECT event_type, event_id, ts,
        |  CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS y6
        |  FROM events),
        |r AS (SELECT event_type, y6,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY y6, event_id) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS nk FROM b),
        |m AS (SELECT event_type,
        |  sum(CASE WHEN rn = (nk + 1) // 2 THEN y6 ELSE 0 END)
        |  + sum(CASE WHEN rn = (nk + 2) // 2 THEN y6 ELSE 0 END) AS med2
        |  FROM r GROUP BY 1),
        |s AS (SELECT b.event_type, b.ts, b.event_id,
        |  CASE WHEN b.y6 * 2 > m.med2 THEN 1 ELSE -1 END AS sgn
        |  FROM b JOIN m USING (event_type) WHERE b.y6 * 2 <> m.med2),
        |c AS (SELECT event_type, sgn,
        |  CASE WHEN lag(sgn) OVER w IS NULL
        |    OR lag(sgn) OVER w <> sgn THEN 1 ELSE 0 END AS chg
        |  FROM s WINDOW w AS (PARTITION BY event_type
        |    ORDER BY ts, event_id)),
        |g AS (SELECT event_type,
        |  CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_plus,
        |  CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_minus,
        |  CAST(sum(chg) AS BIGINT) AS n_runs FROM c GROUP BY 1),
        |z AS (SELECT event_type, n_plus, n_minus, n_runs,
        |  CAST(n_plus + n_minus AS DOUBLE) AS n,
        |  2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
        |    / CAST(n_plus + n_minus AS DOUBLE) AS a
        |  FROM g)
        |SELECT event_type, n_plus, n_minus, n_runs,
        |CASE WHEN n_plus > 0 AND n_minus > 0 AND n > 2.0
        |  AND a * (a - 1.0) / (n - 1.0) > 0.0
        |  THEN round((CAST(n_runs AS DOUBLE) - (a + 1.0))
        |    / sqrt(a * (a - 1.0) / (n - 1.0)), 6)
        |END AS z_runs
        |FROM z""".stripMargin,
    // B53: Mann–Whitney key-vs-rest on B44's distributed grid —
    // doubled average ranks (ties never divide), HUGEINT R2/U2 and
    // tie term, one fixed double chain for the tie-corrected z
    "q_mannwhitney" ->
      """WITH cnt AS (SELECT event_type, value, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT event_type FROM events),
        |vals AS (SELECT DISTINCT value FROM events),
        |grid AS (SELECT k.event_type, v.value, coalesce(c.c, 0) AS c
        |  FROM keys k CROSS JOIN vals v LEFT JOIN cnt c
        |  ON c.event_type = k.event_type AND c.value = v.value),
        |rk AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |  ORDER BY value) AS cum_k FROM grid),
        |rv AS (SELECT *, sum(cum_k) OVER (PARTITION BY value) AS cum_all,
        |  sum(c) OVER (PARTITION BY value) AS cnt_all FROM rk),
        |r2 AS (SELECT event_type,
        |  sum(CAST(c AS HUGEINT) * (2 * cum_all - cnt_all + 1)) AS r2,
        |  CAST(sum(c) AS BIGINT) AS n_k FROM rv GROUP BY 1),
        |tt AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie_t
        |  FROM (SELECT value, sum(c) AS t FROM cnt GROUP BY 1)),
        |nt AS (SELECT count(*) AS n_all FROM events),
        |j AS (SELECT r2.event_type, r2.n_k, nt.n_all - r2.n_k AS n_rest,
        |  r2.r2 - CAST(r2.n_k AS HUGEINT) * (r2.n_k + 1) AS u2,
        |  tt.tie_t, nt.n_all FROM r2 CROSS JOIN nt CROSS JOIN tt),
        |z AS (SELECT event_type, n_k, n_rest, u2,
        |  CAST(CAST(n_k AS HUGEINT) * n_rest AS DOUBLE) AS a,
        |  CAST(n_all AS DOUBLE) AS nd, CAST(tie_t AS DOUBLE) AS td
        |  FROM j)
        |SELECT event_type, n_k, n_rest,
        |CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
        |CASE WHEN n_k > 0 AND n_rest > 0
        |  AND a * ((nd + 1.0) - td / (nd * (nd - 1.0))) / 12.0 > 0.0
        |THEN round((CAST(u2 AS DOUBLE) - a)
        |  / (2.0 * sqrt(a * ((nd + 1.0) - td / (nd * (nd - 1.0)))
        |     / 12.0)), 6)
        |END AS z_u
        |FROM z""".stripMargin,
    // C66: the probe draw's exact top-k count is the oracle's half;
    // recall_ok (graph carries >= floor of those edges) must hold
    "knn_graph_recall" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |c AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_emb
        |  FROM embeddings),
        |s AS (SELECT q_id, c_id,
        |  round(list_cosine_similarity(q_emb, c_emb), 3) AS sim
        |  FROM q, c WHERE q_id <> c_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY sim DESC, c_id) AS rank FROM s)
        |SELECT count(*) AS n_truth, TRUE AS recall_ok
        |FROM r WHERE rank <= 5""".stripMargin,
    // C67: exact tf-cosine per same-source pair (BIGINT dot/norms²,
    // one fixed double chain, round-4), binned ×10; per-bin pair
    // count + quantize-sum mean cosine are exact, and cal_ok (the
    // simhash bin-mean landed within the calibration band) must hold
    "simhash_accuracy" ->
      """WITH t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS toks FROM documents),
        |tf AS (SELECT doc_id, source, tok, count(*) AS c FROM
        |  (SELECT doc_id, source, unnest(toks) AS tok FROM t)
        |  GROUP BY 1, 2, 3),
        |nrm AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS nsq
        |  FROM tf GROUP BY 1),
        |d AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |  FROM tf a JOIN tf b ON a.source = b.source AND a.tok = b.tok
        |    AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |x AS (SELECT round(CAST(dot AS DOUBLE)
        |  / (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE))),
        |  4) AS cosine
        |  FROM d JOIN nrm n1 ON n1.doc_id = d.id1
        |  JOIN nrm n2 ON n2.doc_id = d.id2),
        |b AS (SELECT CAST(floor(cosine * 10) AS BIGINT) AS bin,
        |  count(*) AS n_pairs,
        |  CAST(sum(CAST(floor(cosine * 10000 + 0.5) AS HUGEINT))
        |    AS DOUBLE) / (count(*) * 10000.0) AS mean_cosine
        |  FROM x WHERE cosine >= 0.3 GROUP BY 1)
        |SELECT bin, n_pairs, mean_cosine, TRUE AS cal_ok
        |FROM b WHERE n_pairs >= 50""".stripMargin,
    // C68: the two-step power iteration unrolled — HUGEINT Gram and
    // mat-vec sums mirror Spark's DECIMAL(38,0) exactly; the exact x2
    // publishes as a plain-integer string, the ratio round-6
    "emb_pca" ->
      """WITH q AS (SELECT vec_id,
        |  generate_subscripts(embedding, 1) - 1 AS pos,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576.0)
        |    AS HUGEINT) AS qv
        |  FROM embeddings),
        |g AS (SELECT a.pos AS i, b.pos AS j, sum(a.qv * b.qv) AS gv
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |x1 AS (SELECT i AS pos, sum(gv) AS x1 FROM g GROUP BY 1),
        |x2 AS (SELECT g.i AS pos, sum(g.gv * x1.x1) AS x2 FROM g
        |  JOIN x1 ON x1.pos = g.j GROUP BY 1),
        |ref AS (SELECT x2 AS refv FROM x2 ORDER BY abs(x2) DESC, pos
        |  LIMIT 1)
        |SELECT CAST(x2.pos AS BIGINT) AS pos, CAST(x2.x2 AS VARCHAR) AS x2,
        |  round(CAST(x2.x2 AS DOUBLE) / CAST(ref.refv AS DOUBLE), 6)
        |    AS ratio
        |FROM x2 CROSS JOIN ref""".stripMargin,
    // C73: per-vector norm² as a SEQUENTIAL fold of per-element
    // floor(x²·2⁴⁰) integers (exact, order-fixed inside the row);
    // bad (non-finite) vectors counted, excluded from the stats
    "emb_norm_audit" ->
      """WITH q AS (SELECT label,
        |  len(list_filter(embedding,
        |    x -> x IS NULL OR NOT isfinite(CAST(x AS DOUBLE)))) > 0 AS bad,
        |  embedding FROM embeddings),
        |g AS (SELECT label, bad,
        |  CASE WHEN NOT bad THEN list_aggregate(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |      * 1099511627776.0) AS BIGINT)), 'sum') END AS norm2q
        |  FROM q)
        |SELECT label, count(*) AS n_vecs,
        |count(CASE WHEN bad THEN 1 END) AS n_bad,
        |count(CASE WHEN norm2q = 0 THEN 1 END) AS n_zero,
        |CAST(min(norm2q) AS DOUBLE) / 1099511627776.0 AS min_norm2,
        |CAST(max(norm2q) AS DOUBLE) / 1099511627776.0 AS max_norm2,
        |CAST(sum(CAST(norm2q AS HUGEINT)) AS DOUBLE) / count(norm2q)
        |  / 1099511627776.0 AS mean_norm2
        |FROM g GROUP BY label""".stripMargin,
    // C68 scaled-form gate: the exact columns verbatim; scaled_ok
    // (the normalized-double direction within 1e-3 of the exact
    // ratio) must hold on every component
    "emb_pca_scaled" ->
      """WITH q AS (SELECT vec_id,
        |  generate_subscripts(embedding, 1) - 1 AS pos,
        |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576.0)
        |    AS HUGEINT) AS qv
        |  FROM embeddings),
        |g AS (SELECT a.pos AS i, b.pos AS j, sum(a.qv * b.qv) AS gv
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |x1 AS (SELECT i AS pos, sum(gv) AS x1 FROM g GROUP BY 1),
        |x2 AS (SELECT g.i AS pos, sum(g.gv * x1.x1) AS x2 FROM g
        |  JOIN x1 ON x1.pos = g.j GROUP BY 1),
        |ref AS (SELECT x2 AS refv FROM x2 ORDER BY abs(x2) DESC, pos
        |  LIMIT 1)
        |SELECT CAST(x2.pos AS BIGINT) AS pos, CAST(x2.x2 AS VARCHAR) AS x2,
        |  round(CAST(x2.x2 AS DOUBLE) / CAST(ref.refv AS DOUBLE), 6)
        |    AS ratio, TRUE AS scaled_ok
        |FROM x2 CROSS JOIN ref""".stripMargin,
    // B42 sampled fallback: BOTH medians engine-replayable — the DAY
    // subsample is the deterministic md5 priority draw on (key, day)
    // (md5_number_upper >> 32 is the C10/C40-established mirror of
    // graftx.Md5Hash32; VERDICT r9 #3: sampling days, not pairs,
    // shrinks candidate GENERATION quadratically), and band_ok is
    // RECOMPUTED here, not asserted TRUE
    "q_theilsen_sampled" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |    AS y
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, CAST(datediff('day',
        |  TIMESTAMP '2024-01-01 00:00:00', day) AS DOUBLE) AS x FROM daily),
        |p AS (SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope
        |  FROM d2 a JOIN d2 b ON a.event_type = b.event_type
        |    AND a.day < b.day),
        |e AS (SELECT event_type, round(median(slope), 4) AS ts_slope,
        |  count(*) AS n_pairs FROM p GROUP BY 1),
        |ds AS (SELECT * FROM d2
        |  WHERE CAST(md5_number_upper(event_type || '|'
        |    || CAST(CAST(day AS DATE) AS VARCHAR)) >> 32 AS BIGINT)
        |    % 2 = 0),
        |ps AS (SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope
        |  FROM ds a JOIN ds b ON a.event_type = b.event_type
        |    AND a.day < b.day),
        |es AS (SELECT event_type, round(median(slope), 4)
        |    AS ts_slope_sampled,
        |  count(*) AS n_pairs_sampled FROM ps GROUP BY 1)
        |SELECT e.event_type, e.n_pairs, e.ts_slope,
        |es.n_pairs_sampled, es.ts_slope_sampled,
        |abs(es.ts_slope_sampled - e.ts_slope) <= 1.0 AS band_ok
        |FROM e LEFT JOIN es USING (event_type)""".stripMargin,
    // B31 sketch swap: exact clip columns verbatim; flags_match (the
    // sketch cut may flip a clip only inside the approx-vs-exact cut
    // interval) must hold on every row
    "q_winsorize_approx" ->
      """WITH c AS (SELECT event_type,
        |  round(quantile_cont(value, 0.05), 4) AS c_lo,
        |  round(quantile_cont(value, 0.95), 4) AS c_hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, round(e.value, 4) AS value,
        |  least(greatest(e.value, c.c_lo), c.c_hi) AS value_winsor,
        |  (e.value < c.c_lo OR e.value > c.c_hi) AS was_clipped,
        |  TRUE AS flags_match
        |FROM events e JOIN c USING (event_type)""".stripMargin,
    // B54: Kruskal–Wallis omnibus H over B53's doubled-rank grid —
    // per-key terms floor-quantized ×1e6 before the cross-key sum
    // (order-independent), tie-corrected, round-6
    "q_kruskal" ->
      """WITH cnt AS (SELECT event_type, value, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT event_type FROM events),
        |vals AS (SELECT DISTINCT value FROM events),
        |grid AS (SELECT k.event_type, v.value, coalesce(c.c, 0) AS c
        |  FROM keys k CROSS JOIN vals v LEFT JOIN cnt c
        |  ON c.event_type = k.event_type AND c.value = v.value),
        |rk AS (SELECT *, sum(c) OVER (PARTITION BY event_type
        |  ORDER BY value) AS cum_k FROM grid),
        |rv AS (SELECT *, sum(cum_k) OVER (PARTITION BY value) AS cum_all,
        |  sum(c) OVER (PARTITION BY value) AS cnt_all FROM rk),
        |r2 AS (SELECT event_type,
        |  sum(CAST(c AS HUGEINT) * (2 * cum_all - cnt_all + 1)) AS r2,
        |  CAST(sum(c) AS BIGINT) AS n_k FROM rv GROUP BY 1),
        |tq AS (SELECT CAST(floor((CAST(r2 AS DOUBLE) / 2.0)
        |  * (CAST(r2 AS DOUBLE) / 2.0) / CAST(n_k AS DOUBLE) * 1e6)
        |  AS DECIMAL(38,0)) AS tq FROM r2),
        |pk AS (SELECT sum(tq) AS term_sum, count(*) AS n_keys FROM tq),
        |tt AS (SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie_t
        |  FROM (SELECT value, sum(c) AS t FROM cnt GROUP BY 1)),
        |nt AS (SELECT count(*) AS n_all FROM events)
        |SELECT nt.n_all, pk.n_keys, pk.n_keys - 1 AS dof,
        |CASE WHEN nt.n_all > 1 AND pk.n_keys > 1
        |  AND 1.0 - CAST(tt.tie_t AS DOUBLE)
        |    / (CAST(nt.n_all AS DOUBLE) * CAST(nt.n_all AS DOUBLE)
        |       * CAST(nt.n_all AS DOUBLE) - CAST(nt.n_all AS DOUBLE)) > 0.0
        |THEN round((12.0 / (CAST(nt.n_all AS DOUBLE)
        |    * (CAST(nt.n_all AS DOUBLE) + 1.0))
        |  * (CAST(pk.term_sum AS DOUBLE) / 1e6)
        |  - 3.0 * (CAST(nt.n_all AS DOUBLE) + 1.0))
        |  / (1.0 - CAST(tt.tie_t AS DOUBLE)
        |    / (CAST(nt.n_all AS DOUBLE) * CAST(nt.n_all AS DOUBLE)
        |       * CAST(nt.n_all AS DOUBLE) - CAST(nt.n_all AS DOUBLE))), 6)
        |END AS h_stat
        |FROM pk CROSS JOIN nt CROSS JOIN tt""".stripMargin,
    // B55: Brown–Forsythe — half-up ×1e6 |x − med| deviations,
    // HUGEINT co-moments, per-key SS terms floor-quantized before the
    // cross-key sum (the B54 protocol; scale cancels in F), round-6
    "q_levene" ->
      """WITH med AS (SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS med
        |  FROM events GROUP BY 1),
        |z AS (SELECT e.event_type,
        |  CAST(floor(abs(e.value - m.med) * 1000000.0 + 0.5) AS HUGEINT)
        |    AS zq
        |  FROM events e JOIN med m USING (event_type)),
        |g AS (SELECT event_type, count(*) AS n, sum(zq) AS s,
        |  sum(zq * zq) AS q FROM z GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_all, sum(s) AS s_all,
        |  count(*) AS n_keys FROM g),
        |p AS (SELECT g.n, g.s, g.q, t.n_all, t.s_all, t.n_keys,
        |  CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) AS mj,
        |  CAST(t.s_all AS DOUBLE) / CAST(t.n_all AS DOUBLE) AS m
        |  FROM g CROSS JOIN t),
        |sq AS (SELECT n_all, n_keys,
        |  CAST(floor(CAST(n AS DOUBLE) * (mj - m) * (mj - m))
        |    AS DECIMAL(38,0)) AS bq,
        |  CAST(floor(CAST(n * q - s * s AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS DECIMAL(38,0)) AS wq
        |  FROM p),
        |a AS (SELECT n_all, n_keys, sum(bq) AS ssb_sum, sum(wq) AS ssw_sum
        |  FROM sq GROUP BY 1, 2)
        |SELECT n_all, n_keys,
        |n_keys - 1 AS dof_between, n_all - n_keys AS dof_within,
        |CASE WHEN n_keys > 1 AND n_all > n_keys AND ssw_sum > 0
        |THEN round(((CAST(n_all AS DOUBLE) - CAST(n_keys AS DOUBLE))
        |    * CAST(ssb_sum AS DOUBLE))
        |  / ((CAST(n_keys AS DOUBLE) - 1.0) * CAST(ssw_sum AS DOUBLE)), 6)
        |END AS f_stat
        |FROM a""".stripMargin,
    // C71: the exact-Jaccard truth pair COUNT is the oracle's half
    // (C64's gram-string construction); recall_ok (the LSH pair set
    // carried >= floor of them) must hold
    "minhash_pair_recall" ->
      """WITH docs AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000000, source,
        |    text || ' zzduptoken' FROM documents WHERE doc_id % 10 = 0),
        |t0 AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        |    AS toks FROM docs),
        |t AS (SELECT doc_id, source, list_distinct(CASE WHEN len(toks) >= 3
        |  THEN list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |  ELSE [array_to_string(toks, ' ')] END) AS g FROM t0)
        |SELECT count(*) AS n_truth, TRUE AS recall_ok
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.g, b.g)) * 1.0
        |  / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
        |  >= 0.7""".stripMargin,
    // C72: the exact tf-cosine truth pair COUNT (C67's construction,
    // round-4 threshold compare on identical doubles); recall_ok (the
    // hamming<=3 pair set carried >= floor of them) must hold
    "simhash_pair_recall" ->
      """WITH docs AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000000, source,
        |    text || ' zzduptoken' FROM documents WHERE doc_id % 10 = 0),
        |t AS (SELECT doc_id, source,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> x <> '') AS toks FROM docs),
        |tf AS (SELECT doc_id, source, tok, count(*) AS c FROM
        |  (SELECT doc_id, source, unnest(toks) AS tok FROM t)
        |  GROUP BY 1, 2, 3),
        |nrm AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS nsq
        |  FROM tf GROUP BY 1),
        |d AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(sum(a.c * b.c) AS BIGINT) AS dot
        |  FROM tf a JOIN tf b ON a.source = b.source AND a.tok = b.tok
        |    AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT count(*) AS n_truth, TRUE AS recall_ok
        |FROM d JOIN nrm n1 ON n1.doc_id = d.id1
        |JOIN nrm n2 ON n2.doc_id = d.id2
        |WHERE round(CAST(dot AS DOUBLE)
        |  / (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE))),
        |  4) >= 0.99""".stripMargin,
    // C69: per-source JSD vs the corpus unigram distribution — exact
    // integer counts, floor(term·1e12)-quantized log terms (floor is
    // engine-identical where the decimal cast's rounding mode is not
    // — ADVICE r8; order-independent integer sum), the absent-token
    // mass closed-form via one integer sum, round-4 publish
    "corpus_divergence" ->
      """WITH tk AS (SELECT source, unnest(list_filter(
        |  string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |st AS (SELECT source, tok, count(*) AS c_st FROM tk GROUP BY 1, 2),
        |s AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
        |  FROM st GROUP BY 1),
        |t AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t
        |  FROM st GROUP BY 1),
        |n AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_corpus FROM s),
        |j AS (SELECT st.source, s.n_s, n.n_corpus, st.c_st, t.c_t,
        |  CAST(st.c_st AS DOUBLE) / CAST(s.n_s AS DOUBLE) AS p,
        |  CAST(t.c_t AS DOUBLE) / CAST(n.n_corpus AS DOUBLE) AS q
        |  FROM st JOIN s USING (source) JOIN t USING (tok) CROSS JOIN n),
        |terms AS (SELECT source, n_s, n_corpus, c_t,
        |  CAST(floor((p * ln(p / ((p + q) / 2.0))
        |    + q * ln(q / ((p + q) / 2.0))) * 1e12) AS DECIMAL(38,0)) AS term
        |  FROM j),
        |a AS (SELECT source, max(n_s) AS n_tokens,
        |  count(*) AS n_distinct_tokens, sum(term) AS term_sum,
        |  CAST(sum(c_t) AS BIGINT) AS ct_sum, max(n_corpus) AS n_corpus
        |  FROM terms GROUP BY 1)
        |SELECT source, n_tokens, n_distinct_tokens,
        |round((CAST(term_sum AS DOUBLE) / 1e12
        |  + (1.0 - CAST(ct_sum AS DOUBLE) / CAST(n_corpus AS DOUBLE))
        |    * ln(2.0)) / 2.0, 4) AS jsd
        |FROM a""".stripMargin,
    // B47: exact top-k heavy hitters published; the oracle asserts the
    // SpaceSaving sketch's est/err bracket held on every row
    "q_heavy_hitters" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY n_events DESC, user_id) AS rank FROM c)
        |SELECT event_type, rank, user_id, n_events, TRUE AS sketch_ok
        |FROM r WHERE rank <= 15""".stripMargin,
    // A21: DuckDB rebuilds the connector's deterministic grid from
    // generate_series — same integer formula, same exact-decimal mean.
    // Day 2 of regions r0,r1 → dayIdx=1, ridx∈{0,1}
    "q_grid_source" -> gridSourceSql,
    // A21 file-backed twin: same oracle — the files reader must be
    // indistinguishable from the formula reader, byte for byte
    "q_grid_files" -> gridSourceSql,
    // A1 under masked cells: DuckDB rebuilds the same deterministic
    // ~10% null mask (mix m ends in 1) and divides by count(t2m) —
    // skipna in both engines, pinned against n_cells
    "q_grid_skipna" ->
      """WITH r AS (SELECT * FROM (VALUES ('r0', 0), ('r1', 1)) t(region, ridx)),
        |h AS (SELECT unnest(generate_series(0, 23)) AS hr),
        |la AS (SELECT unnest(generate_series(0, 7)) AS lat),
        |lo AS (SELECT unnest(generate_series(0, 7)) AS lon),
        |g AS (SELECT region,
        |  TIMESTAMP '2024-01-02 00:00:00' + to_hours(hr) AS ts,
        |  CASE WHEN ((lat*31 + lon*17 + hr*13 + 1*11 + ridx*7) % 400) % 10 = 1
        |    THEN NULL
        |    ELSE CAST(253150 + ((lat*31 + lon*17 + hr*13 + 1*11 + ridx*7) % 400)
        |      * 100 AS DOUBLE) / 1000.0 END AS t2m
        |  FROM r, h, la, lo)
        |SELECT region, ts,
        |(CAST(sum(CAST(t2m AS DECIMAL(20,6))) AS DOUBLE) / count(t2m))
        |  AS t2m_avg,
        |count(t2m) AS n_vals,
        |count(*) AS n_cells
        |FROM g GROUP BY region, ts""".stripMargin,
    // B39: the unique (value, event_id) order key makes both
    // functions tie-free — one double division each, no rounding
    "q_percent_rank" ->
      """SELECT event_id, event_type, round(value, 4) AS value,
        |percent_rank() OVER (PARTITION BY event_type
        |  ORDER BY value, event_id) AS pct_rank,
        |cume_dist() OVER (PARTITION BY event_type
        |  ORDER BY value, event_id) AS cume_dist
        |FROM events""".stripMargin,
    // B38: integer counts; share/skew are one double division each
    "q_skew_audit" ->
      """WITH k AS (SELECT event_type, count(*) AS n
        |  FROM events GROUP BY event_type),
        |t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM k)
        |SELECT k.event_type, k.n,
        |CAST(k.n AS DOUBLE) / t.total AS share,
        |CAST(k.n AS DOUBLE) * t.n_keys / t.total AS skew_factor
        |FROM k CROSS JOIN t""".stripMargin,
    // C90 (r13): NB distillation of the gopher gate — the oracle
    // re-derives the labels (C61's CTE verbatim), retrains the
    // multinomial counts, and rescores every doc; log-odds quantize
    // as floor(·10¹²) DECIMAL(38,0) (the C69 protocol), sums are
    // exact decimal adds, publish = round(sum/10¹², 4), keep_pred on
    // the rounded value
    "nb_quality" ->
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN text || ' ### ### ### ... ... ...' ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
        |    AS toks FROM aug),
        |s AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(toks, x -> strlen(x))), 0)
        |    AS BIGINT) AS word_chars,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
        |    AS BIGINT) AS alpha_words,
        |  CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS BIGINT)
        |    AS n_symbols,
        |  CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
        |    + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stop
        |  FROM t),
        |lab AS (SELECT doc_id,
        |  (n_words >= 30 AND n_words <= 100000
        |    AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
        |    AND 10 * n_symbols <= n_words
        |    AND 5 * alpha_words >= 4 * n_words
        |    AND n_stop >= 2) AS keep
        |  FROM s),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |tc AS (SELECT tok,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |  FROM tok JOIN lab USING (doc_id) GROUP BY tok),
        |tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos,
        |  CAST(sum(n_neg) AS BIGINT) AS tot_neg,
        |  CAST(count(*) AS BIGINT) AS vocab FROM tc),
        |odds AS (SELECT tok, CAST(floor(
        |  (ln(CAST(n_pos + 1 AS DOUBLE) / CAST(tot_pos + vocab AS DOUBLE))
        |   - ln(CAST(n_neg + 1 AS DOUBLE) / CAST(tot_neg + vocab AS DOUBLE)))
        |  * 1e12) AS DECIMAL(38,0)) AS q
        |  FROM tc CROSS JOIN tot),
        |pr AS (SELECT CAST(floor(ln(
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |    / CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) + 1 AS DOUBLE))
        |  * 1e12) AS DECIMAL(38,0)) AS qp FROM lab),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  sum(q) AS qsum FROM tok JOIN odds USING (tok) GROUP BY doc_id)
        |SELECT lab.doc_id, lab.keep AS label,
        |  coalesce(sc.n_toks, 0) AS n_toks,
        |  round(CAST(coalesce(sc.qsum, CAST(0 AS DECIMAL(38,0))) + pr.qp
        |    AS DOUBLE) / 1e12, 4) AS score,
        |  round(CAST(coalesce(sc.qsum, CAST(0 AS DECIMAL(38,0))) + pr.qp
        |    AS DOUBLE) / 1e12, 4) > 0 AS keep_pred
        |FROM lab LEFT JOIN sc USING (doc_id) CROSS JOIN pr""".stripMargin,
    // A45 (r13): serving oracles re-derive the daily mart as a CTE —
    // a query served from the registered in-memory mart must equal
    // the same query over a fresh recomputation
    "serving_keys" -> (dailyMartCteSql +
      "\nSELECT DISTINCT event_type FROM mart ORDER BY event_type"),
    "serving_range" -> (dailyMartCteSql +
      """
        |SELECT event_type, day, value_mean, value_min, value_max,
        |  value_sum, n_obs
        |FROM mart
        |WHERE event_type IN ('click', 'purchase')
        |  AND day >= TIMESTAMP '2024-01-05 00:00:00'
        |  AND day <= TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_type, day""".stripMargin),
    // wideSeries' pivot cell is Exact.avgD over the (day, key) group;
    // the daily mart has exactly one row per (event_type, day), so
    // the mirror is the same decimal-exact mean over that single row
    "serving_wide" -> (dailyMartCteSql + "\nSELECT day,\n" +
      pivotKeys.map(k =>
        s"""CAST(sum(CAST(CASE WHEN event_type = '$k' THEN value_mean END
           |  AS DECIMAL(20,6))) AS DOUBLE)
           |  / count(CASE WHEN event_type = '$k' THEN value_mean END)
           |  AS "$k"""".stripMargin).mkString(",\n") +
      "\nFROM mart GROUP BY day ORDER BY day"),
    "serving_kpi" -> (dailyMartCteSql +
      """
        |SELECT count(*) AS n_rows, count(DISTINCT event_type) AS n_keys,
        |  min(day) AS t_start, max(day) AS t_end FROM mart""".stripMargin),
  )
}
