package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every variant turns "compare all pairs" (quadratic,
  * impossible at 100 TB) into "group by a bucket key, compare within
  * buckets" — hash-groupBy for exact, (band_id, band_key) buckets for
  * MinHash-LSH, 16-bit chunk buckets for SimHash. Bucket keys have
  * cardinality far above the executor count, so work spreads evenly
  * and nothing is collected to the driver.
  */
object DedupOps {

  /** C1: exact dedup — group identical texts by md5, keep the lowest
    * doc_id (a pure hash-shuffle groupBy; the canonical exact-dedup
    * plan at any scale).
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  // ---- MinHash + LSH ------------------------------------------------

  /** Number of hash permutations in the MinHash signature. */
  val NumHashes = 64
  /** LSH bands (NumHashes / RowsPerBand rows each). With 16 bands of
    * 4 rows, docs with Jaccard ~0.5 collide in ≥1 band w.p. ~0.67,
    * ~0.8 → ~0.96 (the standard S-curve).
    */
  val NumBands = 16
  val RowsPerBand = 4

  /** Word 3-gram shingles as STRINGS (reference semantics; used by
    * tests). The hot path uses [[shingleHashes]] instead.
    */
  def shingles(text: Column): Column = {
    val toks = TextOps.tokens(text)
    // zip_with over three aligned slices, not transform+slice(toks, i):
    // sub-expressions in a higher-order-function lambda re-evaluate per
    // ELEMENT, so the un-materialized token split would re-run per
    // position — O(doc²) (same trap bpePairs measured at 2.6× query
    // wall time)
    val n = size(toks) - 2
    when(size(toks) >= 3,
      zip_with(
        zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
          (a, b) => concat_ws(" ", a, b)),
        slice(toks, lit(3), n),
        (ab, c) => concat_ws(" ", ab, c)))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Word 3-gram shingle HASHES, built by hash-combining token hashes
    * over three aligned slices — zip_with(zip_with(h0,h1),h2). O(n)
    * array ops per row; never materializes n-gram strings. (The
    * per-element `slice(toks, i, 3)` formulation is quadratic and its
    * generated code is pathologically slow — measured 40s for 500
    * docs; this shape is <1s.)
    */
  def shingleHashes(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val th = transform(toks, t => xxhash64(t))
    val n = size(th)
    val a = slice(th, lit(1), n - 2)
    val b = slice(th, lit(2), n - 2)
    val c = slice(th, lit(3), n - 2)
    when(n >= 3,
      zip_with(zip_with(a, b, (x, y) => xxhash64(x, y)), c,
        (xy, z) => xxhash64(xy, z)))
      .otherwise(array(xxhash64(concat_ws(" ", toks))))
  }

  /** doc_id + MinHash signature (array of NumHashes longs).
    *
    * Shape: explode shingle hashes once, then ONE hash-aggregate with
    * NumHashes narrow `min(xxhash64(h, k))` columns. Each "permutation"
    * is an independent rehash (ANSI-safe — no wrapping arithmetic).
    * This deliberately avoids a 64-lambda array expression, whose
    * generated code takes Janino minutes to compile; 64 scalar min
    * aggregates are tiny codegen units, combine map-side, and shuffle
    * exactly one 64-column row per document — the scalable plan.
    *
    * The result is persisted: it has 3 consumers (banding + both sides
    * of pair verification) at ~0.5 KB per doc; MEMORY_AND_DISK spills
    * and CacheRegistry.unpersistAll releases it after the action.
    */
  def minhashSignatures(documents: DataFrame): DataFrame = {
    val exploded = documents.select(col("doc_id"),
      explode(shingleHashes(col("text"))).as("h"))
    val minCols = (0 until NumHashes).map { k =>
      min(xxhash64(col("h"), lit(k))).as(s"m$k")
    }
    graft.CacheRegistry.persist(exploded
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(k => col(s"m$k")): _*).as("sig")))
  }

  /** C2: MinHash+LSH near-dup pairs: signature → band keys → bucket
    * self-join → signature-estimated Jaccard ≥ minJaccard.
    */
  def minhashLshPairs(documents: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(documents)

    val bandStructs = array((0 until NumBands).map { b =>
      val cols = (0 until RowsPerBand)
        .map(r => element_at(col("sig"), b * RowsPerBand + r + 1))
      struct(lit(b).as("band_id"), xxhash64(cols: _*).as("band_key"))
    }: _*)
    val banded = sigs
      .select(col("doc_id"), explode(bandStructs).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))

    val candidates = banded.as("x")
      .join(banded.as("y"),
        col("x.band_id") === col("y.band_id")
          && col("x.band_key") === col("y.band_key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()

    candidates
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        round(aggregate(
          zip_with(col("sig1"), col("sig2"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / lit(NumHashes), 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** C14: prefix-filtered set-similarity join (PPJoin, Xiao et al.,
    * WWW'08): exact same output as [[ngramJaccard]] with far fewer
    * candidate pairs and no hot postings.
    *
    * Two sets with Jaccard ≥ τ must share a token within the first
    * p = |x| − ⌈τ·|x|⌉ + 1 tokens of each, when every set is ordered
    * by one GLOBAL token order (rarest-first by document frequency).
    * So the posting join runs only over each doc's p-token prefix —
    * rare tokens — which kills the hot-posting skew of stop-word-like
    * tokens exactly, with zero recall loss.
    *
    * Plan shape (each numbered step is at most one exchange):
    *   1. explode distinct token hashes (map-only);
    *   2. document frequency per token (map-combinable groupBy);
    *   3. per-doc rarest-first SORTED ARRAYS via collect_list +
    *      array_sort — a per-row O(n log n) sort inside a hash
    *      aggregate, NOT a global row_number window over the whole
    *      token table (round 1's mistake: that windowed sort shuffled
    *      and sorted every token before any filtering);
    *   4. prefix postings by slice + posexplode (map-only);
    *   5. candidate join on (source, token) with the PPJoin LENGTH
    *      filter (τ·n1 ≤ n2 ∧ τ·n2 ≤ n1) and a per-row POSITIONAL
    *      bound; surviving rows collapse in one groupBy that keeps the
    *      first-match positions, where the exact positional filter
    *      1 + min(n1−p1−1, n2−p2−1) ≥ α prunes again (α = required
    *      overlap ⌈τ/(1+τ)·(n1+n2)⌉ — valid at the first shared
    *      token because token order is identical in both arrays);
    *   6. exact verification per surviving pair via array_intersect on
    *      the carried sorted arrays — no second exploded join, no
    *      distinct barrier.
    */
  /** Steps 1-4 of the PPJoin pipeline, shared by the full self-join
    * ([[ngramJaccardPrefix]]) and the incremental batch-probe variant
    * ([[ngramJaccardPrefixAgainst]]): per-doc df-ordered token
    * arrays (`docs`, persisted via CacheRegistry) and the prefix
    * postings (`pref`).
    */
  private def prefixIndex(documents: DataFrame, tau: Double, eps: Double)
      : (DataFrame, DataFrame) = {
    // 1. one row per (doc, distinct token hash). NOT persisted: both
    // consumers (the df aggregate and the df-join) run inside the one
    // job that builds `docs`, and measured at sf0.1 the memory-store
    // write traffic cost more than the second tokenization pass it
    // saved (C14 must beat C4 on wall time, and the bench JVM is
    // GC-bound by the time it runs).
    val toks =
      documents.select(col("doc_id"), col("source"),
        explode(array_distinct(transform(TextOps.tokens(col("text")),
          t => xxhash64(t)))).as("th"))

    // 2. document frequency per token hash
    val dfreq = toks.groupBy("th").agg(count(lit(1)).as("df"))

    // 3. per-doc arrays sorted by (df, th): one global rarest-first
    // total order. `ths` keeps that df-order (prefixes slice it);
    // `nhs` is the SAME set sorted numerically, for the merge-scan
    // verification kernel. Persisted — consumed by the prefix
    // postings and by both sides of verification.
    val docs = graft.CacheRegistry.persist(
      toks.join(dfreq, "th")
        .groupBy("doc_id", "source")
        .agg(array_sort(collect_list(struct(col("df"), col("th"))))
          .as("sorted"))
        .select(col("doc_id"), col("source"),
          transform(col("sorted"), s => s.getField("th")).as("ths"),
          array_sort(transform(col("sorted"), s => s.getField("th"))).as("nhs"),
          size(col("sorted")).cast("long").as("n")))

    // 4. prefix postings: first p = n − ⌈τ·n⌉ + 1 tokens, 0-based pos
    val pref = docs.select(col("doc_id"), col("source"), col("n"),
        posexplode(slice(col("ths"), lit(1),
          (col("n") - ceil(col("n") * lit(tau) - lit(eps)) + 1).cast("int"))))
      .withColumnRenamed("col", "th")
    (docs, pref)
  }

  /** Step 6: exact verification of candidate pairs (id1, id2, mp1,
    * mp2, n1, n2) on the numerically-sorted carried arrays via the
    * native merge-scan kernel — shared by both pair generators.
    */
  private def verifyPairs(cands: DataFrame, docs: DataFrame, tau: Double)
      : DataFrame =
    cands
      .join(docs.select(col("doc_id").as("id1"), col("nhs").as("nhs1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("nhs").as("nhs2")), "id2")
      .withColumn("ni",
        graft.functions.VectorFns
          .sorted_intersect_count(col("nhs1"), col("nhs2")).cast("double"))
      .filter(col("ni") / (col("n1") + col("n2") - col("ni")) >= tau)
      .select(col("id1"), col("id2"),
        round(col("ni") / (col("n1") + col("n2") - col("ni")), 4).as("jaccard"))

  def ngramJaccardPrefix(documents: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0, "prefix filter requires minJaccard > 0")
    val tau = minJaccard
    val eps = 1e-9 // guards ⌈τ·n⌉ against double round-up (safe side)
    val (docs, pref) = prefixIndex(documents, tau, eps)

    // 5. candidates: equi-join on (source, th) + length filter +
    // positional bounds. All bounds run CEIL-FREE: for integer m,
    // m ≥ ⌈c·s − eps⌉ ⟺ c·s ≤ m + eps — one multiply + compare per
    // row instead of a ceil call (this join is the operator's hottest
    // loop: |prefix postings|² rows per bucket flow through it).
    // α = minimum overlap a τ-pair must have = ⌈τ/(1+τ)·(n1+n2)⌉.
    val a = tau / (1.0 + tau)
    val cands = pref
      .select(col("source"), col("th"), col("doc_id").as("id1"),
        col("n").as("n1"), col("pos").as("pos1"))
      .join(pref.select(col("source"), col("th"), col("doc_id").as("id2"),
        col("n").as("n2"), col("pos").as("pos2")), Seq("source", "th"))
      .filter(col("id1") < col("id2")
        && col("n1") * lit(tau) <= col("n2") + lit(eps)
        && col("n2") * lit(tau) <= col("n1") + lit(eps)
        // per-row bound: overlap ≤ 1 + min(pos) + min(remaining suffix)
        && (col("n1") + col("n2")) * lit(a)
          <= lit(1) + least(col("pos1"), col("pos2"))
            + least(col("n1") - col("pos1") - 1, col("n2") - col("pos2") - 1)
            + lit(eps))
      // n1/n2 are functionally dependent on the ids — aggregate them
      // (max = the value) instead of widening the grouping key
      .groupBy("id1", "id2")
      .agg(min("pos1").as("mp1"), min("pos2").as("mp2"),
        max("n1").as("n1"), max("n2").as("n2"))
      // first-match positional filter: no shared token precedes the
      // first shared prefix token (same order both sides), so overlap
      // ≤ 1 + min(n1−mp1−1, n2−mp2−1)
      .filter((col("n1") + col("n2")) * lit(a)
        <= lit(1)
          + least(col("n1") - col("mp1") - 1, col("n2") - col("mp2") - 1)
          + lit(eps))

    // 6. exact verification on the numerically-sorted carried arrays
    // via the native merge-scan kernel (graftx.SortedIntersectCount):
    // O(n1+n2) primitive compares inside whole-stage codegen, zero
    // allocation. The builtin alternatives were measured GC-bound
    // (size(array_intersect) allocates a hash set + array per pair)
    // or interpreted (aggregate+array_contains is CodegenFallback).
    // AQE broadcasts `docs` when it is small enough.
    verifyPairs(cands, docs, tau)
  }

  /** Batch-probe PPJoin: the τ-pairs of `documents` that TOUCH a doc
    * in `batchIds` — the pair generator of [[dedupIncremental]]. Same
    * index, bounds, and verification as [[ngramJaccardPrefix]]; the
    * difference is the candidate join's probe side, which carries
    * ONLY the batch docs' prefix postings. At 100 TB that is the
    * whole point: corpus×corpus candidates are never generated, the
    * join is |corpus postings| × |batch postings| (AQE broadcasts the
    * batch side when it is small), and the linear re-index of the
    * union is the only full-corpus work.
    */
  def ngramJaccardPrefixAgainst(documents: DataFrame, batchIds: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0, "prefix filter requires minJaccard > 0")
    val tau = minJaccard
    val eps = 1e-9
    val a = tau / (1.0 + tau)
    val (docs, pref) = prefixIndex(documents, tau, eps)
    val prefB = pref.join(batchIds.select(col("doc_id")), "doc_id")
    // asymmetric probe join, then NORMALIZE each hit to id1 < id2 so
    // the downstream bounds/grouping/verification are order-blind.
    // A batch-batch pair surfaces from both probe directions; the
    // min/max aggregation below is duplicate-insensitive.
    val cands = pref
      .select(col("source"), col("th"), col("doc_id").as("ida"),
        col("n").as("na"), col("pos").as("posa"))
      .join(prefB.select(col("source"), col("th"), col("doc_id").as("idb"),
        col("n").as("nb"), col("pos").as("posb")), Seq("source", "th"))
      .filter(col("ida") =!= col("idb")
        && col("na") * lit(tau) <= col("nb") + lit(eps)
        && col("nb") * lit(tau) <= col("na") + lit(eps)
        && (col("na") + col("nb")) * lit(a)
          <= lit(1) + least(col("posa"), col("posb"))
            + least(col("na") - col("posa") - 1, col("nb") - col("posb") - 1)
            + lit(eps))
      .select(when(col("ida") < col("idb"),
        struct(col("ida").as("id1"), col("na").as("n1"), col("posa").as("pos1"),
          col("idb").as("id2"), col("nb").as("n2"), col("posb").as("pos2")))
        .otherwise(
          struct(col("idb").as("id1"), col("nb").as("n1"), col("posb").as("pos1"),
            col("ida").as("id2"), col("na").as("n2"), col("posa").as("pos2")))
        .as("p"))
      .select(col("p.*"))
      .groupBy("id1", "id2")
      .agg(min("pos1").as("mp1"), min("pos2").as("mp2"),
        max("n1").as("n1"), max("n2").as("n2"))
      .filter((col("n1") + col("n2")) * lit(a)
        <= lit(1)
          + least(col("n1") - col("mp1") - 1, col("n2") - col("mp2") - 1)
          + lit(eps))
    verifyPairs(cands, docs, tau)
  }

  /** C16: benchmark decontamination — the standard pre-training hygiene
    * pass: flag training documents whose word 3-grams overlap an
    * evaluation/benchmark corpus, so eval answers don't leak into
    * training data. Per document: total 3-gram instances, how many
    * appear anywhere in the benchmark set, the contamination ratio,
    * and a keep flag.
    *
    * Scale shape: explode doc n-grams; the benchmark side collapses to
    * DISTINCT n-grams (typically tiny vs the corpus — eval sets are
    * thousands of docs, training corpora billions), so the membership
    * join broadcasts; one groupBy(doc_id) rolls the verdict up. No
    * all-pairs anything — cost is linear in corpus n-grams.
    */
  def decontaminate(documents: DataFrame, benchmark: DataFrame,
      maxOverlap: Double = 0.5): DataFrame = {
    // membership-join on the 8-byte gram HASH, not the gram string:
    // identical counts (a 64-bit collision needs ~2^32 distinct grams
    // in the benchmark set), and the broadcast/shuffle payload shrinks
    // ~4x vs shipping word trigrams as text
    val docGrams = documents.select(col("doc_id"),
      explode(transform(shingles(col("text")), g => xxhash64(g))).as("g"))
    val benchGrams = benchmark
      .select(explode(transform(shingles(col("text")), g => xxhash64(g))).as("g"))
      .distinct()
    docGrams
      .join(benchGrams.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams"), 4)
          .as("contamination"),
        (col("n_hits").cast("double") / col("n_grams") <= maxOverlap)
          .as("keep"))
  }

  /** C64: MinHash estimator accuracy, ORACLE-GATED — the band proof
    * that turns C2's rows-only status into a checked claim: for every
    * same-source pair whose EXACT distinct-trigram Jaccard clears
    * `minJaccard` (SQL-expressible — the C4 construction on the C16
    * gram domain), the 64-perm signature estimate must land within
    * `band` of the exact value. band = 0.35 is ≈ 5.6σ of the
    * estimator's worst-case std √(J(1−J)/64) ≤ 0.0625, so a pass is
    * evidence the signatures estimate what they claim, while a
    * biased/broken signature pipeline (mis-aligned slices, a
    * re-seeded hash) fails the oracle hash. Published columns are the
    * exact pair + Jaccard (deterministic); the estimate itself stays
    * out of the hash (xxhash-based — deterministic in Spark,
    * non-reproducible in DuckDB).
    *
    * Scale shape: the exact side is C4's inverted-index join bounded
    * by the source partition; the signature join-back is two
    * |pairs|-row key joins. (The exact side is the AUDIT cost — the
    * production path remains C2's LSH bucketing; this entry exists to
    * certify it.)
    */
  def minhashAccuracy(documents: DataFrame, minJaccard: Double = 0.3,
      band: Double = 0.35): DataFrame = {
    val grams = graft.CacheRegistry.persist(
      documents.select(col("doc_id"), col("source"),
        explode(array_distinct(shingleHashes(col("text")))).as("th")))
    val counts = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = grams.as("x").join(grams.as("y"),
        col("x.source") === col("y.source") && col("x.th") === col("y.th")
          && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
    val exact = inter
      .join(counts.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(counts.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(col("n_inter").cast("double")
        / (col("n1") + col("n2") - col("n_inter")) >= minJaccard)
      .select(col("id1"), col("id2"),
        round(col("n_inter").cast("double")
          / (col("n1") + col("n2") - col("n_inter")), 4).as("jaccard"))
    val sigs = minhashSignatures(documents)
    val est = aggregate(
      zip_with(col("sig1"), col("sig2"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / lit(NumHashes)
    exact
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"), col("jaccard"),
        (abs(est - col("jaccard")) <= lit(band)).as("est_ok"))
  }

  /** C71: MinHash PAIR-SET recall, ORACLE-GATED (VERDICT r8 #6) —
    * C64 certifies the signatures and C65/C66 certify ANN recall, but
    * C2's emitted pair LIST itself was still rows-only. This is the
    * C65 shape for it: the truth set is every same-source pair whose
    * EXACT distinct-trigram Jaccard clears `minJaccardTruth`
    * (SQL-expressible — C64's construction verbatim), and the in-row
    * `recall_ok` asserts the LSH pipeline emitted ≥ `floor` of them.
    * Theory headroom: at J = 0.7 a 16-band × 4-row table misses a
    * pair with probability (1 − J⁴)¹⁶ ≈ 0.012 and the est ≥ 0.5
    * verify filter rejects ~2·10⁻⁴ — so a healthy pipeline sits near
    * 0.99 and a broken banding (mis-sliced signature, re-seeded band
    * hash, a dropped verify side) crashes through the 0.9 floor. The
    * driver re-measures this at both SFs every round.
    *
    * Scale shape: the exact side is the C64 audit cost (source-
    * blocked inverted-index join); the LSH side is C2's production
    * plan; the comparison is one pair-keyed LEFT SEMI + two 1-row
    * aggregates.
    */
  /** Deterministic near-duplicate injection for the pair-recall gates
    * (C71/C72) — the C29/C34 synthetic-hazard pattern: every doc with
    * doc_id ≡ 0 (mod `mod`) gets a twin (doc_id + 10⁹, same source)
    * whose text appends one sentinel token, i.e. trigram Jaccard
    * n/(n+1) ≈ 0.99 and tf-cosine ≈ √(n/(n+1)) ≈ 0.995+ BY
    * CONSTRUCTION. The natural corpus carries only 1–4 pairs above
    * the certification thresholds (measured at both SFs) — far too
    * few for a stable recall floor — while the injected twins give
    * |docs|/mod truth pairs that the DuckDB oracle rebuilds verbatim.
    */
  def withSyntheticNearDups(documents: DataFrame, mod: Int = 10): DataFrame = {
    val base = documents.select(col("doc_id"), col("source"), col("text"))
    base.unionByName(base.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("source"),
        concat(col("text"), lit(" zzduptoken")).as("text")))
  }

  def minhashPairRecall(documents: DataFrame,
      minJaccardTruth: Double = 0.7, lshMinJaccard: Double = 0.5,
      floor: Double = 0.9): DataFrame = {
    val grams = graft.CacheRegistry.persist(
      documents.select(col("doc_id"), col("source"),
        explode(array_distinct(shingleHashes(col("text")))).as("th")))
    val counts = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = grams.as("x").join(grams.as("y"),
        col("x.source") === col("y.source") && col("x.th") === col("y.th")
          && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_inter"))
    val truth = inter
      .join(counts.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(counts.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(col("n_inter").cast("double")
        / (col("n1") + col("n2") - col("n_inter")) >= minJaccardTruth)
      .select(col("id1"), col("id2"))
    val lsh = minhashLshPairs(documents, lshMinJaccard)
      .select(col("id1"), col("id2"))
    // r15 (guide §1.2): ONE aggregation over ONE evaluation of the
    // truth fan-out — the former semi-join + crossJoin shape evaluated
    // the truth subtree (the gate's audit cost) once per final
    // aggregate. LEFT join against the LSH pair set (unique by its
    // `.distinct()` construction) with a hit marker: count(hit) is
    // exactly the semi-join count, n_truth is unchanged because a
    // unique right side cannot duplicate truth rows. Same pattern in
    // simhashPairRecall and the SimilarityOps recall gates.
    truth.join(lsh.withColumn("hit", lit(1)), Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
      .select(col("n_truth"),
        (col("n_found").cast("double") >= lit(floor) * col("n_truth"))
          .as("recall_ok"))
  }

  /** C62: n-gram coverage — C16's audit from the BENCHMARK's side:
    * per benchmark doc, what fraction of its DISTINCT word trigrams
    * appears anywhere in the training corpus (the eval-leakage
    * report an eval owner reads before trusting a score; C16 answers
    * "which corpus docs to drop", this answers "which eval items are
    * already compromised"). Same 8-byte gram-hash domain as C16.
    *
    * Scale shape: the corpus side is a LEFT-SEMI probe — benchmark
    * grams (small) semi-join the corpus gram stream, so the corpus
    * never builds a distinct set and never carries a payload column;
    * two partial-agg groupBys on the benchmark side publish the
    * per-doc ratio.
    */
  def ngramCoverage(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val benchGrams = benchmark.select(col("doc_id"),
      explode(array_distinct(
        transform(shingles(col("text")), g => xxhash64(g)))).as("g"))
    val corpGrams = corpus
      .select(explode(transform(shingles(col("text")), g => xxhash64(g))).as("g"))
    val totals = benchGrams.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val hits = benchGrams.join(corpGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
    totals.join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_covered"))
      .select(col("doc_id"), col("n_grams"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_grams"), 4)
          .as("coverage"))
  }

  /** C76: crawl-batch n-gram NOVELTY — the corpus-level "is this new
    * snapshot adding anything" datasheet (C62 audits eval
    * contamination per DOC; this audits an INCOMING BATCH per source
    * BEFORE the pipeline pays full dedup cost: a mirror re-crawl
    * reads novelty ≈ 0 and can be dropped wholesale, and downstream
    * dedup rates track 1 − novelty): per batch source, distinct
    * trigram count, grams unseen anywhere in the standing corpus
    * (LEFT ANTI on the 8-byte gram hash — C62's probe reversed),
    * novelty ratio round-6.
    *
    * Scale: both sides reduce to DISTINCT gram keys before the join
    * (map-side combine collapses repeats per partition); the corpus
    * side never carries a payload column, and the output is
    * |sources| rows. The oracle joins on STRING grams — same counts
    * absent 64-bit collisions (the C48/C62 convention).
    */
  def ngramNovelty(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val batchGrams = batch.select(col("source"),
      explode(array_distinct(
        transform(shingles(col("text")), g => xxhash64(g)))).as("g"))
      .distinct()
    val corpGrams = corpus.select(
      explode(transform(shingles(col("text")), g => xxhash64(g))).as("g"))
    val totals = batchGrams.groupBy("source")
      .agg(count(lit(1)).as("n_grams"))
    val novel = batchGrams.join(corpGrams, Seq("g"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_new"))
    totals.join(novel, Seq("source"), "left")
      .na.fill(0L, Seq("n_new"))
      .select(col("source"), col("n_grams"), col("n_new"),
        round(col("n_new").cast("double") / col("n_grams"), 6)
          .as("novelty"))
  }

  // ---- SimHash ------------------------------------------------------

  /** doc_id + 64-bit SimHash: per bit, sum ±1 over token hashes; bit
    * set when the sum is positive.
    */
  def simhashes(documents: DataFrame): DataFrame = {
    // Same shape as minhashSignatures: explode token hashes once, one
    // hash-aggregate with 64 narrow ±1 bit-sum columns (map-side
    // combinable), then assemble the 64-bit hash in a single
    // projection. Persisted — reused by all 4 chunk buckets.
    val exploded = documents.select(col("doc_id"),
      explode(transform(TextOps.tokens(col("text")), t => xxhash64(t))).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === lit(1L), 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    graft.CacheRegistry.persist(exploded
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map { i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash")))
  }

  /** C3: SimHash near-dup pairs: candidates share ≥1 of four 16-bit
    * chunks (guarantees recall for hamming ≤ 3), verified by exact
    * hamming distance ≤ maxHamming via bit_count(xor).
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sims = simhashes(documents)
    val chunked = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk_id"),
          shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))
            .as("chunk_key"))
      }: _*)).as("chunk"))
      .select(col("doc_id"), col("simhash"),
        col("chunk.chunk_id"), col("chunk.chunk_key"))

    chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk_id") === col("y.chunk_id")
          && col("x.chunk_key") === col("y.chunk_key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** C67: SimHash estimator CALIBRATION, ORACLE-GATED — the proof
    * that closes C3's rows-only status the way C64 closed C2's:
    * sign-random-projection theory (Charikar, STOC'02) says each
    * signature bit differs with probability θ/π, so
    * cos(π·hamming/64) estimates the tf-COSINE between the token-
    * frequency vectors — which is SQL-expressible exactly (integer
    * tf counts, BIGINT dot and norms², one fixed double chain
    * dot/(√n1·√n2), round-4).
    *
    * Why BINNED MEANS and not a per-row band: a 64-bit signature has
    * per-pair std up to π/(2·√64) ≈ 0.2, and the test corpus yields
    * ~5·10⁵ qualifying pairs at sf0.1 — at that trial count 3σ+
    * outliers are CERTAIN (measured p999 deviation 0.47, max 0.80),
    * so any per-row band that always passes is vacuous. The mean
    * over a cosine bin is where the estimator makes a sharp promise:
    * σ/√n ≤ 0.03 at the 50-pair floor, and the measured |mean
    * signed error| is ≤ 0.023 in every bin at both SFs. `band` =
    * 0.10 is ≥ 3.5σ against estimator noise yet decisive against a
    * broken pipeline (a re-seeded token hash, mis-wired bit-sum, or
    * sign flip drives every estimate toward 0 and the dense bins'
    * means off by ≥ 0.3). Bins are floor(cosine·10); only bins with
    * ≥ `minPairs` pairs publish (a deterministic rule the oracle
    * mirrors from the exact side alone).
    *
    * Published columns (all exact, SQL-expressible): bin, n_pairs,
    * and mean_cosine via the quantize-sum protocol — round-4 cosines
    * are integral ×10⁴, so floor(c·10⁴ + 0.5) sums exactly in
    * DECIMAL(38,0) and one double division ends the chain. The
    * estimate mean (xxhash-derived) stays OUT of the hash and feeds
    * only `cal_ok`, which the oracle asserts TRUE (C65's flag
    * protocol); plain avg() is safe there — double-sum order noise
    * is ~1e-13 against a 0.077+ flag margin.
    *
    * Scale shape: the exact side is C4's inverted-index join blocked
    * by source (the AUDIT cost — production dedup stays on C3's
    * chunk-bucketed candidates); the signature join-back is two
    * |pairs|-row key joins, then one partial-agg groupBy to ≤ 11
    * bins.
    */
  def simhashAccuracy(documents: DataFrame, minCosine: Double = 0.3,
      minPairs: Long = 50L, band: Double = 0.10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val I = DecimalType(38, 0)
    // r15 (guide §2.3): the tf table keys on xxhash64(tok), not the
    // token STRING — the C48/C62 hash-domain convention (identical
    // counts absent a 64-bit collision, ~1e-10 at this vocabulary;
    // the oracle's string-keyed SQL pins equality every round). The
    // dots self-join below is the heaviest shuffle on the bench
    // surface; 8-byte keys shrink both shuffled sides and replace
    // UTF8String equality in its hot loop with a long compare.
    val tf = graft.CacheRegistry.persist(
      documents.select(col("doc_id"), col("source"),
          explode(transform(TextOps.tokens(col("text")),
            t => xxhash64(t))).as("th"))
        .groupBy("doc_id", "source", "th")
        .agg(count(lit(1)).as("c")))
    val nrm = tf.groupBy("doc_id").agg(sum(col("c") * col("c")).as("nsq"))
    val dots = tf.as("a").join(tf.as("b"),
        col("a.source") === col("b.source") && col("a.th") === col("b.th")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    val exact = dots
      .join(nrm.select(col("doc_id").as("id1"), col("nsq").as("n1")), "id1")
      .join(nrm.select(col("doc_id").as("id2"), col("nsq").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("dot").cast("double")
          / (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double"))),
          4).as("cosine"))
      .filter(col("cosine") >= minCosine)
    val sigs = simhashes(documents)
    val est = cos(lit(math.Pi) *
      bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("double") / lit(64.0))
    exact
      .join(sigs.select(col("doc_id").as("id1"), col("simhash").as("sh1")),
        "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("simhash").as("sh2")),
        "id2")
      .select(col("cosine"), est.as("est"))
      .groupBy(floor(col("cosine") * 10).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(floor(col("cosine") * 10000 + lit(0.5)).cast(I)).cast("double")
          / (count(lit(1)) * lit(10000.0))).as("mean_cosine"),
        avg(col("est")).as("mean_est"))
      .filter(col("n_pairs") >= minPairs)
      .select(col("bin"), col("n_pairs"), col("mean_cosine"),
        (abs(col("mean_est") - col("mean_cosine")) <= lit(band))
          .as("cal_ok"))
  }

  /** C72: SimHash PAIR-SET recall, ORACLE-GATED (VERDICT r8 #6) —
    * C71's proof for the other signature family: the truth set is
    * every same-source pair whose EXACT tf-cosine clears
    * `minCosineTruth` (C67's SQL construction), and `recall_ok`
    * asserts C3's hamming ≤ `maxHamming` pair set carried ≥ `floor`
    * of them. The threshold pairing is where the estimator is sharp:
    * at cosine 0.99+ the expected signature hamming is
    * 64·acos(c)/π ≲ 2.9 bits, so ham ≤ 3 catches the mass of the
    * distribution (and the 4×16-bit chunk pigeonhole makes every
    * ham ≤ 3 pair a CANDIDATE by construction — recall loss can only
    * come from the signature itself, which is exactly what this
    * certifies). A re-seeded token hash or broken bit-sum drives
    * hammings toward 32 and recall to ~0.
    *
    * Scale shape: exact side = C67's source-blocked tf join (audit
    * cost); C3's chunk-bucketed candidates are the production plan;
    * one pair-keyed LEFT SEMI + two 1-row aggregates.
    */
  def simhashPairRecall(documents: DataFrame,
      minCosineTruth: Double = 0.99, maxHamming: Int = 3,
      floor: Double = 0.7): DataFrame = {
    // r15: hash-keyed tf — see simhashAccuracy (same truth join, run
    // on the twin-injected corpus)
    val tf = graft.CacheRegistry.persist(
      documents.select(col("doc_id"), col("source"),
          explode(transform(TextOps.tokens(col("text")),
            t => xxhash64(t))).as("th"))
        .groupBy("doc_id", "source", "th")
        .agg(count(lit(1)).as("c")))
    val nrm = tf.groupBy("doc_id").agg(sum(col("c") * col("c")).as("nsq"))
    val dots = tf.as("a").join(tf.as("b"),
        col("a.source") === col("b.source") && col("a.th") === col("b.th")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    val truth = dots
      .join(nrm.select(col("doc_id").as("id1"), col("nsq").as("n1")), "id1")
      .join(nrm.select(col("doc_id").as("id2"), col("nsq").as("n2")), "id2")
      .filter(round(col("dot").cast("double")
        / (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double"))),
        4) >= minCosineTruth)
      .select(col("id1"), col("id2"))
    val pairs = simhashPairs(documents, maxHamming)
      .select(col("id1"), col("id2"))
    // r15 single-pass gate tail (see minhashPairRecall): the exact
    // tf-cosine truth set — the heaviest shuffle on the bench surface —
    // is now evaluated ONCE; `pairs` is unique by simhashPairs'
    // `.distinct()`.
    truth.join(pairs.withColumn("hit", lit(1)), Seq("id1", "id2"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
      .select(col("n_truth"),
        (col("n_found").cast("double") >= lit(floor) * col("n_truth"))
          .as("recall_ok"))
  }

  /** C4: word-set (unigram) Jaccard over candidate pairs blocked by
    * source — |A∩B| / (|A|+|B|−|A∩B|). Blocking keeps the join from
    * going quadratic over the whole corpus.
    */
  /** C4 (contd): word-set Jaccard as an inverted-index similarity
    * join (PPJoin-family shape): explode distinct token hashes, self-
    * join on (source, token) to COUNT intersections via a plain hash
    * join + groupBy, then join back per-doc set sizes. No per-pair set
    * operations, no candidate enumeration beyond shared tokens — the
    * plan that survives 100 TB, and fully shuffle-parallel instead of
    * 20 broadcast buckets.
    *
    * Requires minJaccard > 0: pairs sharing zero tokens are (correctly)
    * never produced.
    */
  def ngramJaccard(documents: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard > 0.0, "inverted-index jaccard requires minJaccard > 0")
    // one row per (doc, distinct token hash); persisted — three
    // consumers (released by CacheRegistry.unpersistAll after the
    // consuming action)
    val toks = graft.CacheRegistry.persist(
      documents.select(col("doc_id"), col("source"),
        explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
        .select(col("doc_id"), col("source"), xxhash64(col("tok")).as("th")))
    val counts = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))

    val inter = toks.as("x")
      .join(toks.as("y"),
        col("x.source") === col("y.source") && col("x.th") === col("y.th")
          && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_inter"))

    // no broadcast hint: counts is |docs|-sized — AQE broadcasts it
    // when small, shuffles when not
    inter
      .join(counts.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(counts.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(col("n_inter").cast("double")
        / (col("n1") + col("n2") - col("n_inter")) >= minJaccard)
      .select(col("id1"), col("id2"),
        round(col("n_inter").cast("double")
          / (col("n1") + col("n2") - col("n_inter")), 4).as("jaccard"))
  }

  /** C21: near-duplicate clustering — the step every production dedup
    * pipeline needs after pair generation: group transitively-linked
    * near-dups into components and elect one canonical doc per group
    * (min doc_id), so "keep one of each cluster" is a single filter on
    * `is_canonical`. Pairs alone can't do that: {A~B, B~C} must
    * collapse to ONE kept doc, not two independent pair decisions.
    *
    * Connected components via min-label propagation with POINTER
    * HALVING: every participating doc starts labeled with itself;
    * each round takes the min label across neighbors, then compresses
    * one pointer hop (`label ← label(label)`), so the min spreads
    * exponentially and the loop converges in O(log diameter) rounds
    * instead of O(diameter) — the difference between ~8 and ~250
    * Spark jobs on a chain-shaped component (measured: plain
    * propagation was 138 s at sf0.1; the halved loop is the same
    * per-round cost at a fraction of the rounds). Same round budget
    * as the large-star/small-star alternative (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") with simpler
    * joins.
    *
    * Driver-side loop, but distributed data: only a 16-byte exact
    * decimal crosses to the driver per round (the label-sum
    * convergence probe — labels only ever decrease, so the sum
    * changes iff any label changed; no compare-join needed).
    * Edge-free docs never enter the loop — they are singleton
    * components by definition and join back at the end, so the
    * iterated state is |docs touching an edge|, not |corpus|.
    *
    * Round cap: the loop stops when two consecutive rounds give the
    * same label sum, so any input with a pair needs `maxIters >= 2`.
    * Reaching `maxIters` unconverged throws IllegalStateException
    * (partial labels are never returned), and a 0 budget fails with
    * IllegalArgumentException. Durability is the session's: see
    * [[propagateMin]].
    */
  def dedupGroups(documents: DataFrame, minJaccard: Double = 0.7,
      maxIters: Int = 50): DataFrame = {
    // pair generation via the prefix-filtered join — identical output
    // to ngramJaccard (same oracle verifies both), measured ~2x faster
    // wall, and at τ=0.7 the prefix filter is at its most selective
    val labels = closure(
      ngramJaccardPrefix(documents, minJaccard).select("id1", "id2"),
      maxIters)
    // r14 (guide §2.4): sizes from the LABELS leaf, not from the
    // corpus-wide `all` frame — every member of a multi-node component
    // touches an edge, so it is labeled, and component sizes over
    // labels equal sizes over the corpus; unlabeled docs are singletons
    // (n_members = 1 via the coalesce). The former shape evaluated
    // `all` (a corpus join) twice — once for the size rollup, once for
    // the final join — i.e. two full corpus passes where one suffices.
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("n_members"))
    documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .join(sizes, Seq("component"), "left")
      .select(col("doc_id"), col("component"),
        coalesce(col("n_members"), lit(1L)).as("n_members"),
        (col("doc_id") === col("component")).as("is_canonical"))
  }

  /** C45: soft dedup by DOWNWEIGHTING — keep every near-duplicate but
    * weight each doc by the inverse of its C21 component size, so a
    * 40-copy boilerplate cluster contributes one document's worth of
    * training signal instead of 40 (the sampling-weight alternative
    * to C31's hard removal; each component's weights sum to 1 by
    * construction). The weight is ONE double division of 1.0 by the
    * exact integer component size — bit-identical cross-engine.
    * Scale shape is exactly dedupGroups' (the division is map-side on
    * its output).
    */
  def dedupWeights(documents: DataFrame,
      minJaccard: Double = 0.7): DataFrame =
    dedupGroups(documents, minJaccard)
      .select(col("doc_id"), col("component"), col("n_members"),
        (lit(1.0) / col("n_members")).as("weight"))

  /** Bidirectional edge list from directed (id1, id2) pairs in ONE
    * evaluation of the pair source (r15, guide §1.2): the former
    * `pairs.union(pairs.swap)` shape planned the generator subtree
    * twice — exchanges dedupe via ReusedExchange, but all reduce-side
    * work past the last exchange (pair aggregation, verification joins,
    * the intersect merge-scan) ran once PER BRANCH. One explode of a
    * two-struct array emits exactly the same multiset from a single
    * pass.
    */
  private def bothDirections(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("id1"), col("id2")),
        struct(col("id2").as("id1"), col("id1").as("id2")))).as("e"))
      .select(col("e.id1").as("id1"), col("e.id2").as("id2"))

  /** The closure step shared by [[dedupGroups]], [[foldClosure]] and
    * [[SimilarityOps.dedupSemantic]]: pin both directions of the
    * undirected `pairs` as the edge list, run [[propagateMin]] over it,
    * release the edges, and return the (doc_id, component) labels.
    *
    * The edge pin is eager: a checkpoint, not a persist — the loop
    * joins the edges every round, and with a persist the cached plan
    * still carries the pair generator's lineage, whose swinging AQE
    * stat estimates flipped the loop's join strategies (measured 2x
    * regression switching generators). `pairs` is by-name and is
    * built inside the pin's scope, so every cache the pair generator
    * registers is released once the edges are pinned, before round 1
    * — nothing downstream re-reads them.
    */
  private[operators] def closure(pairs: => DataFrame,
      maxIters: Int = 50): DataFrame = {
    val edges = graft.CacheRegistry.pin(bothDirections(pairs))
    val labels = propagateMin(edges, maxIters)
    graft.CacheRegistry.releaseCheckpoint(edges)
    labels
  }

  /** Run two independent EAGER operator pipelines from two driver
    * threads and return both results (r15, guide §2.6): Spark's
    * scheduler happily runs several jobs at once inside one
    * application — eager pipelines built from sequential driver code
    * (checkpoint-pinned pair generators, the closure loops' tiny
    * per-round jobs) serialize only because the driver submits them
    * sequentially. `b` runs on a throwaway thread while `a` runs on
    * the caller's; tiny jobs from each chain back-fill the other's
    * idle cores. Safe for graft operators by construction:
    * CacheRegistry is synchronized, the bridge checkpoint helpers keep
    * no cross-call state, and job descriptions/groups are thread-local.
    * `b` registers its pins in the CacheRegistry scope the caller had
    * open when it called, so a scope `a` opens never releases them: a
    * by-name prior evaluated as `b` survives the pair-pin scope of `a`.
    * A failure on either side cancels the other and rethrows the
    * original cause.
    */
  private[graft] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val runB = graft.CacheRegistry.inCallerScope(b)
    val fb = pool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = runB()
    })
    val ra =
      try a
      catch { case t: Throwable =>
        fb.cancel(true); pool.shutdownNow(); throw t }
    val rb =
      try fb.get()
      catch { case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e) }
      finally pool.shutdown()
    (ra, rb)
  }

  /** Min-label propagation with pointer halving over a BIDIRECTIONAL,
    * already-checkpointed edge list (id1, id2) — the closure kernel
    * shared by [[dedupGroups]] (raw doc graph) and [[dedupIncremental]]
    * (prior-component-collapsed graph). Returns (doc_id, component)
    * for every node touching an edge; component = min node id of the
    * connected component. The rounds run in
    * [[graft.CacheRegistry.rounds]]: a round's pins are released once
    * the next round has pinned its labels, and the final labels pass to
    * the caller's scope, so the harness releases them after the
    * consuming action. `edges`' own blocks stay with the caller.
    *
    * Durability (VERDICT r5 #8) is the session's: every pin goes
    * through [[graft.CacheRegistry.pin]], so with a checkpoint dir set
    * on the SparkContext the edge list and every round's label frame
    * are RELIABLE checkpoints (an executor loss mid-loop costs at most the
    * round in flight), and without one they are local checkpoints,
    * whose blocks die with their executor — cheap, and the documented
    * fragility on a real cluster (lineage is truncated; nothing can
    * recompute the lost blocks).
    *
    * Requires `maxIters >= 1` (so do the public callers dedupGroups /
    * dedupIncremental / foldClosure): a 0-round budget has no
    * identity-labels degenerate form since the r14 first-round fusion.
    * Converged means two consecutive rounds with the same label sum
    * (or no edges at all); `maxIters` rounds without that throws
    * IllegalStateException naming the rounds run.
    */
  private def propagateMin(edges: DataFrame, maxIters: Int): DataFrame = {
    require(maxIters >= 1, s"propagateMin needs >= 1 round, got $maxIters")
    // r14 (guide §2.4): round 1 used to join the edges against an
    // IDENTITY label frame (label(x) = x, itself a distinct + eager
    // checkpoint) — that join is a no-op by construction, so the first
    // round now reads min(id1, min id2) straight off the edge list:
    // the round-0 distinct, its checkpoint, and round 1's label join
    // (two exchanges + one pinned frame) disappear; rounds 2+ are
    // unchanged. The state is (labels, label sum): no labels before
    // the fused first round, no sum when a round has no rows.
    type Labels = (Option[DataFrame], Option[java.math.BigInteger])
    val run = graft.CacheRegistry.rounds[Labels]("closure", maxIters)(
        (None, None))(
      step = { case ((labels, _), _) =>
        val cand = graft.CacheRegistry.pin(labels match {
          case None =>
            // fused round 1: every participating node's neighbors still
            // carry their own ids, so min-of-neighbors = min(id2) and
            // the candidate label is least(self, min neighbor) — the
            // identical frame the identity-join round produced
            edges.groupBy(col("id1").as("doc_id"))
              .agg(min(col("id2")).as("nbr_min"))
              .select(col("doc_id"),
                least(col("doc_id"), col("nbr_min")).as("component"))
          case Some(l) =>
            val nbrMin = edges.as("e")
              .join(l.as("l"), col("e.id2") === col("l.doc_id"))
              .groupBy(col("e.id1").as("doc_id"))
              .agg(min(col("l.component")).as("nbr_min"))
            l.join(nbrMin, Seq("doc_id"), "left")
              .select(col("doc_id"),
                least(col("component"), coalesce(col("nbr_min"), col("component")))
                  .as("component"))
        })
        // pointer halving: follow one hop of the label chain. Every
        // label IS a participating node id, so the lookup self-join
        // always resolves; least() keeps monotonicity.
        val halved = cand.join(
          cand.select(col("doc_id").as("component"),
            col("component").as("parent")),
          Seq("component"), "left")
          .select(col("doc_id"),
            least(col("component"), coalesce(col("parent"), col("component")))
              .as("component"))
        // r15 (guide §1.2): the convergence probe rides the pin's own
        // materialization job — the loop was 3 sequential jobs per
        // round (cand pin, next pin, sum probe) and at gate scale
        // per-round latency, not throughput, dominates (VERDICT r14's
        // 8-vs-32-cpu ratios ≈ 1)
        val (next, nRows, sum) =
          graft.CacheRegistry.pinSumLong(halved, "component")
        // next is materialized: this round's cand is dead weight (the
        // previous round's labels go when this round ends)
        graft.CacheRegistry.releaseCheckpoint(cand)
        (Some(next), if (nRows == 0) None else Some(sum))
      },
      // labels only ever decrease, so the sum changes iff any label
      // changed; an empty sum means no edges at all (without this, an
      // edge-free corpus burned all maxIters rounds on empty frames)
      converged = (prev, next) => next._2.isEmpty || next._2 == prev._2)
    val labels = run.state._1.get
    if (!run.converged) {
      graft.CacheRegistry.releaseCheckpoint(labels)
      throw new IllegalStateException(s"closure did not converge: " +
        s"${run.rounds} rounds run, maxIters = $maxIters")
    }
    labels
  }

  /** C43: INCREMENTAL near-dup clustering — fold a new document batch
    * into an already-clustered corpus without re-clustering it. The
    * operation a 100 TB ingest pipeline actually runs: the corpus was
    * clustered once ([[dedupGroups]] → `priorLabels`); each arriving
    * batch must (a) join existing components it is similar to, (b)
    * form new components among itself, and (c) MERGE existing
    * components it bridges — full transitive-closure semantics, not
    * per-pair decisions.
    *
    * Three steps, none touching corpus×corpus pairs:
    *   1. pair-gen restricted to batch-touching pairs
    *      ([[ngramJaccardPrefixAgainst]] — linear re-index of the
    *      union, probe join sized |corpus postings| × |batch
    *      postings|);
    *   2. COLLAPSE: each edge endpoint maps through `priorLabels` to
    *      its prior component id (batch docs map to themselves), so
    *      the closure graph has one node per prior component + one
    *      per batch doc — the label loop runs on a graph whose size
    *      is O(batch + touched components), never O(corpus);
    *   3. propagate min labels on the collapsed graph, then fan the
    *      final node labels back out to members via one join.
    *
    * EXACTLY equal to a full re-cluster of corpus ∪ batch (the spec
    * and the shared DuckDB oracle pin this): collapsing preserves
    * connectivity (prior components are already complete), and min
    * over collapsed node ids = min doc_id of the merged component
    * because each prior canonical IS its component's min.
    *
    * Round cap as [[dedupGroups]]: `maxIters >= 2` for any input
    * with a pair; reaching it unconverged throws
    * IllegalStateException.
    */
  def dedupIncremental(corpus: DataFrame, priorLabels: => DataFrame,
      batch: DataFrame, minJaccard: Double = 0.7,
      maxIters: Int = 50): DataFrame = {
    val cols = Seq("doc_id", "source", "text").map(col)
    val union = corpus.select(cols: _*).unionByName(batch.select(cols: _*))
    // r15 (guide §2.6): `priorLabels` is BY-NAME — callers typically
    // pass the standing corpus's dedupGroups closure, an eager job
    // chain fully independent of the batch-probe pair generation. The
    // prior evaluates on a second driver thread while THIS thread
    // materializes (pins) the pairs, so the entry's wall is
    // max(prior, pair-gen) instead of their sum. The raw pin is new
    // (pairs used to stay lazy until foldClosure's collapsed-edges
    // pin) but costs one pass over 2-long rows, and it is also what
    // lets pair-generation caches release, with this pin's scope,
    // before the closure starts.
    val (pinnedPairs, prior) = inParallel(
      graft.CacheRegistry.pin(ngramJaccardPrefixAgainst(union,
        batch.select("doc_id"), minJaccard).select("id1", "id2")),
      priorLabels)
    foldClosure(union.select(col("doc_id")), prior, pinnedPairs, maxIters)
  }

  /** The collapsed-closure FOLD kernel shared by [[dedupIncremental]]
    * (lexical pairs) and the semantic family
    * ([[SimilarityOps.dedupSemanticIncremental]]): given the union's
    * ids, the prior labels, and batch-touching pairs, collapse edge
    * endpoints to prior-component nodes, propagate min labels over the
    * collapsed graph, and fan the new labels back out to members.
    * A checkpointed `pairs` (the callers pin theirs) moves to the
    * closure's edge scope, so it is released once the collapsed edge
    * list is pinned, before round 1, and not again by the caller.
    */
  private[operators] def foldClosure(unionIds: DataFrame,
      priorLabels: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val rep = priorLabels.select(col("doc_id"), col("component").as("rep"))
    // collapse endpoints to prior-component nodes and drop
    // intra-component pairs (already merged); registering `pairs` again
    // moves it to the closure's pin scope, which releases it as soon as
    // the edges are pinned
    val moved = closure(
      graft.CacheRegistry.registerCheckpoint(pairs)
        .join(rep.select(col("doc_id").as("id1"), col("rep").as("r1")),
          Seq("id1"), "left")
        .join(rep.select(col("doc_id").as("id2"), col("rep").as("r2")),
          Seq("id2"), "left")
        .select(coalesce(col("r1"), col("id1")).as("id1"),
          coalesce(col("r2"), col("id2")).as("id2"))
        .filter(col("id1") =!= col("id2")),
      maxIters)
    // fan out: doc → its collapsed node → the node's new label (nodes
    // untouched by any new edge keep their prior component)
    val nodes = unionIds
      .join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("node"))
    val all = nodes
      .join(moved.select(col("doc_id").as("node"), col("component")),
        Seq("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("node")).as("component"))
    val sizes = all.groupBy("component").agg(count(lit(1)).as("n_members"))
    all.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("n_members"),
        (col("doc_id") === col("component")).as("is_canonical"))
  }

  /** C31: the deduplicated corpus — what a pipeline actually emits
    * after near-dup clustering: one canonical document per [[dedupGroups]]
    * component (singletons keep themselves), with `n_merged` recording
    * how many near-dups each survivor absorbed. The removal-side twin
    * of C21's audit view; `removed = 1 - rows/|docs|` is the corpus
    * dedup rate.
    *
    * Scale shape: C21's clustering plus one broadcast-side join back
    * to the (already-shuffled-by-doc_id) corpus — the canonical set is
    * ≤ |docs| rows of two longs.
    */
  /** C35: cross-source boilerplate matrix — for every source pair
    * (s1 ≤ s2, diagonal included), how many doc pairs share the same
    * `headTokens`-token head. The provenance audit run before mixing
    * corpora: a hot off-diagonal cell means two sources carry the
    * same templated openings (mirrors, syndication) and their mixing
    * weights double-count; the diagonal measures within-source
    * templating. Head keys (not full text) because real cross-source
    * duplication is rarely byte-identical — shared intros are the
    * robust tell.
    *
    * Scale shape: two hash-groupBys. The first collapses to
    * (head, source, cnt) — map-side combinable, so a viral head shared
    * by 10M docs reaches the reducer as one row per source, never as a
    * 10M-element list. The second groups those count rows per head
    * (state = |sources-with-head|, a corpus-constant handful) and
    * emits pair counts by count arithmetic: cnt_a·cnt_b off-diagonal,
    * cnt·(cnt−1)/2 diagonal — identical multiset to the doc-level
    * self-join the oracle runs, with per-head state independent of how
    * many documents share the head.
    */
  def sourceOverlap(documents: DataFrame, headTokens: Int = 5): DataFrame =
    documents
      // collect_list in the previous formulation skipped null sources;
      // groupBy would keep them as a key — drop them explicitly
      .filter(col("source").isNotNull)
      .groupBy(concat_ws(" ",
        slice(TextOps.tokens(col("text")), lit(1), lit(headTokens))).as("h"),
        col("source"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("h"))
      .agg(collect_list(struct(col("source"), col("cnt"))).as("srcs"))
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) -> concat(
          |  filter(array(struct(a.source AS s1, a.source AS s2,
          |    a.cnt * (a.cnt - 1) div 2 AS np)), x -> x.np > 0),
          |  transform(slice(srcs, i + 2, size(srcs)), b ->
          |    struct(least(a.source, b.source) AS s1,
          |      greatest(a.source, b.source) AS s2,
          |      a.cnt * b.cnt AS np)))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.s1").as("source_a"), col("p.s2").as("source_b"))
      .agg(sum(col("p.np")).as("n_dup_pairs"))

  /** `labels`: optional precomputed [[dedupGroups]] output (schema
    * doc_id, component, n_members, is_canonical) over the SAME
    * document set. A production pipeline runs the similarity join +
    * closure ONCE and feeds the labels frame to every consumer
    * (dedupApply, trainSplitGrouped, PipelineOps.curate) instead of
    * re-clustering per call — clustering is the scale-dominant term of
    * all of them (VERDICT r3 #5).
    */
  def dedupApply(documents: DataFrame, minJaccard: Double = 0.7,
      labels: Option[DataFrame] = None): DataFrame =
    labels.getOrElse(dedupGroups(documents, minJaccard))
      .filter(col("is_canonical"))
      .join(documents, "doc_id")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("n_members").as("n_merged"))

  /** C70: the dedup DATASHEET — component-SIZE histogram of the
    * near-dup clustering (how many singletons, pairs, giant blobs?):
    * the distribution every dedup deployment reads before trusting
    * C31's output (a fat tail means template families or a threshold
    * set too low; C21's giant-component stress is this table's top
    * row at adversarial inputs), and the input to C45's weight-mass
    * accounting. Per size: component count (one canonical row each —
    * no countDistinct), member docs, and the docs C31 would drop
    * (size − 1 per component). All integers — trivially exact.
    *
    * `labels` injects an existing clustering (C31's contract); the
    * default runs C21. Scale: one partial-agg groupBy over the label
    * table to ≤ |distinct sizes| rows.
    */
  def dedupClusterStats(documents: DataFrame, minJaccard: Double = 0.7,
      labels: Option[DataFrame] = None): DataFrame =
    labels.getOrElse(dedupGroups(documents, minJaccard))
      .groupBy(col("n_members").as("size"))
      .agg(sum(when(col("is_canonical"), 1L).otherwise(0L))
          .as("n_components"),
        count(lit(1)).as("n_docs"))
      .select(col("size"), col("n_components"), col("n_docs"),
        (col("n_docs") - col("n_components")).as("n_dropped"))

  /** C50: priority-aware canonical selection per near-dup component —
    * [[dedupApply]]'s "keep min doc_id" rule replaced by the rule
    * production corpora actually use: within each duplicate cluster
    * keep the copy from the most-trusted SOURCE tier (curated >
    * crawled — CCNet/RefinedWeb-style pipelines break near-dup ties
    * by provenance), then the LONGEST copy inside the best tier (a
    * truncated mirror of a page loses to the full page), then a
    * stable id. The tier is derived deterministically from the source
    * id (`srcN` → N mod 3 — a stand-in for the production lookup
    * table, kept computable so the oracle can replay it); note the
    * pair generator blocks on source, so the tier term only
    * discriminates when labels come from a cross-source clustering —
    * the LENGTH term is the live rule on [[dedupGroups]] components.
    * Selection is min(struct(prio, −n_chars, doc_id)) — a total
    * order, so the kept row is unique on any partitioning.
    *
    * Scale shape: clustering is [[dedupGroups]]' plan (the dominant
    * term — pass a precomputed `labels` frame in production, C31's
    * contract); the selection itself is one partial-aggregable
    * struct-min groupBy on the component key — no window, no second
    * shuffle of the corpus, skew-free (a viral component reduces
    * map-side to one candidate row per partition).
    */
  def dedupPriority(documents: DataFrame, minJaccard: Double = 0.7,
      labels: Option[DataFrame] = None): DataFrame = {
    val lbl = labels.getOrElse(dedupGroups(documents, minJaccard))
    lbl.select(col("doc_id"), col("component"), col("n_members"))
      .join(documents.select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id")
      .withColumn("prio",
        substring(col("source"), 4, 18).cast("long") % 3)
      .groupBy("component")
      .agg(min(struct(col("prio"), negate(col("n_chars")).as("neg_len"),
        col("doc_id"), col("source"))).as("b"),
        max("n_members").as("n_members"))
      .select(col("component"), col("b.prio").as("prio"),
        col("b.doc_id").as("keep_id"), col("b.source").as("source"),
        negate(col("b.neg_len")).as("n_chars"), col("n_members"))
  }

  /** All k-token word grams of `text` as strings, one per start
    * position (positions with fewer than k following tokens produce
    * none). Built by zip_with-folding k aligned slices — O(n·k) array
    * ops per row, the token split materialized once (the same
    * per-element re-evaluation trap [[shingles]] documents).
    */
  private[operators] def kgrams(text: Column, k: Int): Column =
    kgramsOf(TextOps.tokens(text), k)

  /** Same, from an already-materialized token array (callers that
    * need tokens AND grams split once, not twice).
    */
  private[operators] def kgramsOf(toks: Column, k: Int): Column = {
    require(k >= 2, "kgrams needs k >= 2")
    val n = size(toks) - (k - 1)
    val joined = (2 to k).foldLeft(slice(toks, lit(1), n))((acc, i) =>
      zip_with(acc, slice(toks, lit(i), n), (a, b) => concat_ws(" ", a, b)))
    when(size(toks) >= k, joined)
      .otherwise(array().cast("array<string>"))
  }

  /** C48: cross-document repeated-SUBSTRING detection — the
    * train-set memorization risk exact/near-dup dedup misses
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better": verbatim ≥50-token spans repeat across otherwise
    * distinct documents and are what models regurgitate). Per doc:
    * how many of its k-token spans also appear verbatim in ANOTHER
    * doc, and the duplicated-span ratio — the audit that decides
    * whether a span-level rewrite pass is warranted.
    *
    * Plan: one posexploded gram stream; grams shared by >1 distinct
    * doc found with a single partial-agg'd groupBy (the distributed
    * stand-in for the paper's suffix array — a suffix array cannot be
    * built across executors, a gram groupBy shuffles once); per-doc
    * span counts via LEFT SEMI join back on the gram, then per-doc
    * groupBy. Grams are grouped as STRINGS so the oracle semantics
    * are hash-collision-free; a 100 TB run would group on
    * (xxhash64(g), length(g)) and carry 8+4 bytes through the
    * shuffle instead ([[shingleHashes]]' trade, applied at the call
    * site).
    *
    * dup_ratio = one double division of two exact longs —
    * bit-identical cross-engine. Docs with fewer than k tokens have
    * zero grams and ratio 0.0 (kept — dropping them would hide the
    * shortest docs from the audit).
    *
    * `hashGrams = true` is the 100 TB shuffle shape: grams reduced to
    * (xxhash64, byte length) BEFORE the shuffle, so the groupBy and
    * semi join carry 12 bytes per gram instead of ~6k bytes of
    * k-token text. A false dup needs two different grams agreeing on
    * BOTH 64-bit hash and length (~2⁻⁶⁴ per colliding pair); the
    * oracle-gated entry keeps strings so the gate is collision-free
    * by construction, and the spec pins both modes identical on the
    * test corpus.
    */
  def dedupSubstring(documents: DataFrame, k: Int = 8,
      hashGrams: Boolean = false): DataFrame = {
    val raw = documents.select(col("doc_id"),
      explode(kgrams(col("text"), k)).as("g"))
    val (keyed, keyNames) =
      if (hashGrams)
        (raw.select(col("doc_id"), xxhash64(col("g")).as("gh"),
          length(col("g")).as("gl")), Seq("gh", "gl"))
      else (raw, Seq("g"))
    val grams = graft.CacheRegistry.persist(keyed)
    val shared = grams.groupBy(keyNames.map(col): _*)
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1)
    val dup = grams.join(shared.drop("nd"), keyNames, "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_grams"))
    val tot = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    documents.select("doc_id")
      .join(tot, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          coalesce(col("dup_grams"), lit(0L)).cast("double")
            / col("n_grams"))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** C49: span-level dedup REWRITE — apply what [[dedupSubstring]]
    * audits (Lee et al. 2021 §4, ExactSubstr: delete repeated spans,
    * keep one occurrence). Every k-token span is owned by the lowest
    * doc_id containing it; occurrences in any HIGHER doc are removed
    * (tokens covered by at least one such span), so exactly one
    * verbatim copy survives corpus-wide and the owner doc is
    * untouched. Within-doc self-repeats stay (they are the owner's
    * own occurrences — repetition INSIDE a doc is C19's dimension,
    * not cross-doc memorization).
    *
    * Plan: token positions and gram positions posexplode from ONE
    * tokens projection; owner = min(doc_id) gram groupBy; non-owner
    * occurrences expand to covered token positions via
    * explode(sequence) + distinct; LEFT ANTI join drops covered
    * tokens; docs reassemble with C44's deterministic
    * array_sort-on-(pos, token) idiom. All joins are equi-joins on
    * gram or (doc_id, pos) — shuffle-parallel, no driver state.
    * Fully-consumed docs rewrite to "" (kept — drop policy stays with
    * the caller, as in C44).
    */
  def dedupSubstringRewrite(documents: DataFrame, k: Int = 8): DataFrame = {
    val toksDf = graft.CacheRegistry.persist(
      documents.select(col("doc_id"), TextOps.tokens(col("text")).as("t")))
    val tokpos = toksDf
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val grams = toksDf
      .select(col("doc_id"), posexplode(kgramsOf(col("t"), k)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("g"))
    val owner = grams.groupBy("g").agg(min("doc_id").as("owner"))
    val covered = grams.join(owner, "g")
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val kept = tokpos.join(covered, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("tok"))))
        .as("ss"))
      .select(col("doc_id"),
        array_join(transform(col("ss"), s => s.getField("tok")), " ")
          .as("text_clean"),
        size(col("ss")).cast("long").as("n_kept"))
    toksDf.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
