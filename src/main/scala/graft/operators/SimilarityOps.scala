package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane-LSH bucketed variant as the scale path.
  *
  * Vector math uses `zip_with` + `aggregate` over array columns —
  * codegen'd builtins, computed in double, no UDFs.
  *
  * Scale design: brute-force is queries(broadcast) × corpus(scan) —
  * embarrassingly parallel, zero shuffle except the final per-query
  * top-k (tiny). The LSH variant assigns every vector an 8-bit
  * hyperplane-sign bucket, so candidate generation is a bucket-key
  * equi-join instead of a full cross product.
  */
object SimilarityOps {

  /** dot(a, b) in double precision — native codegen'd kernel (see
    * graft.functions.FloatVectorDot); bit-identical to the
    * zip_with+aggregate composition but with no per-pair intermediate
    * array allocation.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFns.vec_dot(a, b)

  /** Builtin-composition dot (kept for non-float arrays / reference). */
  def dotGeneric(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** C5: exact brute-force cosine top-k. `queries` rows are the ones
    * with vec_id < nQueries (a deterministic, SQL-expressible subset);
    * the query side is broadcast so the corpus is scanned exactly once
    * with no shuffle before the top-k window.
    */
  /** Guard for the exact O(n²) audit paths: refuse to run above a
    * configurable corpus size so an audit can never silently become
    * the production path at scale (the failure mode: someone wires
    * the exact variant into a pipeline that later grows 1000×, and
    * the first symptom is an executor OOM three hours in). The count
    * is one column-pruned job — noise next to the all-pairs work it
    * gates. Raise `maxExactRows` EXPLICITLY to accept the quadratic
    * cost on a corpus you've sized.
    */
  private def requireAuditSized(df: DataFrame, limit: Long,
      op: String, alternative: String): Unit = {
    val n = df.count()
    require(n <= limit,
      s"$op is an exact O(n^2) audit quarantined to <= $limit rows, got $n; " +
        s"use $alternative at this scale, or raise maxExactRows explicitly")
  }

  def knnBrute(embeddings: DataFrame, nQueries: Int = 10,
      k: Int = 5, maxExactRows: Long = 100000L): DataFrame = {
    requireAuditSized(embeddings, maxExactRows, "knnBrute (C5)",
      "knnLsh/knnIvf/knnGraph")
    // Norms are computed once per side BEFORE the pair join (they sit
    // below the join in the plan), so each of the |queries|×|corpus|
    // pairs evaluates a single dot product instead of three.
    val queries = embeddings
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
    val corpus = embeddings
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))

    val scored = corpus
      .join(broadcast(queries), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("q_emb"), col("c_emb"))
          / (col("q_norm") * col("c_norm")), 3).as("sim"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "c_id", "sim")
  }

  /** C65: ANN recall certified against the ORACLE — the C64 pattern
    * for the embedding family: the exact brute-force top-k (C5,
    * SQL-expressible) is the published truth, and an in-row
    * `recall_ok` asserts the multi-probe LSH found at least `floor`
    * of it. The driver re-measures recall at BOTH SFs every round
    * through the hash — a regression in planes/probing/bucketing
    * fails CORRECTNESS, not just a local spec.
    */
  def knnLshRecall(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      floor: Double = 0.7): DataFrame = {
    val truth = knnBrute(embeddings, nQueries, k)
    val approx = knnLsh(embeddings, nQueries, k)
    // r15 (guide §1.2): ONE aggregation over ONE evaluation of the
    // brute-force truth — the former semi-join + crossJoin shape
    // evaluated the truth subtree once per final aggregate. LEFT join
    // against the approx top-k (unique (q_id, c_id) by the rank
    // construction) with a hit marker: count(hit) equals the semi-join
    // count, n_truth is unchanged because a unique right side cannot
    // duplicate truth rows. Same pattern in every recall gate below.
    truth.join(
      approx.select(col("q_id").as("aq"), col("c_id").as("ac"),
        lit(1).as("hit")),
      col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
      .select(col("n_truth"),
        (col("n_found").cast("double") >= lit(floor) * col("n_truth"))
          .as("recall_ok"))
  }

  /** Fixed random hyperplanes: plane j, dim i → ±1 from a hash bit.
    * Deterministic everywhere (no RNG at runtime).
    */
  private def hyperplaneSign(j: Int, i: Column): Column =
    when(xxhash64(lit(j), i).bitwiseAND(lit(1L)) === lit(1L), lit(1.0))
      .otherwise(lit(-1.0))

  /** Signed projection of the vector onto hyperplane `plane`. */
  private def planeProj(emb: Column, plane: Int): Column =
    aggregate(
      zip_with(emb, sequence(lit(0), size(emb) - 1),
        (x, i) => x.cast("double") * hyperplaneSign(plane, i)),
      lit(0.0), (acc, v) => acc + v)

  /** numPlanes-bit random-hyperplane bucket; `table` offsets the plane
    * ids so each hash table gets independent planes.
    */
  def lshBucketT(emb: Column, numPlanes: Int, table: Int): Column =
    (0 until numPlanes).map { j =>
      when(planeProj(emb, table * numPlanes + j) > 0, lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** 8-bit random-hyperplane bucket for a vector column (table 0). */
  def lshBucket(emb: Column, numPlanes: Int = 8): Column =
    lshBucketT(emb, numPlanes, 0)

  /** C6: ANN via hyperplane LSH with QUERY-DIRECTED MULTI-PROBE over
    * multiple hash tables — sign-LSH (Charikar, STOC'02) + multi-probe
    * (Lv et al., VLDB'07). A query probes, per table, every bucket
    * reachable by flipping any subset of its `probePlanes` LEAST
    * CONFIDENT planes (smallest |projection|): a true neighbor that
    * landed on the other side of a plane the query barely cleared is
    * still found. Independent tables (disjoint plane sets) multiply
    * recall: miss probability compounds as (1−r)^numTables.
    *
    * Scale shape: the corpus is bucketed once PER TABLE (the classic
    * L-table LSH index cost, a pure map ×L); only the small query side
    * fans out ×(numTables·2^probePlanes) probe rows before the
    * broadcast bucket equi-join — candidate generation stays a bucket
    * join, never a cross product. Probe buckets within a table are
    * distinct; cross-table duplicates are deduped before ranking.
    * Recall is AUDITED against knnBrute truth in the spec (floor 0.6,
    * VERDICT r1 item 3): defaults measure 0.78 on the test corpus.
    *
    * The defaults are sized for the NEAR-RANDOM synthetic test
    * embeddings, where top-5 neighbors sit only marginally closer than
    * random points — the hardest case for any LSH. Real embedding
    * corpora cluster, so the same recall needs far fewer tables/probes;
    * tune numTables/probePlanes down as the recall audit allows.
    */
  def knnLsh(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      numPlanes: Int = 8, numTables: Int = 4, probePlanes: Int = 5): DataFrame = {
    require(probePlanes >= 0 && probePlanes <= numPlanes && numTables >= 1)
    val P = numPlanes

    // ALL (table × plane) projections materialize ONCE as one array
    // column; buckets and probe masks are then cheap element_at
    // references. Without this staging every probe expression inlines
    // every projection subtree — numTables·2^probePlanes·P copies of a
    // per-element lambda — and Catalyst ANALYSIS, not execution,
    // dominates (measured 28 s of driver time for 10 query rows).
    def allProjs: Column = array((0 until numTables * P).map(p =>
      planeProj(col("embedding"), p)): _*)
    def pj(t: Int, j: Int): Column = element_at(col("projs"), t * P + j + 1)
    def bucketOf(t: Int): Column = (0 until P).map(j =>
      when(pj(t, j) > 0, lit(1 << j)).otherwise(lit(0))).reduce(_ + _)

    // corpus index: one row per (table, vector) — map-only
    val corpus = embeddings
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"), allProjs.as("projs"))
      .select(col("c_id"), col("c_emb"), col("c_norm"),
        explode(array((0 until numTables).map { t =>
          struct(lit(t).as("tbl"), bucketOf(t).as("bucket"))
        }: _*)).as("tb"))
      .select(col("c_id"), col("c_emb"), col("c_norm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

    // query side: persist the projections (a plan barrier — the probe
    // fan-out below must reference attributes, not re-inline the
    // projection trees; nQueries rows, so the cache is tiny)
    val qbase = graft.CacheRegistry.persist(
      embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding"),
          col("embedding").as("q_emb"), norm(col("embedding")).as("q_norm"))
        .withColumn("projs", allProjs)
        .drop("embedding"))

    // per table: bucket + the probePlanes LEAST CONFIDENT plane ids
    def uncertainOf(t: Int): Column = slice(array_sort(
      array((0 until P).map(j =>
        struct(abs(pj(t, j)).as("a"), lit(j).as("j"))): _*)),
      1, probePlanes)
    val qTables = qbase.select(col("q_id"), col("q_emb"), col("q_norm"),
        explode(array((0 until numTables).map { t =>
          struct(lit(t).as("tbl"), bucketOf(t).as("bucket"),
            uncertainOf(t).as("unc"))
        }: _*)).as("tb"))
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"),
        col("tb.unc").as("unc"))

    // probe buckets: XOR the bucket with every subset of the uncertain
    // planes (16/32 masks of element_at chains — small expressions)
    val pow2 = array((0 until P).map(i => lit(1 << i)): _*)
    val masks: Seq[Column] = (0 until (1 << probePlanes)).map { s =>
      (0 until probePlanes).filter(b => ((s >> b) & 1) == 1)
        .map(b => element_at(pow2,
          element_at(col("unc"), b + 1).getField("j") + 1))
        .reduceOption[Column](_.bitwiseOR(_)).getOrElse(lit(0))
    }
    val queries = qTables.select(col("q_id"), col("q_emb"), col("q_norm"),
      col("tbl"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(m)): _*))
        .as("bucket"))

    val scored = corpus
      .join(broadcast(queries), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("q_emb"), col("c_emb"))
          / (col("q_norm") * col("c_norm")), 3).as("sim"))
      // same pair can surface from several tables — sim is identical,
      // so a plain distinct dedups exactly
      .distinct()

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "c_id", "sim")
  }

  /** Embedding-cosine near-duplicate pairs (exact): all (id1 < id2)
    * pairs with cosine ≥ minCosine. The exact variant is inherently
    * all-pairs — right for modest corpora and for auditing the
    * LSH variant's recall; at billion-vector scale use [[knnLsh]]
    * buckets instead (same scoring, candidate generation via buckets).
    */
  def embeddingNearDups(embeddings: DataFrame,
      minCosine: Double = 0.4, maxExactRows: Long = 100000L): DataFrame = {
    requireAuditSized(embeddings, maxExactRows, "embeddingNearDups (C12)",
      "the LSH-bucketed candidate path (knnLsh buckets + the same scorer)")
    val side = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    // r15 (guide §2.5): the pair join broadcasts one side, so the
    // O(n²) dot fan-out runs on the PROBE side's scan partitioning —
    // an audit-sized corpus is one small parquet file (a 1-task scan),
    // which serialized the whole quadratic pass; spread the probe side
    // first (n narrow rows — trivial next to the n²/2 dots it
    // parallelizes)
    val a = side.select(col("vec_id").as("id1"), col("embedding").as("e1"),
      col("nrm").as("n1")).repartition(col("id1"))
    val b = side.select(col("vec_id").as("id2"), col("embedding").as("e2"),
      col("nrm").as("n2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 3)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** C42: symmetric int8 vector quantization — the memory dial for
    * billion-vector ANN: per vector, scale = max|x|/127 and
    * q_i = clamp(round(x_i/scale), ±127), cutting the store 4× (the
    * standard faiss/SQ8 trade). Map-only, no shuffle. The output
    * carries a SELF-AUDIT per vector: the dequantization MSE must sit
    * under the theoretical bound (scale/2)² — a wrong scale or
    * rounding rule fails the gate immediately, and the DuckDB oracle
    * recomputes the same quantization and asserts the same bound, so
    * the whole codec is rows+schema+hash gated without hashing the
    * int8 payload itself (summarized as sum / L1 instead).
    */
  def embQuantize(embeddings: DataFrame): DataFrame = {
    val x = col("embedding").cast("array<double>")
    val withScale = embeddings.select(col("vec_id"), x.as("x"),
      (aggregate(x, lit(0.0), (a, v) => greatest(a, abs(v)))
        / lit(127.0)).as("scale"))
    val q = transform(col("x"), v =>
      when(col("scale") === 0.0, lit(0L))
        .otherwise(least(greatest(round(v / col("scale")), lit(-127.0)),
          lit(127.0)).cast("long")))
    withScale.select(col("vec_id"), col("scale"), q.as("q"), col("x"))
      .select(col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), _ + _).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, v) => a + abs(v)).as("q_l1"),
        (aggregate(zip_with(col("x"), col("q"),
          (xv, qv) => (xv - qv.cast("double") * col("scale"))
            * (xv - qv.cast("double") * col("scale"))),
          lit(0.0), _ + _) / size(col("x"))
          <= col("scale") * col("scale") / lit(4.0) + lit(1e-12))
          .as("quant_ok"))
  }

  /** Centroid-style coarse quantization (IVF flavor): assign each
    * vector to the nearest of `nLists` deterministic seed vectors
    * (the corpus rows with the lowest vec_ids serve as seeds — a
    * degenerate but deterministic "training"). Returns
    * (vec_id, list_id) assignments.
    *
    * Plan: broadcast seeds × corpus scan, then argmax via `max_by`
    * with a deterministic (d, −list_id) tiebreak — a map-side
    * combinable hash aggregate, NOT a window: the nLists-way fan-out
    * collapses back to one row per vector before any shuffle.
    */
  def ivfAssign(embeddings: DataFrame, nLists: Int = 16): DataFrame = {
    val seeds = embeddings.filter(col("vec_id") < nLists)
      .select(col("vec_id").as("list_id"), col("embedding").as("seed_emb"))
    embeddings.join(broadcast(seeds))
      .select(col("vec_id"), col("list_id"),
        cosine(col("embedding"), col("seed_emb")).as("d"))
      .groupBy("vec_id")
      .agg(max_by(col("list_id"),
        struct(col("d"), negate(col("list_id")))).as("list_id"))
  }

  /** C15: ANN via IVF probe-n search — the inverted-file twin of
    * [[knnLsh]]: the corpus is partitioned once into nLists coarse
    * cells ([[ivfAssign]]); each query ranks the cell centroids and
    * scans only its `nProbe` closest cells (exact cosine + top-k
    * inside them).
    *
    * Scale shape: the index is one assignment column on the corpus
    * (map + one partial-agg); queries fan out ×nProbe before the
    * broadcast cell equi-join — candidate generation is a cell join,
    * never a cross product. nProbe/nLists is the recall↔cost dial:
    * cells a query skips are never read, which is the point of IVF at
    * 100 TB (cells map to partition pruning when the corpus is
    * written clustered by list_id).
    */
  def knnIvf(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists)
    val seeds = embeddings.filter(col("vec_id") < nLists)
      .select(col("vec_id").as("list_id"), col("embedding").as("seed_emb"))
    val corpus = embeddings
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
      .join(ivfAssign(embeddings, nLists)
        .select(col("vec_id").as("c_id"), col("list_id")), "c_id")

    // per query: its nProbe closest cells (tiny side — window is fine)
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d").desc, col("list_id"))
    val queries = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
      .join(broadcast(seeds))
      .withColumn("d", cosine(col("q_emb"), col("seed_emb")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_norm"), col("list_id"))

    val scored = corpus
      .join(broadcast(queries), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("q_emb"), col("c_emb"))
          / (col("q_norm") * col("c_norm")), 3).as("sim"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "c_id", "sim")
  }

  /** C36: approximate k-NN GRAPH over the whole corpus — every vector
    * gets its top-k approximate neighbors (the structure behind
    * embedding-space clustering, near-dup sweeps, and
    * diversity-aware sampling at corpus scale). Candidates are pairs
    * sharing a sign-LSH bucket in ANY of `numTables` independent
    * tables; each candidate pair is scored once (id1 < id2) with the
    * native vec_dot cosine, mirrored to both endpoints, and reduced
    * to top-k per vector by the bounded-heap `top_k` aggregate — no
    * per-vector sort, no all-pairs scan. Vectors with no bucket-mate
    * anywhere emit a rank-0 null-neighbor sentinel row (filter
    * `rank > 0` for edges only).
    *
    * Scale shape: bucketing is a pure map ×L; the candidate join is a
    * bucket equi-join whose fan-in is |bucket|², controlled by
    * numPlanes (2^planes buckets/table); dedup + scoring shuffle on
    * the pair key; the final top-k is map-side combinable. The
    * all-pairs exact graph this approximates is O(n²) — the audit
    * (C12/dedup_embedding) stays quarantined to small n, THIS is the
    * production path. Recall vs the exact graph is spec-audited on
    * the test corpus (near-random embeddings, LSH's hardest case).
    *
    * Bucket count MUST grow with the corpus: at any fixed plane count
    * the per-table fan-in Σ|bucket|² ≈ n²/2^planes is quadratic in n.
    * `numPlanes <= 0` (the default) therefore derives planes from a
    * target mean bucket occupancy — planes = ⌈log2(n/targetBucketSize)⌉
    * — costing one count() job; per-table fan-in then stays
    * ≈ n·targetBucketSize, linear in n. Pass an explicit numPlanes to
    * skip the count when the corpus size is known.
    *
    * Defaults sized by MEASURED recall on the near-random test corpus
    * (C66 re-measures them through the oracle every round): at
    * n = 5000, 4 tables × bucket 64 carried only 0.33 of the exact
    * top-5 edges — a graph not worth building — while 12 × 256
    * carries 0.95 at ~15M candidate scores (vs 12.5M for the exact
    * all-pairs at that n; the linear-in-n candidate budget is what
    * the bucketing buys, the defaults spend it on recall). Clustered
    * real-world embeddings reach the same recall far cheaper — tune
    * numTables/targetBucketSize down as the C66 gate allows.
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5, numPlanes: Int = 0,
      numTables: Int = 12, targetBucketSize: Int = 256): DataFrame = {
    val P =
      if (numPlanes > 0) numPlanes
      else {
        val n = math.max(1L, embeddings.count())
        math.max(1, math.min(24, math.ceil(
          math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt))
      }
    // stage projections once (same Catalyst-analysis rationale as C6).
    // r11 (sf1 stage breakdown): pin e as an EAGER CHECKPOINT LEAF on
    // a vec_id-partitioned layout — the former lazy single-partition
    // persist left failure modes the 10x artifact measured at ~680 of
    // 1581 stage-seconds: (a) a small-file corpus scans as ONE
    // partition, so the L·P-projection fan-out ran single-threaded;
    // (b) the lazy cache let the four downstream consumers (x/y
    // bucket sides, two fetch joins) race and recompute it; (c) the
    // InMemoryRelation's estimated stats kept the two fetch joins on
    // SMJ — as a checkpoint LEAF with exact size, they plan as
    // broadcasts and the whole candidate pipeline fuses into one
    // stage (an A/B with persist+eager count measured 1753 s stage vs
    // 337 s for the leaf — the leaf's join planning, not eagerness,
    // is most of the win). REGISTERED with CacheRegistry (ADVICE
    // r11): every harness (Bench, Verify, Dev, tests) calls
    // unpersistAll only AFTER the consuming action, so the release-
    // between-construction-and-consumption hazard never occurs there
    // — and the same contract already governs mmrRerank/
    // kCenterSample/bpeTrain's registered checkpoints. Unregistered,
    // the leaf's pinned blocks (vec_id + embedding + L·P projection
    // doubles — the operator's widest frame) would survive until GC
    // in long-lived Verify/Bench JVMs, shrinking unified
    // execution memory for the ~190 queries that follow (the r4
    // contamination mode CacheRegistry exists to prevent). The extra
    // n-row exchange is trivially linear and matches the layout a
    // real cluster already has.
    val projCols = array((0 until numTables * P).map(i =>
      planeProj(col("embedding").cast("array<double>"), i)): _*)
    val e = graft.CacheRegistry.pin(embeddings.repartition(col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"), projCols.as("projs")))
    def bucketT(t: Int): Column =
      (0 until P).map { j =>
        when(element_at(col("projs"), t * P + j + 1) > 0, lit(1 << j))
          .otherwise(lit(0))
      }.reduce(_ + _)
    // Shape note (r11 sf1 attribution): dedup the bare id pairs FIRST,
    // then fetch both embeddings — scoring inside the bucket join was
    // A/B-measured at sf1 (2552 s stage vs 939 s for this shape): a
    // pair found in many of the L tables would pay one 64-FMA dot PER
    // TABLE pre-dedup, and on a clustered corpus cross-table duplicate
    // rates are high, so the duplicate dots dominate the two pair-
    // stream fetch sorts this shape pays instead.
    val buckets = e.select(col("vec_id"),
      explode(array((0 until numTables).map(t =>
        struct(lit(t).as("t"), bucketT(t).as("b"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))
    val cand = buckets.as("x")
      .join(buckets.as("y"), Seq("t", "b"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
      .distinct()
    val scored = cand
      .join(e.select(col("vec_id").as("id1"), col("embedding").as("e1"),
        col("nrm").as("n1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("embedding").as("e2"),
        col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (dot(col("e1"), col("e2")) / (col("n1") * col("n2"))).as("sim"))
    // r15 note (two measured negative results, kept as-is): the
    // scored ∪ scored.swapped double evaluation looks like a guide
    // §1.2 dedup target (Catalyst plans the candidate subtree twice),
    // but BOTH alternatives lost back-to-back A/Bs at sf0.1/32 cpus:
    // (a) single-pass explode(array(struct,struct)) + eager pin of the
    // top-k result — knn_graph 4.0 → 5.1 s (the pin serialized the
    // union/anti branches that otherwise overlap on idle cores);
    // (b) the explode alone, no pin — 4.0 → 5.3 s with stage time
    // DOUBLED 16 → 33 s (the Generate above the fetch joins flipped
    // their runtime join planning). The union branches are independent
    // map stages of one shuffle and overlap, so the duplication costs
    // far less wall than its plan suggests.
    val edges = scored
      .select(col("id1").as("src"), col("id2").as("nbr"), col("sim"))
      .unionAll(scored.select(col("id2").as("src"), col("id1").as("nbr"),
        col("sim")))
      .groupBy("src")
      .agg(graft.functions.VectorFns.top_k(
        struct(negate(col("sim")).as("neg"), col("nbr"), col("sim")), k)
        .as("tk"))
      .select(col("src"), posexplode(col("tk")))
      .select(col("src"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nbr").as("nbr"), round(col("col.sim"), 3).as("sim"))
    // EVERY vector appears: one whose buckets are singletons in all L
    // tables has no candidates (on outlier-heavy corpora that is the
    // interesting population) — surface it as an explicit rank-0
    // sentinel row instead of silently omitting it from "the graph"
    val isolated = e.select(col("vec_id").as("src"))
      .join(edges.select("src").distinct(), Seq("src"), "left_anti")
      .select(col("src"), lit(0L).as("rank"),
        lit(null).cast("long").as("nbr"), lit(null).cast("double").as("sim"))
    edges.unionByName(isolated)
  }

  /** C66: the C65 certification for the kNN GRAPH — the exact top-k
    * of a deterministic probe draw (vec_id % probeMod == 0, SQL-
    * expressible) is the oracle's half, and the in-row `recall_ok`
    * asserts C36's LSH-bucketed graph carries at least `floor` of
    * those edges. This turns the graph's recall from a local spec
    * floor into a claim the driver RE-MEASURES at both SFs every
    * round through the hash — a regression in the auto-derived plane
    * count, table count, or bucket join fails CORRECTNESS, not just
    * the test suite.
    *
    * Scale shape: the exact side is probe(broadcast) × corpus — an
    * O(n²/probeMod) AUDIT quarantined behind the C5 guard (production
    * recall monitoring keeps the same probe-draw trick: score 1/1000
    * of nodes exactly, not the corpus); the graph side is C36
    * unchanged plus one left-semi join on the edge key.
    */
  def knnGraphRecall(embeddings: DataFrame, k: Int = 5,
      probeMod: Int = 10, floor: Double = 0.8,
      maxExactRows: Long = 100000L): DataFrame = {
    requireAuditSized(embeddings, maxExactRows, "knnGraphRecall (C66)",
      "a larger probeMod (the probe draw IS the scale dial)")
    val probes = embeddings
      .filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
    val corpus = embeddings
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
    val scored = corpus
      .join(broadcast(probes), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("q_emb"), col("c_emb"))
          / (col("q_norm") * col("c_norm")), 3).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    val truth = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val g = knnGraph(embeddings, k)
      .filter(col("rank") >= 1 && pmod(col("src"), lit(probeMod)) === 0)
      .select(col("src").as("aq"), col("nbr").as("ac"))
    // r15 single-pass gate tail (see knnLshRecall); graph edges are
    // unique (src, nbr) by the top-k construction
    truth.join(g.withColumn("hit", lit(1)),
      col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
      .select(col("n_truth"),
        (col("n_found").cast("double") >= lit(floor) * col("n_truth"))
          .as("recall_ok"))
  }

  /** C68: top principal direction of the embedding corpus — the
    * spectral summary curation uses for drift detection (has the
    * dominant direction moved between crawls?), whitening decisions,
    * and the "is there a rogue axis?" audit before ANN indexing
    * (a near-rank-1 corpus breaks hyperplane LSH). Computed as a
    * TWO-STEP POWER ITERATION from the all-ones start vector on the
    * corpus Gram matrix — a fixed, oracle-unrollable recipe (the C54
    * "statically unrolled rounds" convention; a production loop
    * iterates to convergence with per-round normalization in double).
    *
    * Exactness: components quantize ×2²⁰ (C30's exact cast), the Gram
    * matrix G[i,j] = Σ_v q_i·q_j accumulates in DECIMAL(38,0), and
    * both mat-vec products stay in decimal — x₂ = G·(G·1) is an EXACT
    * integer vector published as-is (decimal column in the hash; no
    * doubles, no rounding protocol). The readable `ratio` column
    * (x₂ᵢ/x₂_ref, ref = the largest-|·| component, ties to min pos)
    * is one double division of two exact casts, round-6 (x₂ exceeds
    * 2⁵³, so the quotient carries the A38 one-ulp caveat — hence
    * round-6 AND the exact decimal beside it). Magnitude budget:
    * |q| ≤ 2²⁰, |G| ≤ n·2⁴⁰, |x₂| ≤ d²·n²·2⁸⁰ ≈ 10³⁵ at d = 64,
    * n = 10⁴ — inside DECIMAL(38,0); a fail-fast guard (r9) refuses
    * corpora past `maxVectors` ~10⁵ and names [[embPcaScaledRaw]],
    * the implemented normalized-double production form certified by
    * [[embPcaScaled]]'s band gate.
    *
    * Scale shape: the Gram build is a posexplode + per-vector d²
    * pair fan-out collapsed by a partial-aggregated (i, j) groupBy —
    * the shuffle carries d² rows TOTAL regardless of corpus size
    * (the distributed Gram pattern); both mat-vec steps are d²-row
    * joins against broadcast d-row vectors.
    */
  def embPca(embeddings: DataFrame, maxVectors: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val I = DecimalType(38, 0)
    // fail-fast headroom guard (ADVICE r8 / VERDICT r8 #2): the
    // docstring's |x₂| ≤ d²·n²·2⁸⁰ budget exits DECIMAL(38,0) past
    // ~10⁵ vectors, and Spark decimal overflow yields silent nulls —
    // the C5 quarantine convention, naming the production form
    val nVecs = embeddings.count()
    require(nVecs <= maxVectors,
      s"embPca's exact DECIMAL(38,0) power iteration has headroom " +
        s"|x2| <= d^2*n^2*2^80 only to ~$maxVectors vectors (overflow " +
        s"yields silent nulls), got $nVecs; use embPcaScaledRaw (the " +
        s"normalized-double production form) at this scale, or raise " +
        s"maxVectors explicitly")
    // r15 (guide §2.5 input skew): repartition the exploded frame by
    // vec_id BEFORE the self-join. A gate-scale corpus is one small
    // parquet file → a 1-task scan, and the optimizer broadcasts the
    // build side, so the ×d² fan-out ran SERIALLY on the probe's single
    // scan partition (r14's emb_pca_scaled 4.64 → 6.89 s regression was
    // this serial fan-out materializing the cache in one task). The
    // hash exchange spreads the fan-out across the cluster; both join
    // sides reuse the SAME exchange (§2.4), and at production scale a
    // sort-merge self-join would shuffle on vec_id anyway, so no new
    // exchange is paid where it matters.
    val q = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1048576.0)).cast(I).as("qv"))
      .repartition(col("vec_id"))
    // r14 (guide §1.2/§5): the Gram build is the only corpus-sized
    // work here and BOTH mat-vec steps (x1, x2) consume it. r15
    // (VERDICT r14 #1): size-thresholded — at gate scale the persist
    // MATERIALIZATION barrier cost more than the recompute it saved;
    // above the leaf threshold (production) the cached d²-row scan
    // still beats a second corpus-sized fan-out.
    val gram = graft.CacheRegistry.persistIfLarge(
      q.as("a").join(q.as("b"), "vec_id")
        .groupBy(col("a.pos").as("i"), col("b.pos").as("j"))
        .agg(sum(col("a.qv") * col("b.qv")).as("g")))
    val x1 = gram.groupBy(col("i").as("pos")).agg(sum(col("g")).as("x1"))
    val x2 = gram
      .join(broadcast(x1.select(col("pos").as("j"), col("x1"))), "j")
      .groupBy(col("i").as("pos"))
      .agg(sum(col("g") * col("x1")).as("x2"))
    val ref = x2.agg(max(struct(abs(col("x2")).as("mag"),
      negate(col("pos")).as("np"), col("x2").as("refv"))).as("m"))
      .select(col("m.refv").as("refv"))
    // x2 publishes as a STRING: the exact integer survives the hash
    // compare verbatim in both engines (a raw DECIMAL(38,0) column
    // round-trips as decimal.Decimal on one side and HUGEINT→float on
    // the other in the driver's pandas compare), and the readable
    // round-6 ratio sits beside it.
    x2.crossJoin(broadcast(ref))
      .select(col("pos"), col("x2").cast("string").as("x2"),
        round(col("x2").cast("double") / col("refv").cast("double"), 6)
          .as("ratio"))
  }

  /** C68's normalized-double PRODUCTION form (VERDICT r8 #2) — the
    * path the exact operator's guard names past ~10⁵ vectors, where
    * DECIMAL(38,0) headroom runs out: the same two-step power
    * iteration with the Gram matrix and mat-vecs in plain double, and
    * a PER-ROUND RESCALE of the iterate by its largest |component| so
    * magnitudes stay O(G) per step no matter how many rounds a
    * convergence-driven caller unrolls (the quantity published — the
    * component RATIO — is rescale-invariant by construction). Double
    * sums are association-order-noisy at the ulp level, which is why
    * this form is certified by [[embPcaScaled]]'s band gate rather
    * than hashed directly: the direction is stable to ~1e-12 while
    * the band is 1e-3.
    *
    * Scale shape: identical to the exact form — the Gram build's
    * shuffle carries d² double rows TOTAL regardless of corpus size,
    * each mat-vec is a d²-row join against a broadcast d-row vector.
    */
  def embPcaScaledRaw(embeddings: DataFrame): DataFrame = {
    // same repartition + size-thresholded persist as the exact form
    // (r15: §2.5 serial-fan-out fix + VERDICT r14 #1)
    val q = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("v").cast("double").as("dv"))
      .repartition(col("vec_id"))
    val gram = graft.CacheRegistry.persistIfLarge(
      q.as("a").join(q.as("b"), "vec_id")
        .groupBy(col("a.pos").as("i"), col("b.pos").as("j"))
        .agg(sum(col("a.dv") * col("b.dv")).as("g")))
    val x1 = gram.groupBy(col("i").as("pos")).agg(sum(col("g")).as("x1"))
    // per-round rescale: divide the iterate by its max |component|
    // before the next mat-vec (overflow-proof at any round count)
    val m1 = x1.agg(max(abs(col("x1"))).as("m1"))
    val x1n = x1.crossJoin(broadcast(m1))
      .select(col("pos").as("j"), (col("x1") / col("m1")).as("x1n"))
    val x2 = gram.join(broadcast(x1n), "j")
      .groupBy(col("i").as("pos"))
      .agg(sum(col("g") * col("x1n")).as("x2"))
    val ref = x2.agg(max(struct(abs(col("x2")).as("mag"),
      negate(col("pos")).as("np"), col("x2").as("refv"))).as("m"))
      .select(col("m.refv").as("refv"))
    x2.crossJoin(broadcast(ref))
      .select(col("pos"), (col("x2") / col("refv")).as("ratio_scaled"))
  }

  /** C68's certification gate for the scaled form — the
    * ccnet_bucket_approx precedent: publish the EXACT operator's
    * columns (hashable) beside an in-row `scaled_ok` band the oracle
    * asserts TRUE. The scaled direction's double noise is ~1e-12 of a
    * unit ratio; `band` = 1e-3 is six decades of margin yet decisive
    * against a mis-wired production path (a skipped rescale, a
    * transposed mat-vec join, or a float truncation moves dense
    * components by ≥ the band). Gate-scale only — it contains the
    * exact twin; production past the guard runs [[embPcaScaledRaw]].
    */
  def embPcaScaled(embeddings: DataFrame,
      band: Double = 0.001): DataFrame =
    embPca(embeddings)
      .join(embPcaScaledRaw(embeddings), Seq("pos"))
      .select(col("pos"), col("x2"), col("ratio"),
        (abs(col("ratio_scaled") - col("ratio")) <= lit(band))
          .as("scaled_ok"))

  /** C73: embedding-norm AUDIT — the pre-ANN sanity datasheet every
    * vector deployment reads before trusting cosine geometry: a
    * zero vector makes cosine undefined, a NaN component poisons
    * every dot product it touches, and a source whose norms sit far
    * from its neighbors' usually means an unnormalized or truncated
    * embedding batch (hyperplane LSH and IVF assignment both assume
    * comparable norms). Per label: vector count, vectors with a
    * non-finite component, zero vectors, and min/max/mean squared
    * norm.
    *
    * Exactness: each component squares in double (exact — f32→f64 is
    * lossless and the product is correctly rounded identically in
    * both engines), floor-quantizes ×2⁴⁰ per ELEMENT (≤ 2⁴⁰ < 2⁵³,
    * so floor is a true floor), and the per-vector sum is a
    * SEQUENTIAL integer fold (≤ d·2⁴⁰ — long-safe) — order-fixed
    * inside the row, so norm²q is deterministic; min/max/mean are
    * integer aggregates with one exact ÷2⁴⁰ at the end (mean divides
    * the exact DECIMAL sum — the Exact.avgD shape). Vectors with a
    * non-finite component are COUNTED but excluded from the norm
    * stats (their square is undefined); both engines apply the same
    * rule.
    *
    * Scale: pure map (one native fold per row) + ONE partial-agg
    * groupBy to |labels| rows — the corpus never shuffles wide.
    */
  def embNormAudit(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val I = DecimalType(38, 0)
    // non-finite = NaN, null, OR ±Inf (ADVICE r9: an Inf component
    // passed the old isnan/isNull filter, then floor(Inf·2⁴⁰)
    // saturates in Spark while DuckDB's CAST(floor(Inf)) errors —
    // exactly the pathological vector this audit exists to catch)
    val bad = exists(col("embedding"),
      x => isnan(x.cast("double")) || x.isNull
        || abs(x.cast("double")) === lit(Double.PositiveInfinity))
    val n2q = aggregate(
      transform(col("embedding"), x =>
        floor(x.cast("double") * x.cast("double")
          * lit(1099511627776.0))),
      lit(0L), (acc, v) => acc + v)
    val q = embeddings.select(col("label"), bad.as("bad"),
      when(!bad, n2q).as("norm2q"))
    q.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        count(when(col("bad"), 1)).as("n_bad"),
        count(when(col("norm2q") === 0L, 1)).as("n_zero"),
        (min(col("norm2q")).cast("double") / lit(1099511627776.0))
          .as("min_norm2"),
        (max(col("norm2q")).cast("double") / lit(1099511627776.0))
          .as("max_norm2"),
        (sum(col("norm2q").cast(I)).cast("double")
          / count(col("norm2q")) / lit(1099511627776.0)).as("mean_norm2"))
  }

  /** C30: per-label centroid vectors in long form (label, pos, mean) —
    * the k-means/class-prototype step of embedding-space curation
    * (cluster-balanced sampling, C15's coarse quantizer refresh).
    *
    * Order-independent across any partitioning: each float is
    * quantized EXACTLY — f32 → f64 is lossless, ×2^20 only shifts the
    * exponent (no mantissa bits move), floor is exact — then summed in
    * DECIMAL(38,0) integer space (associative), with ONE double
    * division at the end. Resolution 2^-20 ≈ 1e-6, plenty for unit-
    * scale embeddings; bit-identical in any engine by construction.
    *
    * Scale shape: posexplode is a generator (no shuffle), then one
    * partial-aggregated groupBy on (label, pos) — |labels|·dim groups
    * regardless of corpus size; the narrow (label, pos, int64) shuffle
    * rows are the minimal sufficient statistic.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val q = floor(col("val").cast("double") * lit(1048576.0))
      .cast(DecimalType(38, 0))
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(
        (sum(q).cast("double") / (count(lit(1)) * lit(1048576.0)))
          .as("centroid"),
        count(lit(1)).as("n"))
  }

  /** C54: distributed k-means (Lloyd's) over the embedding corpus —
    * the TRAINING step C15's IVF index presumes (C15 uses raw seed
    * vectors as cells; production IVF trains its coarse quantizer
    * with exactly this loop, then writes the corpus clustered by the
    * learned cells for partition pruning). `iters` fixed update
    * rounds from deterministic seeds (vec_id < k), cosine assignment,
    * final pass emits each vector's cell and similarity.
    *
    * Cross-engine determinism, per round: assignment similarities are
    * rounded to 6 BEFORE the argmax (an unrounded cosine differs by
    * ulps between engines' accumulation orders; on rounded values the
    * argmax with the cluster-id tiebreak is a total order), and the
    * centroid update is C30's exact integer quantization (×2²⁰,
    * floor, DECIMAL sum, one double division — bit-identical on any
    * partitioning), so the new centroids feed the next round
    * bit-identically and the loop cannot drift apart.
    *
    * Scale shape: each assignment is corpus × broadcast(k centroids)
    * — a pure map fan-out of ×k collapsed by a partial-aggregable
    * struct-max groupBy (NO window: map-side combine reduces to one
    * candidate row per vector per partition before the shuffle); each
    * update is C30's posexplode + (cluster, pos) partial agg down to
    * k·dim rows. Per round: one bounded shuffle of n rows + one of
    * n·dim narrow rows; nothing quadratic, nothing driver-side. The
    * plan is statically unrolled (`iters` is small and fixed — a
    * convergence-driven production loop would materialize assignments
    * per round via the D11 checkpoint machinery instead).
    */
  /** cosine over generic (float/double) array columns — the double
    * composition kernel the k-means loop scores with.
    */
  private def cosG(a: Column, b: Column): Column =
    dotGeneric(a, b) / (sqrt(dotGeneric(a, a)) * sqrt(dotGeneric(b, b)))

  /** One Lloyd assignment of `e` (vec_id, embedding) to `cents`
    * (cluster, cemb): round-6 cosine, argmax via partial-aggregable
    * struct-max (no window), cluster-id tiebreak.
    */
  private[graft] def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("rsim", round(cosG(col("embedding"), col("cemb")), 6))
      .groupBy("vec_id")
      .agg(max(struct(col("rsim"), negate(col("cluster")).as("nc"))).as("m"))
      .select(col("vec_id"), negate(col("m.nc")).as("cluster"),
        col("m.rsim").as("rsim"))

  /** The trained coarse quantizer: centroid table (cluster, cemb)
    * after `iters` Lloyd rounds from the deterministic seeds — C15's
    * missing training step, exposed for [[knnIvfTrained]].
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8,
      iters: Int = 2): DataFrame =
    kmeansTrain(embeddings, k, iters)._1

  /** N-round Lloyd training (VERDICT r9 #7 — the statically-nested
    * loop made parametric), run in [[graft.CacheRegistry.rounds]]:
    * each round's assignment and centroid table are eagerly pinned
    * (round r+1's plan references a LEAF, not round r's whole plan —
    * without this the lineage NESTS per round and analysis cost grows
    * with the round count, the same disease the dedup loop had), a
    * round's pins are released once the next round has pinned its
    * centroids, and the final table passes to the caller's scope.
    * Runs exactly `iters` rounds; `iters = 0` returns the seed
    * centroids. With `trackChanges` the per-round ASSIGNMENT-CHANGE
    * count — the standard Lloyd convergence diagnostic (stop when it
    * hits ~0) — is published alongside: entry r counts vectors whose
    * cluster differs between update rounds r and r+1 (length
    * iters − 1; the first assignment has no predecessor).
    *
    * r15 note (measured, kept as-is): collecting the k-row centroid
    * table to a driver LocalRelation per round (fewer jobs on paper)
    * was A/B-benched at sf0.1/32 cpus and came out ~1 s SLOWER per
    * ivfpq entry (6.1 → 7.2+ s walls; per-round re-analysis of the
    * fused assign+update plan ate the saved job latency), so the
    * checkpoint-leaf shape stands.
    */
  def kmeansTrain(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      trackChanges: Boolean = false): (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 2 && iters >= 0, "need k >= 2 clusters, iters >= 0")
    import graft.CacheRegistry.{pin, releaseCheckpoint}
    val e = embeddings.select(col("vec_id"), col("embedding"))
    def update(asg: DataFrame): DataFrame = {
      val q = floor(col("val").cast("double") * lit(1048576.0))
        .cast(DecimalType(38, 0))
      e.join(asg.select("vec_id", "cluster"), "vec_id")
        .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy("cluster", "pos")
        .agg((sum(q).cast("double") / (count(lit(1)) * lit(1048576.0)))
          .as("cval"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
          x => x.getField("cval")).as("cemb"))
    }
    val seeds = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"),
        transform(col("embedding"), v => v.cast("double")).as("cemb"))
    val changes = scala.collection.mutable.ArrayBuffer.empty[Long]
    // state: (centroids, this round's assignment when tracking changes)
    val run = graft.CacheRegistry.rounds("kmeans", iters)(
        (seeds, Option.empty[DataFrame])) { case ((cents, prevAsg), _) =>
      val asg = pin(kmeansAssign(e, cents).select(col("vec_id"), col("cluster")))
      prevAsg.foreach(p => changes += asg.join(
          p.select(col("vec_id"), col("cluster").as("prev")), "vec_id")
        .filter(col("cluster") =!= col("prev")).count())
      val next = pin(update(asg))
      if (trackChanges) (next, Some(asg))
      else { releaseCheckpoint(asg); (next, None) }
    }
    run.state._2.foreach(releaseCheckpoint)
    (run.state._1, changes.toSeq)
  }

  def embKmeans(embeddings: DataFrame, k: Int = 8,
      iters: Int = 2): DataFrame =
    kmeansAssign(embeddings.select(col("vec_id"), col("embedding")),
      kmeansCentroids(embeddings, k, iters))
      .select(col("vec_id"), col("cluster"),
        round(col("rsim"), 3).as("sim"))

  /** C55: IVF search over the TRAINED quantizer — [[knnIvf]]'s probe
    * plan with [[kmeansCentroids]]' learned cells instead of raw seed
    * vectors (the full production IVF recipe: train coarse cells on
    * the corpus, assign once, probe the nProbe closest learned cells
    * per query). What training buys is cell BALANCE: seed cells
    * follow the corpus skew, so probing a fat seed cell scans extra
    * candidates (recall bought with scan cost — measured 0.94 vs
    * 0.88 at equal nProbe on the near-uniform test corpus, where the
    * fat-cell scan bonus outweighs density adaptation); trained
    * cells bound the per-probe candidate count (measured max/min
    * occupancy 1.46 → 1.34, rel-std 0.116 → 0.093), which is what
    * caps tail latency and shuffle skew at 100 TB. The spec pins the
    * balance ordering and a recall floor.
    *
    * Scale shape: training is C54's bounded-shuffle loop; assignment
    * is one broadcast map + partial agg; probing is the C15 plan —
    * queries fan out ×nProbe into a broadcast cell equi-join, exact
    * cosine only inside probed cells, per-query top-k window. Cells
    * map to partition pruning when the corpus is written clustered by
    * list_id.
    */
  def knnIvfTrained(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      kCells: Int = 8, iters: Int = 2, nProbe: Int = 3): DataFrame = {
    require(nProbe >= 1 && nProbe <= kCells)
    val e = embeddings.select(col("vec_id"), col("embedding"))
    val cents = kmeansCentroids(embeddings, kCells, iters)
    val asg = kmeansAssign(e, cents)
      .select(col("vec_id").as("c_id"), col("cluster").as("list_id"))
    val corpus = e
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
      .join(asg, "c_id")
    // per query: its nProbe closest TRAINED cells (k-row side — window
    // is fine), same round-6 ordering as the assignment
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d").desc, col("cluster"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
      .crossJoin(broadcast(cents))
      .withColumn("d", round(cosG(col("q_emb"), col("cemb")), 6))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_norm"),
        col("cluster").as("list_id"))
    val scored = corpus
      .join(broadcast(queries), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(dot(col("q_emb"), col("c_emb"))
          / (col("q_norm") * col("c_norm")), 3).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "c_id", "sim")
  }

  /** Squared L2 over generic double arrays — the PQ family's metric
    * (on UNIT vectors L2² = 2 − 2·cos, so L2 ranking ≡ cosine
    * ranking; PQ codebooks quantize residual magnitudes, which cosine
    * can't express).
    */
  private def l2sqG(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Unit-normalized corpus as array<double> (the IVF-PQ working
    * frame): one map, no shuffle. Zero-norm vectors are the C73
    * norm-audit's job upstream; here they pass through unchanged
    * (0/1 = 0) rather than dividing by zero. The norm is STAGED as a
    * column before the per-element division — inlining it into the
    * transform lambda re-evaluates the 64-element dot per ELEMENT
    * (the C6 lambda-reinlining trap, 64× the work).
    */
  private def normalized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding"),
        sqrt(dotGeneric(col("embedding"), col("embedding"))).as("nrm"))
      .select(col("vec_id"),
        transform(col("embedding"),
          v => v.cast("double")
            / when(col("nrm") > 0.0, col("nrm")).otherwise(lit(1.0)))
          .as("embedding"))

  /** PQ codebook training (r11, VERDICT r10 #2): ONE Lloyd loop over
    * all `m` subspaces jointly, keyed by (sub, code) — the per-
    * subspace k-means the product quantizer needs, without m separate
    * training loops (same corpus scans either way; one loop keeps the
    * round count, checkpoints, and shuffles at kmeansTrain's budget).
    * `subv` is the long-form residual table (vec_id, sub, sv); seeds
    * are the deterministic vec_id < ksub subvectors per subspace.
    *
    * Cross-engine/rerun determinism, the C54 protocol: assignment
    * distances round-6 BEFORE the argmin (min of struct(d, code) —
    * total order, smallest-code tiebreak), centroid updates are the
    * exact ×2²⁰ floor-quantized DECIMAL(38,0) means. Per-round plain
    * checkpoints keep plan depth constant in rounds (the kmeansTrain
    * lesson).
    *
    * Scale shape per round: one broadcast(m·ksub codebook rows) map
    * fan-out collapsed by a partial-agg struct-min (no window), one
    * (sub, code, pos) partial agg of n·dim narrow rows. Nothing
    * quadratic, nothing driver-side.
    */
  private[graft] def pqTrain(subv: DataFrame, ksub: Int,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(ksub >= 2 && iters >= 0, "need ksub >= 2 codes, iters >= 0")
    def update(asg: DataFrame): DataFrame = {
      val q = floor(col("val") * lit(1048576.0)).cast(DecimalType(38, 0))
      subv.join(asg, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "val")))
        .groupBy("sub", "code", "pos")
        .agg((sum(q).cast("double") / (count(lit(1)) * lit(1048576.0)))
          .as("cval"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cval")))),
          x => x.getField("cval")).as("cb"))
    }
    val seeds = subv.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("sv").as("cb"))
    graft.CacheRegistry.rounds("pq", iters)(seeds) { (cb, _) =>
      graft.CacheRegistry.pin(update(pqAssign(subv, cb)))
    }.state
  }

  /** One PQ assignment: per (vec_id, sub), the codebook entry with the
    * smallest round-6 squared L2 (struct-min — partial-aggregable, no
    * window; ties break to the smallest code).
    */
  private[graft] def pqAssign(subv: DataFrame, cb: DataFrame): DataFrame =
    subv.join(broadcast(cb), Seq("sub"))
      .withColumn("d", round(l2sqG(col("sv"), col("cb")), 6))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d"), col("code"))).as("mn"))
      .select(col("vec_id"), col("sub"), col("mn.code").as("code"))

  /** C78: IVF-PQ — the production billion-vector ANN recipe (VERDICT
    * r10 #2; public design: Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011; the faiss IVFPQ+refine
    * composition): train a coarse quantizer (C54's Lloyd loop), assign
    * each vector to its cell, PRODUCT-QUANTIZE the residual (m
    * subspaces × ksub codes → m bytes per vector instead of dim
    * floats), and search by ranking candidates with an ASYMMETRIC
    * DISTANCE table — per (query, probed cell), the m·ksub exact
    * distances from the query's residual subvectors to every codebook
    * entry, so scoring a candidate is m table lookups, never a vector
    * op. The PQ shortlist then gets an EXACT rerank (the refine stage)
    * before the top-k is published with the family's round-3 cosine.
    *
    * Everything runs on UNIT-normalized vectors so PQ's L2 ranking is
    * cosine ranking (the faiss normalize-then-L2 recipe); the
    * published sim re-scores the survivors on the RAW embeddings with
    * the exact round-3 protocol, so output rows are directly
    * comparable to knnBrute/knnLsh/knnIvf.
    *
    * Scale shape: training = two bounded Lloyd loops (corpus-linear
    * rounds); the index = one (cluster, codes[m]) row per vector —
    * the 4× → 32× compression that lets a 100 TB corpus's index live
    * in memory; the ADC table = queries × nProbe × m·ksub rows, built
    * as one BOUNDED broadcast (nQueries·nProbe·m·ksub rows — never a
    * per-row UDF); candidate scoring = cell equi-join + ×m posexplode
    * + broadcast ADC join + partial-agg sum; the exact rerank touches
    * only |queries|·shortlist rows. Cells a query skips are never
    * read — with the corpus written clustered by list_id that is
    * partition pruning, the IVF point at 100 TB.
    */
  /** The persisted half of the IVF-PQ lifecycle (r12, VERDICT r11
    * #3): the four tables a production deployment writes ONCE and
    * searches many times — coarse centroids (k rows), per-vector cell
    * assignments, PQ codebooks (m·ksub rows), and the m-byte codes
    * per vector. Together they ARE the 32× compressed index; the raw
    * embeddings are needed again only for the exact refine stage.
    */
  case class IvfPqIndex(cents: DataFrame, asg: DataFrame,
      cb: DataFrame, codes: DataFrame)

  /** Train the IVF-PQ index — the write half of train-once/search-
    * many. All determinism and scale notes on [[knnIvfPq]] apply; the
    * returned frames are checkpoint leaves (registered for harness
    * release), ready to persist via [[writeIvfPqIndex]].
    */
  def knnIvfPqIndex(embeddings: DataFrame, kCells: Int = 8,
      iters: Int = 2, m: Int = 8, ksub: Int = 16,
      pqIters: Int = 2, dimHint: Int = 0): IvfPqIndex = {
    import graft.CacheRegistry.pin
    // pinned once: training scans the normalized frame ~6 times (two
    // Lloyd loops + assignment + subvector build); re-normalizing per
    // scan would repeat the per-row dot each time
    val e = pin(normalized(embeddings))
    // dimHint skips the driver-side probe when the caller already
    // knows the dimensionality (ADVICE r12: the composed knnIvfPq ran
    // the probe twice per call — once here, once in the search half)
    val dim = if (dimHint > 0) dimHint
      else embeddings.select(size(col("embedding")).as("d")).head.getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m even subspaces")
    val dsub = dim / m

    // coarse quantizer + assignment (C54/C55 machinery, verbatim)
    val cents = kmeansCentroids(e, kCells, iters)
    val asg = pin(kmeansAssign(e, cents).select(col("vec_id"), col("cluster")))

    // residual subvectors in long form — pinned once, scanned by every
    // PQ training round and the final code assignment
    val subv = pin(
      e.join(asg, "vec_id")
        .join(broadcast(cents), "cluster")
        .select(col("vec_id"),
          zip_with(col("embedding"), col("cemb"), (x, c) => x - c).as("r"))
        .select(col("vec_id"), explode(array((0 until m).map(j =>
          struct(lit(j).as("sub"),
            slice(col("r"), j * dsub + 1, dsub).as("sv"))): _*)).as("s"))
        .select(col("vec_id"), col("s.sub").as("sub"), col("s.sv").as("sv")))

    val cb = pqTrain(subv, ksub, pqIters)
    // the compressed index: m codes per vector beside its cell
    val codes = pqAssign(subv, cb)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
    IvfPqIndex(cents, asg, cb, codes)
  }

  /** Persist the trained index to parquet — four sub-dirs under
    * `dir`, the artifact layout the 100 TB story assumes (write the
    * corpus clustered by the asg table's cell for partition pruning;
    * cents/cb are broadcast-sized forever, codes is the 32×-compressed
    * searchable payload).
    */
  def writeIvfPqIndex(idx: IvfPqIndex, dir: String): Unit = {
    idx.cents.write.mode("overwrite").parquet(s"$dir/cents")
    idx.asg.write.mode("overwrite").parquet(s"$dir/asg")
    idx.cb.write.mode("overwrite").parquet(s"$dir/cb")
    idx.codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Read a persisted index back — the search half's input contract. */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex =
    IvfPqIndex(spark.read.parquet(s"$dir/cents"),
      spark.read.parquet(s"$dir/asg"),
      spark.read.parquet(s"$dir/cb"),
      spark.read.parquet(s"$dir/codes"))

  /** SEARCH over an already-trained IVF-PQ index (the read half of
    * train-once/search-many): probe → bounded-broadcast ADC table →
    * m-lookup candidate scoring → exact refine on the raw embeddings.
    * Bit-identical to [[knnIvfPq]]'s output for the index its
    * training half built (training is deterministic by the C54
    * protocol), which is exactly what the fold spec pins through a
    * parquet round-trip. The bench twin measures THIS — the operation
    * a production deployment actually runs per query batch.
    */
  def knnIvfPqSearch(embeddings: DataFrame, idx: IvfPqIndex,
      nQueries: Int = 10, k: Int = 5, nProbe: Int = 4,
      m: Int = 8, shortlist: Int = 64, dimHint: Int = 0): DataFrame = {
    require(nProbe >= 1, "need nProbe >= 1")
    require(shortlist >= k, "the PQ shortlist must cover the final k")
    val dim = if (dimHint > 0) dimHint
      else embeddings.select(size(col("embedding")).as("d")).head.getInt(0)
    require(dim % m == 0, s"dim $dim must split into $m even subspaces")
    val dsub = dim / m
    val cents = idx.cents
    val asg = idx.asg
    val cb = idx.cb
    val codes = idx.codes

    // query side: nProbe closest coarse cells (the C55 probe plan);
    // queries normalize AFTER the nQueries filter — a handful of rows
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d").desc, col("cluster"))
    val probes = normalized(embeddings.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("d", round(cosG(col("q_emb"), col("cemb")), 6))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cluster").as("list_id"),
        col("cemb"))

    // ADC table: one bounded broadcast of nQueries·nProbe·m·ksub rows —
    // the query residual's exact distance to every codebook entry
    val adc = probes
      .select(col("q_id"), col("list_id"),
        zip_with(col("q_emb"), col("cemb"), (x, c) => x - c).as("qr"))
      .crossJoin(broadcast(cb))
      .select(col("q_id"), col("list_id"), col("sub"), col("code"),
        l2sqG(slice(col("qr"), col("sub") * lit(dsub) + 1, lit(dsub)),
          col("cb")).as("d"))

    // candidates: vectors in probed cells, scored by m ADC lookups —
    // posexplode fan-out ×m, broadcast equi-join, partial-agg sum
    val scored = asg
      .select(col("vec_id").as("c_id"), col("cluster").as("list_id"))
      .join(codes.withColumnRenamed("vec_id", "c_id"), "c_id")
      .join(broadcast(probes.select("q_id", "list_id")), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("list_id"), col("c_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(adc), Seq("q_id", "list_id", "sub", "code"))
      .groupBy("q_id", "c_id").agg(sum(col("d")).as("adist"))

    // PQ shortlist → EXACT rerank on the raw embeddings (refine): the
    // published (rank, sim) follows the family's round-3 protocol
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adist").asc, col("c_id"))
    val short = scored.withColumn("srank", row_number().over(wS))
      .filter(col("srank") <= shortlist)
      .select("q_id", "c_id")
    val qside = embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        norm(col("embedding")).as("qn"))
    val exact = embeddings
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      .join(broadcast(short), "c_id")
      .join(broadcast(qside), "q_id")
      .select(col("q_id"), col("c_id"),
        round(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 3)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "c_id", "sim")
  }

  /** The end-to-end composition (train + search in one plan) — kept
    * as the original C78 entry so the full build → search lifecycle
    * stays gated; the `_fold` twin measures the search half alone
    * against the stored index.
    */
  def knnIvfPq(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      kCells: Int = 8, iters: Int = 2, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, pqIters: Int = 2,
      shortlist: Int = 64): DataFrame = {
    require(nProbe >= 1 && nProbe <= kCells)
    // one dim probe for the whole composition (ADVICE r12: index +
    // search each ran their own driver-side size() action)
    val dim = embeddings.select(size(col("embedding")).as("d")).head.getInt(0)
    knnIvfPqSearch(embeddings,
      knnIvfPqIndex(embeddings, kCells, iters, m, ksub, pqIters, dimHint = dim),
      nQueries, k, nProbe, m, shortlist, dimHint = dim)
  }

  /** C78's oracle gate — the C65 pattern: brute-force truth size from
    * the oracle, an in-row `recall_ok` asserting IVF-PQ (probe →
    * ADC shortlist → exact refine) recovered at least `floor` of it,
    * re-measured through the hash at both SFs every round. With
    * `index` the approx side SEARCHES THE STORED INDEX instead of
    * retraining — the C87 fold-recall twin, sharing this exact gate.
    */
  def knnIvfPqRecall(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      floor: Double = 0.6, index: Option[IvfPqIndex] = None): DataFrame = {
    // r15 (guide §2.6): in the retrain path, knnIvfPq's coarse + PQ
    // Lloyd loops are EAGER driver chains that ran before the final
    // plan (truth ⟕ approx) ever started — the brute-force truth
    // side, fully independent of the index, waited behind them. Pin
    // the truth top-k from a second driver thread while the training
    // loops run; the final aggregate then reads the pinned leaf. With
    // a stored `index` the approx side is lazy, so both subtrees
    // already overlap inside one plan — no pin (it would only add the
    // §1-measured barrier).
    val (approx, truth) = index match {
      case Some(i) =>
        (knnIvfPqSearch(embeddings, i, nQueries, k),
          knnBrute(embeddings, nQueries, k))
      case None =>
        DedupOps.inParallel(
          knnIvfPq(embeddings, nQueries, k),
          graft.CacheRegistry.pin(knnBrute(embeddings, nQueries, k)))
    }
    // r15 single-pass gate tail (see knnLshRecall)
    truth.join(
      approx.select(col("q_id").as("aq"), col("c_id").as("ac"),
        lit(1).as("hit")),
      col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
      .select(col("n_truth"),
        (col("n_found").cast("double") >= lit(floor) * col("n_truth"))
          .as("recall_ok"))
  }

  /** C71's injected-twin construction for EMBEDDINGS: every eval-side
    * vector with id ≡ 0 (mod 40) gains a corpus-side PARAPHRASE twin
    * (identical embedding, id + 10⁹+1 — the offset keeps the twin on
    * the corpus side of the mod-20 split, since 10⁹ itself is ≡ 0
    * mod 20). Needed because the natural corpus has NO near-eval
    * vectors (measured max cosine 0.49 at both SFs) — without the
    * twins the semantic-decontamination gate would be vacuous, the
    * A39/C71 lesson.
    */
  def withSyntheticParaphrases(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(embeddings
        .filter(pmod(col("vec_id"), lit(40)) === 0)
        .select((col("vec_id") + lit(1000000001L)).as("vec_id"),
          col("embedding"), col("label")))

  /** C77: SEMANTIC decontamination — benchmark leakage through
    * PARAPHRASE, the gap C16's lexical 3-gram overlap can't see (a
    * reworded eval item shares no n-grams but sits next to its source
    * in embedding space): per corpus vector, the max cosine against
    * the EVAL set's embeddings, flagged when the round-3 value clears
    * `tau` (both engines branch on the identical rounded double — no
    * knife-edge).
    *
    * Scale: the eval side is SMALL by nature (benchmarks are
    * thousands of items), so it BROADCASTS and the corpus scans
    * exactly once with no shuffle before the |corpus|-row partial-agg
    * max — linear in the corpus at any size; the broadcast-side guard
    * fails fast if someone points it at a non-eval-sized table. C16
    * stays the cheap lexical first pass; this is the second screen.
    */
  def decontaminateSemantic(corpus: DataFrame, evalSet: DataFrame,
      tau: Double = 0.95, maxEvalRows: Long = 100000L): DataFrame = {
    val nEval = evalSet.count()
    require(nEval <= maxEvalRows,
      s"decontaminateSemantic broadcasts the eval side (got $nEval rows, " +
        s"cap $maxEvalRows); an eval set past broadcast size should route " +
        "through knnGraph candidates instead, or raise maxEvalRows")
    val ev = broadcast(evalSet.select(col("vec_id").as("e_id"),
      col("embedding").as("e_emb"), norm(col("embedding")).as("e_norm")))
    corpus.select(col("vec_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"))
      .crossJoin(ev)
      .select(col("vec_id"),
        round(dot(col("c_emb"), col("e_emb"))
          / (col("c_norm") * col("e_norm")), 3).as("sim"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval"), max(col("sim")).as("max_sim"))
      .select(col("vec_id"), col("n_eval"), col("max_sim"),
        (col("max_sim") >= lit(tau)).as("contaminated"))
  }

  /** C57: SEMANTIC dedup — transitive closure over embedding-space
    * near-dup pairs (cosine ≥ τ), the modern pipeline step exact and
    * lexical near-dup passes miss (a translation or paraphrase shares
    * no n-grams but sits next to its source in embedding space;
    * SemDeDup-style pipelines cluster and keep one representative per
    * semantic group). Pair generation is C12's exact scorer at gate
    * scale (quarantined O(n²) audit); production passes `candidates`
    * from the C36 kNN-graph buckets — the closure kernel is
    * identical. Components via [[DedupOps.propagateMin]] — the SAME
    * battle-tested min-label loop (pointer halving, eager plain
    * checkpoints, deterministic block release) the lexical family
    * runs, so its 100 TB evidence (giant-component and
    * k=100 scale runs) carries over unchanged.
    */
  def dedupSemantic(embeddings: DataFrame, minCosine: Double = 0.4,
      maxExactRows: Long = 100000L,
      candidates: Option[DataFrame] = None): DataFrame = {
    val labels = DedupOps.closure(candidates.getOrElse(
        embeddingNearDups(embeddings, minCosine, maxExactRows)
          .select(col("id1"), col("id2"))))
      .withColumnRenamed("doc_id", "vec_id")
    // r14: sizes from the labels leaf instead of a second corpus pass;
    // see dedupGroups for the equivalence note
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("n_members"))
    embeddings.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .join(sizes, Seq("component"), "left")
      .select(col("vec_id"), col("component"),
        coalesce(col("n_members"), lit(1L)).as("n_members"),
        (col("vec_id") === col("component")).as("is_canonical"))
  }

  /** The C36 kNN graph as a NEAR-DUP CANDIDATE GENERATOR: undirected
    * (id1 < id2) pairs from the graph's edges whose published round-3
    * cosine clears `minCosine` — exactly C12's pair condition, so ANN
    * candidates are always a SUBSET of the exact pair set (LSH
    * bucketing can only miss pairs, never invent them; the scorer is
    * the same exact dot). least/greatest + distinct because an edge
    * may survive the top-k cut in one direction only.
    */
  def knnGraphCandidates(embeddings: DataFrame, minCosine: Double,
      k: Int = 5): DataFrame =
    knnGraph(embeddings, k)
      .filter(col("rank") > 0 && col("sim") >= minCosine)
      .select(least(col("src"), col("nbr")).as("id1"),
        greatest(col("src"), col("nbr")).as("id2"))
      .distinct()

  /** C86 (r12, VERDICT r11 #2): the PRODUCTION semantic dedup —
    * [[dedupSemantic]]'s closure kernel fed by [[knnGraphCandidates]]
    * instead of the exact O(n²) scorer. This is the path a 100 TB
    * corpus actually runs: candidate generation is the kNN graph's
    * bucket equi-join (linear in n at the auto-derived plane count),
    * scoring is one exact dot per surviving pair, and the closure is
    * the shared min-label loop whose giant-component evidence carries
    * over unchanged. The exact forms (dedup_semantic + its fold)
    * remain the oracle-exact GATE entries, quarantined to gate scale;
    * at large SF the bench runs THIS and skips those by name.
    *
    * Correctness shape: ANN pairs ⊆ exact pairs (same rounded cosine,
    * same threshold), so the ANN closure strictly REFINES the exact
    * one — no false merges, only possibly missed ones; what fraction
    * is missed is exactly what [[dedupSemanticAnnRecall]] gates at
    * both SFs every round, the C66 pattern.
    */
  def dedupSemanticAnn(embeddings: DataFrame, minCosine: Double = 0.4,
      k: Int = 5): DataFrame =
    dedupSemantic(embeddings, minCosine,
      candidates = Some(knnGraphCandidates(embeddings, minCosine, k)))

  /** C86's oracle gate: duplicate-DETECTION recall of the ANN closure
    * against the exact one. Truth = vectors the exact closure marks
    * non-canonical (component ≠ vec_id — SQL-expressible via the
    * recursive-CTE closure, so `n_truth` is hash-gated); the in-row
    * `recall_ok` asserts the ANN closure also detects at least
    * `floor` of them (precision is 1 by construction — ANN pairs are
    * a subset, a refinement can't invent duplicates). Run on the
    * twin-injected corpus (the C71 pattern): identical-embedding
    * twins share every LSH bucket, so the graph provably carries
    * them, and the natural 0.4-cosine pairs supply the hard cases.
    * Contains the exact closure → gate scale only, quarantined by
    * C12's guard; production runs [[dedupSemanticAnn]] alone.
    */
  def dedupSemanticAnnRecall(embeddings: DataFrame,
      minCosine: Double = 0.4, k: Int = 5, floor: Double = 0.8,
      maxExactRows: Long = 100000L): DataFrame = {
    // r15 (guide §2.6): the exact and ANN closures are INDEPENDENT
    // eager job chains — `Dev jobs` showed 246 nearly-sequential sub-50 ms
    // jobs (14.6 s wall against 22.5 s TOTAL stage over 32 cores at
    // sf0.1), i.e. the gate's wall was the SUM of two latency-bound
    // loops. Run them from two driver threads so each chain's tiny
    // closure-round jobs back-fill the other's idle cores; results are
    // unchanged because the branches share nothing mutable (see
    // DedupOps.inParallel).
    val (exact, ann) = DedupOps.inParallel(
      dedupSemantic(embeddings, minCosine, maxExactRows),
      dedupSemanticAnn(embeddings, minCosine, k))
    val truthDups = exact.filter(col("vec_id") =!= col("component"))
      .select("vec_id")
    val annDups = ann.filter(col("vec_id") =!= col("component"))
      .select("vec_id")
    // r15 single-pass gate tail (see knnLshRecall): truthDups' lazy
    // tail (corpus ⋈ labels ⋈ sizes over the exact closure's
    // checkpoint) now runs once; annDups is unique (one label row per
    // vec_id)
    truthDups.join(annDups.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_found"))
      .select(col("n_truth"),
        (col("n_found").cast("double") >= lit(floor) * col("n_truth"))
          .as("recall_ok"))
  }

  /** Batch-probe twin of [[embeddingNearDups]] — pairs where at least
    * one endpoint is in `batchIds` (the semantic analog of
    * [[DedupOps.ngramJaccardPrefixAgainst]]): the batch side is tiny
    * and BROADCASTS, the union scans once, so pair generation is
    * |union| × |batch| — linear in the corpus per fold, never
    * corpus × corpus. Same round-3 cosine condition as the one-shot
    * C12 scorer, so the fold finds exactly the pairs a full recluster
    * would (each (i, j) pair surfaces in the fold where the later of
    * i, j arrives). The quadratic guard quarantines the probe the
    * same way C12's is.
    */
  def embeddingNearDupsAgainst(union: DataFrame, batchIds: DataFrame,
      minCosine: Double = 0.4, maxExactRows: Long = 100000L): DataFrame = {
    requireAuditSized(union, maxExactRows,
      "embeddingNearDupsAgainst (semantic fold probe)",
      "knnGraph candidates filtered to batch-touching pairs")
    val side = union.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val b = broadcast(side.join(batchIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("bid"), col("embedding").as("be"),
        col("nrm").as("bn")))
    side.join(b, col("vec_id") =!= col("bid"))
      .select(least(col("vec_id"), col("bid")).as("id1"),
        greatest(col("vec_id"), col("bid")).as("id2"),
        round(dot(col("embedding"), col("be")) / (col("nrm") * col("bn")), 3)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      // batch×batch pairs surface twice (once from each side) with the
      // identical rounded sim — distinct dedups exactly
      .select(col("id1"), col("id2")).distinct()
  }

  /** C79 / D23 kernel (r11, VERDICT r10 #7): INCREMENTAL semantic
    * dedup — fold a batch of new vectors into already-clustered
    * semantic components without re-clustering the corpus, via the
    * SAME collapsed-closure kernel the lexical fold runs
    * ([[DedupOps.foldClosure]]): batch-probe pair-gen → endpoints
    * collapse to prior components → min-label closure on the
    * collapsed graph → labels fan back out. Exactly equal to a
    * one-shot [[dedupSemantic]] of the union (the D23 spec pins
    * bit-for-bit equality across a 3-batch drain) for the same reason
    * the lexical fold equals its recluster: prior components are
    * complete, and each prior canonical IS its component's min id.
    * `candidates` routes production pair-gen through the C36 kNN
    * graph; the default exact probe is the gate-scale audit path.
    */
  def dedupSemanticIncremental(corpus: DataFrame, priorLabels: => DataFrame,
      batch: DataFrame, minCosine: Double = 0.4,
      maxExactRows: Long = 100000L,
      candidates: Option[DataFrame] = None): DataFrame = {
    val cols = Seq("vec_id", "embedding").map(col)
    val union = corpus.select(cols: _*).unionByName(batch.select(cols: _*))
    // r15 (guide §2.6): same overlap as the lexical fold — the
    // (by-name) prior closure evaluates on a second driver thread
    // while this one materializes the batch-probe pairs; the raw pin
    // costs one pass over 2-long rows and foldClosure releases it once
    // the collapsed edge list is pinned.
    val (pinnedPairs, prior) = DedupOps.inParallel(
      graft.CacheRegistry.pin(candidates.getOrElse(
        embeddingNearDupsAgainst(union, batch.select("vec_id"), minCosine,
          maxExactRows))),
      priorLabels)
    val out = DedupOps.foldClosure(
      union.select(col("vec_id").as("doc_id")),
      prior.select(col("vec_id").as("doc_id"), col("component")),
      pinnedPairs)
    out.withColumnRenamed("doc_id", "vec_id")
  }

  /** C58: cluster-quality audit — [[embKmeans]]' cells scored against
    * the ground-truth `label` column: per cell, its size, majority
    * label, and purity (majority share). The evaluation every
    * clustering deployment runs before trusting cells for routing /
    * IVF layout / dedup grouping; exact integer counts, one division
    * per cell, ties on the majority break to the smallest label
    * (oracle-mirrored).
    *
    * Scale shape: C54's training plan, then one (cell, label)
    * partial-agg groupBy (≤ k·|labels| rows) and a k-row reduce.
    */
  def clusterPurity(embeddings: DataFrame, k: Int = 8,
      iters: Int = 2): DataFrame = {
    val asg = embKmeans(embeddings, k, iters)
      .select(col("vec_id"), col("cluster"))
    val cl = asg
      .join(embeddings.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cluster"), col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    cl.groupBy("cluster")
      .agg(sum("n").as("n_members"),
        max(struct(col("n"), negate(col("label")).as("nl"))).as("m"))
      .select(col("cluster"), col("n_members"),
        negate(col("m.nl")).as("major_label"), col("m.n").as("n_major"),
        (col("m.n").cast("double") / col("n_members").cast("double"))
          .as("purity"))
  }

  /** C37: exact class-balanced oversampling — every label class is
    * brought to exactly n_max rows (the largest class's count) by
    * deterministic replication: each row gets ⌊n_max/n_label⌋ copies,
    * and the first (n_max mod n_label) rows in a per-label
    * hash-priority order get one extra. Output is exactly
    * |labels| × n_max rows, rerun-stable (the priority is the Knuth
    * multiplicative ring on vec_id — same oracle-reproducible ring as
    * C13/C18/C27, computed in decimal so ANSI mode can't overflow).
    *
    * The standard fix for class imbalance before training a probe /
    * classifier head; downstream shuffles see a uniform label
    * distribution instead of the raw skew.
    *
    * Scale shape: per-label counts are a partial-agg'd groupBy down
    * to |labels| rows, broadcast back (fact never shuffles); the
    * rank for the remainder is one window over label — the only
    * per-row shuffle — and replication is a generator explode, sized
    * by n_max/n_label (bounded by the class ratio, never by corpus
    * size). For a pathological ratio, cap the factor and sample the
    * majority down instead (C18) rather than exploding the minority.
    */
  def sampleBalance(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val counts = embeddings.groupBy("label")
      .agg(count(lit(1)).as("n_label"))
    val withMax = counts.crossJoin(
      counts.agg(max("n_label").as("n_max")))
    val priority = pmod(
      col("vec_id").cast(DecimalType(20, 0)) *
        lit(2654435761L).cast(DecimalType(10, 0)),
      lit(4294967296L).cast(DecimalType(11, 0))).cast("long")
    embeddings
      .select(col("label"), col("vec_id"))
      .join(broadcast(withMax), Seq("label"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("label").orderBy(priority, col("vec_id"))))
      .withColumn("n_copies",
        (expr("n_max div n_label") +
          when(col("rk") <= pmod(col("n_max"), col("n_label")), 1L)
            .otherwise(0L)).cast("long"))
      .select(col("label"), col("vec_id"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
  }

  /** C83: MMR (maximal marginal relevance) re-ranking — the standard
    * diversity-aware second stage over an ANN candidate list: greedily
    * select k of the nCand retrieved neighbors, each round maximizing
    * `lambda·rel(q,c) − (1−lambda)·max_{s∈S} sim(c,s)` (Carbonell &
    * Goldstein '98). Candidates come from the PRODUCTION retrieval
    * path ([[knnIvf]], never brute force), so the whole operator
    * inherits IVF's scale shape; the greedy loop itself runs on a
    * ≤ nQueries×nCand frame — broadcast-tiny at any corpus size, the
    * re-rank cost is independent of n by construction.
    *
    * Determinism: relevance is IVF's round-3 sim; pairwise penalty
    * cosines round to 6; ties break to the smaller c_id via the
    * max_by struct — the oracle computes the identical rounded values,
    * so the greedy trajectory is engine-exact. Runs exactly k − 1
    * greedy rounds after the relevance pick, in
    * [[graft.CacheRegistry.rounds]]: only the final selection outlives
    * the call.
    */
  def mmrRerank(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCand: Int = 20, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= nCand, s"need 1 <= k=$k <= nCand=$nCand")
    require(lambda >= 0.0 && lambda <= 1.0)
    import graft.CacheRegistry.pin
    val emb = embeddings.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
    // candidate frame: (q_id, c_id, rel, c_emb, c_norm) — pinned once;
    // every greedy round reads this LEAF, not the IVF plan again, and
    // it is released once the last round has pinned its selection
    val cand = pin(knnIvf(embeddings, nQueries, nCand)
      .select(col("q_id"), col("c_id"), col("sim").as("rel"))
      .join(emb, "c_id"))
    def pick(scored: DataFrame, scoreCol: Column): DataFrame =
      scored.groupBy("q_id")
        .agg(max_by(struct(col("c_id"), col("rel"), col("score")),
          struct(scoreCol, negate(col("c_id")))).as("w"))
        .select(col("q_id"), col("w.c_id").as("c_id"),
          col("w.rel").as("rel"), col("w.score").as("score"))
    // round 0 picks rank 1 by pure relevance; round r picks rank r + 1
    val run = graft.CacheRegistry.rounds("mmr", k - 1)(
        pin(pick(cand.withColumn("score", col("rel")), col("rel"))
          .withColumn("mmr_rank", lit(1L)))) { (selected, r) =>
      val sel = selected.select(col("q_id"), col("c_id").as("s_id"))
        .join(emb.select(col("c_id").as("s_id"),
          col("c_emb").as("s_emb"), col("c_norm").as("s_norm")), "s_id")
      val scored = cand
        .join(selected.select(col("q_id"), col("c_id")),
          Seq("q_id", "c_id"), "left_anti")
        .join(broadcast(sel), Seq("q_id"))
        .withColumn("pen", round(dot(col("c_emb"), col("s_emb"))
          / (col("c_norm") * col("s_norm")), 6))
        .groupBy("q_id", "c_id", "rel", "c_norm")
        .agg(max(col("pen")).as("max_pen"))
        .withColumn("score",
          round(lit(lambda) * col("rel")
            - lit(1.0 - lambda) * col("max_pen"), 6))
      pin(selected.unionByName(
        pick(scored, col("score")).withColumn("mmr_rank", lit(r + 1L))))
    }
    graft.CacheRegistry.releaseCheckpoint(cand)
    run.state.select(col("q_id"), col("mmr_rank"), col("c_id"),
      col("rel"), round(col("score"), 6).as("score"))
  }

  /** C85: HYBRID retrieval via reciprocal-rank fusion (Cormack et
    * al., SIGIR 2009 — the RAG-default way to combine a lexical and
    * an embedding arm without score calibration): BM25 top-k (C53)
    * and IVF-ANN top-k (C15) are fused per (query, candidate) as
    * `Σ 1/(kRrf + rank)`, a candidate missing from one arm
    * contributing 0 from it. Query identity is shared — the probe
    * docs' doc_ids are the probe vectors' vec_ids (the corpus
    * convention: embeddings are a doc_id-aligned prefix).
    *
    * RANK arithmetic only (integers → one double division each),
    * so fusion is engine-exact with no rounding subtleties; absent
    * ranks publish as 0, not null, to keep the gate's hash
    * null-free. Scale shape: both arms are the production paths;
    * fusion itself joins two k-row-per-query lists — cost
    * independent of corpus size.
    */
  def hybridRrf(documents: DataFrame, embeddings: DataFrame,
      nQueries: Int = 5, k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(k >= 1 && kRrf >= 1)
    val lex = graft.operators.TextOps.bm25(documents, nQueries, k)
      .select(col("q_id"), col("doc_id").as("c_id"),
        col("rank").as("lex_rank"))
    val emb = knnIvf(embeddings, nQueries, k)
      .select(col("q_id"), col("c_id"), col("rank").as("emb_rank"))
    val fused = lex.join(emb, Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kRrf) + col("emb_rank")), lit(0.0)),
        6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rrf").desc, col("c_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("emb_rank"), lit(0L)).as("emb_rank"), col("rrf"))
  }

  /** C84: greedy k-center (farthest-point) CORESET sampling — the
    * classical 2-approximation to the k-center objective (Gonzalez
    * '85): start from the lowest vec_id, then k−1 rounds each adding
    * the vector FARTHEST (max cosine distance, round-6) from its
    * nearest already-selected center. The diversity dual of C37's
    * class balancing: where temperature/stratified sampling match a
    * target DISTRIBUTION, k-center maximizes COVERAGE of embedding
    * space — the coreset construction behind diverse SFT-seed
    * selection and eval-set picking.
    *
    * Scale shape: each round is one corpus scan against a broadcast
    * ≤k-row center set — maintaining each vector's RUNNING min-dist
    * (the standard Gonzalez optimization: new round only compares the
    * running min against the ONE newly added center, so work per
    * round is n·1 dots, not n·k) — followed by a 1-row max_by argmax.
    * k scans total, zero joins wider than the broadcast, nothing
    * quadratic; the running-min frame is pinned per round in
    * [[graft.CacheRegistry.rounds]] exactly like the Lloyd loop, so
    * only the final center set outlives the call's last round. Runs
    * exactly k − 1 rounds after the first center.
    */
  def kCenterSample(embeddings: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, s"k-center rounds is a small dial, got $k")
    import graft.CacheRegistry.pin
    val base = embeddings.select(col("vec_id"),
      col("embedding").as("emb"), norm(col("embedding")).as("nrm"))
    def centerEmb(centers: DataFrame): DataFrame =
      broadcast(centers.select(col("vec_id").as("s_id"))
        .join(base.select(col("vec_id").as("s_id"),
          col("emb").as("s_emb"), col("nrm").as("s_nrm")), "s_id"))
    val dist = lit(1.0) - round(dot(col("emb"), col("s_emb"))
      / (col("nrm") * col("s_nrm")), 6)
    // round 0 selects center 1 (the lowest vec_id) and every vector's
    // running min-distance to it; round r selects center r + 1
    val run = graft.CacheRegistry.rounds("kcenter", k - 1)({
      val centers = pin(base.agg(min(col("vec_id")).as("vec_id"))
        .select(lit(1L).as("round"), col("vec_id"), lit(0.0).as("min_dist")))
      (centers, pin(base.crossJoin(centerEmb(centers))
        .select(col("vec_id"), col("emb"), col("nrm"), dist.as("min_dist"))))
    }) { case ((centers, state), r) =>
      val nxt = state
        .join(centers.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .groupBy()
        .agg(max_by(struct(col("vec_id"), col("min_dist")),
          struct(col("min_dist"), negate(col("vec_id")))).as("w"))
        .select(lit(r + 1L).as("round"), col("w.vec_id").as("vec_id"),
          col("w.min_dist").as("min_dist"))
      val next = pin(centers.unionByName(nxt))
      // fold the ONE new center into the running min (Gonzalez) — read
      // it from the PINNED centers frame, not nxt's plan (a second
      // evaluation would re-run the argmax scan); the last round has
      // no next round to read it
      (next, if (r == k - 1) state else pin(state
        .crossJoin(centerEmb(next.filter(col("round") === r + 1L)))
        .select(col("vec_id"), col("emb"), col("nrm"),
          least(col("min_dist"), dist).as("min_dist"))))
    }
    run.state._1.select(col("round"), col("vec_id"),
      round(col("min_dist"), 6).as("min_dist"))
  }
}
