package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, TextOps}
import graft.sources.Tables

class DedupOpsSpec extends SparkSpec {
  lazy val documents = Tables.documents(spark, sf).cache()

  test("ngramJaccardPrefix plan contains no window operator (r1 regression guard)") {
    // round 1 ranked tokens with a row_number window over the WHOLE
    // exploded token table — a full shuffle+sort before any filtering,
    // and the reason the prefix path was slower than the unfiltered
    // join. The rewrite must stay window-free.
    val plan = DedupOps.ngramJaccardPrefix(documents, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "prefix join regressed to a window plan")
  }

  test("decontaminate flags full overlap, clears disjoint docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "alpha beta gamma nu xi omicron pi")) // shares 1 of 5 grams
      .toDF("doc_id", "text")
    val benchmark = docs.filter(col("doc_id") === 1)
    val out = DedupOps.decontaminate(docs, benchmark, maxOverlap = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((1.0, false))) // the benchmark doc itself
    assert(out(2L) === ((0.0, true)))  // disjoint vocabulary
    assert(out(3L)._1 === 0.2)         // 1 shared gram of 5
    assert(out(3L)._2 === true)
  }

  test("minhashAccuracy: 64-perm estimate lands in-band on every exact pair") {
    import spark.implicits._
    // identical docs → trigram J = 1.0 and a signature estimate of
    // exactly 1.0; a disjoint doc forms no pair
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta", "s0"),
      (2L, "alpha beta gamma delta epsilon zeta eta", "s0"),
      (3L, "one two three four five six seven", "s0"))
      .toDF("doc_id", "text", "source")
    val out = DedupOps.minhashAccuracy(docs).collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L && out.head.getLong(1) === 2L)
    assert(out.head.getDouble(2) === 1.0 && out.head.getBoolean(3))
    // corpus: every exact pair's estimate is in-band (the oracle
    // asserts the same; this is the local fast check)
    val docsFull = graft.sources.Tables.documents(spark, sf)
    val full = DedupOps.minhashAccuracy(docsFull)
    assert(full.filter(!col("est_ok")).count() === 0)
    assert(full.count() > 0, "accuracy gate must not be vacuous")
  }

  test("pair recall gates: injected twins are found; recall floors hold") {
    import spark.implicits._
    // withSyntheticNearDups: one twin per doc_id % 10 == 0, same
    // source, one appended sentinel token
    val docs = graft.sources.Tables.documents(spark, sf)
    val aug = DedupOps.withSyntheticNearDups(docs)
    val nInjected = docs.filter(pmod(col("doc_id"), lit(10)) === 0).count()
    assert(aug.count() === docs.count() + nInjected)
    // C71: every injected twin has trigram J = n/(n+1) >= 0.7, so the
    // truth set is at least the injected pairs and the LSH pipeline
    // must carry >= 90% of it
    val mh = DedupOps.minhashPairRecall(aug).head()
    assert(mh.getAs[Long]("n_truth") >= nInjected)
    assert(mh.getAs[Boolean]("recall_ok"),
      "MinHash LSH pair set lost >10% of exact-Jaccard truth pairs")
    // C72: tf-cosine of a twin is sqrt(n/(n+1)) >= 0.99 on these doc
    // lengths; the hamming<=3 pair set must carry >= 70%
    val sh = DedupOps.simhashPairRecall(aug).head()
    assert(sh.getAs[Long]("n_truth") > 0, "C72 gate must not be vacuous")
    assert(sh.getAs[Boolean]("recall_ok"),
      "SimHash pair set lost >30% of exact-cosine truth pairs")
    // closed-form: two identical docs + a disjoint one — truth = the
    // identical pair, both pipelines find it, recall exactly 1
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta", "s0"),
      (2L, "alpha beta gamma delta epsilon zeta eta", "s0"),
      (3L, "one two three four five six seven", "s0"))
      .toDF("doc_id", "text", "source")
    val t1 = DedupOps.minhashPairRecall(tiny).head()
    assert(t1.getAs[Long]("n_truth") === 1L && t1.getAs[Boolean]("recall_ok"))
    val t2 = DedupOps.simhashPairRecall(tiny).head()
    assert(t2.getAs[Long]("n_truth") === 1L && t2.getAs[Boolean]("recall_ok"))
  }

  test("ngramCoverage: per-benchmark-doc coverage against a disjoint corpus") {
    import spark.implicits._
    val corpus = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "a b c d"),     // grams {a b c, b c d} ⊂ corpus grams
      (2L, "x y z w"),     // disjoint
      (3L, "a b c x y"))   // {a b c, b c x, c x y} → 1 of 3
      .toDF("doc_id", "text")
    val out = DedupOps.ngramCoverage(corpus, bench).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((2L, 0L, 0.0)))
    assert(out(3L) === ((3L, 1L, 0.3333)))
    // corpus-wide: the C16 split, one row per benchmark doc, ratios
    // within [0, 1], n_covered ≤ n_grams
    val docs = graft.sources.Tables.documents(spark, sf)
    val full = DedupOps.ngramCoverage(
      docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(20)) === 0))
    assert(full.count() ===
      docs.filter(pmod(col("doc_id"), lit(20)) === 0).count())
    assert(full.filter(col("n_covered") > col("n_grams")).count() === 0)
  }

  test("ngramNovelty: per-source batch novelty; a mirror re-crawl reads zero") {
    import spark.implicits._
    val corpus = Seq((10L, "a b c d e", "s0")).toDF("doc_id", "text", "source")
    val batch = Seq(
      (1L, "a b c x", "fresh"),   // {a b c, b c x}: 1 of 2 new
      (2L, "a b c d", "mirror"),  // {a b c, b c d}: all seen
      (3L, "p q r s", "fresh"))   // {p q r, q r s}: both new
      .toDF("doc_id", "text", "source")
    val out = DedupOps.ngramNovelty(corpus, batch).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // fresh: distinct grams {a b c, b c x, p q r, q r s} → 3 new of 4
    assert(out("fresh") === ((4L, 3L, 0.75)))
    assert(out("mirror") === ((2L, 0L, 0.0)))
    // corpus: the C43 split — one row per batch source, ratios sane
    val docs = graft.sources.Tables.documents(spark, sf)
    val full = DedupOps.ngramNovelty(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0)).cache()
    try {
      assert(full.count() === docs
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select("source").distinct().count())
      assert(full.filter(col("n_new") > col("n_grams")).count() === 0)
      assert(full.filter(col("novelty") < 0 || col("novelty") > 1)
        .count() === 0)
    } finally full.unpersist()
  }

  /** Tiny corpus with a planted exact dup + near dup for recall checks. */
  lazy val planted = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, base, "en", "s", base.length.toLong),                      // exact dup
      (3L, base.replace("today", "tomorrow"), "en", "s", base.length.toLong), // near dup
      (4L, "completely different content about spark catalyst plans distributed shuffles", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("exactDedup groups cover the corpus") {
    val d = DedupOps.exactDedup(documents)
    assert(d.agg(sum("n_copies")).head.getLong(0) === documents.count())
  }

  test("exactDedup finds the planted exact dup") {
    val d = DedupOps.exactDedup(planted).filter(col("n_copies") > 1).collect()
    assert(d.length === 1)
    assert(d.head.getAs[Long]("keep_id") === 1L)
  }

  test("minhash LSH recalls exact and near dups, est_jaccard sane") {
    val pairs = DedupOps.minhashLshPairs(planted, 0.3).collect()
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((1L, 2L)))
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(exact.getAs[Double]("est_jaccard") === 1.0)
    pairs.foreach { r =>
      val j = r.getAs[Double]("est_jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("minhash LSH on real corpus produces ordered unique pairs") {
    val pairs = DedupOps.minhashLshPairs(documents, 0.5)
    assert(pairs.filter(col("id1") >= col("id2")).count() === 0)
    assert(pairs.select("id1", "id2").distinct().count() === pairs.count())
  }

  test("simhash identical docs collide, distance bounded") {
    val pairs = DedupOps.simhashPairs(planted, 3).collect()
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(exact.isDefined)
    assert(exact.get.getAs[Long]("hamming") === 0L)
  }

  test("ngramJaccard exact dup scores 1.0") {
    val j = DedupOps.ngramJaccard(planted, 0.1)
      .filter(col("id1") === 1L && col("id2") === 2L).head()
    assert(j.getAs[Double]("jaccard") === 1.0)
  }

  test("shingles produce w-grams") {
    import spark.implicits._
    val s = Seq("a b c d").toDF("text")
      .select(DedupOps.shingles(col("text")).as("sh"))
      .head().getSeq[String](0)
    assert(s === Seq("a b c", "b c d"))
  }

  test("dedupGroups merges a transitive chain into one component") {
    import spark.implicits._
    // A~B and B~C clear 0.7 (9/11 = 0.818), A~C does not (8/12 = 0.667):
    // only the transitive closure puts all three in one group
    def toks(from: Int, to: Int) = (from to to).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (10L, toks(1, 10), "s"), (11L, toks(2, 11), "s"),
      (12L, toks(3, 12), "s"), (99L, "u1 u2 u3 u4 u5", "s")
    ).toDF("doc_id", "text", "source")
    val r = DedupOps.dedupGroups(docs, 0.7).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(Seq(10L, 11L, 12L).forall(id => r(id)._1 === 10L && r(id)._2 === 3L))
    assert(r(10L)._3 && !r(11L)._3 && !r(12L)._3)
    assert(r(99L) === ((99L, 1L, true)))
  }

  /** The giant-component chain construction at tiny n: docs i and
    * i+1 share 29 of 31 tokens (0.935 ≥ 0.7) and distance-3 falls
    * below τ, so the path has diameter 20 and the closure needs
    * several propagation rounds.
    */
  private def chain20 = spark.range(20).select(
    col("id").as("doc_id"), lit("s").as("source"),
    concat_ws(" ", transform(
      sequence(col("id") * 2, col("id") * 2 + 29),
      j => concat(lit("w"), j.cast("string")))).as("text"))

  /** VERDICT r5 #8: local checkpoint blocks die with their executor on
    * a real cluster; with a checkpoint dir set on the session every
    * pin is RELIABLE instead. Pin that (a) the closure and the Lloyd
    * loop complete on the reliable path, (b) their results are
    * identical to the local path, (c) checkpoint data actually landed
    * in the dir.
    */
  test("a session checkpoint dir makes every pin reliable") {
    val docs = chain20
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
    val (reliable, cents) = org.apache.spark.SessionCheckpointDir.withDir(
        spark.sparkContext, dir.toString) {
      (DedupOps.dedupGroups(docs, 0.7).collect().toSet,
        graft.operators.SimilarityOps.kmeansTrain(emb, 4, 3)._1.collect()
          .map(r => r.get(0) -> r.getSeq[Double](1)).toMap)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(reliable === DedupOps.dedupGroups(docs, 0.7).collect().toSet)
    assert(cents === graft.operators.SimilarityOps.kmeansTrain(emb, 4, 3)._1
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap)
    // every doc collapsed to one component (the loop really ran)
    assert(reliable.map(_.getLong(1)) === Set(0L))
    // reliable checkpoint data exists on disk (rdd-* dirs with files)
    def hasRddData(p: java.io.File): Boolean = {
      val kids = Option(p.listFiles()).getOrElse(Array.empty)
      kids.exists(f => f.isDirectory && f.getName.startsWith("rdd-")) ||
        kids.exists(f => f.isDirectory && hasRddData(f))
    }
    assert(hasRddData(dir.toFile),
      s"no reliable checkpoint data under $dir")
    CacheRegistry.unpersistAll()
  }

  test("the closure fails loudly at its round cap instead of returning partial labels") {
    val docs = chain20
    val ex = intercept[IllegalStateException] {
      DedupOps.dedupGroups(docs, 0.7, maxIters = 2)
    }
    assert(ex.getMessage.contains("closure") &&
      ex.getMessage.contains("2 rounds run") && ex.getMessage.contains("maxIters = 2"))
    assert(DedupOps.dedupGroups(docs, 0.7)
      .agg(countDistinct(col("component"))).head.getLong(0) === 1L)
    CacheRegistry.unpersistAll()
  }

  test("closure rounds carry per-round job tags and leave none on the thread") {
    val tags = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties.getProperty("spark.job.tags"))
          .foreach(_.split(",").foreach(tags.add))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      DedupOps.dedupGroups(chain20, 0.7).count()
      org.apache.spark.sql.graftx.bridge.waitListenerBusEmpty(sc)
      val rounds = tags.toArray.map(_.toString)
        .collect { case s"graft.closure.round.$r" => r.toInt }.toSet
      assert(rounds.size >= 3 && rounds === (1 to rounds.max).toSet,
        s"closure round tags: $rounds")
      assert(!sc.getJobTags().exists(_.startsWith("graft.")))
      intercept[IllegalStateException] {
        DedupOps.dedupGroups(chain20, 0.7, maxIters = 2)
      }
      assert(!sc.getJobTags().exists(_.startsWith("graft.")))
    } finally {
      sc.removeSparkListener(listener)
      CacheRegistry.unpersistAll()
    }
  }

  test("pipeline_curate output is a filtered subset with valid splits") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val out = graft.operators.PipelineOps.curate(docs, bench).cache()
    val n = out.count()
    assert(n > 0 && n < docs.count()) // each gate removes something
    // survivors are real docs with their original source/n_chars
    assert(out.join(docs, Seq("doc_id", "source", "n_chars")).count() === n)
    // split labels well-formed and deterministic
    assert(out.filter(!col("split").isin("train", "val", "test")).count() === 0)
    val again = graft.operators.PipelineOps.curate(docs, bench)
    assert(out.exceptAll(again).count() === 0)
    // no two survivors share an identical text (stage-2 invariant
    // survives the later stages, which only remove rows)
    val texts = out.join(docs, "doc_id").groupBy(md5(col("text"))).count()
    assert(texts.filter(col("count") > 1).count() === 0)
    out.unpersist()
  }

  test("pipeline_curate plan stays linear: stage key-set pins bound the scan count") {
    // r15: the lazy five-stage chain used to re-plan every prior stage
    // inside both the next stage's filter branch and its join-back
    // left side — 132 parquet scans / 224 exchanges in the composed
    // plan, every gate aggregation executed up to 2^stage times. The
    // pinned survivor key-sets keep the plan linear; this guards the
    // shape against a reintroduced lazy chain.
    val docs = graft.sources.Tables.documents(spark, sf)
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val out = graft.operators.PipelineOps.curate(docs, bench)
    val plan = out.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 8, s"curate plan has $scans parquet scans (was 132 " +
      "before the r15 stage-pin; linear chain keeps it tiny)")
    CacheRegistry.unpersistAll()
  }

  test("precomputed labels reuse: cluster once, every consumer matches its self-computed twin") {
    // the production shape (VERDICT r3 #5): ONE dedupGroups run feeds
    // dedupApply, trainSplitGrouped, and curate — each must be
    // row-identical to the path that re-clusters internally
    val docs = documents
    val labels = DedupOps.dedupGroups(docs, 0.7).cache()
    val applySelf = DedupOps.dedupApply(docs, 0.7)
    val applyPre = DedupOps.dedupApply(docs, labels = Some(labels))
    assert(applySelf.exceptAll(applyPre).count() === 0)
    assert(applyPre.exceptAll(applySelf).count() === 0)
    val splitSelf = TextOps.trainSplitGrouped(docs, tau = 0.7)
    val splitPre = TextOps.trainSplitGrouped(docs, tau = 0.7,
      labels = Some(labels))
    assert(splitSelf.exceptAll(splitPre).count() === 0)
    assert(splitPre.exceptAll(splitSelf).count() === 0)
    labels.unpersist()
    // curate clusters the stage-2 survivor set, so its reusable labels
    // are computed over that set (the documented caller contract)
    val bench = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val qKeep = TextOps.quality(docs).filter(col("keep")).select("doc_id")
    val rKeep = TextOps.repetition(docs).filter(col("keep")).select("doc_id")
    val s1 = docs.join(qKeep, "doc_id").join(rKeep, "doc_id")
    val s2 = s1.join(
      DedupOps.exactDedup(s1).select(col("keep_id").as("doc_id")), "doc_id")
    val labels2 = DedupOps.dedupGroups(s2, 0.7).cache()
    val curateSelf = graft.operators.PipelineOps.curate(docs, bench)
    val curatePre = graft.operators.PipelineOps.curate(docs, bench,
      labels = Some(labels2))
    assert(curateSelf.exceptAll(curatePre).count() === 0)
    assert(curatePre.exceptAll(curateSelf).count() === 0)
    labels2.unpersist()
  }

  test("dedupIncremental: a bridging batch doc merges two prior components") {
    import spark.implicits._
    // corpus: docs 1 and 2 are NOT near-dups of each other (J = 8/12 ≈
    // 0.67 < 0.7) → two prior components; batch doc 3 overlaps BOTH at
    // J = 9/11 ≈ 0.82 → the fold-in must merge everything transitively
    val a = (1 to 10).map(i => s"a$i")
    val corpus = Seq(
      (1L, a.mkString(" "), "s"),
      (2L, (a.take(8) ++ Seq("b9", "b10")).mkString(" "), "s"),
      (50L, "z1 z2 z3 z4 z5", "s")
    ).toDF("doc_id", "text", "source")
    val batch = Seq(
      (3L, (a.take(9) :+ "b10").mkString(" "), "s")
    ).toDF("doc_id", "text", "source")
    val prior = DedupOps.dedupGroups(corpus, 0.7)
    assert(prior.filter(col("doc_id").isin(1L, 2L))
      .select("component").distinct().count() === 2)
    val inc = DedupOps.dedupIncremental(corpus, prior, batch, 0.7)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component"), r.getAs[Long]("n_members"),
          r.getAs[Boolean]("is_canonical"))).toMap
    // 1, 2, 3 merged into component 1 (global min), 50 stays singleton
    assert(inc(1L) === ((1L, 3L, true)))
    assert(inc(2L) === ((1L, 3L, false)))
    assert(inc(3L) === ((1L, 3L, false)))
    assert(inc(50L) === ((50L, 1L, true)))
    // and the incremental result equals a full re-cluster of the union
    val full = DedupOps.dedupGroups(corpus.unionByName(batch), 0.7)
    val incDf = DedupOps.dedupIncremental(corpus, prior, batch, 0.7)
    assert(incDf.exceptAll(full).count() === 0)
    assert(full.exceptAll(incDf).count() === 0)
  }

  test("batch-probe pair-gen equals the full PPJoin filtered to batch pairs") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select("doc_id")
    val probed = DedupOps.ngramJaccardPrefixAgainst(docs, batch, 0.5)
    val bIds = batch.collect().map(_.getLong(0)).toSet
    val full = DedupOps.ngramJaccardPrefix(docs, 0.5)
      .filter(col("id1").isInCollection(bIds)
        || col("id2").isInCollection(bIds))
    assert(probed.exceptAll(full).count() === 0)
    assert(full.exceptAll(probed).count() === 0)
  }

  test("dedupIncremental equals full re-clustering on the sf corpus") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val inc = DedupOps.dedupIncremental(corpus,
      DedupOps.dedupGroups(corpus, 0.7), batch, 0.7)
    val full = DedupOps.dedupGroups(docs, 0.7)
    assert(inc.exceptAll(full).count() === 0)
    assert(full.exceptAll(inc).count() === 0)
  }

  test("dedupWeights gives every component unit mass, singletons weight 1") {
    import spark.implicits._
    def toks(from: Int, to: Int) = (from to to).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (10L, toks(1, 10), "s"), (11L, toks(2, 11), "s"),
      (12L, toks(3, 12), "s"), (99L, "u1 u2 u3 u4 u5", "s")
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val w = DedupOps.dedupWeights(docs, 0.7).cache()
    assert(w.count() === 4) // every doc kept, none removed
    val singleton = w.filter(col("doc_id") === 99L).head()
    assert(singleton.getAs[Double]("weight") === 1.0)
    assert(singleton.getAs[Long]("n_members") === 1L)
    // the 3-chain: each member 1/3, component mass ~ 1
    val mass = w.groupBy("component").agg(sum("weight").as("m"))
      .filter(abs(col("m") - 1.0) > 1e-12)
    assert(mass.count() === 0)
    w.unpersist()
  }

  test("dedupApply keeps exactly the canonical docs and conserves counts") {
    import spark.implicits._
    def toks(from: Int, to: Int) = (from to to).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (10L, toks(1, 10), "s"), (11L, toks(2, 11), "s"),
      (12L, toks(3, 12), "s"), (99L, "u1 u2 u3 u4 u5", "s")
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val kept = DedupOps.dedupApply(docs, 0.7).collect()
    // one survivor for the 3-chain, one singleton
    assert(kept.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(10L, 99L))
    // absorbed counts add back to the corpus size
    assert(kept.map(_.getAs[Long]("n_merged")).sum === 4L)
  }

  test("dedupSubstring counts cross-doc shared k-token spans only") {
    import spark.implicits._
    // docs 1 and 2 share one verbatim 8-token span at different
    // offsets; doc 3 repeats ITS OWN span twice (within-doc repeat is
    // not a cross-doc dup); doc 4 is shorter than k
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $span a4 a5"),
      (2L, s"$span b1 b2 b3 b4 b5 b6"),
      (3L, s"c1 c2 c3 c4 c5 c6 c7 c8 c1 c2 c3 c4 c5 c6 c7 c8"),
      (4L, "short doc here")
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupSubstring(docs, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: 13 toks → 6 grams, exactly 1 (the span) shared with doc2
    assert(out(1L) === ((6L, 1L)))
    assert(out(2L) === ((7L, 1L)))
    // doc3's self-repeat: gram "c1..c8" occurs at 2 positions but in
    // ONE distinct doc → zero dup grams
    assert(out(3L)._2 === 0L)
    // sub-k doc: zero grams, ratio 0, still present
    assert(out(4L) === ((0L, 0L)))
    CacheRegistry.unpersistAll()
  }

  test("dedupSubstringRewrite keeps one owner copy, strips higher-doc repeats") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $span a3"),              // owner: untouched
      (2L, s"b1 $span b2 b3"),              // non-owner: span removed
      (3L, s"c1 c2 c3 c4 c5 c6 c7 c8 c1 c2 c3 c4 c5 c6 c7 c8"), // self-repeat only
      (4L, "short doc here")                // sub-k: untouched
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupSubstringRewrite(docs, k = 8).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) === s"a1 a2 $span a3")
    assert(out(2L).getString(1) === "b1 b2 b3")
    assert(out(2L).getAs[Long]("n_kept") === 3L)
    // within-doc self-repeat is NOT cross-doc memorization: intact
    assert(out(3L).getAs[Long]("n_kept") === 16L)
    assert(out(4L).getString(1) === "short doc here")
    // token conservation: kept <= total everywhere
    assert(out.values.forall(r =>
      r.getAs[Long]("n_kept") <= r.getAs[Long]("n_tokens")))
    CacheRegistry.unpersistAll()
  }

  test("dedupPriority keeps the best (tier, longest, doc_id) row per component") {
    val labels = DedupOps.dedupGroups(documents, 0.7).cache()
    val out = DedupOps.dedupPriority(documents, 0.7, Some(labels)).cache()
    // one canonical row per component, n_members carried through
    val comps = labels.select("component").distinct().count()
    assert(out.count() === comps)
    // the kept row really is the struct-min of its component: no other
    // member may sort strictly below it on (prio, -n_chars, doc_id)
    val members = labels.select(col("doc_id"), col("component"))
      .join(documents.select(col("doc_id"), col("source"),
        col("n_chars").as("m_chars")), "doc_id")
      .withColumn("mprio", substring(col("source"), 4, 18).cast("long") % 3)
    val beaten = out.join(members, "component")
      .filter(col("mprio") < col("prio") ||
        (col("mprio") === col("prio") && col("m_chars") > col("n_chars")) ||
        (col("mprio") === col("prio") && col("m_chars") === col("n_chars")
          && col("doc_id") < col("keep_id")))
    assert(beaten.count() === 0)
    labels.unpersist(); out.unpersist()
    CacheRegistry.unpersistAll()
    // the election demonstrably differs from C31's min-doc_id rule: a
    // component whose LATER copy is longer keeps the later doc
    import spark.implicits._
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon", "src1"),
      (2L, "alpha beta gamma delta epsilon zeta", "src1"),
      (3L, "unrelated words entirely here now", "src1"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en"))
    val kept = DedupOps.dedupPriority(tiny, 0.7).cache()
    val byComp = kept.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byComp(1L) === 2L) // longest near-dup wins, not min id
    assert(byComp(3L) === 3L) // singleton keeps itself
    kept.unpersist()
    CacheRegistry.unpersistAll()
  }

  test("dedupSubstring hashed-gram scale mode equals the string mode") {
    val byString = DedupOps.dedupSubstring(documents, k = 8)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    CacheRegistry.unpersistAll()
    val byHash = DedupOps.dedupSubstring(documents, k = 8,
      hashGrams = true).collect().map(r => r.getLong(0) -> r.toSeq).toMap
    CacheRegistry.unpersistAll()
    assert(byHash === byString)
    // and the audit finds real signal in the planted near-dup corpus
    assert(byString.values.count(_(2).asInstanceOf[Long] > 0) > 0)
  }

  test("dedupClusterStats: closed-form histogram, corpus conservation") {
    import spark.implicits._
    // one near-dup pair + one singleton → sizes {2: 1 comp, 1: 1 comp}
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon", "src1"),
      (2L, "alpha beta gamma delta epsilon zeta", "src1"),
      (3L, "unrelated words entirely here now", "src1"))
      .toDF("doc_id", "text", "source")
    val h = DedupOps.dedupClusterStats(tiny, 0.7).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(h === Map(2L -> ((1L, 2L, 1L)), 1L -> ((1L, 1L, 0L))))
    CacheRegistry.unpersistAll()
    // corpus: every doc accounted for once; drops = docs − components
    val labels = DedupOps.dedupGroups(documents, 0.7).cache()
    val stats = DedupOps.dedupClusterStats(documents,
      labels = Some(labels)).cache()
    try {
      val t = stats.agg(sum("n_docs"), sum("n_components"),
        sum("n_dropped")).head()
      assert(t.getLong(0) === documents.count())
      assert(t.getLong(1) ===
        labels.select("component").distinct().count())
      assert(t.getLong(2) === t.getLong(0) - t.getLong(1))
    } finally { stats.unpersist(); labels.unpersist() }
    CacheRegistry.unpersistAll()
  }
}
