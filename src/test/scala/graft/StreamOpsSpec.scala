package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.Schemas.Event
import graft.streaming.StreamOps

class StreamOpsSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double) =
    Event(id, Timestamp.valueOf(t), user, typ, v, "{}")

  test("streamingHourlyMart matches the batch mart on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
      ev(2, "2024-01-01 10:45:00", 2, "click", 4.0),
      ev(3, "2024-01-01 11:05:00", 1, "view", 6.0))
    val stream = MemoryStream[Event]
    stream.addData(data)
    val q = StreamOps.streamingHourlyMart(stream.toDF())
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hourly_test")
      .select("event_type", "hour_ts", "avg_value", "n_obs")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getLong(3))).toSet
    assert(rows === Set(
      ("click", "2024-01-01 10:00:00.0", 3.0, 2L),
      ("view", "2024-01-01 11:00:00.0", 6.0, 1L)))
  }

  test("sessionizeBatch splits on the idle gap") {
    import spark.implicits._
    val data = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(2, "2024-01-01 10:10:00", 1, "click", 1.0), // same session
      ev(3, "2024-01-01 12:00:00", 1, "click", 1.0), // new session (gap > 30m)
      ev(4, "2024-01-01 10:00:00", 2, "view", 1.0)).toDF()
    val s = StreamOps.sessionizeBatch(data, 30)
    assert(s.count() === 3)
    val u1 = s.filter(col("user_id") === 1).collect()
    assert(u1.map(_.getAs[Long]("n_events")).sorted.sameElements(Array(1L, 2L)))
  }

  test("sessionizeBatch conserves events") {
    val events = graft.sources.Tables.events(spark, sf)
    val s = StreamOps.sessionizeBatch(events, 30)
    assert(s.agg(sum("n_events")).head.getLong(0) === events.count())
  }

  test("streaming hourly mart writes finalized windows to a parquet sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val outDir = java.nio.file.Files.createTempDirectory("sink").toString
    val ckDir = java.nio.file.Files.createTempDirectory("ck").toString
    val q = StreamOps.streamingHourlyMart(stream.toDF())
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckDir)
      .outputMode("append").start()
    stream.addData(
      ev(1, "2024-01-01 10:05:00", 1, "click", 2.0),
      ev(2, "2024-01-01 10:45:00", 2, "click", 4.0))
    q.processAllAvailable()
    // watermark (max event time - 10m) must pass the window end to finalize
    stream.addData(ev(3, "2024-01-01 12:00:00", 1, "view", 6.0))
    q.processAllAvailable()
    stream.addData(ev(4, "2024-01-01 13:30:00", 1, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
    val clickRow = out.filter($"event_type" === "click").collect()
    assert(clickRow.length === 1)
    assert(clickRow.head.getAs[Double]("avg_value") === 3.0)
    assert(clickRow.head.getAs[Long]("n_obs") === 2L)
  }

  test("file-source stream over the real events parquet matches batch totals") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val q = StreamOps.readEventsStream(spark, dir.toString)
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum("value").as("s"))
      .writeStream.format("memory").queryName("ev_file_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ev_file_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("streamingDedup drops replayed event ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingDedup(stream.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    stream.addData(Seq(
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
      ev(1, "2024-01-01 10:00:00", 1, "click", 1.0), // in-batch dup
      ev(2, "2024-01-01 10:01:00", 2, "view", 2.0)))
    q.processAllAvailable()
    stream.addData(Seq(
      ev(1, "2024-01-01 10:00:30", 1, "click", 1.0), // replay, in watermark
      ev(3, "2024-01-01 10:02:00", 3, "view", 3.0)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_test").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)))
  }

  test("ingestAvailableNow processes only new files per run (checkpoint-idempotent)") {
    val in = java.nio.file.Files.createTempDirectory("ingest_in")
    val out = java.nio.file.Files.createTempDirectory("ingest_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    java.nio.file.Files.copy(src, in.resolve("f1.parquet"))

    StreamOps.ingestAvailableNow(spark, in.toString, out, ckpt)
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)

    // rerun with nothing new: drains zero files, output unchanged
    StreamOps.ingestAvailableNow(spark, in.toString, out, ckpt)
    assert(spark.read.parquet(out).count() === n1)

    // a new file arrives: exactly its rows are appended (file-level
    // exactly-once from the checkpoint, not directory diffing)
    java.nio.file.Files.copy(src, in.resolve("f2.parquet"))
    StreamOps.ingestAvailableNow(spark, in.toString, out, ckpt)
    assert(spark.read.parquet(out).count() === 2 * n1)
  }

  /** D11 (VERDICT r5 #6): the C43 fold as the INGEST path — a corpus
    * drained through MemoryStream in three micro-batches, each folded
    * into the carried labels via dedupIncremental, must land on
    * labels bit-identical to one batch re-cluster of the whole
    * corpus. Also pins the storage contract: per-batch corpus
    * subdirs + the overwritten label table.
    */
  test("D11: streaming incremental dedup over 3 micro-batches equals batch re-cluster") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = graft.sources.Tables.documents(spark, sf)
    val docs = docsDf.as[graft.sources.Schemas.Document]
      .collect().sortBy(_.doc_id).toSeq
    assert(docs.size >= 3)
    val base = java.nio.file.Files.createTempDirectory("d11").toString
    val corpusDir = s"$base/corpus"
    val labelsDir = s"$base/labels"
    val stream = MemoryStream[graft.sources.Schemas.Document]
    val q = StreamOps.streamingDedupIncremental(
        stream.toDF(), corpusDir, labelsDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    docs.grouped((docs.size + 2) / 3).foreach { g =>
      stream.addData(g); q.processAllAvailable()
    }
    q.stop()
    // three per-batch corpus subdirs; corpus re-read = original docs
    val batchDirs = new java.io.File(corpusDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.length === 3)
    assert(spark.read.parquet(corpusDir).count() === docs.size.toLong)
    // the carried labels equal one batch re-cluster, bit-for-bit
    val streamed = spark.read.parquet(labelsDir)
      .select("doc_id", "component", "n_members", "is_canonical")
    val twin = graft.operators.DedupOps.dedupGroups(docsDf, 0.7)
      .select("doc_id", "component", "n_members", "is_canonical")
    assert(streamed.count() === docs.size.toLong)
    assert(streamed.except(twin).isEmpty && twin.except(streamed).isEmpty)
    CacheRegistry.unpersistAll()
  }

  /** r14 (VERDICT r13 #5): the registry-facing gate — a real FILE
    * stream (3-file AvailableNow drain), not a MemoryStream — must
    * also land on the batch re-cluster bit-for-bit. This is the
    * function CORRECTNESS runs per round; the test pins the same
    * equality the oracle will check, plus that the drain really ran
    * multiple batches (3 per-batch corpus subdirs).
    */
  test("stream_dedup_fold gate: file-stream AvailableNow drain equals batch re-cluster") {
    val docsDf = graft.sources.Tables.documents(spark, sf)
    val streamed = StreamOps.streamDedupFoldGate(spark, sf)
    val twin = graft.operators.DedupOps.dedupGroups(docsDf, 0.7)
      .select("doc_id", "component", "n_members", "is_canonical")
    assert(streamed.count() === docsDf.count())
    assert(streamed.except(twin).isEmpty && twin.except(streamed).isEmpty)
    CacheRegistry.unpersistAll()
  }

  /** r14: the D1 registry gate — the incremental exact-decimal window
    * state folded over a 3-file AvailableNow drain must equal the
    * batch hourly mart bit-for-bit (decimal addition is associative;
    * the final division is the same single double op as Exact.avgD).
    */
  test("stream_hourly_gate: AvailableNow windowed agg equals batch hourly mart") {
    val ev = graft.sources.Tables.events(spark, sf)
    val streamed = StreamOps.streamHourlyGate(spark, sf)
      .select("event_type", "hour_ts", "avg_value", "n_obs")
    val twin = graft.operators.AgriOps.hourlyMart(ev)
      .select("event_type", "hour_ts", "avg_value", "n_obs")
    assert(streamed.count() === twin.count())
    assert(streamed.except(twin).isEmpty && twin.except(streamed).isEmpty)
  }

  test("D23: streaming semantic-dedup fold over 3 micro-batches equals one-shot dedup_semantic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val embDf = graft.sources.Tables.embeddings(spark, sf)
    val vecs = embDf.as[graft.sources.Schemas.Embedding]
      .collect().sortBy(_.vec_id).toSeq
    assert(vecs.size >= 3)
    val base = java.nio.file.Files.createTempDirectory("d23").toString
    val corpusDir = s"$base/corpus"
    val labelsDir = s"$base/labels"
    val stream = MemoryStream[graft.sources.Schemas.Embedding]
    val q = StreamOps.streamingDedupSemantic(
        stream.toDF(), corpusDir, labelsDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    vecs.grouped((vecs.size + 2) / 3).foreach { g =>
      stream.addData(g); q.processAllAvailable()
    }
    q.stop()
    val batchDirs = new java.io.File(corpusDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.length === 3)
    assert(spark.read.parquet(corpusDir).count() === vecs.size.toLong)
    // the carried labels equal the one-shot semantic cluster of the
    // whole corpus, bit-for-bit — the same closure-equality argument
    // as the lexical fold, now through the embedding pair probe
    val streamed = spark.read.parquet(labelsDir)
      .select("vec_id", "component", "n_members", "is_canonical")
    val twin = graft.operators.SimilarityOps.dedupSemantic(embDf)
      .select("vec_id", "component", "n_members", "is_canonical")
    assert(streamed.count() === vecs.size.toLong)
    assert(streamed.except(twin).isEmpty && twin.except(streamed).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D12: streaming CUSUM over 3 ordered micro-batches equals the batch detector") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eventsDf = graft.sources.Tables.events(spark, sf)
    val stats = graft.operators.AnalyticsOps.zscoreStats(eventsDf)
      .localCheckpoint(true)
    // ordered backfill: contiguous (ts, event_id) slices preserve
    // per-key order — the D12 fold contract
    val evs = eventsDf.as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val base = java.nio.file.Files.createTempDirectory("d12").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingCusum(stream.toDF(), stats, stateDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    evs.grouped((evs.size + 2) / 3).foreach { g =>
      stream.addData(g); q.processAllAvailable()
    }
    q.stop()
    // three snapshots; the latest equals the batch detector bit-for-bit
    assert(new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 3)
    val state = StreamOps.latestCusumState(spark, stateDir)
      .withColumnRenamed("n_seen", "n_events")
      .select(col("event_type"), col("best_ts").as("cp_ts"),
        graft.operators.AnalyticsOps.cusumUnscale(col("best_s")).as("s_at_cp"),
        graft.operators.AnalyticsOps.cusumUnscale(col("best_mag")).as("max_abs_s"),
        col("n_events"))
    val twin = graft.operators.AnalyticsOps.cusum(eventsDf)
    assert(state.count() === twin.count())
    assert(state.except(twin).isEmpty && twin.except(state).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D13: streaming heavy hitters — folded sketch brackets exact history counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // skewed 3-batch stream on one key: user 1 dominates every batch
    // (3 × 40 = 120 of 300 events); 180 one-shot users churn a
    // 16-counter table hard
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def mkBatch(b: Int): Seq[Event] =
      ((1 to 40).map(_ => 1L) ++ (1 to 60).map(i => 100L + b * 60 + i))
        .zipWithIndex.map { case (u, i) =>
          Event(b * 1000L + i, new java.sql.Timestamp(ts0 + i * 1000L),
            u, "a", 1.0, "{}") }
    val base = java.nio.file.Files.createTempDirectory("d13").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingHeavyHitters(stream.toDF(), stateDir,
      capacity = 16)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val batches = (0 until 3).map(mkBatch)
    batches.foreach { g => stream.addData(g); q.processAllAvailable() }
    q.stop()
    assert(new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 3)
    val state = StreamOps.latestHeavyHittersState(spark, stateDir).collect()
    // bounded state regardless of 181 distinct users seen
    assert(state.length <= 16)
    // the dominant user is guaranteed resident (120 > 300/16) and its
    // est/err bracket contains the exact whole-history count
    val u1 = state.find(_.getAs[String]("item") == "1")
      .getOrElse(fail("dominant user evicted from folded state"))
    assert(u1.getAs[Long]("est") >= 120L
      && u1.getAs[Long]("est") - u1.getAs[Long]("err") <= 120L)
    // every resident counter's bracket contains its exact count
    val exact = batches.flatten.groupBy(_.user_id).map { case (u, es) =>
      u.toString -> es.size.toLong }
    state.foreach { r =>
      val n = exact.getOrElse(r.getAs[String]("item"), 0L)
      assert(r.getAs[Long]("est") >= n, s"est below true for ${r}")
      assert(r.getAs[Long]("est") - r.getAs[Long]("err") <= n,
        s"bracket floor above true for ${r}")
    }
    CacheRegistry.unpersistAll()
  }

  test("D14: streaming chi-square — folded count grid equals the batch statistic bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 3 batches, 2 keys, cohort mix drifting across batches
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def mkBatch(b: Int): Seq[Event] =
      (1 to 50).map { i =>
        val typ = if (i % 2 == 0) "a" else "b"
        val user = (i + b * 7) % 11L  // drifting cohort assignment
        Event(b * 1000L + i, new java.sql.Timestamp(ts0 + i * 1000L),
          user, typ, 1.0, "{}") }
    val base = java.nio.file.Files.createTempDirectory("d14").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingChiSquare(stream.toDF(), stateDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val batches = (0 until 3).map(mkBatch)
    batches.foreach { g => stream.addData(g); q.processAllAvailable() }
    q.stop()
    assert(new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 3)
    // the live statistic over the folded grid IS the batch statistic
    // on the whole history — integer state, identical math
    val live = StreamOps.latestChiSquare(spark, stateDir)
    val twin = graft.operators.AnalyticsOps.chiSquare(
      batches.flatten.toDF())
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D15: streaming corpus divergence — folded counts equal the batch JSD bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = graft.sources.Tables.documents(spark, sf)
    val docs = docsDf.as[graft.sources.Schemas.Document].collect().toSeq
    assert(docs.size >= 3)
    val base = java.nio.file.Files.createTempDirectory("d15").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[graft.sources.Schemas.Document]
    val q = StreamOps.streamingCorpusDivergence(stream.toDF(), stateDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    docs.grouped((docs.size + 2) / 3).foreach { g =>
      stream.addData(g); q.processAllAvailable()
    }
    q.stop()
    assert(new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 3)
    // the live JSD over the folded counts IS the batch statistic
    val live = StreamOps.latestCorpusDivergence(spark, stateDir)
    val twin = graft.operators.TextOps.corpusDivergence(docsDf)
    assert(live.count() === twin.count())
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D17: streaming kruskal — folded count grid equals the batch statistic bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 3 batches, 3 keys, value distributions drifting apart per batch
    def mkBatch(b: Int): Seq[Event] =
      (1 to 60).map { i =>
        val typ = Seq("a", "b", "c")(i % 3)
        val v = ((i % 7) + b * (i % 3)).toDouble
        Event(b * 1000L + i, new java.sql.Timestamp(ts0 + i * 1000L),
          i.toLong, typ, v, "{}") }
    val base = java.nio.file.Files.createTempDirectory("d17").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingKruskal(stream.toDF(), stateDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val batches = (0 until 3).map(mkBatch)
    batches.foreach { g => stream.addData(g); q.processAllAvailable() }
    q.stop()
    // the live H over the folded counts IS the batch statistic on the
    // whole history — rank grids are a pure function of the counts
    val live = StreamOps.latestKruskal(spark, stateDir)
    val twin = graft.operators.AnalyticsOps.kruskalWallis(
      batches.flatten.toDF())
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D18: streaming binned KS — folded count grid equals the batch statistic bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 3 batches, 2 keys; key b's distribution shifts upward per batch
    def mkBatch(bi: Int): Seq[Event] =
      (1 to 50).map { i =>
        val typ = if (i % 2 == 0) "a" else "b"
        val v = (i % 9) * 0.25 + (if (typ == "b") bi * 0.5 else 0.0)
        Event(bi * 1000L + i, new java.sql.Timestamp(ts0 + i * 1000L),
          i.toLong, typ, v, "{}") }
    val base = java.nio.file.Files.createTempDirectory("d18").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingKsBinned(stream.toDF(), stateDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val batches = (0 until 3).map(mkBatch)
    batches.foreach { g => stream.addData(g); q.processAllAvailable() }
    q.stop()
    // the live KS over the folded counts IS the batch statistic —
    // CDFs are a pure function of the binned counts
    val live = StreamOps.latestKsBinned(spark, stateDir)
    val twin = graft.operators.AnalyticsOps.ksTestBinned(
      batches.flatten.toDF())
    assert(live.count() === 2L)
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D19: streaming levene — folded co-moments equal the batch statistic bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 3 batches, 3 keys; key c's SPREAD grows per batch while every
    // key's center stays put — the drift axis only B55 isolates
    def mkBatch(bi: Int): Seq[Event] =
      (1 to 60).map { i =>
        val typ = Seq("a", "b", "c")(i % 3)
        val spread = if (typ == "c") 1.0 + bi else 1.0
        val v = 10.0 + ((i % 5) - 2) * spread
        Event(bi * 1000L + i, new java.sql.Timestamp(ts0 + i * 1000L),
          i.toLong, typ, v, "{}") }
    val base = java.nio.file.Files.createTempDirectory("d19").toString
    val stateDir = s"$base/state"
    // the offline model: medians trained on the first batch (the
    // deployment-time reference the monitor scores against)
    val medians = graft.operators.AnalyticsOps.leveneMedians(
      mkBatch(0).toDF())
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingLevene(stream.toDF(), medians, stateDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val batches = (0 until 3).map(mkBatch)
    batches.foreach { g => stream.addData(g); q.processAllAvailable() }
    q.stop()
    // the live F over the folded co-moments IS the batch statistic on
    // the whole history scored against the SAME fixed medians
    val live = StreamOps.latestLevene(spark, stateDir)
    val twin = graft.operators.AnalyticsOps.leveneFromComoments(
      graft.operators.AnalyticsOps.leveneComoments(
        batches.flatten.toDF(), medians))
    assert(live.count() === 1L)
    assert(live.head().getAs[Double]("f_stat") > 1.0,
      "a key whose spread triples must push F above 1")
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D20: streaming jarque-bera — folded power sums equal the batch statistic bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 3 batches, 2 keys; key b grows a heavy right tail per batch
    // (the shape drift D16's mean test and D19's spread test are
    // slowest to see)
    def mkBatch(bi: Int): Seq[Event] =
      (1 to 60).map { i =>
        val typ = if (i % 2 == 0) "a" else "b"
        val tail = if (typ == "b" && i % 10 == 1) bi * 25.0 else 0.0
        Event(bi * 1000L + i, new java.sql.Timestamp(ts0 + i * 1000L),
          i.toLong, typ, 10.0 + (i % 5) + tail, "{}") }
    val base = java.nio.file.Files.createTempDirectory("d20").toString
    val stateDir = s"$base/state"
    // the offline model: reference centers trained on the first batch
    val center = graft.operators.AnalyticsOps.jbCenter(mkBatch(0).toDF())
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingJarqueBera(stream.toDF(), center, stateDir)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val batches = (0 until 3).map(mkBatch)
    batches.foreach { g => stream.addData(g); q.processAllAvailable() }
    q.stop()
    val live = StreamOps.latestJarqueBera(spark, stateDir)
    val twin = graft.operators.AnalyticsOps.jarqueBeraFromComoments(
      graft.operators.AnalyticsOps.jarqueBeraComoments(
        batches.flatten.toDF(), center))
    assert(live.count() === 2L)
    val jb = live.collect().map(r => r.getString(0) ->
      r.getAs[Double]("jb_stat")).toMap
    assert(jb("b") > jb("a"),
      "the tail-growing key must out-score the stable one")
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D16: streaming welch — folded co-moments equal batch; retention bounds state dirs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 4 batches, 2 keys, values drifting per batch, days mixing both
    // parities (day-of-month 1..9)
    def mkBatch(b: Int): Seq[Event] =
      (1 to 60).map { i =>
        val typ = if (i % 2 == 0) "a" else "b"
        val day = (i + b) % 9
        Event(b * 1000L + i,
          new java.sql.Timestamp(ts0 + day * 86400000L),
          i.toLong, typ, (i % 7).toDouble + b * 0.25, "{}") }
    val base = java.nio.file.Files.createTempDirectory("d16").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[Event]
    // retainBatches = 2 exercises the VERDICT r8 #9 sweep: after 4
    // batches only the last 2 snapshot dirs may remain — the fold's
    // latest-prior read (id − 1) stays inside the retained window, so
    // idempotent crash-replay is unaffected
    val q = StreamOps.streamingWelch(stream.toDF(), stateDir,
        retainBatches = 2)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val batches = (0 until 4).map(mkBatch)
    batches.foreach { g => stream.addData(g); q.processAllAvailable() }
    q.stop()
    assert(new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 2,
      "retention sweep must keep exactly the last retainBatches dirs")
    // the live statistic over the folded integer co-moments IS the
    // batch statistic on the whole history, bit-for-bit
    val live = StreamOps.latestWelch(spark, stateDir)
    val twin = graft.operators.AnalyticsOps.welchDrift(batches.flatten.toDF())
    assert(live.count() === twin.count() && live.count() > 0)
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    // ADVICE r9: retain < 2 breaks the latest-prior crash-replay
    // contract (retain=1 deletes the snapshot a replayed batch reads,
    // retain=0 deletes a batch's own snapshot right after writing it)
    // — the sweep now fails fast instead of silently zeroing state
    val base2 = java.nio.file.Files.createTempDirectory("d16r1").toString
    val s2 = MemoryStream[Event]
    val q2 = StreamOps.streamingWelch(s2.toDF(), s"$base2/state",
        retainBatches = 1)
      .option("checkpointLocation", s"$base2/ckpt").start()
    s2.addData(mkBatch(0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    assert(e.getMessage.contains("retainBatches must be >= 2"))
    q2.stop()
    CacheRegistry.unpersistAll()
  }

  test("stream-stream join attributes purchases to in-window clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.purchaseAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    clicks.addData(
      ev(1, "2024-01-01 10:00:00", 1, "click", 0.0),
      ev(2, "2024-01-01 08:00:00", 2, "click", 0.0)) // too early for u2
    purchases.addData(
      ev(10, "2024-01-01 10:30:00", 1, "purchase", 5.0),  // joins click 1
      ev(11, "2024-01-01 10:30:00", 2, "purchase", 7.0))  // no click in window
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrib").collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    assert(rows === Set((10L, 1L)))
  }

  test("streaming sessionize emits closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val ds = StreamOps.sessionize(spark, stream.toDS(), gapMinutes = 30)
    val q = ds.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    stream.addData(ev(1, "2024-01-01 10:00:00", 1, "click", 1.0))
    q.processAllAvailable()
    // second batch, same user, >30m later event-time → closes prior session
    stream.addData(ev(2, "2024-01-01 12:00:00", 1, "click", 2.0))
    q.processAllAvailable()
    q.stop()
    // one closed session emitted (the 10:00 one) once the new event arrived
    val n = spark.table("sess_test").count()
    assert(n === 1)
  }

  test("streamToJdbcUpsert merges each micro-batch into the serving table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:graftstream;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE SERVE (K BIGINT NOT NULL, V DOUBLE, PRIMARY KEY (K))")
      st.close()
    } finally conn.close()

    val stream = MemoryStream[(Long, Double)]
    val q = StreamOps.streamToJdbcUpsert(
      stream.toDF().toDF("K", "V"), url, "SERVE", Seq("K")).start()
    stream.addData((1L, 1.0), (2L, 2.0))
    q.processAllAvailable()
    // second batch updates key 1, inserts key 3 — last-wins on PK
    stream.addData((1L, 10.0), (3L, 3.0))
    q.processAllAvailable()
    q.stop()

    val check = java.sql.DriverManager.getConnection(url)
    try {
      val rs = check.createStatement()
        .executeQuery("SELECT K, V FROM SERVE ORDER BY K")
      val rows = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getDouble(2))).toList
      assert(rows === List((1L, 10.0), (2L, 2.0), (3L, 3.0)))
    } finally check.close()
  }

  test("streamingZscore scores the live stream exactly like the batch op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.sources.Tables.events(spark, sf)
    val stats = graft.operators.AnalyticsOps.zscoreStats(events)
    // replay a slice of the same events through a stream scored
    // against the batch-built stats: flags must agree bit-for-bit
    // with the batch scorer on those rows
    val slice = events.limit(50).as[Event].collect().toSeq
    val stream = MemoryStream[Event]
    stream.addData(slice)
    val q = StreamOps.streamingZscore(stream.toDF(), stats)
      .writeStream.format("memory").queryName("zscore_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("zscore_test").select("event_id", "z", "is_anomaly")
    val batch = graft.operators.AnalyticsOps.zscoreFlags(events)
      .join(streamed.select(col("event_id").as("eid")),
        col("event_id") === col("eid"))
      .select("event_id", "z", "is_anomaly")
    assert(streamed.count() === 50)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("row-local text gates run unchanged on a document stream") {
    // D10: the curation pipeline's stage-1 filters (C8 quality, C19
    // repetition) are stateless projections, so the SAME operator
    // object streams as-is — no watermark, no state store; this is
    // the streaming-ingest form of the quality gate a live corpus
    // feed runs before anything stateful
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Schemas.Document
    val docs = graft.sources.Tables.documents(spark, sf)
    val slice = docs.as[Document].collect().toSeq
    val stream = MemoryStream[Document]
    stream.addData(slice)
    val q = graft.operators.TextOps.quality(stream.toDF())
      .writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("quality_stream")
    val batch = graft.operators.TextOps.quality(docs)
    assert(streamed.count() === docs.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("D22: streaming reservoir sample equals the batch draw on the whole history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Schemas.Document
    val docs = graft.sources.Tables.documents(spark, sf)
    val slices = docs.as[Document].collect().toSeq
      .grouped((docs.count() / 3 + 1).toInt).toSeq
    val base = java.nio.file.Files.createTempDirectory("d22").toString
    val stateDir = s"$base/state"
    val stream = MemoryStream[Document]
    val q = StreamOps.streamingSample(stream.toDF(), stateDir, k = 50)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    slices.foreach { g => stream.addData(g); q.processAllAvailable() }
    // ADVICE r10: an at-least-once upstream RE-DELIVERS docs — a
    // duplicate must occupy one slot, not two (the merge dedups on
    // doc_id before limit(k)), so the live draw still equals batch
    stream.addData(slices.head)
    q.processAllAvailable()
    q.stop()
    // the carried k-draw IS the batch draw over everything seen —
    // the k smallest seeded priorities are a mergeable summary
    val live = StreamOps.latestSample(spark, stateDir)
    val twin = graft.operators.TextOps.sampleTopK(docs, 50)
    assert(live.count() === 50L)
    assert(live.select("doc_id").distinct().count() === 50L)
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }

  test("D21: frozen-model DSIR scorer streams statelessly, bit-for-bit vs batch") {
    // the model is a plan-literal map and the per-doc weight an
    // in-row integer fold, so scoring is a PURE projection — the
    // D7/D10 offline-model/online-score split with zero state; the
    // in-row long fold equals dsirWeights' distributed DECIMAL
    // groupBy sum because integer addition is exact in any order
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Schemas.Document
    val docs = graft.sources.Tables.documents(spark, sf)
    val target = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val model = graft.operators.TextOps.dsirTrain(docs, target)
    // batch parity: frozen scorer ≡ the oracle-gated distributed form
    val frozen = graft.operators.TextOps.dsirScore(docs, model)
    val distributed = graft.operators.TextOps.dsirWeights(docs, target)
    assert(frozen.except(distributed).isEmpty
      && distributed.except(frozen).isEmpty,
      "frozen-model scorer must equal the distributed form bit-for-bit")
    // stream parity: same operator object over a MemoryStream
    val stream = MemoryStream[Document]
    stream.addData(docs.as[Document].collect().toSeq)
    val q = graft.operators.TextOps.dsirScore(stream.toDF(), model)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dsir_stream")
    assert(streamed.count() === docs.count())
    assert(streamed.exceptAll(frozen).count() === 0)
    assert(frozen.exceptAll(streamed).count() === 0)
    CacheRegistry.unpersistAll()
  }

  private def snapshotDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted.toSeq

  private def driftBatch(b: Int): Seq[Event] = {
    val ts0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (1 to 60).map { i =>
      Event(b * 1000L + i, new Timestamp(ts0 + i * 1000L), (i + b * 7) % 11L,
        Seq("a", "b", "c")(i % 3), ((i % 7) + b * (i % 3)).toDouble, "{}") }
  }

  /** Snapshot storage goes through the Hadoop FileSystem of the state
    * dir, so a `file:` URI carries the prior state and is pruned
    * exactly like a plain local path.
    */
  test("snapshot fold carries and prunes state under a file: URI state dir") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("fold_uri").toString
    val stream = MemoryStream[Event]
    val q = StreamOps.streamingKruskal(stream.toDF(), s"file://$base/state",
        retainBatches = 2)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    (0 until 4).foreach { b =>
      stream.addData(driftBatch(b)); q.processAllAvailable()
    }
    q.stop()
    assert(snapshotDirs(s"$base/state") === Seq("batch=2", "batch=3"))
    val all = spark.read.parquet(s"$base/state")
    val latest = all.filter(col("batch") === all.agg(max("batch")).head.get(0))
    assert(latest.agg(sum("c")).head.getLong(0) === 240L,
      "the latest snapshot must fold all four batches")
    CacheRegistry.unpersistAll()
  }

  /** A streaming fold releases only the pins of its own batch scope:
    * pins another operator registered in the same session survive a
    * monitor batch and a D11 or D23 dedup fold batch alike.
    */
  test("a monitor batch leaves results held elsewhere in the session readable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
    val held = graft.operators.DedupOps.dedupGroups(docs)
    val n = docs.count()
    def drainTwoBatches[T: org.apache.spark.sql.Encoder](rows: Seq[T])(
        fold: (org.apache.spark.sql.DataFrame, String) =>
          org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row])
        : Unit = {
      val base = java.nio.file.Files.createTempDirectory("fold_scope").toString
      val stream = MemoryStream[T]
      val q = fold(stream.toDF(), base)
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      rows.grouped((rows.size + 1) / 2).foreach { g =>
        stream.addData(g); q.processAllAvailable()
      }
      q.stop()
      assert(held.count() === n)
    }
    drainTwoBatches(driftBatch(0))((in, base) =>
      StreamOps.streamingKruskal(in, s"$base/state"))
    drainTwoBatches(docs.as[graft.sources.Schemas.Document].collect().toSeq)(
      (in, base) => StreamOps.streamingDedupIncremental(in, s"$base/corpus",
        s"$base/labels"))
    drainTwoBatches(graft.sources.Tables.embeddings(spark, sf)
        .as[graft.sources.Schemas.Embedding].collect().toSeq)(
      (in, base) => StreamOps.streamingDedupSemantic(in, s"$base/corpus",
        s"$base/labels"))
    CacheRegistry.unpersistAll()
  }

  /** The concurrent form of the test above: a reader thread keeps
    * counting a held dedupGroups result while a D11 fold drains three
    * batches on the stream thread, and no read fails.
    */
  test("a held dedup result stays readable while a dedup fold drains concurrently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sf)
    val held = graft.operators.DedupOps.dedupGroups(docs)
    val n = docs.count()
    val rows = docs.as[graft.sources.Schemas.Document].collect()
      .sortBy(_.doc_id).toSeq
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val firstRead = new java.util.concurrent.CountDownLatch(1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() =>
      try {
        while (!stop.get) {
          val c = held.count()
          if (c != n) throw new IllegalStateException(s"held count $c != $n")
          firstRead.countDown()
        }
      } catch { case t: Throwable => failure.set(t); firstRead.countDown() })
    reader.start()
    try {
      assert(firstRead.await(120, java.util.concurrent.TimeUnit.SECONDS))
      val base = java.nio.file.Files.createTempDirectory("fold_concurrent").toString
      val stream = MemoryStream[graft.sources.Schemas.Document]
      val q = StreamOps.streamingDedupIncremental(stream.toDF(),
          s"$base/corpus", s"$base/labels")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      rows.grouped((rows.size + 2) / 3).foreach { g =>
        stream.addData(g); q.processAllAvailable()
      }
      q.stop()
    } finally { stop.set(true); reader.join() }
    assert(failure.get() === null, s"a held read failed: ${failure.get()}")
    assert(held.count() === n)
    CacheRegistry.unpersistAll()
  }

  /** The crash-replay contract: a batch whose commit was lost is
    * replayed on restart, recomputes from the latest snapshot before
    * it, and overwrites only its own dir — the statistic and the set
    * of snapshot dirs are unchanged, and still equal the batch
    * statistic over the whole history. The state dir is a `file:` URI,
    * so the replay also runs through the Hadoop FileSystem path.
    */
  test("a monitor batch replayed after a lost commit leaves the same state") {
    import spark.implicits._
    val events = (0 until 3).flatMap(driftBatch).toDF()
    val base = java.nio.file.Files.createTempDirectory("fold_replay").toString
    events.repartitionByRange(3, col("event_id")).write.parquet(s"$base/in")
    val stateDir = s"file://$base/state"
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val in = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      val q = StreamOps.streamingChiSquare(in, stateDir, retainBatches = 2)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    assert(drain().recentProgress.map(_.batchId).toSeq === Seq(0L, 1L, 2L))
    val before = StreamOps.latestChiSquare(spark, stateDir).collect().toSet
    val dirsBefore = snapshotDirs(s"$base/state")
    Seq("2", ".2.crc").foreach(f => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/ckpt/commits/$f")))
    assert(drain().recentProgress.map(_.batchId).toSeq === Seq(2L),
      "the restart must replay exactly the uncommitted batch")
    val live = StreamOps.latestChiSquare(spark, stateDir)
    assert(live.collect().toSet === before)
    assert(snapshotDirs(s"$base/state") === dirsBefore)
    val twin = graft.operators.AnalyticsOps.chiSquare(events)
    assert(live.except(twin).isEmpty && twin.except(live).isEmpty)
    CacheRegistry.unpersistAll()
  }
}
