package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sources

class SourcesSpec extends SparkSpec {

  test("csv roundtrip preserves schema and rows") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    val dir = java.nio.file.Files.createTempDirectory("csv").toString
    Sources.writeCsv(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val back = Sources.readCsv(spark, dir, schema)
    assert(back.count() === 2)
    assert(back.schema === schema)
    assert(back.agg(sum("v")).head.getDouble(0) === 4.0)
  }

  test("json-lines roundtrip") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val dir = java.nio.file.Files.createTempDirectory("json").toString
    Sources.writeJsonLines(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    assert(Sources.readJsonLines(spark, dir, schema).count() === 2)
  }

  test("mergeUpsert: updates win, new keys insert, base survives") {
    import spark.implicits._
    val base = Seq((1L, "old", 10L), (2L, "keep", 10L)).toDF("k", "v", "ver")
    val upd = Seq((1L, "new", 11L), (3L, "ins", 11L)).toDF("k", "v", "ver")
    val merged = Sources.mergeUpsert(base, upd, Seq("k"), "ver")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged === Map(1L -> "new", 2L -> "keep", 3L -> "ins"))
  }

  test("mergeUpsert: within updates, highest version wins") {
    import spark.implicits._
    val base = Seq.empty[(Long, String, Long)].toDF("k", "v", "ver")
    val upd = Seq((1L, "v1", 1L), (1L, "v2", 2L)).toDF("k", "v", "ver")
    val merged = Sources.mergeUpsert(base, upd, Seq("k"), "ver").collect()
    assert(merged.length === 1)
    assert(merged.head.getString(1) === "v2")
  }

  test("partitioned writer produces hive dirs") {
    import spark.implicits._
    val df = Seq(("a", 2024, 1, 1.0), ("b", 2024, 2, 2.0))
      .toDF("key", "year", "month", "v")
    val dir = java.nio.file.Files.createTempDirectory("part").toString
    Sources.writePartitioned(df, dir, Seq("key", "year", "month"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 2)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("key=")))
  }

  test("zip ingestion streams entries and lines") {
    val dir = java.nio.file.Files.createTempDirectory("zips")
    val zf = dir.resolve("data.zip").toFile
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zf))
    zos.putNextEntry(new java.util.zip.ZipEntry("a.csv"))
    zos.write("h1,h2\n1,2\n".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("b.csv"))
    zos.write("3,4\n".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val df = Sources.readZipLines(spark, dir.toString + "/*.zip")
    assert(df.count() === 3)
    assert(df.select("entry").distinct().count() === 2)
    assert(df.filter(col("line") === "3,4").count() === 1)
  }

  test("writeJdbcUpsert: staged MERGE updates matched keys, inserts new ones") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftupsert;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE MART (K BIGINT NOT NULL, REGION VARCHAR(16), V DOUBLE, PRIMARY KEY (K))")
      st.executeUpdate("INSERT INTO MART VALUES (1, 'old', 1.0), (2, 'keep', 2.0)")
      st.close()
    } finally conn.close()

    val batch = Seq((1L, "new", 10.0), (3L, "ins", 30.0)).toDF("K", "REGION", "V")
    Sources.writeJdbcUpsert(batch, url, "MART", Seq("K"))
    // second run with the same batch must be idempotent
    Sources.writeJdbcUpsert(batch, url, "MART", Seq("K"))

    val check = java.sql.DriverManager.getConnection(url)
    try {
      val rs = check.createStatement()
        .executeQuery("SELECT K, REGION, V FROM MART ORDER BY K")
      val rows = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getDouble(3)))
        .toList
      assert(rows === List((1L, "new", 10.0), (2L, "keep", 2.0), (3L, "ins", 30.0)))
    } finally check.close()
  }

  test("pipeline_mart LOAD: two staged-MERGE runs leave Derby equal to the mart") {
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    // uppercase names so the staged MERGE's unquoted identifiers
    // resolve against Derby's normalized catalog; DAY is reserved
    val mart = graft.operators.PipelineOps.martPipeline(events)
      .toDF("MART_DAY", "CLICK_SUM", "ERROR_SUM", "PURCHASE_SUM",
        "SIGNUP_SUM", "VIEW_SUM", "N_OBS", "WATER_BALANCE")
    val url = "jdbc:derby:memory:graftmartpipe;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE MART_DAILY (MART_DAY TIMESTAMP NOT NULL,
          |CLICK_SUM DOUBLE, ERROR_SUM DOUBLE, PURCHASE_SUM DOUBLE,
          |SIGNUP_SUM DOUBLE, VIEW_SUM DOUBLE, N_OBS BIGINT,
          |WATER_BALANCE DOUBLE, PRIMARY KEY (MART_DAY))""".stripMargin)
      st.close()
    } finally conn.close()
    // the reference reruns its load every cycle — the serving table
    // must converge, not accumulate
    Sources.writeJdbcUpsert(mart, url, "MART_DAILY", Seq("MART_DAY"))
    Sources.writeJdbcUpsert(mart, url, "MART_DAILY", Seq("MART_DAY"))
    val back = spark.read.jdbc(url, "MART_DAILY", new java.util.Properties())
    assert(back.count() === mart.count())
    assert(back.exceptAll(mart).count() === 0)
    assert(mart.exceptAll(back).count() === 0)
  }

  test("appendMissingPartitions: second run over same input writes zero new files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("backfill").toString
    val batch1 = Seq(("r1", 2024, 1, 1.0), ("r1", 2024, 2, 2.0))
      .toDF("region", "year", "month", "v")
    Sources.appendMissingPartitions(batch1, dir, Seq("region", "year", "month"))
    assert(spark.read.parquet(dir).count() === 2)

    def partFiles(): Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.startsWith("part-")) buf += f.getPath
      }
      walk(new java.io.File(dir))
      buf.toSeq.sorted
    }
    val after1 = partFiles()

    // identical rerun: nothing new materializes
    Sources.appendMissingPartitions(batch1, dir, Seq("region", "year", "month"))
    assert(partFiles() === after1)
    assert(spark.read.parquet(dir).count() === 2)

    // a batch with one already-present and one new partition appends
    // only the new one (the existing row is NOT duplicated)
    val batch2 = Seq(("r1", 2024, 2, 99.0), ("r2", 2024, 1, 3.0))
      .toDF("region", "year", "month", "v")
    Sources.appendMissingPartitions(batch2, dir, Seq("region", "year", "month"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    assert(back.filter(col("region") === "r2").count() === 1)
    assert(back.filter(col("v") === 99.0).count() === 0)
  }

  test("Catalog.ensureMartTable registers the mart, recovers partitions, prunes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mart").toString
    val ddl = "v DOUBLE, event_type STRING, year INT, month INT"
    val parts = Seq("event_type", "year", "month")
    Seq(("click", 2024, 1, 1.0), ("view", 2024, 2, 2.0))
      .toDF("event_type", "year", "month", "v")
      .write.mode("overwrite").partitionBy(parts: _*).parquet(dir)

    spark.sql("DROP TABLE IF EXISTS mart_t")
    graft.sources.Catalog.ensureMartTable(spark, "mart_t", dir, ddl, parts)
    assert(graft.sources.Catalog.mart(spark, "mart_t").count() === 2)
    // idempotent re-run (every pipeline cycle)
    graft.sources.Catalog.ensureMartTable(spark, "mart_t", dir, ddl, parts)

    // out-of-band append (e.g. the incremental backfill) + refresh
    Seq(("error", 2024, 3, 3.0)).toDF("event_type", "year", "month", "v")
      .write.mode("append").partitionBy(parts: _*).parquet(dir)
    graft.sources.Catalog.refreshMart(spark, "mart_t")
    val mart = graft.sources.Catalog.mart(spark, "mart_t")
    assert(mart.count() === 3)
    assert(mart.filter(col("event_type") === "click").count() === 1)
    spark.sql("DROP TABLE mart_t")
  }

  test("vec_dot native expression matches builtin composition and works in SQL") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val native = df.select(graft.functions.VectorFns.vec_dot(col("a"), col("b")))
      .head().getDouble(0)
    val generic = df.select(graft.operators.SimilarityOps.dotGeneric(col("a"), col("b")))
      .head().getDouble(0)
    assert(native === 32.0)
    assert(native === generic)
    // no register call: the suite session is GraftSession's, which
    // registers vec_dot itself
    df.createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT vec_dot(a, b) AS d FROM vecs").head().getDouble(0) === 32.0)
  }

  test("vec_dot yields null on length mismatch, like the builtin composition") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val native = df.select(graft.functions.VectorFns.vec_dot(col("a"), col("b")))
      .head()
    val generic = df.select(graft.operators.SimilarityOps.dotGeneric(col("a"), col("b")))
      .head()
    assert(native.isNullAt(0))
    assert(generic.isNullAt(0))
  }

  test("embeddingNearDups returns symmetric-free thresholded pairs") {
    val e = graft.sources.Tables.embeddings(spark, sf)
    val p = graft.operators.SimilarityOps.embeddingNearDups(e, 0.4)
    assert(p.filter(col("id1") >= col("id2")).count() === 0)
    assert(p.filter(col("cos_sim") < 0.4).count() === 0)
  }

  test("compactParquet merges a fragmented mart losslessly, keeping the layout") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("frag").toString
    val outDir = java.nio.file.Files.createTempDirectory("compact").toString + "/out"
    // fragment: 20 single-row appends into 2 hive partitions
    (1 to 20).foreach { i =>
      Seq((s"r${i % 2}", 2024, i.toLong, i * 1.0))
        .toDF("region", "year", "k", "v")
        .write.mode("append").partitionBy("region", "year").parquet(inDir)
    }
    def partFiles(dir: String): Seq[java.io.File] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(walk)
        else if (f.getName.startsWith("part-")) buf += f
      walk(new java.io.File(dir)); buf.toSeq
    }
    assert(partFiles(inDir).size >= 20)
    Sources.compactParquet(spark, inDir, outDir, Seq("region", "year"))
    // far fewer files (tiny data → one bucket), identical rows, same layout
    assert(partFiles(outDir).size <= 4)
    val before = spark.read.parquet(inDir).select("region", "year", "k", "v")
    val after = spark.read.parquet(outDir).select("region", "year", "k", "v")
    assert(after.count() === 20)
    assert(before.exceptAll(after).count() === 0)
    assert(after.exceptAll(before).count() === 0)
    // hive layout preserved
    assert(new java.io.File(s"$outDir/region=r0/year=2024").isDirectory)
  }

  test("compactParquet keeps hive default (null) partition rows") {
    import spark.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("fragnull").toString
    val outDir = java.nio.file.Files.createTempDirectory("compactnull").toString + "/out"
    // null partition values land in __HIVE_DEFAULT_PARTITION__; a plain
    // equi-join against the file-count table would drop them
    Seq((Option("r0"), 1L), (Option.empty[String], 2L), (Option.empty[String], 3L))
      .toDF("region", "k")
      .write.mode("overwrite").partitionBy("region").parquet(inDir)
    Sources.compactParquet(spark, inDir, outDir, Seq("region"))
    val after = spark.read.parquet(outDir)
    assert(after.count() === 3)
    assert(after.filter(col("region").isNull).count() === 2)
    assert(after.filter(col("region").isNull)
      .select("k").as[Long].collect().sorted === Array(2L, 3L))
  }

  /** The driver regenerated events.parquet once already, switching the
    * `ts` physical type from INT64 TIMESTAMP(NANOS) to µs
    * isAdjustedToUTC=false (TIMESTAMP_NTZ) and silently breaking every
    * `unix_millis(ts)` call site. Pin ALL THREE plausible parquet
    * encodings — ns (INT64 TIMESTAMP(NANOS)), ntz (µs
    * isAdjustedToUTC=false) and us (µs isAdjustedToUTC=true, plain
    * TIMESTAMP): Tables.events must normalize each to the same
    * TIMESTAMP_LTZ values, so the next regeneration drift is caught by
    * fixture, not by a broken round.
    */
  test("Tables.events normalizes all three parquet ts encodings identically") {
    def fixtureDir(name: String): String =
      new java.io.File(
        getClass.getResource(s"/tsenc/$name/events.parquet").toURI).getParent
    val expected = Seq("2024-01-01 00:00:00", "2024-01-01 01:30:00",
      "2024-06-15 12:00:01")
    for (enc <- Seq("ns", "ntz", "us")) {
      val ev = graft.sources.Tables.events(spark, fixtureDir(enc))
      assert(ev.schema("ts").dataType === TimestampType, s"enc=$enc")
      val got = ev.orderBy("event_id")
        .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .collect().map(_.getString(0)).toSeq
      assert(got === expected, s"enc=$enc")
    }
  }
}
