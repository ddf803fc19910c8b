package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Writes a k×-replicated copy of a test-data scale-factor directory
  * (VERDICT r10 #1 — the large-SF bench corpus): every fact table is
  * replicated with DISJOINT per-copy universes so each copy keeps the
  * original's internal statistics — duplicate rates, posting-list
  * shapes, per-user series lengths — and no cross-copy artifacts
  * appear, across the full TPC-H-ish star schema:
  *
  *  - lineitem/orders/customer/part/supplier: per-copy KEY OFFSETS on
  *    every join key (orderkey, custkey, partkey, suppkey), so joins
  *    stay within-copy consistent and key cardinalities grow ×k —
  *    exactly how TPC-H itself scales facts;
  *  - nation/region: copied as-is (real TPC-H holds dimensions fixed
  *    across scale factors; every copy joins the same 25 nations);
  *  - events/documents/embeddings: disjoint-universe transforms
  *    (offset ids, per-copy token suffix).
  *
  * Usage: runMain graft.MakeScaled <sfDir> <outDir> <k>
  * The output directory is a drop-in SPARK_GRAFT_SF_DIR for Bench —
  * `<outDir>/<table>.parquet` are directories, which
  * `spark.read.parquet` consumes like the originals' single files.
  * Scale evidence is Bench on `<sfDir>` vs Bench on `<outDir>`,
  * compared by `scripts/bench_ratio.py`: a shuffle-shaped operator
  * scales ~linearly (ratio ≈ k, or below it while fixed overhead
  * dominates); a hidden all-pairs or single-reducer bottleneck shows
  * ratio ≫ k.
  */
object MakeScaled {

  private def scaleDocs(docs: DataFrame, copies: DataFrame): DataFrame =
    docs.crossJoin(copies)
      .select(
        (col("doc_id") + col("copy") * lit(10000000L)).as("doc_id"),
        // per-copy token universe: "_<copy>" suffix on every token
        // keeps within-copy dup/similarity structure identical to the
        // original corpus and cross-copy similarity exactly zero
        concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            t => concat(t, lit("_"), col("copy"))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))

  private def scaleEvents(events: DataFrame, copies: DataFrame): DataFrame =
    events.crossJoin(copies)
      .select(
        (col("event_id") + col("copy") * lit(100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("copy") * lit(1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))

  private def scaleEmb(emb: DataFrame, copies: DataFrame): DataFrame =
    emb.crossJoin(copies)
      .select((col("vec_id") + col("copy") * lit(10000000L)).as("vec_id"),
        col("embedding"), col("label"))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, kArg) = args.take(3)
    val k = kArg.toInt
    require(k >= 1)
    val spark = Harness.session()
    val copies = spark.range(k).select(col("id").as("copy"))
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    import graft.sources.Tables
    // dimensions: fixed across scale factors (the TPC-H convention)
    write(Tables.table(spark, sfDir, "region"), "region")
    write(Tables.table(spark, sfDir, "nation"), "nation")
    // facts: key offsets keep each copy's star joins self-consistent
    val (oOff, cOff, pOff, sOff) =
      (1000000000L, 10000000L, 10000000L, 1000000L)
    def off(c: String, step: Long) =
      (col(c) + col("copy") * lit(step)).as(c)
    write(Tables.customer(spark, sfDir).crossJoin(copies)
      .select(off("c_custkey", cOff), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")), "customer")
    write(Tables.supplier(spark, sfDir).crossJoin(copies)
      .select(off("s_suppkey", sOff), col("s_name"), col("s_nationkey"),
        col("s_acctbal")), "supplier")
    write(Tables.part(spark, sfDir).crossJoin(copies)
      .select(off("p_partkey", pOff), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")), "part")
    write(Tables.orders(spark, sfDir).crossJoin(copies)
      .select(off("o_orderkey", oOff), off("o_custkey", cOff),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")), "orders")
    write(Tables.lineitem(spark, sfDir).crossJoin(copies)
      .select(off("l_orderkey", oOff), off("l_partkey", pOff),
        off("l_suppkey", sOff), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem")
    // the LLM-pipeline tables: disjoint per-copy universes
    write(scaleEvents(Tables.events(spark, sfDir), copies), "events")
    write(scaleDocs(Tables.documents(spark, sfDir), copies), "documents")
    write(scaleEmb(Tables.embeddings(spark, sfDir), copies), "embeddings")
    println(s"""{"scaled":"$outDir","k":$k,"from":"$sfDir"}""")
    spark.stop()
  }
}
