package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftx.{bridge, CharEntropy, FloatVectorDot, Md5Hash32, MediaDHashExpr, MediaMetaExpr, MediaWrapExpr, SortedIntersectCount, SpaceSavingAggregate, SpaceSavingMergeAggregate, TopKAggregate}

/** Column/SQL facade over graft's native Catalyst expressions
  * (see org.apache.spark.sql.graftx.FloatVectorDot / TopKAggregate).
  */
object VectorFns {
  /** Column API: dot product of two ArrayType(FloatType) columns. In
    * SQL it is `vec_dot(a, b)` on any session built with
    * graftx.GraftSparkExtensions (every GraftSession).
    */
  def vec_dot(a: Column, b: Column): Column =
    bridge.column(FloatVectorDot(bridge.expression(a), bridge.expression(b)))

  /** Intersection size of two ascending-sorted ArrayType(LongType)
    * columns — codegen'd two-pointer merge, zero allocation (see
    * graftx.SortedIntersectCount for why the builtins don't cut it).
    */
  def sorted_intersect_count(a: Column, b: Column): Column =
    bridge.column(SortedIntersectCount(bridge.expression(a), bridge.expression(b)))

  /** 32-bit md5-derived hash (DuckDB `md5_number_upper >> 32`
    * semantics) with zero string allocation — see graftx.Md5Hash32.
    */
  def md5_hash32(s: Column): Column =
    bridge.column(Md5Hash32(bridge.expression(s)))

  /** Aggregate: ascending-sorted array of the k SMALLEST values of `e`
    * (negate the sort field for top-by-descending). Map-side
    * combinable bounded heap — see graftx.TopKAggregate.
    */
  def top_k(e: Column, k: Int): Column =
    bridge.column(TopKAggregate(bridge.expression(e), k)
      .toAggregateExpression())

  /** SpaceSaving heavy-hitters summary: string items → bounded array
    * of struct(item, est, err) with est ≥ true ≥ est − err — see
    * graftx.SpaceSavingAggregate. Map-side combinable; shuffle
    * payload is `capacity` counters per group regardless of item
    * cardinality.
    */
  def space_saving(e: Column, capacity: Int): Column =
    bridge.column(SpaceSavingAggregate(bridge.expression(e), capacity)
      .toAggregateExpression())

  /** Weighted-input SpaceSaving fold over already-summarized
    * (item, est, err) counter rows — merges persisted summaries with
    * new per-batch sketches (the streamable form, D13).
    */
  def space_saving_merge(item: Column, est: Column, err: Column,
      capacity: Int): Column =
    bridge.column(SpaceSavingMergeAggregate(bridge.expression(item),
      bridge.expression(est), bridge.expression(err), capacity)
      .toAggregateExpression())

  /** One-pass character entropy: string → struct(n_chars,
    * n_distinct_chars, entropy_nats) — see graftx.CharEntropy.
    */
  def char_entropy(s: Column): Column =
    bridge.column(CharEntropy(bridge.expression(s)))

  /** Media header decode: binary payload → struct(n_bytes, width,
    * height, n_frames, format), codegen'd — see graftx.MediaMetaExpr.
    */
  def media_meta(payload: Column): Column =
    bridge.column(MediaMetaExpr(bridge.expression(payload)))

  /** Synthetic-media builder: prepend a real PNG/JPEG/GIF header with
    * doc_id-derived dimensions — see graftx.MediaWrapExpr.
    */
  def media_wrap(docId: Column, payload: Column, fmt: String): Column =
    bridge.column(MediaWrapExpr(bridge.expression(docId),
      bridge.expression(payload), fmt))

  /** Perceptual content hash: binary payload → struct(format,
    * body_off, dhash) — 63-bit dHash over the bytes past the parsed
    * container header, codegen'd — see graftx.MediaDHashExpr.
    */
  def media_dhash(payload: Column): Column =
    bridge.column(MediaDHashExpr(bridge.expression(payload)))
}
