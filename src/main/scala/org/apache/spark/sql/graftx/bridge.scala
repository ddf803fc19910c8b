package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import scala.util.control.NonFatal

/** Bridge into Spark's private[sql] Column↔Expression conversions, so
  * graft's native Catalyst expressions can be exposed as `Column`s.
  * Lives under org.apache.spark.sql.* solely for access; contains no
  * Spark code.
  */
object bridge extends org.apache.spark.internal.Logging {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the constructor
    * custom logical operators need; `Dataset.ofRows` is private[sql].
    */
  def dataframe(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame (private[sql] accessor path). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The pinned RDD behind a `localCheckpoint`ed DataFrame (a
    * LogicalRDD leaf), so callers can `unpersist` its blocks
    * deterministically — `Dataset.unpersist` does NOT release
    * checkpoint blocks, and waiting on the async ContextCleaner lets
    * them pile up across a long session (the r4 bench contamination).
    * LogicalRDD is private[sql], hence bridged here.
    */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    analyzed(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Eager checkpoint WITHOUT origin-metadata capture, local
    * (executor blocks) or `reliable` (the SparkContext's checkpoint
    * dir). Returns (pinned frame, row count, exact sum of the long
    * column `sumLongCol`); without a column both are 0.
    *
    * `Dataset.localCheckpoint` wraps the pinned RDD via
    * `LogicalRDD.fromDataset`, which captures the origin plan's
    * stats/partitioning/ordering/constraints. Inside an iterative
    * loop whose round-r plan references the round-(r−1) checkpoint
    * MORE THAN ONCE (e.g. a self-join), that driver-side capture
    * re-derives metadata through the chain of prior LogicalRDDs and
    * forks at every multi-reference — cost DOUBLES per round
    * (measured: 0.6 s → 28.6 s per checkpoint by round 14 of the
    * label loop, with plan execution flat at ~0.1 s; the 2^rounds
    * curve reproduced exactly). This variant builds the plain
    * LogicalRDD leaf instead: no origin stats (AQE re-derives
    * runtime stats at the next exchange anyway), constant O(1) wrap
    * per round. Blocks release exactly like Dataset.localCheckpoint's
    * (same LogicalRDD shape for [[checkpointRdd]]).
    *
    * With `sumLongCol` (r15, guide §1.2) the checkpoint's
    * materialization action ALSO folds that column into an exact
    * per-partition sum, so an iterative loop that probes convergence
    * off that sum (the dedup label loop) pays ONE job per pinned frame
    * instead of checkpoint-job + sum-job; nulls are skipped like SQL
    * `sum`, and a per-partition long spills to BigInteger on
    * overflow. A reliable checkpoint writes its files in a second job
    * after that action, as `Dataset.checkpoint` does.
    */
  def plainCheckpoint(df: org.apache.spark.sql.DataFrame, reliable: Boolean,
      sumLongCol: Option[String] = None)
      : (org.apache.spark.sql.DataFrame, Long, java.math.BigInteger) = {
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    val internalRdd = qe.toRdd.map(_.copy())
    if (reliable) internalRdd.checkpoint() else internalRdd.localCheckpoint()
    // one materializing action; with sumLongCol it also folds the
    // column's exact sum per partition (blocks populate either way —
    // the job consumes every partition through the cache layer)
    val stats = sumLongCol.map(df.schema.fieldIndex) match {
      case None =>
        internalRdd.count()
        (0L, java.math.BigInteger.ZERO)
      case Some(idx) =>
        val parts = ds.sparkSession.sparkContext.runJob(internalRdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
            var s = 0L
            var carry = java.math.BigInteger.ZERO
            var n = 0L
            while (it.hasNext) {
              val r = it.next()
              n += 1
              if (!r.isNullAt(idx)) {
                val v = r.getLong(idx)
                val ns = s + v
                // spill to BigInteger on signed-overflow (Hacker's
                // Delight check) — exact at any corpus size
                if (((s ^ ns) & (v ^ ns)) < 0) {
                  carry = carry.add(java.math.BigInteger.valueOf(s))
                  s = v
                } else s = ns
              }
            }
            (carry.add(java.math.BigInteger.valueOf(s)), n)
          })
        (parts.map(_._2).sum,
          parts.map(_._1).foldLeft(java.math.BigInteger.ZERO)(_.add(_)))
    }
    // Unlike origin STATS (the 2^rounds trap above), the executed
    // plan's output PARTITIONING/ORDERING are O(1) to read and can be
    // worth carrying (ADVICE r6): a consumer joining/aggregating on
    // the same keys then elides its exchange. Read AFTER count():
    // AQE's final plan (and its real partitioning) exists only once
    // the RDD has materialized; the map(_.copy()) wrapper preserves
    // partition boundaries and intra-partition order, so the declared
    // metadata stays truthful. Same firstLeaf unwrap of
    // PartitioningCollection as Dataset.localCheckpoint's fromDataset.
    //
    // CAVEAT (measured, round 7): AQE usually COALESCES a small
    // checkpointed frame to a handful of partitions. Carrying that
    // narrow partitioning makes every later join against the
    // checkpoint co-partition down to it — the big probe side runs at
    // parallelism 2-4 instead of 32. Bench A/B on the dedup family at
    // sf0.1: unconditional carry 46.9 s vs no carry 33.4 s
    // (dedup_groups 14.0 → 6.4 s, dedup_apply 12.5 → 6.0 s). So the
    // carry is GUARDED: only a partitioning at least as wide as the
    // session's shuffle parallelism is declared — exchange elision
    // never comes at the cost of downstream parallelism.
    val finalPlan = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    @scala.annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case o => o
    }
    // physical attrs can carry different exprIds than the analyzed
    // output (optimizer aliasing); remap partitioning/ordering through
    // Spark's own position-wise assoc, dropping to Unknown/Nil if the
    // outputs don't align — a wrong declaration here would silently
    // skip NEEDED exchanges, so misalignment must fail closed
    val assoc = org.apache.spark.sql.execution.LogicalRDD
      .buildOutputAssocForRewrite(finalPlan.output, qe.analyzed.output)
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression => CExpr, SortOrder}
    val minParts = ds.sparkSession.sessionState.conf.numShufflePartitions
    val (part, ordering) = assoc match {
      case Some(m) =>
        def remapAttrs[T <: CExpr](e: T): T =
          e.transform { case a: Attribute => m.getOrElse(a, a) }
            .asInstanceOf[T]
        val p0 =
          try firstLeaf(finalPlan.outputPartitioning)
          catch { case _: UnsupportedOperationException => UnknownPartitioning(0) }
        val p = p0 match {
          case e: CExpr if p0.numPartitions >= minParts =>
            remapAttrs(e).asInstanceOf[Partitioning]
          case _ => UnknownPartitioning(0)
        }
        (p, finalPlan.outputOrdering.map(remapAttrs[SortOrder]))
      case None => (UnknownPartitioning(0), Nil)
    }
    val lr = org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, internalRdd, part, ordering)(ds.sparkSession)
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, lr),
      stats._1, stats._2)
  }

  /** Declared output partitioning of a checkpoint leaf (spec access —
    * LogicalRDD is private[sql]).
    */
  def checkpointPartitioning(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.sql.catalyst.plans.physical.Partitioning] =
    analyzed(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        Some(lr.outputPartitioning)
      case _ => None
    }

  /** Drain the listener bus so stage metrics observed by bench
    * listeners are complete before reading them (listener events are
    * posted asynchronously). private[spark], hence bridged here. A bus
    * that does not drain in time is logged: the metrics read next are
    * then incomplete.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext,
      timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case NonFatal(e) =>
      logWarning(s"listener bus not drained after $timeoutMs ms, " +
        s"stage metrics read now are incomplete: $e")
    }
}
