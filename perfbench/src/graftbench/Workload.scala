package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, ws: File, seed: Long, nOps: Int)

/** A workload: seeded inputs made in [[setup]], then ops 0 until
  * nOps (the first `warmOps` inside set-up, the rest timed).
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  val tracer: Tracer = new Tracer(spark.sparkContext)

  /** Make the inputs and register what the ops read. */
  def setup(): Unit
  /** Run op `i` and consume its result; returns the input units it
    * processed (rows, queries or documents).
    */
  def op(i: Int): Long
  /** Output checks, run once after the timed ops; returns mismatches. */
  def check(): Seq[String]
  /** Input sizes, for the recorded environment. */
  def info: Map[String, Any]
  /** The kind of op `i`: ops of one kind do the same work, so a traced
    * op is compared with untraced ops of its own kind.
    */
  def kind(i: Int): String = "op"

  /** RDD ids of the registered serving mart, which is meant to stay. */
  protected def servingRdds: Set[Int] = Set.empty

  private var blocksAfterOp = 0.0

  /** Cached blocks (persisted frames and checkpoints) left after an
    * op, before the release sweep, outside the serving mart.
    */
  def recordBlocks(): Unit = {
    val keep = servingRdds
    blocksAfterOp = spark.sparkContext.getRDDStorageInfo
      .filterNot(r => keep(r.id)).map(_.numCachedPartitions).sum.toDouble
  }

  /** Per-layer samples of traced op `i`, taken outside its span walls. */
  def layerSamples(i: Int): Seq[(String, Double)] =
    Seq("cacheregistry.blocks_after_op" -> blocksAfterOp)
}

/** How to build a workload and how many ops a run takes. The timed op
  * count is `seconds × opsPerSecond` (at least `minOps`): fixed for a
  * given run length, so every run does the same work.
  */
final case class Spec(make: Ctx => Workload, warmOps: Int, minOps: Int,
    opsPerSecond: Double, unit: String)

object Workload {
  val specs: Map[String, Spec] = Map(
    "etl_cycle" -> Spec(new EtlCycle(_), warmOps = 1, minOps = 8,
      opsPerSecond = 0.8, unit = "grid rows"),
    "dashboard" -> Spec(new Dashboard(_), warmOps = 7, minOps = 56,
      opsPerSecond = 5.6, unit = "queries"),
    "curate" -> Spec(new Curate(_), warmOps = 1, minOps = 3,
      opsPerSecond = 0.3, unit = "documents"))

  def spec(name: String): Spec = specs.getOrElse(name, {
    System.err.println(s"unknown workload $name (have ${specs.keys.toSeq.sorted.mkString(", ")})")
    sys.exit(2)
  })
}
