package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop client thread in one JVM: set up (several times,
  * for a steady setup_s median), run a fixed number of ops back to
  * back, then check the outputs. Prints the environment and the
  * result as the last two lines of standard output.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <k> <workDir> <outDir>
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    if (args.length != 7) {
      System.err.println(
        "usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <k> <workDir> <outDir>")
      sys.exit(2)
    }
    val Array(workload, seedS, secondsS, traceS, kS, workDir, outDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val k = kS.toInt
    val spec = Workload.spec(workload)
    val untracedOps = math.max(spec.minOps, math.round(seconds * spec.opsPerSecond).toInt)
    // a traced run traces every other op of each kind; an even count of
    // at least four leaves two or more untraced ops to compare against
    val timedOps = if (trace) math.max(4, untracedOps + untracedOps % 2) else untracedOps
    val nOps = spec.warmOps + timedOps

    // set-up, repeated; the last repetition's session runs the ops
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    var ws: File = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      ws = new File(workDir, s"rep$rep")
      deleteTree(ws.toPath)
      ws.mkdirs()
      val t0 = System.nanoTime()
      spark = graft.GraftSession.create(s"local[$k]", k, "graftbench")
      wl = spec.make(Ctx(spark, ws, seed, nOps))
      wl.setup()
      for (i <- 0 until spec.warmOps) runOp(wl, i, traced = false)
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"graftbench: set-up ${rep + 1} of $SetupReps took ${setupS.last}%.2f s")
    }

    val tracer = wl.tracer
    System.gc() // settle set-up garbage; never inside a timed region

    val walls = new Array[Double](timedOps)
    val failed = new Array[Boolean](timedOps)
    var units = 0L
    // per op kind: (traced ops, traced ms, untraced ops, untraced ms)
    val byKind = mutable.LinkedHashMap.empty[String, Array[Double]]
    val samples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val loopStart = System.nanoTime()
    for (j <- 0 until timedOps) {
      val i = spec.warmOps + j
      // traced runs alternate traced and untraced ops within each op
      // kind, so the tracing overhead compares ops that do the same work
      val kind = byKind.getOrElseUpdate(wl.kind(i), new Array[Double](4))
      val traced = trace && kind(0) == kind(2)
      if (traced) tracer.start(i)
      val t0 = System.nanoTime()
      val r = runOp(wl, i, traced)
      val wallMs = (System.nanoTime() - t0) / 1e6
      if (traced) tracer.stop()
      walls(j) = wallMs
      failed(j) = r.isEmpty
      val u = r.getOrElse(0L)
      units += u
      val side = if (traced) 0 else 2
      kind(side) += 1
      kind(side + 1) += wallMs
      if (traced) wl.layerSamples(i).foreach { case (key, v) =>
        samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
      }
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    System.err.println(f"graftbench: $timedOps ops took $loopS%.2f s")
    val peakRssMb = vmHwmKb() / 1024.0

    val problems =
      try wl.check()
      catch { case e: Exception => Seq(s"check threw $e") }
    problems.foreach(p => System.err.println(s"check failed: $p"))

    // a failed op misses every latency limit
    val latencies = walls.indices.map(j =>
      if (failed(j)) Double.PositiveInfinity else walls(j)).sorted
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (median(setupS.toSeq), "s")
      metrics("throughput_per_s") = (units / loopS, "1/s")
      metrics("op_p50_ms") = (finite(percentile(latencies, 50)), "ms")
      metrics("peak_rss_mb") = (peakRssMb, "MB")
    } else {
      layerMetrics(tracer).foreach { case (n, v) => metrics(n) = v }
      Layer.Samples.foreach { key =>
        metrics(key) = (mean(samples.get(key).map(_.toSeq).getOrElse(Seq.empty)), Layer.unitOf(key))
      }
      metrics("trace.throughput_ratio") = (traceThroughputRatio(byKind.values.toSeq), "ratio")
      writeSpans(tracer, new File(outDir, s"spans-$workload-seed$seed.json"))
    }

    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "k" -> k, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      // setup_s is the median of the set-ups, so a warm-JVM figure; the
      // first, cold one is recorded here
      "setup_reps" -> SetupReps, "setup_cold_s" -> setupS.head,
      "setup_s_each" -> setupS.toSeq,
      "warm_ops" -> spec.warmOps, "timed_ops" -> timedOps,
      "timed_wall_s" -> loopS, "input_units" -> units, "unit" -> spec.unit,
      "samples" -> Map("setup_s" -> SetupReps, "op_ms" -> failed.count(!_)),
      // a tail is a gated metric only with ten samples beyond it, which
      // no run affords; these are for reading, with their sample count
      "op_ms_tail" -> Map("p90" -> finite(percentile(latencies, 90)),
        "p99" -> finite(percentile(latencies, 99)), "max" -> finite(latencies.last)),
      "inputs" -> wl.info, "workspace" -> ws.getPath)
    if (trace) env("trace_samples") = byKind.map { case (k, a) =>
      k -> Map("traced" -> a(0).toInt, "traced_mean_ms" -> a(1) / a(0),
        "untraced" -> a(2).toInt, "untraced_mean_ms" -> a(3) / a(2))
    }
    println("env " + Json(env))
    println(Json(mutable.LinkedHashMap[String, Any](
      "correct" -> problems.isEmpty,
      "attempted" -> timedOps,
      "failed" -> failed.count(identity),
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      })))
    spark.stop()
  }

  /** One op plus the release sweep every caller of the library runs
    * after consuming a result (the sweep is part of the op's cost).
    * None when the op threw.
    */
  private def runOp(wl: Workload, i: Int, traced: Boolean): Option[Long] =
    try {
      val u = wl.tracer.span("op")(wl.op(i))
      if (traced) wl.recordBlocks()
      graft.CacheRegistry.unpersistAll()
      Some(u)
    } catch {
      case e: Exception =>
        System.err.println(s"op $i failed: $e")
        e.printStackTrace()
        None
    }

  /** Traced over untraced throughput for the run's own op mix: each
    * kind's ops weighted by their count, at the kind's mean traced and
    * mean untraced wall. Kinds without both sides are left out. An op
    * kind has the same input units in every op, so the wall ratio is
    * the throughput ratio.
    */
  private def traceThroughputRatio(kinds: Seq[Array[Double]]): Double = {
    val both = kinds.filter(a => a(0) > 0 && a(2) > 0)
    val untraced = both.map(a => (a(0) + a(2)) * a(3) / a(2)).sum
    val traced = both.map(a => (a(0) + a(2)) * a(1) / a(0)).sum
    untraced / traced
  }

  /** Per-span medians over the traced ops; a span the workload does
    * not run reads as zero work.
    */
  private def layerMetrics(t: Tracer): Seq[(String, (Double, String))] =
    Layer.Spans.flatMap { name =>
      val ss = t.spans.filter(_.name == name).toSeq
      def med(f: Span => Double): Double = if (ss.isEmpty) 0.0 else median(ss.map(f))
      Seq(
        s"$name.ms" -> (med(_.ms), "ms"),
        s"$name.jobs" -> (med(_.jobs.toDouble), "count"),
        s"$name.tasks" -> (med(_.tasks.toDouble), "count"),
        s"$name.exec_run_ms" -> (med(_.execRunMs.toDouble), "ms"),
        s"$name.exec_cpu_ms" -> (med(_.execCpuNs / 1e6), "ms"),
        s"$name.driver_gap_ms" -> (med(t.driverGapMs), "ms"),
        s"$name.shuffle_write_bytes" -> (med(_.shuffleWriteBytes.toDouble), "bytes"),
        s"$name.shuffle_read_bytes" -> (med(_.shuffleReadBytes.toDouble), "bytes"),
        s"$name.spill_bytes" -> (med(_.spillBytes.toDouble), "bytes"),
        s"$name.gc_ms" -> (med(_.gcMs.toDouble), "ms"))
    } ++ {
      val ops = t.spans.filter(_.name == "op").toSeq
      Seq("op.ms" -> (median(ops.map(_.ms)), "ms"),
        "op.self_ms" -> (median(ops.map(t.selfMs)), "ms"))
    }

  private def writeSpans(t: Tracer, f: File): Unit = {
    f.getParentFile.mkdirs()
    val rows = t.spans.map { s =>
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "ms" -> s.ms,
        "self_ms" -> t.selfMs(s), "driver_gap_ms" -> t.driverGapMs(s),
        "jobs" -> s.jobs, "tasks" -> s.tasks, "exec_run_ms" -> s.execRunMs,
        "exec_cpu_ms" -> s.execCpuNs / 1e6,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "spill_bytes" -> s.spillBytes, "gc_ms" -> s.gcMs,
        "output_bytes" -> s.outputBytes)
    }
    Files.writeString(f.toPath, Json(rows.toSeq) + "\n")
  }

  def vmHwmKb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble
  }

  def median(xs: Seq[Double]): Double = percentile(xs.sorted, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def finite(x: Double): Double = if (x.isInfinite) 1e12 else x

  /** Linear interpolation between closest ranks; `sorted` ascending. */
  def percentile(sorted: Seq[Double], p: Double): Double = {
    if (sorted.isEmpty) return Double.NaN
    val pos = (sorted.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    if (sorted(hi).isInfinite) sorted(hi)
    else sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p)
      try it.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
      finally it.close()
    }
}

/** Layer names, shared by every workload so each traced run prints
  * the same metric set.
  */
object Layer {
  val Spans: Seq[String] = Seq(
    "agriops.hourly_write", "sources.upsert", "serving.refresh",
    "serving.keys", "serving.range", "serving.wide", "serving.kpi",
    "pipelineops.curate")
  val Samples: Seq[String] = Seq(
    "sources.bytes_written_per_input_byte", "serving.cache_scan_ratio",
    "cacheregistry.blocks_after_op")
  def unitOf(sample: String): String = sample match {
    case "cacheregistry.blocks_after_op" => "count"
    case _ => "ratio"
  }
}

/** Minimal JSON writer for the result lines and the span dump. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
