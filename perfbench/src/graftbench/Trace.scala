package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded from outside the library: each span wraps one call
  * into a module's public function. A span sets a Spark job group
  * (an inherited thread-local, so jobs from the operator's own driver
  * threads carry it too) and [[Listener]] attributes every job, and
  * every task of its stages, to the span whose id is that group.
  *
  * Spans live in memory and are written out once at exit. Timestamps
  * are epoch milliseconds with sub-millisecond resolution (a nanoTime
  * offset from one epoch anchor), so they share a clock with Spark's
  * job start/end times, which are whole epoch milliseconds.
  */
final class Span(val id: Long, val name: String, val parent: Long,
    val op: Int, val start: Double) {
  var end: Double = Double.NaN
  def ms: Double = end - start
  // counters, written by the listener thread
  var jobs = 0
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

final class Tracer(sc: SparkContext) {
  private val anchorEpochMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private def now(): Double = anchorEpochMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private var nextId = 1L
  private var current: Option[Span] = None
  private var active = false
  def tracing: Boolean = active
  private var currentOp = -1
  private val listener = new Listener

  /** Trace the ops that follow until [[stop]]. The listener is on the
    * bus only while tracing, so untraced ops pay nothing for it.
    */
  def start(op: Int): Unit = {
    active = true
    currentOp = op
    sc.addSparkListener(listener)
  }

  /** Stop tracing; waits for the listener bus to deliver the traced
    * ops' events first, so no counter is lost.
    */
  def stop(): Unit = if (active) {
    org.apache.spark.BenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    active = false
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val s = synchronized {
        val sp = new Span(nextId, name, current.map(_.id).getOrElse(0L),
          currentOp, now())
        nextId += 1
        spans += sp
        byId(sp.id) = sp
        sp
      }
      val outer = current
      current = Some(s)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.end = now()
        current = outer
        outer match {
          case Some(o) => sc.setJobGroup(o.id.toString, o.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wall of `s` not covered by any job of `s` or its descendants. */
  def driverGapMs(s: Span): Double = {
    val ivs = (s +: descendants(s)).flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a.toDouble, s.start), math.min(b.toDouble, s.end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    ivs.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, s.ms - covered)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def descendants(s: Span): Seq[Span] =
    children(s).flatMap(c => c +: descendants(c))
  /** Span wall minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = s.ms - children(s).map(_.ms).sum

  private def innermostAt(t: Long): Option[Span] =
    spans.filter(s => s.start <= t && (s.end.isNaN || s.end >= t))
      .maxByOption(_.start)

  private class Listener extends SparkListener {
    private val jobSpan = mutable.HashMap.empty[Int, Span]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private val stageSpan = mutable.HashMap.empty[Int, Span]

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group: Option[String] = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      // Spark sets its own group on some internal jobs (broadcast
      // exchanges run under a per-broadcast group); those go to the
      // innermost span that was open when the job started
      group.flatMap(_.toLongOption).flatMap(byId.get(_))
        .orElse(innermostAt(e.time)).foreach { s =>
        s.jobs += 1
        jobSpan(e.jobId) = s
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { s =>
        s.jobIntervals += ((jobStart.remove(e.jobId).get, e.time))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.execRunMs += m.executorRunTime
        s.execCpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
