package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Dev CLI over `SparkEntry.queries`:
  *  - `rows` runs the named queries (all when none are named) and
  *    prints row count and wall;
  *  - `plans` prints each query's formatted physical plan, or with
  *    `--out <dir> <suffix>` writes it to `<dir>/<name>_<suffix>.txt`
  *    (the `plans/` evidence files);
  *  - `jobs` runs ONE query with the noop sink `passes` times and prints
  *    a per-Spark-job wall breakdown (job id, duration, tasks, job
  *    tags, description), so multi-job operators (the closure loop,
  *    streaming gates, iterative trainers) are attributable job by job;
  *    an iterative kernel's jobs carry `graft.<kernel>.round.<r>`.
  */
object Dev {
  private val Usage =
    """usage: runMain graft.Dev rows  <sfDir> [query ...]
      |       runMain graft.Dev plans <sfDir> [query ...] [--out <dir> <suffix>]
      |       runMain graft.Dev jobs  <sfDir> <query> [passes]""".stripMargin

  private def usage(): Nothing = {
    System.err.println(Usage)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "rows" :: sfDir :: names => rows(sfDir, names)
    case "plans" :: sfDir :: rest =>
      rest.indexOf("--out") match {
        case -1 => plans(sfDir, rest, None)
        case i => rest.drop(i + 1) match {
          case dir :: suffix :: Nil => plans(sfDir, rest.take(i), Some((dir, suffix)))
          case _ => usage()
        }
      }
    case "jobs" :: sfDir :: name :: rest =>
      val passes = rest match {
        case Nil => 1
        case p :: Nil => p.toIntOption.filter(_ >= 1).getOrElse(usage())
        case _ => usage()
      }
      jobs(sfDir, name, passes)
    case _ => usage()
  }

  /** Runs `body` on each selected query in name order; a failure is
    * printed and the loop goes on. Releases between queries.
    */
  private def eachQuery(tag: String, names: Seq[String], logLevel: String)(
      body: (org.apache.spark.sql.SparkSession, String, Harness.Query) => Unit): Unit = {
    val selected = Harness.select(names).sortBy(_._1)
    val spark = Harness.session(logLevel)
    try selected.foreach { case (name, fn) =>
      try body(spark, name, fn)
      catch { case NonFatal(e) =>
        println(s"[$tag] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      Harness.release(spark)
    } finally spark.stop()
  }

  private def rows(sfDir: String, names: Seq[String]): Unit =
    eachQuery("rows", names, "WARN") { (spark, name, fn) =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[rows] $name%-20s rows=$n%-8d ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

  private def plans(sfDir: String, names: Seq[String],
      out: Option[(String, String)]): Unit = {
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    eachQuery("plans", names, "ERROR") { (spark, name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      out match {
        case None => println(s"[plans] $name\n$plan")
        case Some((dir, suffix)) =>
          val path = Paths.get(dir, s"${name}_$suffix.txt")
          Files.writeString(path, plan)
          println(s"[plans] wrote $path")
      }
    }
  }

  private def jobs(sfDir: String, name: String, passes: Int): Unit = {
    val fn = Harness.select(Seq(name)).head._2
    val spark = Harness.session("ERROR")
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String, Int)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(key: String) = Option(j.properties.getProperty(key)).getOrElse("")
        started.put(j.jobId, (System.nanoTime(),
          f"${prop("spark.job.tags")}%-28s ${prop("spark.job.description")}",
          j.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        // remove, don't just read: a multi-pass run otherwise grows the
        // map without bound (ADVICE r14)
        val st = started.remove(j.jobId)
        if (st != null)
          done.add((j.jobId, (System.nanoTime() - st._1) / 1e9, st._2, st._3))
      }
    })
    try (1 to passes).foreach { p =>
      done.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftx.bridge.waitListenerBusEmpty(spark.sparkContext)
      Harness.release(spark)
      println(f"[jobs] $name pass=$p wall=$wall%.2fs jobs=${done.size}")
      done.asScala.toSeq.sortBy(_._1).foreach { case (id, dur, desc, tasks) =>
        println(f"[jobs]   job=$id%-4d ${dur}%8.3fs tasks=$tasks%-5d $desc")
      }
    } finally spark.stop()
  }
}
