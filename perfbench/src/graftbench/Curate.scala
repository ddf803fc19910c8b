package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.PipelineOps
import graft.sources.Schemas.Document

/** Corpus curation, the LLM-pipeline user's job: op i runs the five
  * stage PipelineOps.curate chain on document shard i against that
  * shard's fixed eval set (doc_id % 20 = 0, the rule the library's
  * oracle query uses). Shards have fixed shares of low-quality,
  * repetitive, exact-duplicate and contaminated documents, and of
  * near-duplicate chains whose links are above the Jaccard threshold
  * while their ends are below it, so the closure needs several rounds.
  *
  * Survivors are checked after the timed ops against the DuckDB mirror
  * of the library's `pipeline_curate` oracle SQL, by the launcher:
  * this class writes the shards, the survivors and the SQL under
  * `check/`.
  */
final class Curate(c: Ctx) extends Workload(c) {
  import Curate._

  private val shards = new File(c.ws, "shards")
  private val survivors = new Array[Seq[Row]](c.nOps)

  def setup(): Unit = {
    (0 until c.nOps).foreach { i =>
      val docs = Docs.shard(new scala.util.Random(c.seed * 1000003L + i), i.toLong * ShardDocs)
      spark.createDataFrame(docs).coalesce(1).write.parquet(shardPath(i))
    }
  }

  private def shardPath(i: Int): String = new File(shards, s"shard=$i").getPath

  def op(i: Int): Long = {
    val docs = spark.read.parquet(shardPath(i))
    survivors(i) = tracer.span("pipelineops.curate") {
      PipelineOps.curate(docs, docs.filter(pmod(col("doc_id"), lit(20)) === 0))
        .collect().toSeq
    }
    ShardDocs.toLong
  }

  def check(): Seq[String] = {
    val dir = new File(c.ws, "check")
    dir.mkdirs()
    Files.writeString(new File(dir, "oracle.sql").toPath,
      graft.SparkEntry.oracleSql("pipeline_curate"))
    val done = survivors.indices.filter(survivors(_) != null)
    done.foreach { i =>
      val lines = survivors(i).map(r =>
        Seq(r.getAs[Long]("doc_id"), r.getAs[String]("source"),
          r.getAs[Long]("n_chars"), r.getAs[String]("split")).mkString(","))
      Files.writeString(new File(dir, s"survivors-$i.csv").toPath,
        lines.sorted.mkString("", "\n", "\n"))
    }
    Files.writeString(new File(dir, "shards.txt").toPath,
      done.map(i => s"$i\t${shardPath(i)}").mkString("", "\n", "\n"))
    done.collect { case i if survivors(i).isEmpty || survivors(i).size >= ShardDocs =>
      s"shard $i: ${survivors(i).size} survivors of $ShardDocs"
    }
  }

  def info: Map[String, Any] = Map(
    "shard_docs" -> ShardDocs, "shards" -> c.nOps,
    "chain_depth" -> Docs.ChainDepth, "near_dup_share" -> Docs.ChainShare)
}

object Curate {
  val ShardDocs = 250
}

/** Seeded document generator. Tokens are made-up lowercase words that
  * are never stop words; every doc's tokens are distinct unless the
  * doc is meant to fail a gate.
  */
object Docs {
  val ChainDepth = 5
  val ChainShare = 0.4
  val ExactShare = 0.1
  val LowQualityShare = 0.1
  val RepetitiveShare = 0.05
  val ContaminatedShare = 0.05
  val Sources = 8
  private val ChainTokens = 20
  private val Syllables = Seq("ka", "lo", "mi", "nu", "pe", "ri", "sa", "tu",
    "vo", "ze", "bi", "da", "fu", "go", "he", "ju")
  private val Stop = Seq("the", "a", "and", "of", "to")

  private def word(n: Int): String = {
    // at least three syllables, so never a stop word
    val sb = new StringBuilder
    var x = n
    for (_ <- 0 until 3) { sb ++= Syllables(x % 16); x /= 16 }
    while (x > 0) { sb ++= Syllables(x % 16); x /= 16 }
    sb.toString
  }

  /** `distinct` fresh distinct tokens. */
  private def tokens(rnd: scala.util.Random, distinct: Int): IndexedSeq[String] =
    Iterator.continually(word(rnd.nextInt(1 << 16))).distinct.take(distinct).toIndexedSeq

  /** One shard of `ShardDocs` documents, ids from `firstId`. */
  def shard(rnd: scala.util.Random, firstId: Long): Seq[Document] = {
    val n = Curate.ShardDocs
    val slots = rnd.shuffle((0 until n).toIndexedSeq)
    val nChainDocs = (n * ChainShare).toInt / ChainDepth * ChainDepth
    val text = new Array[String](n)
    val source = new Array[Int](n)
    // near-dup chains: link k replaces two more of the root's tokens, so
    // neighbours have Jaccard 18/22 and docs two links apart 16/24;
    // doc ids ascend along the chain, so the minimum label travels
    // the whole chain
    slots.take(nChainDocs).grouped(ChainDepth).foreach { g =>
      val ids = g.sorted
      val src = rnd.nextInt(Sources)
      val cur = tokens(rnd, ChainTokens).toArray
      ids.zipWithIndex.foreach { case (id, k) =>
        if (k > 0) {
          val fresh = tokens(rnd, 2)
          cur(2 * (k - 1)) = fresh(0)
          cur(2 * (k - 1) + 1) = fresh(1)
        }
        text(id) = cur.mkString(" ")
        source(id) = src
      }
    }
    val rest = slots.drop(nChainDocs)
    def count(share: Double) = (n * share).toInt
    val special = Seq.fill(count(ExactShare))("exact") ++
      Seq.fill(count(LowQualityShare))("lowq") ++ Seq.fill(count(RepetitiveShare))("rep") ++
      Seq.fill(count(ContaminatedShare))("contam")
    val kinds = rnd.shuffle(special ++ Seq.fill(rest.size - special.size)("base"))
    val kindOf = rest.zip(kinds).toMap
    // the eval set is global doc_id % 20 = 0, as in the op and the oracle
    def isEval(local: Int): Boolean = (firstId + local) % 20 == 0
    // fill in id order, so copies refer to docs made before them
    for (id <- 0 until n if text(id) == null) {
      source(id) = rnd.nextInt(Sources)
      val earlier = (0 until id).filter(j => kindOf.get(j).contains("base"))
      text(id) = kindOf(id) match {
        case "exact" if earlier.nonEmpty => text(earlier(rnd.nextInt(earlier.size)))
        case "contam" if earlier.exists(isEval) =>
          val evalDocs = earlier.filter(isEval)
          text(evalDocs(rnd.nextInt(evalDocs.size))) + " " + tokens(rnd, 3).mkString(" ")
        case "lowq" if rnd.nextBoolean() => tokens(rnd, 3).mkString(" ")
        case "lowq" =>
          (tokens(rnd, 8) ++ Seq.fill(12)(Stop(rnd.nextInt(Stop.size)))).mkString(" ")
        case "rep" =>
          val t = tokens(rnd, 4)
          Seq.fill(8)(t).flatten.mkString(" ")
        case _ => tokens(rnd, 20 + rnd.nextInt(30)).mkString(" ")
      }
    }
    (0 until n).map { id =>
      Document(firstId + id, text(id), "en", s"src${source(id)}", text(id).length.toLong)
    }
  }
}
