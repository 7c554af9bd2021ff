package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, LinkGraph, TrainingData}

/** Seeded training-data corpus: documents over a uniform 50k-word
  * vocabulary with planted near-duplicate clusters, plus a Zipfian link
  * graph between them. A uniform vocabulary keeps fingerprint doc
  * frequencies web-like: the generator's own 36-word page vocabulary makes
  * every shingle a hub, and winnow/LSH pair counts explode. */
object CorpusGen {
  val Vocab = 50000
  /** Share of documents that are planted copies of an earlier document. */
  val DupShare = 0.06
  val Langs = Array("en", "en", "en", "en", "en", "en", "de", "fr", "es", "zh")

  def word(j: Int): String = {
    var h = Util.mix64(0x5bd1e995L ^ j)
    val len = 3 + (h & 7).toInt
    val sb = new StringBuilder(len)
    var k = 0
    while (k < len) { h = Util.mix64(h); sb += ('a' + (h >>> 33) % 26).toChar; k += 1 }
    sb.toString
  }

  private def h(seed: Long, i: Long, salt: Long): Long =
    Util.mix64(seed * 0x9e3779b97f4a7c15L ^ i * 0xd6e8feb86659fd93L ^ salt)

  /** Source document of planted duplicate i (always a lower id), or -1. */
  def dupOf(seed: Long, i: Long): Long =
    if (i >= 64 && Util.unit(h(seed, i, 1)) < DupShare) i - 1 - (h(seed, i, 2) >>> 1) % 63
    else -1L

  private def fresh(seed: Long, i: Long): Array[String] = {
    val n = 60 + ((h(seed, i, 3) >>> 1) % 100).toInt
    Array.tabulate(n)(k => word(((h(seed, i, 100 + k) >>> 1) % Vocab).toInt))
  }

  /** Words of document i: fresh text, or its source's words with a few
    * substitutions (a quarter of the copies are exact). */
  def words(seed: Long, i: Long): Array[String] = {
    val src = dupOf(seed, i)
    if (src < 0) fresh(seed, i)
    else {
      val w = words(seed, src).clone()
      if (Util.unit(h(seed, i, 4)) >= 0.25) {
        val subs = 1 + w.length / 40
        (0 until subs).foreach { k =>
          val pos = ((h(seed, i, 200 + k) >>> 1) % w.length).toInt
          w(pos) = word(((h(seed, i, 300 + k) >>> 1) % Vocab).toInt)
        }
      }
      w
    }
  }

  def docs(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 8).as[Long].map { i =>
      (i, words(seed, i).mkString(" "), Langs(((h(seed, i, 5) >>> 1) % Langs.length).toInt),
        dupOf(seed, i) >= 0)
    }.toDF("doc_id", "text", "lang", "planted_dup")
  }

  def url(i: Long): String = s"https://c${i % 97}.example.org/d$i"

  /** 3–12 out-links per document; targets are log-uniform over ids, so
    * low ids become hubs (in-degree ~ n / rank). */
  def edges(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 8).as[Long].flatMap { i =>
      val deg = 3 + ((h(seed, i, 6) >>> 1) % 10).toInt
      (0 until deg).map { k =>
        val z = (math.exp(Util.unit(h(seed, i, 400 + k)) * math.log(n.toDouble + 1)) - 1).toLong
        (url(i), url(math.min(z, n - 1)))
      }
    }.toDF("src_url", "dst_url")
  }
}

/** The training-data chain `TrainingData.prepare` → `Dedup.nearDupDropList`
  * → `Dedup.winnowOverlap` (with `q_winnow_overlap`'s parameters) →
  * `LinkGraph.pageRank` over a seeded corpus, each stage forced by its own
  * action. It is not a timed workload (see README "Deviations"); its
  * `graft.ops` layers are measured once per traced `recrawl_delta` run. */
final class CorpusChain(seed: Long, val Docs: Long = 2000L) {
  private var docsPath = ""
  private var edgesPath = ""
  private var planted = Set.empty[Long]
  private var nodes = 0L

  def setup(spark: SparkSession, dir: String): Unit = {
    docsPath = s"$dir/documents"
    edgesPath = s"$dir/links"
    CorpusGen.docs(spark, seed, Docs).write.mode("overwrite").parquet(docsPath)
    CorpusGen.edges(spark, seed, Docs).write.mode("overwrite").parquet(edgesPath)
    planted = spark.read.parquet(docsPath).filter(col("planted_dup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val simple = spark.read.parquet(edgesPath).filter(col("src_url") =!= col("dst_url"))
    nodes = simple.select(col("src_url").as("u"))
      .union(simple.select(col("dst_url").as("u"))).distinct().count()
  }

  private def documents(spark: SparkSession): DataFrame =
    spark.read.parquet(docsPath).select("doc_id", "text", "lang")

  /** Runs the chain, timing each stage into `times`; returns "" when every
    * output check passes, else a description of the mismatch. */
  def chain(spark: SparkSession, out: String, ctx: Ctx,
            times: mutable.Map[String, Double]): (String, Long) = {
    def stage[A](nm: String)(f: => A): A = {
      val (r, t) = Util.secs(ctx.call(spark, s"ops.$nm")(f))
      times(nm) = t
      r
    }
    val kept = s"$out/kept"
    val nKept = stage("prepare") {
      val prepared = TrainingData.prepare(documents(spark))
      documents(spark).join(prepared.filter(col("kept")).select("doc_id"), "doc_id")
        .write.mode("overwrite").parquet(kept)
      spark.read.parquet(kept).count()
    }
    val keptDocs = spark.read.parquet(kept)
    val drops = stage("neardup") {
      Dedup.nearDupDropList(keptDocs, "doc_id", "text",
        numPerm = 32, bands = 16, minJaccard = 0.7)
        .select("drop_id").collect().map(_.getLong(0))
    }
    val pairs = stage("winnow") {
      Dedup.winnowOverlap(keptDocs, "doc_id", "text", maxDocFreq = 200L, minShared = 4L).count()
    }
    val pr = stage("pagerank") {
      LinkGraph.pageRank(spark.read.parquet(edgesPath))
        .agg(count(lit(1)), sum(col("rank"))).head()
    }
    Util.rmrf(new java.io.File(out))
    val notPlanted = drops.filterNot(planted.contains)
    val bad =
      if (nKept <= 0 || nKept > Docs) s"prepare kept $nKept of $Docs"
      else if (drops.isEmpty) "near-dup dropped nothing"
      else if (notPlanted.nonEmpty) s"dropped ${notPlanted.length} unplanted ids, e.g. ${notPlanted.head}"
      else if (pr.getLong(0) != nodes) s"pagerank nodes ${pr.getLong(0)} != $nodes"
      else if (math.abs(pr.getDouble(1) - 1.0) > 1e-6) s"pagerank mass ${pr.getDouble(1)}"
      else ""
    (bad, pairs)
  }

  /** Warm-up chain over a small corpus of another seed, then the chain and
    * the near-dup ladder (candidates; candidates + verification) on this
    * corpus. `ops.chain_mismatches` is 1 when an output check failed. */
  def measure(spark: SparkSession, ctx: Ctx, dir: String): Map[String, Double] = {
    val warm = new CorpusChain(seed + 0x100000L, 300L)
    warm.setup(spark, s"$dir/warm")
    warm.chain(spark, s"$dir/warm/out", ctx, mutable.Map.empty)
    setup(spark, dir)
    val times = mutable.Map.empty[String, Double]
    val (bad, pairs) = chain(spark, s"$dir/out", ctx, times)
    if (bad.nonEmpty) System.err.println(s"[graftbench] corpus chain check: $bad")
    val docs = documents(spark)
    def step[A](tag: String)(f: => A): (A, Double) =
      Util.secs(ctx.call(spark, s"ops.$tag")(f))
    val (cands, candS) = step("lsh_candidates") {
      Dedup.lshCandidatePairs(docs, "doc_id", "text", numPerm = 32, bands = 16).count()
    }
    val (verified, verifyS) = step("verify") {
      Dedup.verifyJaccard(Dedup.lshCandidatePairs(docs, "doc_id", "text",
          numPerm = 32, bands = 16), docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.7).count()
    }
    Map(
      "ops.prepare_s" -> times("prepare"),
      "ops.lsh_candidates_s" -> candS,
      "ops.lsh_candidates" -> cands.toDouble,
      "ops.verify_s" -> verifyS,
      "ops.lsh_verified_ratio" -> (if (cands == 0) 0.0 else verified.toDouble / cands),
      "ops.components_s" -> times("neardup"),
      "ops.winnow_s" -> times("winnow"),
      "ops.winnow_pairs" -> pairs.toDouble,
      "ops.pagerank_s" -> times("pagerank"),
      "ops.chain_mismatches" -> (if (bad.isEmpty) 0.0 else 1.0))
  }
}

object CorpusChain {
  val Names: Seq[String] = Seq("ops.prepare_s", "ops.lsh_candidates_s",
    "ops.lsh_candidates", "ops.verify_s", "ops.lsh_verified_ratio",
    "ops.components_s", "ops.winnow_s", "ops.winnow_pairs", "ops.pagerank_s",
    "ops.chain_mismatches")
}
