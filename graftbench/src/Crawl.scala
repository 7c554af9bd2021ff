package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Extract, PageRow}

/** `crawl_fresh`: `Extract.run` over a seeded pages table into a fresh
  * output directory, no previous snapshot. */
final class CrawlFresh(seed: Long) extends Workload {
  val name = "crawl_fresh"
  val primary = "fresh"
  val iterationSeconds = 3.3
  /** Base urls per table (10% more rows: the second captures). */
  val Urls = 3500L
  private var pagesPath = ""
  private var rows = 0L
  private var expected = Seq.empty[OutputCheck.Expect]

  val layerNames: Seq[String] = Kernel.Names ++ Ladder.Names

  def setup(spark: SparkSession, dir: String): Unit = {
    pagesPath = s"$dir/pages"
    PagesInput.write(spark, pagesPath, seed, Urls, recrawl = false)
    rows = spark.read.parquet(pagesPath).count()
    expected = OutputCheck.expect(PagesInput.sample(seed, Urls, 12).map(PagesInput.latest))
  }

  def warm(spark: SparkSession, dir: String): Unit = Warm.run(spark, dir, seed)

  def iteration(spark: SparkSession, k: Int, ctx: Ctx): Seq[Op] = {
    val out = ctx.freshDir("fresh")
    val pages = PagesInput.read(spark, pagesPath)
    var summary: Extract.RunSummary = null
    val op = Op.attempt(primary, rows) {
      summary = ctx.call(spark, "loop.fresh")(Extract.run(spark, pages, out, runId = s"fresh-$k"))
      ""
    }
    // checks run after the timed call
    val bad =
      if (op.threw) ""
      else if (summary.docs != Urls || summary.failures != 0)
        s"summary docs=${summary.docs} failures=${summary.failures}"
      else OutputCheck.docsClean(spark, out, Urls, expected)
    Util.rmrf(new java.io.File(out))
    Seq(if (bad.isEmpty) op else op.copy(checkFailed = true, note = bad))
  }

  def layers(spark: SparkSession, ctx: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val sample = PagesInput.sample(seed, Urls, 600).map(PagesInput.latest).toArray
    val kernel = ctx.tracer.span("kernel") { Kernel.measure(sample, 1.5, 2.0) }
    kernel ++ Ladder.measure(spark, ctx, PagesInput.read(spark, pagesPath), rows,
      kernel("kernel.docs_per_s_core"))
  }
}

/** Warm-up. The per-document kernel is much of the JIT work, so it is spun
  * on every core first; then small `Extract.run` calls warm the Spark-side
  * paths (planning and job code warm per call, not per row). Pages come
  * from another index range than the timed table's. */
object Warm {
  val Urls = 300L
  val Runs = 2
  val KernelSeconds = 3.0

  def kernel(seed: Long): Unit = {
    val from = PagesInput.base(seed + 0x100000L)
    val pages = (0L until 400L).flatMap(i => PagesInput.captures(from + i)).toArray
    val threads = (0 until Session.Cores).map { _ =>
      new Thread(() => {
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < KernelSeconds)
          pages.foreach(Extract.extractPage(_, Extract.DefaultBuckets))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  def run(spark: SparkSession, dir: String, seed: Long): Unit = {
    kernel(seed)
    val table = s"$dir/warm_pages"
    PagesInput.write(spark, table, seed + 0x100000L, Urls, recrawl = false)
    (1 to Runs).foreach { k =>
      Extract.run(spark, PagesInput.read(spark, table), s"$dir/warm_out$k", runId = "warm")
      Util.rmrf(new java.io.File(s"$dir/warm_out$k"))
    }
  }
}

/** The row ladder: each step stops one step later than the one before,
  * with a noop or count sink, so the difference between two steps prices
  * the step. The last step is the whole `Extract.run`, split into its
  * docs_clean write, concurrent sidecar jobs and ledger tail by the jobs
  * the listener saw. */
object Ladder {
  val Names: Seq[String] = Seq("pipeline.scan_s", "pipeline.dedup_s",
    "pipeline.map_s", "pipeline.encode_s", "pipeline.run_s",
    "pipeline.kernel_gap", "run.docs_clean_s", "run.sidecars_s",
    "run.ledger_s")

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, ctx: Ctx, pages: org.apache.spark.sql.Dataset[PageRow],
              rows: Long, kernelRate: Double): Map[String, Double] = {
    import spark.implicits._
    def step(tag: String)(f: => Unit): Double =
      Util.secs(ctx.call(spark, s"ladder.$tag")(f))._2
    val scan = step("scan")(noop(pages.toDF()))
    val dedup = step("dedup")(noop(Extract.latestPerUrl(pages).toDF()))
    var docs = 0L
    val map = step("map") {
      docs = Extract.extract(Extract.latestPerUrl(pages))
        .map(_.doc.parse_failed).count()
    }
    val encode = step("encode")(noop(Extract.extract(Extract.latestPerUrl(pages))
      .select(col("doc.*"), col("meta"), col("links"), col("anchors"))))
    val out = ctx.freshDir("ladder")
    val runStart = System.currentTimeMillis()
    val run = step("run")(Extract.run(spark, pages, out, runId = "ladder"))
    val runEnd = System.currentTimeMillis()
    Util.rmrf(new java.io.File(out))
    val phases = ctx.listener.map { l =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      runPhases(l, "ladder.run", runStart, runEnd)
    }.getOrElse(Map.empty)
    val mapRate = docs / map
    Map(
      "pipeline.scan_s" -> scan,
      "pipeline.dedup_s" -> dedup,
      "pipeline.map_s" -> map,
      "pipeline.encode_s" -> encode,
      "pipeline.run_s" -> run,
      "pipeline.kernel_gap" -> kernelRate * Session.Cores / mapRate) ++ phases
  }

  /** Splits one `Extract.run` call's wall time: docs_clean phase = call
    * start to the first sidecar job; sidecars = first sidecar job start to
    * the last sidecar job end; ledger = the rest. Sidecar jobs are the
    * ones `Extract.run` itself describes as "extract.run sidecar: …". */
  def runPhases(l: JobListener, tag: String, start: Long, end: Long): Map[String, Double] = {
    val jobs = l.jobsTagged(_ == tag)
    val side = jobs.filter(_.desc.startsWith("extract.run sidecar"))
    if (side.isEmpty) Map("run.docs_clean_s" -> (end - start) / 1e3,
      "run.sidecars_s" -> 0.0, "run.ledger_s" -> 0.0)
    else {
      val s0 = side.map(_.start).min
      val s1 = side.map(j => Option(l.jobEnd.get(j.id)).map(_.longValue).getOrElse(end)).max
      Map("run.docs_clean_s" -> (s0 - start) / 1e3,
        "run.sidecars_s" -> (s1 - s0) / 1e3,
        "run.ledger_s" -> (end - s1) / 1e3)
    }
  }
}

/** `recrawl_delta`: the next snapshot of the `crawl_fresh`-shaped table run
  * through `Extract.run(prevSnapshot = previous docs_clean)`, then the same
  * call resumed under the same run id, then a snapshot in which nothing
  * changed. */
final class RecrawlDelta(seed: Long) extends Workload {
  val name = "recrawl_delta"
  val primary = "delta"
  val iterationSeconds = 6.5
  val Urls = 2500L
  val ChangeShare = 0.05
  val NewUrls = 50L
  private var prevPath = ""
  private var deltaPath = ""
  private var sameP = ""
  private var deltaRows = 0L
  private var planted = 0L
  private var sameRows = 0L
  /** Buckets the last delta pass recorded as done — the resume pass skips them. */
  private var skipped = 0L

  val layerNames: Seq[String] = Seq("pipeline.changed_only_s",
    "recrawl.changed_ratio", "run.resume_s", "run.buckets_skipped",
    "run.nochange_s") ++ CorpusChain.Names

  def setup(spark: SparkSession, dir: String): Unit = {
    PagesInput.write(spark, s"$dir/snapshot0", seed, Urls, recrawl = false)
    deltaPath = s"$dir/snapshot1"
    PagesInput.write(spark, deltaPath, seed, Urls, recrawl = true,
      changeShare = ChangeShare, newUrls = NewUrls)
    sameP = s"$dir/snapshot1_same"
    PagesInput.write(spark, sameP, seed, Urls, recrawl = true)
    deltaRows = spark.read.parquet(deltaPath).count()
    sameRows = spark.read.parquet(sameP).count()
    planted = PagesInput.planted(spark, deltaPath)
  }

  /** The previous crawl's `Extract.run` — the input of every delta pass —
    * then one untimed iteration, so the first timed delta pass is not the
    * first call of its kind. */
  def warm(spark: SparkSession, dir: String): Unit = {
    prevPath = s"$dir/prev"
    Extract.run(spark, PagesInput.read(spark, s"$dir/snapshot0"), prevPath, runId = "prev")
    iteration(spark, -1, new Ctx(new Tracer(false), None, s"$dir/warm_runs"))
  }

  private def prev(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$prevPath/docs_clean")

  def iteration(spark: SparkSession, k: Int, ctx: Ctx): Seq[Op] = {
    val out = ctx.freshDir("delta")
    val runId = s"delta-$k"
    val pages = PagesInput.read(spark, deltaPath)
    var firstDocs = -1L
    val delta = Op.attempt(primary, deltaRows) {
      val s = ctx.call(spark, "loop.delta") {
        Extract.run(spark, pages, out, runId, prevSnapshot = Some(prev(spark)))
      }
      firstDocs = s.docs
      if (s.docs != planted || s.failures != 0)
        s"delta docs=${s.docs} failures=${s.failures} planted=$planted"
      else ""
    }
    val check = if (delta.threw) "" else OutputCheck.docsClean(spark, out, planted, Nil)
    if (!delta.threw) skipped = spark.read.parquet(s"$out/progress")
      .filter(col("run_id") === runId).select("url_bucket").distinct().count()
    // resume: same run id, same output dir — every bucket is in the ledger
    val resume = Op.attempt("resume", deltaRows) {
      val s = ctx.call(spark, "loop.resume") {
        Extract.run(spark, pages, out, runId, prevSnapshot = Some(prev(spark)))
      }
      if (s.docs != firstDocs) s"resume docs=${s.docs} first=$firstDocs" else ""
    }
    // the no-change snapshot, once per run (first iteration)
    val same = s"${out}_same"
    val nochange = if (k > 0) Nil else Seq(Op.attempt("nochange", sameRows) {
      val s = ctx.call(spark, "loop.nochange") {
        Extract.run(spark, PagesInput.read(spark, sameP), same, s"same-$k",
          prevSnapshot = Some(prev(spark)))
      }
      if (s.docs != 0) s"nochange docs=${s.docs}" else ""
    })
    Util.rmrf(new java.io.File(out))
    Util.rmrf(new java.io.File(same))
    Seq(if (check.isEmpty) delta else delta.copy(checkFailed = true, note = check),
      resume) ++ nochange
  }

  def layers(spark: SparkSession, ctx: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val pages = PagesInput.read(spark, deltaPath)
    val changed = Util.secs(ctx.call(spark, "ladder.changed_only") {
      Extract.changedOnly(Extract.latestPerUrl(pages), prev(spark))
        .toDF().write.format("noop").mode("overwrite").save()
    })._2
    def med(kind: String) = Util.median(ops.filter(_.kind == kind).map(_.seconds))
    // the graft.ops layers, measured here since corpus_dedup is not a
    // timed workload
    val corpus = ctx.tracer.span("corpus") {
      new CorpusChain(seed).measure(spark, ctx, ctx.freshDir("corpus"))
    }
    corpus ++ Map(
      "pipeline.changed_only_s" -> changed,
      "recrawl.changed_ratio" -> planted.toDouble / deltaRows,
      "run.resume_s" -> med("resume"),
      "run.buckets_skipped" -> skipped.toDouble,
      "run.nochange_s" -> med("nochange"))
  }
}
