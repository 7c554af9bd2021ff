package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import graft.pipeline.{Extract, PagesGen}

/** One timed call and its outcome. `threw` = the call raised;
  * `checkFailed` = it returned but an output check disagreed. */
final case class Op(kind: String, seconds: Double, docs: Long,
                    threw: Boolean = false, checkFailed: Boolean = false,
                    note: String = "") {
  def failed: Boolean = threw || checkFailed
  def rate: Double = if (seconds > 0) docs / seconds else 0.0
}

object Op {
  /** Times `f`, which returns "" when its output checks pass and a
    * description of the mismatch otherwise; a throw is timed too. */
  def attempt(kind: String, docs: Long)(f: => String): Op = {
    val t0 = System.nanoTime()
    try {
      val bad = f
      Op(kind, (System.nanoTime() - t0) / 1e9, docs, checkFailed = bad.nonEmpty, note = bad)
    } catch {
      case e: Exception => Op(kind, (System.nanoTime() - t0) / 1e9, docs,
        threw = true, note = e.toString.take(300))
    }
  }
}

/** Per-run state a workload uses while timing: tracer, listener (traced
  * runs only) and fresh output directories. */
final class Ctx(val tracer: Tracer, val listener: Option[JobListener],
                val dir: String) {
  private var n = 0
  def freshDir(prefix: String): String = { n += 1; s"$dir/$prefix-$n" }

  /** Runs `f` inside a span named `tag` with its Spark jobs tagged `tag`. */
  def call[A](spark: SparkSession, tag: String)(f: => A): A =
    tracer.span(tag)(JobListener.tagged(spark, tag)(f))
}

trait Workload {
  def name: String
  /** The op kind whose docs/s is the workload's `docs_per_s`. */
  def primary: String
  /** Nominal seconds of one iteration on a 4-core box; the loop makes
    * `--seconds` ÷ this many iterations. */
  def iterationSeconds: Double
  /** Per-layer metric names this workload measures in a traced run. */
  def layerNames: Seq[String]
  /** Generates the inputs under `dir` (one set-up round). */
  def setup(spark: SparkSession, dir: String): Unit
  /** Warms the timed code paths up once, after the last set-up round. */
  def warm(spark: SparkSession, dir: String): Unit
  /** One iteration of timed calls; checks run outside the timed spans. */
  def iteration(spark: SparkSession, k: Int, ctx: Ctx): Seq[Op]
  /** Per-layer metrics measured after the timed loop (traced runs). */
  def layers(spark: SparkSession, ctx: Ctx, ops: Seq[Op]): Map[String, Double]
}

object Runner {
  /** Set-up rounds per run (session start + input generation each);
    * `setup_s` is their median. The warm-up runs once after them. */
  val SetupRounds = 3

  /** Single-thread `extractPage` rate over 500 generator pages — the box
    * calibration `graft.Bench` records, kept as a field of the run
    * artifact only (never used to drop or adjust a run). */
  def spinRate(seconds: Double): Double = {
    val probe = (0 until 500).map(i => PagesGen.pageOf(i.toLong)).toArray
    val t0 = System.nanoTime()
    var n = 0L
    while (System.nanoTime() - t0 < (seconds * 1e9).toLong) {
      probe.foreach(p => Extract.extractPage(p, Extract.DefaultBuckets))
      n += probe.length
    }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Map[String, Double])

  def run(w: Workload, a: Args): Result = {
    val load0 = Util.loadavg()
    var spark: SparkSession = null
    var prevDir: String = null
    val setupTimes = (1 to SetupRounds).map { r =>
      val dir = s"${a.work}/setup$r"
      val (_, t) = Util.secs {
        if (spark != null) Session.stop(spark)
        spark = Session.start(a.work)
        w.setup(spark, dir)
      }
      if (prevDir != null) Util.rmrf(new java.io.File(prevDir))
      prevDir = dir
      System.err.println(f"[graftbench] setup round $r: $t%.3f s")
      t
    }
    val warmS = Util.secs(w.warm(spark, prevDir))._2
    System.err.println(f"[graftbench] warm-up: $warmS%.3f s")

    spinRate(0.2) // JIT warm for the calibration spin
    val spinPre = spinRate(0.4)
    val listener = if (a.trace) Some(new JobListener) else None
    val tracer = new Tracer(a.trace)
    val ctx = new Ctx(tracer, listener, s"${a.work}/runs")
    val heap = new HeapPeak

    // Timed loop: a fixed number of iterations sized to last about
    // `--seconds`. The JVM keeps warming through the loop, so a loop cut by
    // the clock would put more (and warmer) calls into the median of a run
    // on a quiet box than on a busy one. Traced runs interleave listener-off
    // and listener-on iterations (off, on, on, off, …), so the tracing
    // overhead is measured in the same window without always giving one
    // side the colder start. The heap peak is taken per iteration;
    // `peak_heap_mb` is their median.
    val ops = ArrayBuffer.empty[(Op, Boolean)]
    val heapPeaks = ArrayBuffer.empty[Double]
    var k = 0
    def isTraced(i: Int) = a.trace && (i % 4 == 1 || i % 4 == 2)
    val iterations = math.max(if (a.trace) 2 else 1,
      math.round(a.seconds / w.iterationSeconds).toInt)
    while (k < iterations) {
      val traced = isTraced(k)
      if (traced) listener.foreach(spark.sparkContext.addSparkListener)
      heap.reset()
      val it = tracer.span(s"iteration$k") { w.iteration(spark, k, ctx) }
      heapPeaks += heap.peakMb
      if (traced) listener.foreach { l =>
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
      it.foreach(o => System.err.println(
        f"[graftbench] op ${o.kind} ${o.seconds}%.3f s docs=${o.docs} " +
          s"threw=${o.threw} checkFailed=${o.checkFailed} ${o.note}"))
      ops ++= it.map(_ -> traced)
      k += 1
    }
    heap.close()

    val allOps = ops.map(_._1).toSeq
    val primaryRates = allOps.filter(_.kind == w.primary).map(_.rate)
    val failed = allOps.count(_.failed)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (!a.trace) {
      metrics("docs_per_s") = Util.median(primaryRates)
      metrics("setup_s") = Util.median(setupTimes)
      metrics("peak_heap_mb") = Util.median(heapPeaks.toSeq)
    } else {
      val tracedOps = ops.filter(_._2).map(_._1).toSeq
      val untracedOps = ops.filterNot(_._2).map(_._1).toSeq
      val tracedRate = Util.median(tracedOps.filter(_.kind == w.primary).map(_.rate))
      val plainRate = Util.median(untracedOps.filter(_.kind == w.primary).map(_.rate))
      metrics("trace.docs_per_s") = tracedRate
      metrics("trace.overhead_pct") =
        if (plainRate > 0) (plainRate - tracedRate) / plainRate * 100.0 else 0.0
      metrics("failed_ops_ratio") = failed.toDouble / allOps.size
      listener.foreach { l =>
        metrics ++= l.sparkMetrics(_.startsWith("loop."), (0 until k).count(isTraced))
      }
      listener.foreach(spark.sparkContext.addSparkListener)
      metrics ++= tracer.span("layers") { w.layers(spark, ctx, allOps) }
      val missing = w.layerNames.filterNot(metrics.contains)
      require(missing.isEmpty, s"workload ${w.name} did not measure: $missing")
    }
    val spinPost = spinRate(0.4)
    val load1 = Util.loadavg()
    // a traced run's layer measurements carry their own checks as
    // `*_mismatches` counts (kernel replica, corpus chain)
    val correct = !allOps.exists(_.checkFailed) &&
      metrics.forall { case (name, v) => !name.endsWith("_mismatches") || v == 0.0 }
    Session.stop(spark)

    val opsJson = allOps.map { o =>
      s"""{"kind":${Util.jsonStr(o.kind)},"seconds":${Util.jsonNum(o.seconds)},"docs":${o.docs},"threw":${o.threw},"check_failed":${o.checkFailed},"note":${Util.jsonStr(o.note)}}"""
    }.mkString("[", ",", "]")
    val metricsJson = metrics.map { case (k2, v) => s"${Util.jsonStr(k2)}:${Util.jsonNum(v)}" }
      .mkString("{", ",", "}")
    val artifact =
      s"""{"workload":${Util.jsonStr(w.name)},"seed":${a.seed},"seconds":${a.seconds},"trace":${a.trace},""" +
      s""""setup_rounds_s":${setupTimes.map(Util.jsonNum).mkString("[", ",", "]")},"warm_s":${Util.jsonNum(warmS)},""" +
      s""""loadavg_pre":${Util.jsonNum(load0)},"loadavg_post":${Util.jsonNum(load1)},""" +
      s""""spin_docs_per_s_pre":${Util.jsonNum(spinPre)},"spin_docs_per_s_post":${Util.jsonNum(spinPost)},""" +
      s""""correct":$correct,"attempted":${allOps.size},"failed":$failed,""" +
      s""""metrics":$metricsJson,"ops":$opsJson,"spans":${tracer.json}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.artifact), artifact)
    Result(correct, allOps.size, failed, metrics.toMap)
  }
}
