package graftbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, artifact: String)

/** One local[4] session, configured the way `graft.Bench` configures its
  * own (zstd parquet, AQE, the chmod-free local file system), with every
  * scratch directory inside the run's work dir. */
object Session {
  val Cores = 4

  def start(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.NoChmodLocalFileSystem")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Util {
  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def rmrf(p: File): Unit = {
    if (p.isDirectory) p.listFiles().foreach(rmrf)
    p.delete()
  }

  /** 1-minute load average (-1 when /proc is unavailable). */
  def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** SplitMix64 finaliser: the counter-based PRNG every generator here
    * draws from, so an input depends only on (seed, index). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** u in [0,1) from a hash draw. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Heap peak as the largest heap occupancy left after a garbage
  * collection (the live set plus survivors), from the collectors' own
  * notifications. Occupancy before a collection mostly measures how long
  * the collector waited, so it is not used. `reset()` starts a new window. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  @volatile private var peak = 0L
  private val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.collect { case e: NotificationEmitter => e }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        synchronized { if (used > peak) peak = used }
      }
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  /** Peak after-collection occupancy in MB (current occupancy when no
    * collection ran in the window). */
  def peakMb: Double = {
    val p: Long = synchronized { peak }
    val bytes = if (p > 0L) p
      else java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    bytes / (1024.0 * 1024.0)
  }
  def close(): Unit = beans.foreach(_.removeNotificationListener(listener))
}

/** In-memory span recorder for the traced run: name, start, end and
  * parent index, kept in a list and written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(name: String, start: Long, end: Long, parent: Int)
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val t0 = System.nanoTime()

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val idx = spans.synchronized {
        spans += Span(name, System.nanoTime() - t0, -1L, stack.headOption.getOrElse(-1))
        spans.length - 1
      }
      stack = idx :: stack
      try f
      finally {
        stack = stack.tail
        spans.synchronized {
          spans(idx) = spans(idx).copy(end = System.nanoTime() - t0)
        }
      }
    }

  def json: String = spans.synchronized {
    spans.map { s =>
      s"""{"name":${Util.jsonStr(s.name)},"start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent}}"""
    }.mkString("[", ",", "]")
  }
}

/** Job/stage/task recorder: a `SparkListener` registered by the benchmark
  * (never by the program). Every job carries the `graftbench.tag` local
  * property the benchmark sets around the call it times, so work is
  * grouped by the call that caused it. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, tag: String, desc: String, start: Long,
                       stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long, output: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnd = new ConcurrentHashMap[Int, java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) "" else Option(p.getProperty(k)).getOrElse("")
    jobs.add(Job(e.jobId, prop(JobListener.TagKey), prop("spark.job.description"),
      e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnd.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }

  def jobsTagged(tag: String => Boolean): Seq[Job] =
    jobs.asScala.filter(j => tag(j.tag)).toSeq.sortBy(_.start)

  /** Spark-level totals of every job whose tag passes `tag`, divided by
    * `perOps` (so runs with different op counts compare). */
  def sparkMetrics(tag: String => Boolean, perOps: Int): Map[String, Double] = {
    val js = jobsTagged(tag)
    val stages = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stages.contains(t.stage)).toSeq
    val n = math.max(perOps, 1).toDouble
    val mb = 1024.0 * 1024.0
    // skew: max ÷ median task time in the stage with the most task time
    val byStage = ts.groupBy(_.stage)
    val skew =
      if (byStage.isEmpty) 0.0
      else {
        val slowest = byStage.values.maxBy(_.map(_.runMs).sum)
        val times = slowest.map(_.runMs.toDouble)
        val med = Util.median(times)
        if (med > 0) times.max / med else 1.0
      }
    Map(
      "spark.jobs" -> js.size / n,
      "spark.tasks" -> ts.size / n,
      "spark.task_s" -> ts.map(_.runMs).sum / 1000.0 / n,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / n,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb / n,
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb / n,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb / n,
      "spark.output_mb" -> ts.map(_.output).sum / mb / n,
      "spark.task_skew" -> skew)
  }
}

object JobListener {
  val TagKey = "graftbench.tag"

  /** Runs `f` with every Spark job it submits (also from threads it
    * starts) tagged `tag`. */
  def tagged[A](spark: SparkSession, tag: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }
}
