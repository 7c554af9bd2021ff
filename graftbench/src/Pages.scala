package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Extract, PageRow, PagesGen}

/** A generated pages-table row plus whether the benchmark planted it as
  * changed or new (the column never reaches the program: readers select
  * the `PageRow` columns only). */
final case class GenRow(url: String, warc_ts: Timestamp, html: Array[Byte],
                        text: String, lang: String, planted: Boolean)

/** Seeded pages tables built from `graft.pipeline.PagesGen.pageOf`. A seed
  * picks a disjoint index range, so two seeds never share a url. Within
  * the range the capture rules are `PagesGen.pages`' own: every 10th index
  * is captured twice (half of those unchanged, half with a revised
  * heading), so 10% of urls carry two snapshots. */
object PagesInput {
  val Day = 86400000L

  def base(seed: Long): Long = 1000000L + (seed & 0xfffffL) * 10000000L

  def captures(i: Long): Seq[PageRow] = {
    val b = PagesGen.pageOf(i)
    if (i % 10 == 0) {
      val ts2 = new Timestamp(b.warc_ts.getTime + Day)
      val v2 =
        if (i % 20 == 0) b.copy(warc_ts = ts2)
        else b.copy(warc_ts = ts2, html = new String(b.html, "UTF-8")
          .replaceFirst("<h1>", "<h1>UPDATED ").getBytes("UTF-8"))
      Seq(b, v2)
    } else Seq(b)
  }

  /** The capture `Extract.run` keeps for index i (latest timestamp). */
  def latest(i: Long): PageRow = captures(i).last

  private def gen(p: PageRow, planted: Boolean): GenRow =
    GenRow(p.url, p.warc_ts, p.html, p.text, p.lang, planted)

  /** Next-crawl capture of `p`, two days after the first snapshot;
    * `revise` rewrites its heading so its content hash changes. */
  def recapture(p: PageRow, revise: Boolean): PageRow = {
    val html =
      if (!revise) p.html
      else new String(p.html, "UTF-8").replaceFirst("<h1>", "<h1>REVISED ")
        .getBytes("UTF-8")
    p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + 2 * Day), html = html)
  }

  /** Writes a table under `path`: the first crawl of [from, from+n), and
    * with `recrawl` also the next capture of every url, with `changeShare`
    * of the HTML pages revised (chosen by the seed) and `newUrls`
    * never-seen urls appended; revised and new rows are flagged
    * `planted`. */
  def write(spark: SparkSession, path: String, seed: Long, n: Long,
            recrawl: Boolean, changeShare: Double = 0.0,
            newUrls: Long = 0L): Unit = {
    import spark.implicits._
    val from = base(seed)
    spark.range(from, from + n + newUrls, 1, 8).as[Long].mapPartitions { it =>
      it.flatMap { i =>
        if (i >= from + n) Iterator(gen(latest(i), planted = true))
        else {
          val caps = captures(i)
          val first = caps.iterator.map(gen(_, planted = false))
          if (!recrawl) first
          else {
            val revise =
              Util.unit(Util.mix64(seed * 0x632be59bd9b4e019L ^ i)) < changeShare &&
                new String(caps.last.html, "UTF-8").contains("<h1>")
            first ++ Iterator(gen(recapture(caps.last, revise), planted = revise))
          }
        }
      }
    }.write.mode("overwrite").parquet(path)
  }

  /** The table as the program sees it: the `PageRow` columns only. */
  def read(spark: SparkSession, path: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select($"url", $"warc_ts", $"html", $"text", $"lang").as[PageRow]
  }

  def planted(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).filter(col("planted")).count()

  /** Seed-chosen indices in [from, from+n) for the sample checks. */
  def sample(seed: Long, n: Long, k: Int): Seq[Long] = {
    val from = base(seed)
    (0 until k).map(j => from + java.lang.Long.remainderUnsigned(
      Util.mix64(seed ^ (j * 0x9e3779b97f4a7c15L)), n)).distinct
  }
}

/** Output checks over one `Extract.run` output directory. */
object OutputCheck {
  /** Expected (text, content_sha256) of a sampled url, from single-thread
    * `Extract.extractPage` over the capture the run keeps. */
  final case class Expect(url: String, text: String, sha: String)

  def expect(rows: Seq[PageRow]): Seq[Expect] = rows.map { r =>
    val d = Extract.extractPage(r, Extract.DefaultBuckets).doc
    Expect(r.url, d.text, d.content_sha256)
  }

  /** Returns "" when `docs_clean` holds exactly `urls` distinct urls, no
    * parse failure, and the sampled rows equal `sample`; otherwise a
    * description of the first mismatch. */
  def docsClean(spark: SparkSession, outDir: String, urls: Long,
                sample: Seq[Expect]): String = {
    import spark.implicits._
    val dc = spark.read.parquet(s"$outDir/docs_clean")
    val r = dc.agg(count(lit(1)), countDistinct($"url"),
      sum(when($"parse_failed", 1L).otherwise(0L))).head()
    val (rows, distinct, failed) = (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
    if (rows != urls || distinct != urls)
      return s"docs_clean rows=$rows distinct=$distinct expected=$urls"
    if (failed != 0) return s"parse_failed=$failed"
    if (sample.isEmpty) return ""
    val got = dc.filter($"url".isin(sample.map(_.url): _*))
      .select($"url", $"text", $"content_sha256").as[(String, String, String)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    sample.find(e => !got.get(e.url).contains((e.text, e.sha)))
      .map(e => s"sample mismatch at ${e.url}").getOrElse("")
  }
}
