package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.pipeline.{Extract, PageRow}

/**
 * Structured-Streaming face of the engine. The reference's "incremental"
 * mode is snapshot-over-snapshot batch (SURVEY §2.10), so batch is primary —
 * but the same typed extraction map runs unchanged under `readStream` for
 * continuous ingestion of new page files/snapshots:
 *
 *  - `extractStream`: file-source stream → mapPartitions extraction →
 *    parquet sink with checkpoint (exactly-once per file);
 *  - `hostActivity`: watermarked tumbling-window counts per host (event time
 *    = warc_ts) — the stream analog of the update-frequency agg (§2.5);
 *  - `dedupStream`: flatMapGroupsWithState keyed by url keeping the last
 *    seen content hash — emits only new/changed snapshots (the streaming
 *    form of the §2.4 changed-only join).
 */
object StreamingExtract {

  /** File-source stream of pages (new parquet files under `inputDir`). */
  def readPages(spark: SparkSession, inputDir: String,
                maxFilesPerTrigger: Int = 8): Dataset[PageRow] = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[PageRow].schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .select($"url", $"warc_ts", $"html", $"text", $"lang")
      .as[PageRow]
  }

  /** File-source stream of raw WARC archives (new `.warc`/`.warc.gz`
    * files under `inputDir`): the streaming face of [[graft.sources.Warc]]
    * — `binaryFile` source, one flatMap task per new archive, the same
    * record scanner and pages() projection as batch (the projection is
    * source-agnostic, so WARC-vs-table byte identity carries over). */
  def readWarcPages(spark: SparkSession, inputDir: String,
                    maxFilesPerTrigger: Int = 4): Dataset[PageRow] = {
    val files = spark.readStream.format("binaryFile")
      // the binaryFile source's FIXED schema, required explicitly when
      // streaming (no inference pass over a possibly-empty dir)
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(inputDir)
    graft.sources.Warc.pages(files)
  }

  /** Streaming WARC ingestion → docs_clean parquet sink (AvailableNow
    * drains the backlog of new archives and stops). Returns the query. */
  def extractWarcStream(spark: SparkSession, inputDir: String, outDir: String,
                        checkpoint: String, availableNow: Boolean = true) =
    docsCleanSink(readWarcPages(spark, inputDir), outDir, checkpoint, availableNow)

  /** Streaming extraction → docs_clean parquet sink (AvailableNow drains the
    * backlog and stops — the scheduled re-scrape analog). Returns the query. */
  def extractStream(spark: SparkSession, inputDir: String, outDir: String,
                    checkpoint: String, availableNow: Boolean = true) =
    docsCleanSink(readPages(spark, inputDir), outDir, checkpoint, availableNow)

  /** The one streaming sink both sources share: extraction map → append-mode
    * parquet under `outDir/docs_clean_stream`, exactly-once per input file
    * through `checkpoint`. */
  private def docsCleanSink(pages: Dataset[PageRow], outDir: String,
                            checkpoint: String, availableNow: Boolean) = {
    import pages.sparkSession.implicits._
    val writer = Extract.extract(pages).map(_.doc).writeStream
      .format("parquet")
      .option("path", s"$outDir/docs_clean_stream")
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Watermarked tumbling-window host activity (event-time agg). */
  def hostActivity(pages: Dataset[PageRow], windowLen: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    import pages.sparkSession.implicits._
    pages
      .withColumn("host", expr("parse_url(url, 'HOST')"))
      .withWatermark("warc_ts", watermark)
      .groupBy(window($"warc_ts", windowLen), $"host")
      .agg(count(lit(1)).as("docs"), sum(length($"html")).as("bytes"))
  }

  final case class UrlState(lastSha: String)
  final case class ChangedPage(url: String, warc_ts: java.sql.Timestamp,
                               sha: String, change: String)

  /** Stateful changed-only filter: per-url last-content-hash state;
    * emits new/changed snapshots only (mapGroupsWithState surface). */
  def dedupStream(pages: Dataset[PageRow]): Dataset[ChangedPage] = {
    import pages.sparkSession.implicits._
    pages
      .map(p => (p.url, p.warc_ts, sha256Hex(p.html)))
      .toDF("url", "warc_ts", "sha")
      .as[(String, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (url: String, rows: Iterator[(String, java.sql.Timestamp, String)],
         state: GroupState[UrlState]) => {
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          val out = scala.collection.mutable.ArrayBuffer.empty[ChangedPage]
          var last = state.getOption.map(_.lastSha).orNull
          sorted.foreach { case (_, ts, sha) =>
            if (last == null) out += ChangedPage(url, ts, sha, "new")
            else if (last != sha) out += ChangedPage(url, ts, sha, "changed")
            last = sha
          }
          if (last != null) state.update(UrlState(last))
          out.iterator
        })
  }

  // n_tokens/alpha_ratio are Options: empty text makes the alpha division
  // null (x/0 in non-ANSI Spark) and null text nulls both — a primitive
  // field would crash the deserializer and kill the query
  final case class DocStats(doc_id: Long, lang: String, h: String,
                            n_tokens: Option[Int], alpha_ratio: Option[Double])
  final case class HashState(keeper: Long)
  final case class PrepRow(doc_id: Long, lang: String, n_tokens: Option[Int],
                           alpha_ratio: Option[Double], kept: Boolean,
                           drop_reason: String)

  /** Streaming face of `TrainingData.prepare` (VERDICT r02 next #9): the
    * stateless gates (lang / length / alpha) run per row; the DUPLICATE
    * gate keeps per-content-hash state across micro-batches via
    * flatMapGroupsWithState — the keeper is the min doc_id seen SO FAR
    * (within one batch that is the batch min, identical to the batch
    * window; across batches the earlier-arrived keeper wins, which is the
    * only causally-possible incremental semantics — an already-emitted
    * keeper cannot be retracted in Append mode). Same narrow-projection
    * discipline: text is hashed/measured per row and never enters state
    * or shuffle. */
  def prepareStream(docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    langCol: String = "lang",
                    minTokens: Int = 10, maxTokens: Int = 100000,
                    minAlpha: Double = 0.5,
                    langs: Seq[String] = Seq("en", "de", "fr", "es", "pt")): Dataset[PrepRow] = {
    import docs.sparkSession.implicits._
    val langSet = langs.toSet
    docs.select(
        col(idCol).cast("long").as("doc_id"),
        col(langCol).as("lang"),
        md5(col(textCol)).as("h"),
        graft.ops.TrainingData.nTokens(col(textCol)).as("n_tokens"),
        graft.ops.TrainingData.alphaRatio(col(textCol)).as("alpha_ratio"))
      .as[DocStats]
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (h: String, rows: Iterator[DocStats], state: GroupState[HashState]) => {
          // null hash = null text: gated outright, no keeper state kept
          // for the (otherwise ever-growing, skew-prone) null group —
          // mirrors the batch null_text gate exactly
          if (h == null) {
            rows.map(r => PrepRow(r.doc_id, r.lang, r.n_tokens, r.alpha_ratio,
              kept = false, "null_text"))
          } else {
          val batch = rows.toSeq.sortBy(_.doc_id)
          // keeper is immutable once set: the already-emitted kept row
          // cannot be retracted in Append mode, so a later lower id is a
          // duplicate rather than a new keeper
          val keeper = state.getOption.map(_.keeper).getOrElse {
            val k = batch.head.doc_id
            state.update(HashState(k))
            k
          }
          batch.iterator.map { r =>
            // null-lenient gates, mirroring the batch plan exactly: a null
            // lang/n_tokens/alpha_ratio makes the batch `when` predicate
            // null => gate skipped => kept
            val reason =
              if (r.doc_id != keeper) "duplicate"
              else if (r.lang != null && !langSet.contains(r.lang)) "lang"
              else if (r.n_tokens.exists(_ < minTokens)) "too_short"
              else if (r.n_tokens.exists(_ > maxTokens)) "too_long"
              else if (r.alpha_ratio.exists(_ < minAlpha)) "low_alpha"
              else null
            PrepRow(r.doc_id, r.lang, r.n_tokens, r.alpha_ratio, reason == null, reason)
          }
          }
        })
  }

  private def sha256Hex(bytes: Array[Byte]): String =
    if (bytes == null) null else Extract.hexSha256(bytes)
}
