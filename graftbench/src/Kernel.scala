package graftbench

import graft.clean.{Cleaner, Sanitize}
import graft.html.{HtmlParser, Serializer}
import graft.links.LinkExtractor
import graft.meta.MetadataExtractor
import graft.pdf.PdfText
import graft.pipeline.{Extract, PageRow}

/** Single-thread per-document layer timings, taken from outside the
  * program: the layers' public functions are called in
  * `Extract.dispatch`'s order (a replica of the kernel), each call timed on
  * its own, and the replica's outputs are compared byte for byte with
  * `Extract.extractPage` on every page — a mismatch means the layer
  * numbers describe a different program, and fails the run. */
object Kernel {
  private val Layers = Seq("sha256", "html.decode", "html.parse",
    "html.serialize", "clean.document", "clean.post_clean",
    "clean.plain_text", "meta.extract", "links.edges", "links.anchors",
    "pdf.extract")

  /** Per-layer nanosecond totals and call counts of one replica pass. */
  final class Acc {
    val ns = new Array[Long](Layers.length)
    val calls = new Array[Long](Layers.length)
    var edges = 0L
    var htmlDocs = 0L
    def timed[A](layer: Int)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      ns(layer) += System.nanoTime() - t0
      calls(layer) += 1
      r
    }
  }
  private def ix(name: String) = Layers.indexOf(name)
  private val Sha = ix("sha256"); private val Decode = ix("html.decode")
  private val Parse = ix("html.parse"); private val Ser = ix("html.serialize")
  private val CleanDoc = ix("clean.document"); private val Post = ix("clean.post_clean")
  private val Plain = ix("clean.plain_text"); private val Meta = ix("meta.extract")
  private val Edges = ix("links.edges"); private val Anchors = ix("links.anchors")
  private val Pdf = ix("pdf.extract")

  /** The replica: (kind, text, cleaned html, sha256). */
  def replica(row: PageRow, acc: Acc): (String, String, String, String) = {
    val sha = acc.timed(Sha)(graft.GraftbenchAccess.hexSha256(row.html))
    if (PdfText.isPdf(row.html))
      ("pdf", acc.timed(Pdf)(PdfText.extract(row.html)), null, sha)
    else {
      val content = acc.timed(Decode)(HtmlParser.decode(row.html))
      val head = content.take(256)
      if (head.startsWith("<?xml") && !head.contains("<html")) {
        val doc = acc.timed(Parse)(HtmlParser.parse(content, xmlMode = true))
        val text = acc.timed(Plain)(Cleaner.normalizedText(doc))
        ("xml", text, acc.timed(Ser)(Serializer.serialize(doc, content.length + 64)), sha)
      } else if (!head.contains("<"))
        ("text", acc.timed(Plain)(Cleaner.cleanPlainText(content)), null, sha)
      else {
        acc.htmlDocs += 1
        val doc = acc.timed(Parse)(HtmlParser.parse(content))
        acc.timed(Meta)(MetadataExtractor.extract(doc, row.url,
          graft.meta.PyDateUtil.DefaultPivotYear))
        acc.edges += acc.timed(Edges)(LinkExtractor.edges(doc, row.url)).size
        acc.timed(Anchors)(LinkExtractor.anchorIds(doc))
        val text = acc.timed(CleanDoc)(Cleaner.cleanDocument(doc, row.url))
        acc.timed(Post) {
          val pcix = Sanitize.indexPostClean(doc)
          Sanitize.updateAssetReferences(row.url, pcix)
          Sanitize.processHtmlContent(doc, row.url, pcix)
        }
        ("html", text, acc.timed(Ser)(Serializer.serialize(doc, content.length + 64)), sha)
      }
    }
  }

  /** Warms both paths for `warmSeconds`, then alternates timed
    * `extractPage` passes and replica passes for `seconds`. */
  def measure(pages: Array[PageRow], warmSeconds: Double,
              seconds: Double): Map[String, Double] = {
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < warmSeconds) pages.foreach { p =>
      Extract.extractPage(p, Extract.DefaultBuckets); replica(p, new Acc)
    }
    var mismatches = 0
    pages.foreach { p =>
      val d = Extract.extractPage(p, Extract.DefaultBuckets).doc
      val r = replica(p, new Acc)
      if (d.parse_failed || r != ((d.content_kind, d.text, d.cleaned_html, d.content_sha256)))
        mismatches += 1
    }
    val acc = new Acc
    val perDoc = scala.collection.mutable.ArrayBuffer.empty[Double]
    var replicaDocs = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      pages.foreach { p =>
        val s = System.nanoTime()
        Extract.extractPage(p, Extract.DefaultBuckets)
        perDoc += (System.nanoTime() - s) / 1e3
      }
      pages.foreach(p => replica(p, acc))
      replicaDocs += pages.length
    }
    val meanUs = Util.mean(perDoc.toSeq)
    def perCall(i: Int) = if (acc.calls(i) == 0) 0.0 else acc.ns(i) / 1e3 / acc.calls(i)
    val layerUsPerDoc = acc.ns.sum / 1e3 / replicaDocs
    Map(
      "kernel.extract_page_us.p50" -> Util.median(perDoc.toSeq),
      "kernel.extract_page_us.p99" -> Util.quantile(perDoc.toSeq, 0.99),
      "kernel.docs_per_s_core" -> 1e6 / meanUs,
      "kernel.sha256_us" -> perCall(Sha),
      "kernel.residual_us" -> (meanUs - layerUsPerDoc),
      "kernel.replica_mismatches" -> mismatches.toDouble,
      "html.decode_us" -> perCall(Decode),
      "html.parse_us" -> perCall(Parse),
      "html.serialize_us" -> perCall(Ser),
      "clean.document_us" -> perCall(CleanDoc),
      "clean.post_clean_us" -> perCall(Post),
      "clean.plain_text_us" -> perCall(Plain),
      "meta.extract_us" -> perCall(Meta),
      "links.edges_us" -> perCall(Edges),
      "links.anchors_us" -> perCall(Anchors),
      "links.edges_per_doc" -> (if (acc.htmlDocs == 0) 0.0 else acc.edges.toDouble / acc.htmlDocs),
      "pdf.extract_us" -> perCall(Pdf))
  }

  val Names: Seq[String] = Seq("kernel.extract_page_us.p50",
    "kernel.extract_page_us.p99", "kernel.docs_per_s_core", "kernel.sha256_us",
    "kernel.residual_us", "kernel.replica_mismatches", "html.decode_us",
    "html.parse_us", "html.serialize_us", "clean.document_us",
    "clean.post_clean_us", "clean.plain_text_us", "meta.extract_us",
    "links.edges_us", "links.anchors_us", "links.edges_per_doc",
    "pdf.extract_us")
}
