package graft.html

import scala.collection.mutable.ArrayBuffer

/**
 * Lightweight mutable DOM — the Spark-side stand-in for the reference's
 * per-page BeautifulSoup tree (/root/reference/processing/content_processor.py:22).
 * Transient per-row inside `mapPartitions`; never stored, never encoded.
 *
 * Node kinds mirror bs4: Tag, NavigableString, Comment, Doctype,
 * ProcessingInstruction. `getText` concatenates plain text nodes only
 * (comments / doctypes / PIs excluded, matching modern bs4 defaults);
 * `script`/`style` contents are plain text nodes and ARE included
 * (SURVEY.md F6).
 */
sealed trait Node {
  var parent: Element = _
  /** Detach from parent (bs4 `extract()`). */
  def extract(): Unit = {
    if (parent != null) {
      val i = parent.children.indexWhere(_ eq this)
      if (i >= 0) parent.children.remove(i)
      parent = null
    }
  }
}

final class Text(var data: String) extends Node
final class Comment(var data: String) extends Node
final class Doctype(var data: String) extends Node
final class ProcIns(var data: String) extends Node
/** bs4 `CData` (from `<![CDATA[...]]>` via unknown_decl): a NavigableString
  * subclass that IS part of `get_text()` (bs4's default interesting string
  * types are NavigableString and CData; comments/declarations are not). */
final class CData(var data: String) extends Node
/** bs4 `Declaration` (non-CDATA marked sections, e.g. MS-Office
  * `<![if gte mso 9]>`): excluded from text like comments. */
final class Declaration(var data: String) extends Node

class Element(val name: String) extends Node {
  /** Attribute (name, value) pairs in insertion order; values fully decoded. */
  val attrs = ArrayBuffer.empty[(String, String)]
  val children = ArrayBuffer.empty[Node]
  var isVoid: Boolean = false

  // index loops, not find/exists: attr() runs per element per extractor —
  // the iterator + closure + Option chain was a visible slice of per-doc
  // cost (tag/attr names are interned, so == hits the identity fast path)
  def attr(key: String): Option[String] = {
    val a = attrs
    var i = 0
    while (i < a.length) {
      val kv = a(i)
      if (kv._1 == key) return Some(kv._2)
      i += 1
    }
    None
  }
  def hasAttr(key: String): Boolean = {
    val a = attrs
    var i = 0
    while (i < a.length) {
      if (a(i)._1 == key) return true
      i += 1
    }
    false
  }
  def setAttr(key: String, value: String): Unit = {
    val i = attrs.indexWhere(_._1 == key)
    if (i >= 0) attrs(i) = (key, value) else attrs += ((key, value))
  }

  /** Whitespace-split tokens of the `class` attribute (bs4 multi-valued;
    * bs4 tokenizes with Python `\S+` = unicode whitespace, not Java `\s`). */
  def classes: Seq[String] =
    attr("class").map(PyStr.splitWs).getOrElse(Nil)

  def append(n: Node): Unit = { n.parent = this; children += n }

  def replaceChild(oldN: Node, newN: Node): Unit = {
    val i = children.indexWhere(_ eq oldN)
    if (i >= 0) { newN.parent = this; children(i) = newN; oldN.parent = null }
  }

  /** All descendant elements, document (pre-)order — bs4 `find_all()`. */
  def descendantElements: Vector[Element] = {
    val out = Vector.newBuilder[Element]
    def walk(e: Element): Unit = {
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case c: Element => out += c; walk(c)
          case _ =>
        }
        i += 1
      }
    }
    walk(this)
    out.result()
  }

  /** All descendant nodes (any kind), document order. */
  def descendants: Vector[Node] = {
    val out = Vector.newBuilder[Node]
    def walk(e: Element): Unit = e.children.foreach { c =>
      out += c
      c match { case ce: Element => walk(ce); case _ => }
    }
    walk(this)
    out.result()
  }

  /** bs4 `Tag.string`: the single NavigableString child (Text or Comment —
    * bs4 Comment extends NavigableString), RECURSING through a chain of
    * single-Element children ("if a tag's only child is another tag, and
    * that tag has a .string, then the parent is considered to have the
    * same .string"); None when empty or multi-child. The text filter in
    * `find_all('a', text=...)` and `soup.title.string` both read this. */
  def bs4String: Option[String] = {
    if (children.length != 1) return None
    children(0) match {
      case t: Text        => Some(t.data)
      case c: Comment     => Some(c.data)
      case c: CData       => Some(c.data)
      case d: Declaration => Some(d.data)
      case p: ProcIns     => Some(p.data)
      case d: Doctype     => Some(d.data)
      case e: Element     => e.bs4String
    }
  }

  /** bs4 `get_text()`: concatenation of plain-text descendants, no separator. */
  def getText: String = {
    val sb = new java.lang.StringBuilder(512)
    def walk(e: Element): Unit = {
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case t: Text    => sb.append(t.data)
          case c: CData   => sb.append(c.data)
          case c: Element => walk(c)
          case _          =>
        }
        i += 1
      }
    }
    walk(this)
    sb.toString
  }

  def findAll(tag: String): Vector[Element] =
    descendantElements.filter(_.name == tag)

  def findAll(tags: Set[String]): Vector[Element] =
    descendantElements.filter(e => tags.contains(e.name))

  def findFirst(tag: String): Option[Element] =
    descendantElements.find(_.name == tag)
}

/** Document root (bs4 `BeautifulSoup` object — the unnamed "[document]"). */
final class Document extends Element("[document]")

object Serializer {
  /** bs4 minimal formatter: escape &, <, > in text. */
  def escapeText(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    appendEscapedText(s, sb)
    sb.toString
  }

  /** Hot path: bulk-append runs between special chars straight into the
    * output builder (serialize was ~40% of per-doc cost when this copied
    * char-by-char through an intermediate String per text node). */
  private def appendEscapedText(s: String, sb: java.lang.StringBuilder): Unit = {
    var last = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&' || c == '<' || c == '>') {
        sb.append(s, last, i)
        if (c == '&') sb.append("&amp;")
        else if (c == '<') sb.append("&lt;")
        else sb.append("&gt;")
        last = i + 1
      }
      i += 1
    }
    if (last == 0) sb.append(s) else sb.append(s, last, n)
  }

  private def appendEscapedAttr(s: String, escapeDquote: Boolean,
                                sb: java.lang.StringBuilder): Unit = {
    var last = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&' || c == '<' || c == '>' || (c == '"' && escapeDquote)) {
        sb.append(s, last, i)
        if (c == '&') sb.append("&amp;")
        else if (c == '<') sb.append("&lt;")
        else if (c == '>') sb.append("&gt;")
        else sb.append("&quot;")
        last = i + 1
      }
      i += 1
    }
    if (last == 0) sb.append(s) else sb.append(s, last, n)
  }

  /** bs4 `quoted_attribute_value`: prefer double quotes; a value containing
    * a double quote (and no single quote) is wrapped in single quotes. */
  private def renderAttrValue(v: String, sb: java.lang.StringBuilder): Unit = {
    if (v.indexOf('"') >= 0 && v.indexOf('\'') < 0) {
      sb.append('\'')
      appendEscapedAttr(v, escapeDquote = false, sb)
      sb.append('\'')
    } else {
      sb.append('"')
      appendEscapedAttr(v, escapeDquote = true, sb)
      sb.append('"')
    }
  }

  /** bs4 `str(soup)` with the default minimal formatter. `sizeHint`
    * avoids repeated whole-buffer growth copies (output ≈ input size). */
  def serialize(node: Node): String = serialize(node, 1024)

  def serialize(node: Node, sizeHint: Int): String = {
    val sb = new java.lang.StringBuilder(math.max(sizeHint, 64))
    render(node, sb)
    sb.toString
  }

  private def render(node: Node, sb: java.lang.StringBuilder): Unit = node match {
    case t: Text    => appendEscapedText(t.data, sb)
    case c: Comment => sb.append("<!--").append(c.data).append("-->")
    case d: Doctype => sb.append("<!DOCTYPE ").append(d.data).append(">")
    case p: ProcIns => sb.append("<?").append(p.data).append(">")
    // bs4 PreformattedString PREFIX/SUFFIX pairs: CData "<![CDATA["/"]]>",
    // Declaration "<?"/"?>" (bs4 models it as an XML declaration)
    case c: CData       => sb.append("<![CDATA[").append(c.data).append("]]>")
    case d: Declaration => sb.append("<?").append(d.data).append("?>")
    case e: Document =>
      val cs = e.children
      var i = 0
      while (i < cs.length) { render(cs(i), sb); i += 1 }
    case e: Element =>
      sb.append('<').append(e.name)
      val as = e.attrs
      var i = 0
      while (i < as.length) {
        val (k, v) = as(i)
        sb.append(' ').append(k).append('=')
        renderAttrValue(v, sb)
        i += 1
      }
      if (e.isVoid && e.children.isEmpty) sb.append("/>")
      else {
        sb.append('>')
        val cs = e.children
        var j = 0
        while (j < cs.length) { render(cs(j), sb); j += 1 }
        sb.append("</").append(e.name).append('>')
      }
  }
}
