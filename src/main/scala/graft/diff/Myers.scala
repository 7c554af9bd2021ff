package graft.diff

import scala.collection.mutable.{ArrayBuffer, HashMap}

/** One diff operation. op ∈ {equal, replace, insert, delete}; `delete` never
  * occurs in practice (the reference's backtrack classifies edits as
  * replace/insert only — ported exactly, quirks included). */
final case class DiffOp(operation: String, content: String,
                        oldContent: String, newContent: String)

final case class ChunkDiff(chunkIndex: Int, operations: Seq[DiffOp])

/**
 * Exact port of the reference's Myers O(ND) diff
 * (/root/reference/processing/diff_generator.py:15-58), its formatted /
 * chunk-optimized variants (:60-168), `chunk_content` (:11-13) and the
 * apply side `update_partial_content` (/root/reference/core/scraper.py:415-433).
 *
 * The backtrack is ported bug-for-bug (it consults the post-round `v` maps,
 * so some edit scripts — e.g. pure trailing deletions — come out lossy);
 * golden tests are generated by executing the same algorithm under CPython,
 * making the two byte-identical by construction.
 */
object Myers {

  /** Python str.splitlines() for \n/\r\n/\r (the subset occurring in our
    * HTML-derived content; exotic unicode linebreaks are out of contract). */
  def splitlines(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r' || c == 0x0b || c == 0x0c || c == 0x1c ||
          c == 0x1d || c == 0x1e || c == 0x85 || c == 0x2028 || c == 0x2029) {
        out += s.substring(start, i)
        if (c == '\r' && i + 1 < s.length && s.charAt(i + 1) == '\n') i += 1
        start = i + 1
      }
      i += 1
    }
    if (start < s.length) out += s.substring(start)
    out.result()
  }

  /** (op, old_pos, new_pos) triples over element sequences. */
  def diffSeq(a: IndexedSeq[String], b: IndexedSeq[String]): Seq[(String, Int, Int)] = {
    val n = a.length
    val m = b.length
    val maxD = n + m
    var v = HashMap(1 -> 0)
    val trace = ArrayBuffer.empty[HashMap[Int, Int]]

    var done = false
    var d = 0
    while (!done && d <= maxD) {
      var k = -d
      while (!done && k <= d) {
        val x0 =
          if (k == -d || (k != d && v.getOrElse(k - 1, Int.MinValue) < v.getOrElse(k + 1, Int.MinValue)))
            v(k + 1)
          else v(k - 1) + 1
        var x = x0
        var y = x - k
        while (x < n && y < m && a(x) == b(y)) { x += 1; y += 1 }
        v(k) = x
        if (x >= n && y >= m) done = true
        k += 2
      }
      if (!done) trace += v.clone()
      d += 1
    }

    // backtrack (diff_generator.py:37-53) — ported exactly
    var x = n
    var y = m
    val path = ArrayBuffer.empty[(String, Int, Int)]
    var di = trace.length - 1
    while (di >= 0) {
      val vd = trace(di)
      var k = x - y
      if (k == -di || (k != di && vd.getOrElse(k - 1, Int.MinValue) < vd.getOrElse(k + 1, Int.MinValue)))
        k = k + 1
      val prevX = vd(k)
      val prevY = vd(k) - k
      while (x > prevX && y > prevY) {
        path += (("equal", x - 1, y - 1))
        x -= 1; y -= 1
      }
      if (di > 0)
        path += ((if (x > prevX) "replace" else "insert", prevX, prevY))
      x = prevX
      y = prevY
      di -= 1
    }
    path.reverse.toSeq
  }

  /** `generate_diff` operations (diff_generator.py:77-97). */
  def generateOps(oldContent: String, newContent: String): Seq[DiffOp] = {
    val a = splitlines(oldContent)
    val b = splitlines(newContent)
    diffSeq(a, b).map {
      case ("equal", op, _)   => DiffOp("equal", a(op), null, null)
      case ("replace", op, np) => DiffOp("replace", null, a(op), b(np))
      case ("insert", _, np)  => DiffOp("insert", b(np), null, null)
      case ("delete", op, _)  => DiffOp("delete", a(op), null, null)
    }
  }

  /** `chunk_content` (diff_generator.py:11-13): fixed 1000-char slices. */
  def chunkContent(content: String, chunkSize: Int = 1000): Vector[String] =
    (0 until content.length by chunkSize)
      .map(i => content.substring(i, math.min(i + chunkSize, content.length)))
      .toVector

  /** `generate_optimized_diff` chunks (diff_generator.py:104-139) +
    * `format_chunk_diff` (:141-168), ported exactly INCLUDING the reference's
    * index-unit mismatch: the diff runs over splitlines(chunk) but the
    * formatter indexes the chunk STRING (`old_chunk[old_pos]` is a single
    * character). Trailing new chunks are whole-chunk inserts. */
  def optimizedChunks(oldContent: String, newContent: String,
                      chunkSize: Int = 1000): Seq[ChunkDiff] = {
    val oldChunks = chunkContent(oldContent, chunkSize)
    val newChunks = chunkContent(newContent, chunkSize)
    val out = ArrayBuffer.empty[ChunkDiff]
    oldChunks.zip(newChunks).zipWithIndex.foreach { case ((oc, nc), i) =>
      if (oc != nc) {
        val ops = diffSeq(splitlines(oc), splitlines(nc)).map {
          case ("equal", op, _)    => DiffOp("equal", oc.charAt(op).toString, null, null)
          case ("replace", op, np) => DiffOp("replace", null, oc.charAt(op).toString, nc.charAt(np).toString)
          case ("insert", _, np)   => DiffOp("insert", nc.charAt(np).toString, null, null)
          case ("delete", op, _)   => DiffOp("delete", oc.charAt(op).toString, null, null)
        }
        out += ChunkDiff(i, ops)
      }
    }
    newChunks.drop(oldChunks.length).zipWithIndex.foreach { case (nc, j) =>
      out += ChunkDiff(oldChunks.length + j,
        Seq(DiffOp("insert", nc, null, null)))
    }
    out.toSeq
  }

  /** Apply side — `update_partial_content` (core/scraper.py:420-431):
    * rebuild from equal/replace/insert ops; delete implicit. */
  def applyOps(ops: Seq[DiffOp]): String = {
    val lines = ops.flatMap { op =>
      op.operation match {
        case "equal"   => Some(op.content)
        case "replace" => Some(op.newContent)
        case "insert"  => Some(op.content)
        case _         => None
      }
    }
    lines.mkString("\n")
  }

  /** `generate_diff`'s metadata wrapper (diff_generator.py:60-76). */
  final case class DiffMetadata(doc_name: String, version: String,
                                timestamp: String, old_content_hash: String,
                                new_content_hash: String)

  final case class FormattedDiff(metadata: DiffMetadata, operations: Seq[DiffOp])

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** Full `generate_diff` document struct (diff_generator.py:60-102):
    * the diff runs FIRST (so a backtrack crash propagates before any
    * metadata exists — crash parity), then the md5s of both sides
    * (`hashlib.md5(content.encode())`) wrap the operations. `timestamp`
    * is a parameter — the reference stamps `datetime.now().isoformat()`,
    * which a deterministic pipeline must inject. */
  def diffDocument(oldContent: String, newContent: String, docName: String,
                   version: String, timestamp: String): FormattedDiff = {
    val ops = generateOps(oldContent, newContent) // may throw: crash parity
    FormattedDiff(
      DiffMetadata(docName, version, timestamp,
        md5Hex(oldContent), md5Hex(newContent)),
      ops)
  }
}
