package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Guard against library-level env knobs: a setting read from the
  * environment changes behaviour invisibly to callers and tests, so main
  * sources may read it only in the entry-point mains (`Bench`, `BenchExtra`,
  * `Verify`) or for the two deployment output paths. Anything else is a
  * parameter or a named constant. */
class EnvKnobSpec extends AnyFunSuite {

  private val mains = Set("Bench.scala", "BenchExtra.scala", "Verify.scala")
  private val allowedNames = Set("GRAFT_SIDE_DIR", "GRAFT_JSONL_DIR")

  private val envRead = """sys\.env|System\.getenv""".r
  // an env read naming its variable by literal: sys.env("X"),
  // sys.env.get("X"), sys.env.getOrElse("X", …), System.getenv("X")
  private val namedRead =
    """(?:sys\.env|System\.getenv)\s*(?:\.\s*(?:get|getOrElse|apply|contains)\s*)?\(\s*"([^"]*)"""".r

  test("env reads in src/main stay in the mains or name an output path") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.getParent == root.resolve("graft") &&
        mains.contains(p.getFileName.toString))
      .toSeq
    assert(sources.size > 50, s"scan found only ${sources.size} sources")
    val violations = for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- envRead.findAllMatchIn(text)
      named = namedRead.findPrefixMatchOf(text.substring(m.start)).map(_.group(1))
      if !named.exists(allowedNames.contains)
    } yield s"${root.relativize(p)}:${text.take(m.start).count(_ == '\n') + 1}" +
      s" reads ${named.getOrElse("the environment")}"
    assert(violations.isEmpty, violations.mkString("library-level env knobs:\n", "\n", ""))
  }
}
