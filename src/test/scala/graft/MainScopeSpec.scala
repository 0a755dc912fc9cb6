package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Guards the shape of `src/main`: it holds the library, its query gates
  * and four entry points, nothing else that runs on its own. Diagnostic
  * harnesses belong in test scope (`QueryProfile`, `AppendProbe`) or in
  * perfbench, and timing goes through perfbench's traced layers rather
  * than environment-gated stderr prints. */
class MainScopeSpec extends AnyFunSuite with Matchers {

  private val mainRoot = Paths.get("src", "main")

  private lazy val sources: Seq[(Path, String)] = {
    require(Files.isDirectory(mainRoot),
      s"MainScopeSpec runs from the repository root; no $mainRoot under " +
        sys.props("user.dir"))
    val walk = Files.walk(mainRoot)
    try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toList
    finally walk.close()
  }

  private val ObjectDecl =
    """(?m)^\s*(?:(?:private|protected|final|case)(?:\[\w+\])?\s+)*object\s+(\w+)""".r
  private val EntryPoint =
    """\bdef\s+main\s*\(\s*\w+\s*:\s*Array\[String\]\s*\)|\bextends\s+App\b""".r

  /** The enclosing object of each entry point: the nearest `object`
    * declared before it in the same file. */
  private def entryObjects(src: String): Seq[String] =
    EntryPoint.findAllMatchIn(src).map { m =>
      ObjectDecl.findAllMatchIn(src.substring(0, m.end)).toSeq.lastOption
        .map(_.group(1)).getOrElse("<no object>")
    }.toSeq

  test("src/main declares exactly four entry points: Bench, Verify, " +
    "StreamBench and ScaleDataGen") {
    sources should not be empty
    val found = sources.flatMap { case (p, src) =>
      entryObjects(src).map(_ -> p.toString)
    }
    withClue(found.mkString(", ")) {
      found.map(_._1).sorted shouldBe
        Seq("Bench", "ScaleDataGen", "StreamBench", "Verify")
    }
  }

  test("no src/main file reads the GRAFT_TIMING environment variable") {
    sources should not be empty
    sources.collect {
      case (p, src) if src.contains("GRAFT_TIMING") => p.toString
    } shouldBe empty
  }

  test("no scaladoc block in src/main opens on the line right after " +
    "another block closes, which would leave the upper one attached to " +
    "no definition") {
    sources should not be empty
    val stacked = sources.flatMap { case (p, src) =>
      val lines = src.split("\n", -1)
      (1 until lines.length).collect {
        case i if lines(i).trim.startsWith("/**") &&
          lines(i - 1).trim.endsWith("*/") => s"$p:${i + 1}"
      }
    }
    stacked shouldBe empty
  }
}
