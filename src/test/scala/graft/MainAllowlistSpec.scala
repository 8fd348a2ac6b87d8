package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's runnable mains are a fixed set: a new one-off main has to
  * replace one of these or be added here on purpose. Scans the sources; no
  * session.
  */
class MainAllowlistSpec extends AnyFunSuite {

  private val Allowed =
    Set("Bench", "Verify", "Measure", "ScaleProbe", "Demo", "Explain", "CuratePipeline")

  /** `src/main/scala` of the build, found upward from the working directory. */
  private def mainSources: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("no src/main/scala above the working directory"))

  test("src/main defines exactly the allowed mains") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = Files.walk(mainSources).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { file =>
        val text = Files.readString(file)
        """def main\(""".r.findAllMatchIn(text).map { m =>
          objectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
            .fold(s"<no object> in $file")(_.group(1))
        }
      }.toList
    assert(mains.sorted == Allowed.toList.sorted)
  }
}
