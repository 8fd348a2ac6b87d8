package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The marker protocol's write half has one home, `StoreProtocol`: no other
  * engine source mints an ingest content hash, names the commit-marker
  * directory or selects a tier fold by hand. Scans the sources; no session.
  */
class ProtocolSeamSpec extends AnyFunSuite {

  /** `src/main/scala` of the build, found upward from the working directory. */
  private def mainSources: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("no src/main/scala above the working directory"))

  /** Code lines (comments dropped) of every source but StoreProtocol's. */
  private lazy val codeLines: Seq[(String, Int, String)] =
    Files.walk(mainSources).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "StoreProtocol.scala")
      .toSeq
      .flatMap { file =>
        Files.readAllLines(file).asScala.zipWithIndex.flatMap { case (line, i) =>
          val t = line.trim
          if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) None
          else Some((mainSources.relativize(file).toString, i + 1,
            line.replaceAll("\\s//.*$", "")))
        }
      }

  private def sitesOf(needle: String): Seq[String] =
    codeLines.collect { case (f, n, l) if l.contains(needle) => s"$f:$n" }

  test("no ingest content hash outside StoreProtocol") {
    val sites = sitesOf("bit_xor(xxhash64")
    assert(sites.isEmpty, sites.mkString("\n"))
  }

  test("no commit-marker path outside StoreProtocol") {
    val sites = sitesOf("_commits")
    assert(sites.isEmpty, sites.mkString("\n"))
  }

  test("no hand-rolled tier-fold selection outside StoreProtocol") {
    val sites = sitesOf("tierFoldSelection(")
    assert(sites.isEmpty, sites.mkString("\n"))
  }
}
