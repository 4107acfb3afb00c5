package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The suite runs from the repo root and reads the repo's own files by
  * repo-relative path, so it passes in any checkout of the repo. */
class RepoPathsSpec extends AnyFunSuite {

  test("no test names a repo file by an absolute path") {
    val cwd = Paths.get("").toAbsolutePath
    assert(Files.isDirectory(cwd.resolve("src/test")), s"run from the repo root: $cwd")
    // a literal that starts with this checkout's path, or an absolute path
    // into one of the repo's top-level entries (fixtures/, build.sbt, ...)
    val entries = Files.list(cwd).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq
    val absolute = ("\"(" + Pattern.quote(cwd.toString) + "|/[^\"\\s]*/(" +
      entries.map(Pattern.quote).mkString("|") + ")[/\"])").r
    val hits = Files.walk(cwd.resolve("src/test")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if absolute.findFirstIn(l).nonEmpty => s"${cwd.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(hits.isEmpty, s"read repo files by repo-relative path: ${hits.mkString(", ")}")
  }
}
