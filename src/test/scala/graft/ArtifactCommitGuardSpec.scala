package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Artifacts are replaced in one place: [[graft.core.Commit]] stages a
  * directory or file and swaps it in crash-safely. An overwriting
  * rename, an atomic move or a move-aside name anywhere else under
  * `src/main` is a second copy of that protocol — this spec names every
  * such line.
  */
class ArtifactCommitGuardSpec extends AnyFunSuite {

  private val swap = """Rename\.OVERWRITE|ATOMIC_MOVE|\.old-""".r

  test("no artifact swap outside the commit module") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the main source tree")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100)
    assert(files.exists(_.endsWith(Paths.get("graft", "core", "Commit.scala"))))
    val offending = for {
      f: Path <- files if !f.endsWith(Paths.get("graft", "core", "Commit.scala"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if swap.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }
}
