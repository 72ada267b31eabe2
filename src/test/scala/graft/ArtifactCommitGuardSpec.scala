package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Artifacts are replaced in one place: [[graft.core.Commit]] stages a
  * directory or file and swaps it in crash-safely. An overwriting
  * rename, an atomic move or a move-aside name anywhere else under
  * `src/main` is a second copy of that protocol — this spec names every
  * such line. Likewise a GBT artifact is one driver-written model.gbt:
  * MLlib model persistence, a metadata.json sidecar or a tar codec under
  * `src/main` would be a second artifact format.
  */
class ArtifactCommitGuardSpec extends AnyFunSuite {

  private val swap = """Rename\.OVERWRITE|ATOMIC_MOVE|\.old-""".r
  private val modelPersistence =
    """\.write\.overwrite\(\)\.save|Model\.load\(|metadata\.json|core\.Tar\b|\bTar\.""".r

  private lazy val files: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the main source tree")
    val all = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(all.size > 100)
    all
  }

  private def offending(pattern: scala.util.matching.Regex, skip: Path => Boolean): Seq[String] =
    for {
      f <- files if !skip(f)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"

  test("no artifact swap outside the commit module") {
    val commit = Paths.get("graft", "core", "Commit.scala")
    assert(files.exists(_.endsWith(commit)))
    val found = offending(swap, _.endsWith(commit))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no MLlib model persistence, metadata.json sidecar or tar codec") {
    val found = offending(modelPersistence, _ => false)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
