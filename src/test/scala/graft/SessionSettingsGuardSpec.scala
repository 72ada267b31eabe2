package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session settings change in one place: [[Sessions]] sets them on a
  * throwaway clone. Any other `conf.set`, `conf.unset` or assignment
  * to `extraOptimizations` under `src/main` would change a session the
  * caller shares — this spec names every such line.
  */
class SessionSettingsGuardSpec extends AnyFunSuite {

  private val allowedFiles = Set("Sessions.scala", "SessionShim.scala")
  private val mutation = """conf\.set\(|conf\.unset\(|extraOptimizations\s*(\+\+|:\+)?=(?!=)""".r

  test("no session setting changes outside Sessions and its shim") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the main source tree")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100)
    val offending = for {
      f: Path <- files if !allowedFiles(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if mutation.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }
}
