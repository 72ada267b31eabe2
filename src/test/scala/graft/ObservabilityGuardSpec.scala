package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine measures itself in one place: spans ([[graft.obs.Spans]])
  * sum Spark's own events per span path. Job groups, the status tracker,
  * another listener or a hand-written timings file under `src/main`
  * would be a second mechanism — this spec names every such line.
  */
class ObservabilityGuardSpec extends AnyFunSuite {

  private val mechanism = """setJobGroup|statusTracker|addSparkListener|timings\.json""".r

  test("no second measuring mechanism outside graft/obs") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} is not the main source tree")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 100)
    val obs = root.resolve("graft/obs")
    val offending = for {
      f: Path <- files if !f.startsWith(obs)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if mechanism.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }
}
