package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM scratch root: [[GateArtifacts.once]] memoizes a
  * derivation, [[GateArtifacts.fresh]] hands a gate the same emptied
  * run dir every pass, and everything sits under one root that the
  * shutdown hook's cleanup removes. Each case runs on its own
  * [[GateArtifacts.Scratch]] so removing its root leaves the JVM's
  * scratch alone.
  */
class GateArtifactsSpec extends AnyFunSuite {

  private def scratch() =
    new GateArtifacts.Scratch(Files.createTempDirectory("gate_scratch_spec"))

  private def entries(dir: String): Long = {
    val l = Files.list(Paths.get(dir))
    try l.count() finally l.close()
  }

  private def under(root: Path, dir: String): Boolean =
    Paths.get(dir).normalize.startsWith(root)

  test("once builds once per key and returns the same dir") {
    val s = scratch()
    var builds = 0
    def build(dir: String): Unit = {
      builds += 1
      Files.writeString(Paths.get(dir, "v.txt"), s"build $builds")
    }
    val a = s.once("k|sf")(build)
    val again = s.once("k|sf")(build)
    assert(again == a && builds == 1)
    assert(Files.readString(Paths.get(a, "v.txt")) == "build 1")
    val other = s.once("k|sf2")(build)
    assert(other != a && builds == 2)
  }

  test("a build that throws stores nothing; the next call builds in a new dir") {
    val s = scratch()
    var failedIn = ""
    val e = intercept[RuntimeException](s.once("k") { dir =>
      failedIn = dir
      Files.writeString(Paths.get(dir, "partial.txt"), "x")
      throw new RuntimeException("build failed")
    })
    assert(e.getMessage == "build failed")
    val dir = s.once("k")(dir => Files.writeString(Paths.get(dir, "ok.txt"), "ok"))
    assert(dir != failedIn)
    assert(entries(dir) == 1)
    assert(Files.exists(Paths.get(dir, "ok.txt")))
  }

  test("fresh returns the same path, emptied") {
    val s = scratch()
    val first = s.fresh("gate_run")
    Files.createDirectories(Paths.get(first, "ckpt"))
    Files.writeString(Paths.get(first, "ckpt", "0"), "offsets")
    val second = s.fresh("gate_run")
    assert(second == first)
    assert(Files.isDirectory(Paths.get(second)))
    assert(entries(second) == 0)
    assert(s.fresh("other_run") != first)
    intercept[IllegalArgumentException](s.fresh("../escape"))
    intercept[IllegalArgumentException](s.fresh(".."))
  }

  test("every dir sits under the per-JVM root") {
    val s = scratch()
    val dirs = Seq(s.once("a")(_ => ()), s.once("b")(_ => ()), s.fresh("r"))
    dirs.foreach(d => assert(under(s.root, d), s"$d is outside ${s.root}"))
    // the JVM's own scratch follows the same rule under the scratch root
    val jvm = GateArtifacts.fresh("gate_artifacts_spec")
    assert(under(Paths.get(GateArtifacts.scratchRoot), jvm), jvm)
  }

  test("the cleanup the shutdown hook runs removes the root") {
    val s = scratch()
    val built = s.once("k")(dir => Files.writeString(Paths.get(dir, "f.txt"), "x"))
    s.fresh("run")
    assert(Files.exists(Paths.get(built)))
    s.cleanup()
    assert(!Files.exists(s.root))
    s.cleanup() // the hook runs it again at exit: a no-op
  }
}
