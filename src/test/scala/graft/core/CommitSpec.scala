package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The artifact commit: a replace that fails leaves the previous
  * artifact byte-identical and no staging sibling; one that succeeds
  * replaces the artifact whole.
  */
class CommitSpec extends AnyFunSuite {

  private def names(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("replaceFile: a writer that throws leaves the old file byte-identical and no temp sibling") {
    val dir = Files.createTempDirectory("commit_file")
    val target = dir.resolve("stats.json").toString
    Commit.replaceFile(target)(_.write("""{"v":1}""".getBytes("UTF-8")))
    val before = Files.readAllBytes(Paths.get(target))

    val boom = intercept[RuntimeException](Commit.replaceFile(target) { out =>
      out.write("""{"v":2,"tor""".getBytes("UTF-8"))
      throw new RuntimeException("writer failed")
    })
    assert(boom.getMessage == "writer failed")
    assert(Files.readAllBytes(Paths.get(target)).sameElements(before))
    assert(!names(dir).exists(_.contains(".tmp-")), names(dir))

    Commit.replaceFile(target)(_.write("""{"v":3}""".getBytes("UTF-8")))
    assert(Commit.readBytes(target).map(new String(_, "UTF-8")) == Some("""{"v":3}"""))
    assert(!names(dir).exists(_.contains(".tmp-")), names(dir))
    assert(Commit.readBytes(dir.resolve("absent").toString).isEmpty)
  }

  test("createFile: refuses an existing target and leaves it byte-identical") {
    val dir = Files.createTempDirectory("commit_create")
    val target = dir.resolve("m-2026-01-01-00-00-00-u1.gbt.gz").toString
    Commit.createFile(target)(_.write("v1".getBytes("UTF-8")))
    assert(Commit.readBytes(target).map(new String(_, "UTF-8")) == Some("v1"))
    val before = Files.readAllBytes(Paths.get(target))

    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
      Commit.createFile(target)(_.write("v2".getBytes("UTF-8"))))
    assert(Files.readAllBytes(Paths.get(target)).sameElements(before))
    assert(!names(dir).exists(_.contains(".tmp-")), names(dir))
  }

  test("createFile: a writer that throws leaves no target and no temp sibling") {
    val dir = Files.createTempDirectory("commit_create_fail")
    val target = dir.resolve("archive.gz").toString
    val boom = intercept[RuntimeException](Commit.createFile(target) { out =>
      out.write("partial".getBytes("UTF-8"))
      throw new RuntimeException("writer failed")
    })
    assert(boom.getMessage == "writer failed")
    assert(names(dir).isEmpty, names(dir))

    Commit.createFile(target)(_.write("whole".getBytes("UTF-8")))
    assert(Commit.readBytes(target).map(new String(_, "UTF-8")) == Some("whole"))
    assert(!names(dir).exists(_.contains(".tmp-")), names(dir))
  }

  test("replaceDir: a failed build keeps the old dir; a good one replaces it whole") {
    val parent = Files.createTempDirectory("commit_dir")
    val dir = parent.resolve("artifact").toString
    Commit.replaceDir(dir)(stage => Commit.writeBytes(s"$stage/a.txt", "v1".getBytes("UTF-8")))

    intercept[IllegalStateException](Commit.replaceDir(dir) { stage =>
      Commit.writeBytes(s"$stage/a.txt", "v2-partial".getBytes("UTF-8"))
      throw new IllegalStateException("build failed")
    })
    assert(Files.readString(Paths.get(dir, "a.txt")) == "v1")
    assert(names(parent) == Seq("artifact"))

    Commit.replaceDir(dir)(stage => Commit.writeBytes(s"$stage/b.txt", "v2".getBytes("UTF-8")))
    assert(!Files.exists(Paths.get(dir, "a.txt")), "stale file survived the replace")
    assert(Files.readString(Paths.get(dir, "b.txt")) == "v2")
    assert(names(parent) == Seq("artifact"), "no staging or moved-aside dir left")
  }
}
