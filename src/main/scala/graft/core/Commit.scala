package graft.core

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Options, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Crash-safe artifact commit: the ONE place that knows how a
  * directory or file artifact (model, checkpoint, index, sidecar, gate
  * slot) is replaced. A reader polling the target sees the previous
  * artifact or the new one in full — never a half-written one, and a
  * failed build leaves the previous artifact and no staging debris.
  *
  * All IO goes through the Hadoop FileSystem API, so artifacts may live
  * on any supported filesystem; paths resolve through the active (or
  * default) session's Hadoop configuration.
  */
object Commit {

  private def activeConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration)

  def fs(path: String): FileSystem = new HPath(path).getFileSystem(activeConf)

  /** Name prefix of `name`'s hidden staging siblings (`.{name}.tmp-{uuid}`). */
  def stagingPrefix(name: String): String = s".$name.tmp-"

  private def staging(target: HPath, uuid: UUID): HPath =
    new HPath(target.getParent, stagingPrefix(target.getName) + uuid)

  /** Replace directory `dir` with what `build` writes into the (already
    * created) staging directory it is handed. Never delete-then-rename:
    * the previous build is moved aside, the new one renamed in, and only
    * then is the old one dropped. `dir` never holds a partial build; a
    * failed rename puts the old one back, and a crash between the two
    * renames leaves `dir` absent (readers see no artifact) with the old
    * build kept under its `.{name}.old-{uuid}` sibling. A `build` that
    * throws leaves `dir` untouched and its staging directory deleted.
    */
  def replaceDir(dir: String)(build: String => Unit): Unit = {
    val root = new HPath(dir)
    val f = fs(dir)
    val uuid = UUID.randomUUID()
    val stage = staging(root, uuid)
    try { f.mkdirs(stage); build(stage.toString) }
    catch { case e: Throwable => f.delete(stage, true); throw e }
    val old = new HPath(root.getParent, s".${root.getName}.old-$uuid")
    val hadOld = f.exists(root)
    if (hadOld && !f.rename(root, old)) {
      f.delete(stage, true)
      throw new java.io.IOException(s"commit: move-aside of $root failed")
    }
    if (!f.rename(stage, root)) {
      if (hadOld) f.rename(old, root)
      f.delete(stage, true)
      throw new java.io.IOException(s"commit: rename $stage -> $root failed")
    }
    if (hadOld) { f.delete(old, true); () }
  }

  /** Replace file `path` with what `write` streams: a temp sibling is
    * written in full, then renamed over the target. The rename prefers
    * FileContext's atomic OVERWRITE (HDFS and local), so readers never
    * see the key missing; filesystems without it fall back to
    * delete-then-rename, whose worst crash window is no file (readers
    * treat that as absent, never as partial). A `write` that throws
    * leaves the target untouched and the temp sibling deleted.
    */
  def replaceFile(path: String)(write: java.io.OutputStream => Unit): Unit = {
    val dst = new HPath(path)
    val f = fs(path)
    val tmp = staging(dst, UUID.randomUUID())
    try {
      val out = f.create(tmp, true)
      try write(out) finally out.close()
    } catch { case e: Throwable => f.delete(tmp, false); throw e }
    val overwrote =
      try {
        val fc = FileContext.getFileContext(f.getUri, f.getConf)
        fc.rename(fc.makeQualified(tmp), fc.makeQualified(dst), Options.Rename.OVERWRITE)
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    if (!overwrote) {
      f.delete(dst, false) // rename-over-existing fails on some filesystems
      if (!f.rename(tmp, dst)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"commit: rename $tmp -> $dst failed")
      }
    }
  }

  /** Create file `path`, which must not exist yet, with what `write`
    * streams: a temp sibling is written in full, then renamed to the
    * target with the FileSystem rename, which never overwrites a file,
    * so readers see the whole file or none. For keys unique by
    * construction (a timestamped archive object): it skips
    * [[replaceFile]]'s overwriting rename, which costs several times the
    * write on the local filesystem. Throws FileAlreadyExistsException,
    * leaving the target untouched, when it exists. Neither failure nor a
    * `write` that throws leaves a temp sibling.
    */
  def createFile(path: String)(write: java.io.OutputStream => Unit): Unit = {
    val dst = new HPath(path)
    val f = fs(path)
    val tmp = staging(dst, UUID.randomUUID())
    try {
      val out = f.create(tmp, false)
      try write(out) finally out.close()
    } catch { case e: Throwable => f.delete(tmp, false); throw e }
    if (!f.rename(tmp, dst)) {
      f.delete(tmp, false)
      if (f.exists(dst)) throw new FileAlreadyExistsException(s"commit: $dst exists")
      throw new java.io.IOException(s"commit: rename $tmp -> $dst failed")
    }
  }

  /** The whole of a small file, or None when it does not exist. */
  def readBytes(path: String, conf: Configuration = activeConf): Option[Array[Byte]] = {
    val p = new HPath(path)
    val f = p.getFileSystem(conf)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(in.readAllBytes()) finally in.close()
    }
  }

  /** Write a small file in place — for files inside a staging directory
    * or under a fresh unique name, where no reader can see them early.
    */
  def writeBytes(path: String, content: Array[Byte]): Unit = {
    val out = fs(path).create(new HPath(path), true)
    try out.write(content) finally out.close()
  }
}
