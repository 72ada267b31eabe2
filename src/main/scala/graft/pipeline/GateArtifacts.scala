package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Where the gate harness (Bench, Verify, Profile, ScaleStress, specs)
  * keeps what gates write. Two kinds, both under [[scratchRoot]]:
  *
  *  - Slots ([[buildSlot]]) under [[dir]]: the partition store the store
  *    gate writes and the training-data dumps the train gate writes,
  *    which the driver's DuckDB oracle re-reads AFTER the Verify JVM
  *    exits. Keyed by scale-factor directory so a bench run at sf0.1 can
  *    never clobber the sf0.01 artifacts the oracle is about to read.
  *    Verify substitutes [[Placeholder]] in oracle SQL with [[dir]] at
  *    dump time, so the SQL the driver executes points at this run's
  *    files.
  *  - Per-JVM scratch ([[once]], [[fresh]]): shared derivations and
  *    per-gate run dirs under one root that this JVM creates on first
  *    use and one shutdown hook deletes. The reference runs each job in
  *    a throwaway container whose scratch disappears with it; the
  *    harness runs every gate in one long-lived JVM, so the JVM is the
  *    container. Unique per JVM: two processes on one box never rebuild
  *    or delete each other's live files.
  */
object GateArtifacts {
  val Placeholder = "__GRAFT_GATES__"

  /** A crashed build's staging orphan is reaped only once this old —
    * anything younger is presumed a live concurrent builder's tree.
    * No real build holds a staging dir for an hour; a crashed one
    * holds it forever.
    */
  private[graft] val StagingReapAgeMs: Long = 60L * 60 * 1000

  /** tmpfs is typically capped at 50% of RAM and shared with the JVM
    * heap; a nearly-full /dev/shm would ENOSPC mid-gate (or pressure
    * the OOM killer) with only the env override as an escape hatch, so
    * the RAM default requires this much usable space — generous next
    * to the fixture artifacts (sf0.1 writes well under 1 GiB) — and
    * falls back to disk otherwise.
    */
  private[graft] val MinShmUsableBytes: Long = 8L << 30

  /** Scratch root for gate-lifetime artifacts: RAM-backed when the
    * host offers it. Gate artifacts are harness surface — rebuilt per
    * invocation, read back by the in-gate census and the driver's
    * DuckDB oracle (a separate process: tmpfs files persist across
    * processes, and dir() stays deterministic) — so their fsync/journal
    * traffic on a real disk is bench noise billed to whichever gate the
    * page-cache flush lands on, not engine cost. Production writes go
    * wherever the caller points the operators (PartitionStore/ModelStore
    * take explicit base dirs); nothing outside the gate/bench harness
    * reads this root. Override with SPARK_GRAFT_GATES_DIR (e.g. to force
    * disk when RAM is tight).
    */
  private[graft] lazy val scratchRoot: String =
    sys.env.get("SPARK_GRAFT_GATES_DIR").getOrElse {
      val shm = Paths.get("/dev/shm")
      val usable =
        try
          if (Files.isDirectory(shm) && Files.isWritable(shm))
            Files.getFileStore(shm).getUsableSpace
          else 0L
        catch { case _: java.io.IOException => 0L }
      if (usable >= MinShmUsableBytes) shm.toString
      else System.getProperty("java.io.tmpdir")
    }

  def dir(sfDir: String): String = {
    val tag = Paths.get(sfDir).toAbsolutePath.toString
      .replaceAll("[^A-Za-z0-9.]+", "_")
    s"$scratchRoot/graft_gates$tag"
  }

  /** Build a named artifact slot: `build` writes into a staging
    * directory, and only a fully-built staging tree is swapped into the
    * published slot path through [[graft.core.Commit.replaceDir]]. Each
    * gate owns one slot and rebuilds it per invocation, so a repeated
    * run (bench repeats, local iteration) never censuses stale files —
    * and a failed build or swap leaves the PREVIOUS slot intact. Never a
    * torn half-written slot silently censused as complete.
    * Returns the published path.
    */
  def buildSlot(sfDir: String, name: String)(build: String => Unit): String = {
    val slot = s"${dir(sfDir)}/$name"
    // UUID staging name: two concurrent builders (separate JVMs) must
    // not write into each other's staging tree — last rename wins the
    // slot, which is the same winner-takes-all a concurrent freshSlot
    // rewrite had, minus the torn-interleaving. Orphans from CRASHED
    // builds (which never reach their own cleanup) are reaped here
    // so retries start clean and /tmp stays flat — but ONLY staging
    // dirs older than `StagingReapAgeMs`: a young staging sibling may
    // belong to a LIVE concurrent builder, and deleting it would crash
    // that builder mid-write instead of letting rename order decide.
    val parent = Paths.get(slot).getParent
    if (Files.isDirectory(parent)) {
      val now = System.currentTimeMillis()
      val siblings = Files.list(parent)
      try siblings.filter { p =>
        p.getFileName.toString.startsWith(graft.core.Commit.stagingPrefix(name)) &&
          (try now - Files.getLastModifiedTime(p).toMillis > StagingReapAgeMs
           catch { case _: java.io.IOException => false }) // vanished concurrently
      }.forEach(deleteTree(_))
      finally siblings.close()
    }
    graft.core.Commit.replaceDir(slot)(build)
    slot
  }

  /** Depth-first recursive delete with the `Files.walk` stream CLOSED
    * (an unclosed walk leaks a directory handle per invocation).
    */
  private[graft] def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    }

  /** One JVM's scratch space: a root under `parent`, created on first
    * use, and removed by [[cleanup]], which creating the root registers
    * as a shutdown hook. A hard kill leaks the root, nothing else.
    */
  private[graft] final class Scratch(parent: Path) {
    @volatile private var created = false

    private[graft] lazy val root: Path = {
      val r = Files.createTempDirectory(Files.createDirectories(parent), "graft_jvm")
      created = true
      sys.addShutdownHook(cleanup())
      r
    }

    /** A derivation built at most once, in its own dir: concurrent
      * callers of one key wait for one build (the lazy val's lock);
      * different keys build independently, and a build may call
      * [[once]] itself.
      */
    private final class Cell(build: () => Path) { lazy val dir: Path = build() }
    private val memo = new ConcurrentHashMap[String, Cell]()

    def once(key: String)(build: String => Unit): String = {
      val cell = memo.computeIfAbsent(key, _ => new Cell(() => {
        val d = Files.createTempDirectory(Files.createDirectories(root.resolve("once")), "d")
        build(d.toString)
        d
      }))
      // a build that throws stores nothing: the next call rebuilds in a
      // new dir, and the partial one goes with the root
      try cell.dir.toString
      catch { case e: Throwable => memo.remove(key, cell); throw e }
    }

    def fresh(name: String): String = {
      require(name.matches("[A-Za-z0-9_.-]+") && name != "." && name != "..",
        s"scratch dir name must be one path segment: '$name'")
      val d = root.resolve("fresh").resolve(name)
      deleteTree(d)
      Files.createDirectories(d).toString
    }

    def cleanup(): Unit = if (created) deleteTree(root)
  }

  private lazy val scratch = new Scratch(Paths.get(scratchRoot))

  /** The dir of derivation `key`, built by `build` on the first call in
    * this JVM. Every gate that shares a derivation reads the same dir:
    * parquet, not persist() — the harnesses clearCache() between gates.
    */
  private[graft] def once(key: String)(build: String => Unit): String =
    scratch.once(key)(build)

  /** A stable dir `name`, emptied at the start of each call: a gate's
    * per-pass output (checkpoints, sinks, indexes) restarts clean every
    * pass, and a suite holds at most one such dir per gate. The
    * previous pass's result must have been consumed by then, as it is
    * in every harness.
    */
  private[graft] def fresh(name: String): String = scratch.fresh(name)
}
