package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** OPTIMIZE-style small-file compaction for a parquet lake table, with
  * sidecar CO-MAINTENANCE — the layout half of the maintenance loop
  * the zone-map layer assumes (the reference's groom plays this role
  * for the RDR store, `/root/reference/src/ingest/groom_handler.py`;
  * this operator is the generic-table analogue a 100 TB lake runs
  * nightly).
  *
  * Shape:
  *   - ONE listing walks the table (per-directory, so a Hive
  *     `k=v` layout compacts WITHIN partitions — rows never cross a
  *     partition boundary);
  *   - files under `smallBytes` pack into bins of ~`targetBytes` in
  *     NAME order — sequential packing, not first-fit-decreasing,
  *     because neighboring part files of a range-clustered or
  *     z-ordered table cover adjacent value ranges: packing neighbors
  *     preserves the clustering (and therefore zone-prune selectivity)
  *     that a size-greedy shuffle of bins would destroy;
  *   - each bin rewrites as ONE file (optionally re-sorted on
  *     `sortCol`), bins run as concurrent Spark jobs (bounded pool,
  *     the groom fan-out pattern);
  *   - inputs are deleted AFTER their bin's output lands, then the
  *     zone sidecar refreshes incrementally: [[ZoneMap.refreshSidecar]]
  *     harvests footers for the new files only and drops dead entries;
  *     [[ZoneMap.refreshBlooms]] re-attaches bloom filters where the
  *     sidecar tracked them. Between the rewrite and the refresh the
  *     rule's mtime freshness check keeps everything it cannot prove —
  *     pruning degrades during the window, soundness never.
  *
  * Crash-window contract (single-maintainer, like the sidecar writes
  * and the reference's groom): a crash between a bin's output landing
  * and its inputs' deletion leaves DUPLICATE rows visible until the
  * job re-runs (outputs are uuid-named, so a re-run compacts the
  * leftovers away but cannot identify half-deleted bins). A table
  * needing stronger atomicity needs a commit log — out of scope here,
  * and orthogonal to the pruning layer this feeds.
  */
object Compact {

  final case class CompactResult(
      bins: Int, filesIn: Int, filesOut: Int, bytesIn: Long)

  /** Compact `tableDir`. `targetBytes` sizes the output bins;
    * `smallBytes` (default `targetBytes`) caps which files are
    * candidates — pass a smaller value to leave mid-size files alone.
    * `sortCol` re-sorts each bin on write (one in-task sort of a
    * ~targetBytes bin — keeps zones tight when the table is clustered
    * on that column). Refreshes the zone sidecar (and its blooms) when
    * one exists, unless `refreshSidecar = false`.
    */
  def compact(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      smallBytes: Long = 0L,
      sortCol: Option[String] = None,
      refreshSidecar: Boolean = true,
      maxConcurrentBins: Int = 8): CompactResult = {
    require(targetBytes > 0, "targetBytes must be positive")
    val small = if (smallBytes > 0L) smallBytes else targetBytes
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // one recursive walk, grouped by PARENT directory: candidates never
    // mix across directories, so partition values (encoded in the
    // path) are preserved by construction
    val byDir = scala.collection.mutable.LinkedHashMap[Path,
      scala.collection.mutable.ArrayBuffer[(Path, Long)]]()
    def walk(d: Path): Unit =
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) ()
        else if (st.isDirectory) walk(st.getPath)
        else if (st.isFile && n.endsWith(".parquet"))
          byDir.getOrElseUpdate(d, scala.collection.mutable.ArrayBuffer())
            .+=((st.getPath, st.getLen))
      }
    walk(root)

    // NAME-ordER sequential packing per directory (see scaladoc); a
    // bin of one file is a no-op and is skipped
    val bins = byDir.toSeq.flatMap { case (dir, files) =>
      val cands = files.filter(_._2 < small).sortBy(_._1.getName)
      val out = scala.collection.mutable.ArrayBuffer[Seq[(Path, Long)]]()
      var cur = scala.collection.mutable.ArrayBuffer[(Path, Long)]()
      var curBytes = 0L
      cands.foreach { case (p, len) =>
        if (cur.nonEmpty && curBytes + len > targetBytes) {
          out += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer(); curBytes = 0L
        }
        cur += ((p, len)); curBytes += len
      }
      if (cur.nonEmpty) out += cur.toSeq
      out.filter(_.size > 1).map(dir -> _)
    }
    val filesIn = bins.map(_._2.size).sum
    val bytesIn = bins.map(_._2.map(_._2).sum).sum
    if (bins.isEmpty) return CompactResult(0, 0, 0, 0L)

    val tmpRoot = new Path(root, s"_compact_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    def rewriteBin(dir: Path, bin: Seq[(Path, Long)], i: Int): Unit = {
      val inputs = bin.map(_._1.toString)
      // explicit-file read: data columns only — partition values live
      // in the directory name the output lands back into
      val df = spark.read.parquet(inputs: _*)
      val one = sortCol.fold(df.coalesce(1))(c =>
        df.coalesce(1).sortWithinPartitions(col(c)))
      val tmp = new Path(tmpRoot, s"bin-$i")
      one.write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
        .getOrElse(throw new java.io.IOException(s"no output part under $tmp"))
      // output name sorts where the bin's FIRST input sorted: a later
      // compaction pass packs in name order too, so keeping the name
      // order aligned with the value order preserves clustering across
      // repeated maintenance runs (uuid suffix for uniqueness)
      val dst = new Path(dir,
        s"${bin.head._1.getName.stripSuffix(".parquet")}" +
          s"-c${java.util.UUID.randomUUID().toString.take(8)}.parquet")
      if (!fs.rename(part, dst))
        throw new java.io.IOException(s"compaction move failed: $part -> $dst")
      // delete-after-land (the groom/S8 contract; crash window
      // documented in the scaladoc)
      bin.foreach { case (p, _) => fs.delete(p, false) }
    }
    // a failing bin is rethrown only after its siblings drain: none is
    // still renaming into the table or writing under tmpRoot by then
    try graft.core.FanOut.run("compact", maxConcurrentBins)(
      bins.zipWithIndex.map { case ((dir, bin), i) => () => rewriteBin(dir, bin, i) })
    finally fs.delete(tmpRoot, true)

    // sidecar co-maintenance: new files harvest, dead entries drop,
    // tracked blooms re-attach — all incremental (O(changed files)).
    // The bloom COLUMN SET is read BEFORE the refresh: refreshSidecar
    // drops dead files' bloom entries, and a compaction that rewrote
    // every file would otherwise erase the knowledge of which columns
    // were bloomed at all.
    if (refreshSidecar) {
      val prior = ZoneMap.readSidecarPath(
        new Path(tableDir, ZoneMap.SidecarFile),
        spark.sparkContext.hadoopConfiguration)
      prior.foreach { entries =>
        val bloomCols = entries.collect {
          case e if ZoneMap.isBloomKey(e.col) =>
            e.col.stripPrefix(ZoneMap.BloomPrefix)
        }.distinct
        val hllCols = entries.collect {
          case e if ZoneMap.isHllKey(e.col) =>
            e.col.stripPrefix(ZoneMap.HllPrefix)
        }.distinct
        val kllCols = entries.collect {
          case e if ZoneMap.isKllKey(e.col) =>
            e.col.stripPrefix(ZoneMap.KllPrefix)
        }.distinct
        ZoneMap.refreshSidecar(spark, tableDir)
        if (bloomCols.nonEmpty)
          ZoneMap.refreshBlooms(spark, tableDir, bloomCols)
        if (hllCols.nonEmpty)
          ZoneMap.refreshHlls(spark, tableDir, hllCols)
        if (kllCols.nonEmpty)
          ZoneMap.refreshKlls(spark, tableDir, kllCols)
      }
    }
    CompactResult(bins.size, filesIn, bins.size, bytesIn)
  }
}
