package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.operators.ZoneMap.{NumRange, StrRange, ZoneEntry}

/** Zone-map sidecar + file pruning: footer stats must be EXACT on
  * what was written, pruning must never drop a matching row (the
  * superset contract) — also for files added or rewritten after the
  * harvest — and the prune decision table (no-stats / all-null /
  * type-mismatch) must behave as documented.
  */
class ZoneMapSpec extends AnyFunSuite with SparkTestBase {

  private def scratch(): String =
    Files.createTempDirectory("graft_zonemap_spec").toString

  private def writePartitioned(df: DataFrame, dir: String, parts: Int): Unit =
    df.repartitionByRange(parts, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)

  private def sidecar(dir: String): Seq[ZoneEntry] =
    ZoneMap.readSidecarPath(new org.apache.hadoop.fs.Path(dir, ZoneMap.SidecarFile),
      spark.sparkContext.hadoopConfiguration).get

  test("manifest carries exact per-file min/max/null/row stats") {
    import spark.implicits._
    val dir = scratch() + "/t"
    // one file by construction: bounds are those of the whole column
    Seq((1L, 10.0, "apple"), (2L, -3.5, "pear"), (3L, 7.25, null))
      .toDF("k", "v", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    ZoneMap.refreshSidecar(spark, dir, Seq("k", "v", "s"))
    val mf = sidecar(dir).map(e => e.col -> e).toMap
    assert(mf.keySet === Set("k", "v", "s"))
    assert(mf.values.forall(e => e.hasStats && e.nRows == 3))
    assert(mf("k").vminNum.contains(1.0))
    assert(mf("k").vmaxNum.contains(3.0))
    assert(mf("v").vminNum.contains(-3.5))
    assert(mf("v").vmaxNum.contains(10.0))
    assert(mf("s").vminStr.contains("apple"))
    assert(mf("s").vmaxStr.contains("pear"))
    assert(mf("s").nNulls === 1)
    assert(mf("k").nNulls === 0)
  }

  test("pruned read is exactly the full filtered multiset, and skips files") {
    import spark.implicits._
    val dir = scratch() + "/t"
    val df = (0 until 4000)
      .map(i => (i.toLong, (i % 97).toDouble, s"u${i % 13}"))
      .toDF("k", "v", "s")
    writePartitioned(df, dir, 16)
    ZoneMap.refreshSidecar(spark, dir, Seq("k", "v"))
    val preds = Seq(NumRange("k", Some(100.0), Some(340.0)))
    val pr = ZoneMap.prunedRead(spark, dir, preds)
    assert(pr.filesTotal === 16)
    assert(pr.filesKept < pr.filesTotal, "range-sorted files must skip")
    val got = pr.df.filter(col("k").between(100, 340))
      .orderBy("k").select("k", "v", "s").collect().toSeq
    val want = spark.read.parquet(dir).filter(col("k").between(100, 340))
      .orderBy("k").select("k", "v", "s").collect().toSeq
    assert(got === want)
  }

  test("a file appended after the harvest is read: the pruned read stays exact") {
    import spark.implicits._
    val dir = scratch() + "/t"
    writePartitioned((0 until 4000)
      .map(i => (i.toLong, (i % 97).toDouble)).toDF("k", "v"), dir, 16)
    ZoneMap.refreshSidecar(spark, dir, Seq("k"))
    // a late file the sidecar never saw, its rows inside the predicate
    (200 until 260).map(i => (i.toLong, -1.0)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val pr = ZoneMap.prunedRead(spark, dir, Seq(NumRange("k", Some(100.0), Some(340.0))))
    assert(pr.filesTotal === 17)
    assert(pr.filesKept < pr.filesTotal, "the harvested files still skip")
    def filtered(df: DataFrame) = df.filter(col("k").between(100, 340))
      .orderBy("k", "v").as[(Long, Double)].collect().toSeq
    val want = filtered(spark.read.parquet(dir))
    assert(want.count(_._2 == -1.0) === 60)
    assert(filtered(pr.df) === want)
  }

  test("a file rewritten in place with new bounds: its matching rows come back") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileUtil, Path}
    val dir = scratch() + "/t"
    writePartitioned((0 until 400).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), dir, 4)
    ZoneMap.refreshSidecar(spark, dir, Seq("k"))
    val preds = Seq(NumRange("k", Some(900.0), Some(950.0)))
    assert(ZoneMap.prunedRead(spark, dir, preds).filesKept === 0)
    // same path, new content [900, 949] and a new mtime: the sidecar
    // still holds the old file's bounds
    val target = ZoneMap.dataFiles(spark, dir).head
    val tmp = scratch() + "/rw"
    (900 until 950).map(i => (i.toLong, -1.0)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(target)
    val fs = p.getFileSystem(conf)
    val before = fs.getFileStatus(p).getModificationTime
    FileUtil.copy(fs, new Path(ZoneMap.dataFiles(spark, tmp).head), fs, p, false, true, conf)
    fs.setTimes(p, before + 60000L, -1)
    val pr = ZoneMap.prunedRead(spark, dir, preds)
    assert(pr.filesKept === 1, "the stale entry must not prune the rewritten file")
    val got = pr.df.filter(col("k").between(900, 950)).as[(Long, Double)].collect()
    assert(got.map(_._1).sorted.toSeq === (900L until 950L))
  }

  test("freshEntries: a known, equal mtime on the same URI path speaks for a live file") {
    def entry(file: String, mtime: Long) = ZoneEntry(file, "k", 1, hasStats = true,
      Some(0.0), Some(1.0), None, None, 0, isFloat = false, mtime = mtime)
    val bare = entry("/t/a.parquet", 5L)         // bare path, scheme-qualified live path
    val legacy = entry("file:/t/b.parquet", 0L)  // mtime 0: never fresh
    val stale = entry("file:/t/c.parquet", 8L)   // rewritten since the harvest
    val qualified = entry("file:/t/d.parquet", 11L) // scheme-qualified, bare live path
    val gone = entry("file:/t/gone.parquet", 3L) // no live file
    val live = Seq(("file:/t/a.parquet", 5L), ("/t/b.parquet", 0L), ("/t/c.parquet", 9L),
      ("/t/d.parquet", 11L), ("/t/e.parquet", 4L)) // e: unmentioned
    assert(ZoneMap.freshEntries(live, Seq(bare, legacy, stale, qualified, gone)) ===
      Seq(Seq(bare), Nil, Nil, Seq(qualified), Nil))
  }

  test("conjunction prunes on either column; open-ended bounds work") {
    import spark.implicits._
    val dir = scratch() + "/t"
    val df = (0 until 2000).map(i => (i.toLong, i.toDouble / 2)).toDF("k", "v")
    writePartitioned(df, dir, 8)
    ZoneMap.refreshSidecar(spark, dir, Seq("k", "v"))
    // v tracks k here, so a v-only bound prunes too
    val (keptV, total) = ZoneMap.keptLiveFiles(spark, dir, Seq(NumRange("v", None, Some(100.0))))
    assert(total === 8 && keptV.size < 8)
    val (keptBoth, _) = ZoneMap.keptLiveFiles(spark, dir,
      Seq(NumRange("k", Some(1990.0), None), NumRange("v", None, Some(100.0))))
    assert(keptBoth.isEmpty, "contradictory conjunction leaves no file")
    val pr = ZoneMap.prunedRead(spark, dir,
      Seq(NumRange("k", Some(1990.0), None), NumRange("v", None, Some(100.0))))
    assert(pr.df.count() === 0L && pr.df.columns.toSeq === Seq("k", "v"))
  }

  test("string zones prune lexicographic ranges without dropping matches") {
    import spark.implicits._
    val dir = scratch() + "/t"
    val df = ('a' to 'z').flatMap(c => (0 until 40).map(i => (f"$c$i%02d", i.toLong)))
      .toDF("k", "n") // k: "a00".."z39", range-sorted into files
    writePartitioned(df, dir, 6)
    ZoneMap.refreshSidecar(spark, dir, Seq("k"))
    val pr = ZoneMap.prunedRead(spark, dir,
      Seq(StrRange("k", Some("c"), Some("d~"))))
    assert(pr.filesKept < pr.filesTotal)
    val got = pr.df.filter(col("k") >= "c" && col("k") <= "d~")
      .orderBy("k").as[(String, Long)].collect().toSeq
    val want = spark.read.parquet(dir).filter(col("k") >= "c" && col("k") <= "d~")
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(got.nonEmpty && got === want)
  }

  test("all-null column prunes under a range predicate; mixed nulls keep") {
    import spark.implicits._
    val dir = scratch() + "/t"
    Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    ZoneMap.refreshSidecar(spark, dir, Seq("v"))
    val (kept, total) = ZoneMap.keptLiveFiles(spark, dir, Seq(NumRange("v", Some(0.0), None)))
    assert(total === 1 && kept.isEmpty, "all-null file must prune")
    // mixed null/value file: bounds come from the values, file keeps
    val dir2 = scratch() + "/t2"
    Seq((1L, Some(5.0)), (2L, Option.empty[Double]))
      .toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(dir2)
    ZoneMap.refreshSidecar(spark, dir2, Seq("v"))
    val (kept2, _) = ZoneMap.keptLiveFiles(spark, dir2, Seq(NumRange("v", Some(4.0), Some(6.0))))
    assert(kept2.size === 1)
  }

  test("decision table: no-stats keeps, type mismatch keeps, missing col keeps") {
    val entries = Seq(
      // f1: no usable stats on k -> never pruned on k
      ZoneEntry("f1", "k", 10, hasStats = false, None, None, None, None, 0, isFloat = false),
      // f2: string zone on k -> a NumRange on k is a type mismatch
      ZoneEntry("f2", "k", 10, hasStats = true, None, None, Some("a"), Some("b"), 0, isFloat = false),
      // f3: numeric zone far outside the predicate -> prunes
      ZoneEntry("f3", "k", 10, hasStats = true, Some(1000.0), Some(2000.0), None, None, 0, isFloat = false)
    )
    def kept(preds: Seq[ZoneMap.ZonePred]): Set[String] =
      entries.filter(e => ZoneMap.keepFile(Map(e.col -> e), preds)).map(_.file).toSet
    assert(kept(Seq(NumRange("k", Some(0.0), Some(5.0)))) === Set("f1", "f2"))
    // predicate on a column absent from the file's entries: keep
    assert(kept(Seq(NumRange("zzz", Some(0.0), Some(1.0)))) === Set("f1", "f2", "f3"))
    // a file with no (fresh) entries at all is kept
    assert(ZoneMap.keepFile(Map.empty, Seq(NumRange("k", Some(0.0), Some(5.0)))))
    // StrRange against the string zone prunes / keeps by bounds
    val kept3 = kept(Seq(StrRange("k", Some("c"), None)))
    assert(!kept3.contains("f2") && kept3.contains("f1"))
  }

  test("soundness hardening: big-binary bound drop, NaN, UTF-8 order, one-sided entry") {
    import spark.implicits._
    // bounds absent but NOT all-null (the oversized-binary shape where
    // a writer drops min/max yet keeps null counts): must KEEP under
    // any range predicate — all-null is proven only by nNulls == nRows
    val dropped = Map("s" -> ZoneEntry("f", "s", 10, hasStats = true,
      None, None, None, None, nNulls = 3, isFloat = false))
    assert(ZoneMap.keepFile(dropped, Seq(StrRange("s", Some("a"), None))))
    assert(ZoneMap.keepFile(dropped, Seq(NumRange("s", Some(1.0), None))))
    val allNull = Map("s" -> ZoneEntry("f", "s", 10, hasStats = true,
      None, None, None, None, nNulls = 10, isFloat = false))
    assert(!ZoneMap.keepFile(allNull, Seq(StrRange("s", Some("a"), None))))

    // a real file with a NaN row: Spark ranks NaN above every value,
    // so `v >= 5` MATCHES the NaN row — the file must be kept (the
    // writer omits float min/max when NaN is present, which the
    // harvest guards surface as hasStats=false: conservative on BOTH
    // sides)
    val dir = scratch() + "/nan"
    Seq((1L, 1.0), (2L, Double.NaN)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    ZoneMap.refreshSidecar(spark, dir, Seq("v"))
    val (keptLo, _) = ZoneMap.keptLiveFiles(spark, dir, Seq(NumRange("v", Some(5.0), None)))
    assert(keptLo.size === 1, "float lo-bound must not prune (NaN rows match)")
    val sparkMatches = spark.read.parquet(dir).filter(col("v") >= 5.0).count()
    assert(sparkMatches === 1L, "Spark total order: NaN >= 5.0")

    // clean float file (no NaN): bounds exist, but the lo test is
    // STILL disabled (a different file of the same column may hold
    // NaN invisibly — the stats alone cannot prove max-ness under
    // Spark's total order), while the hi side prunes soundly
    val dirF = scratch() + "/fl"
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dirF)
    ZoneMap.refreshSidecar(spark, dirF, Seq("v"))
    val (keptFLo, _) = ZoneMap.keptLiveFiles(spark, dirF, Seq(NumRange("v", Some(5.0), None)))
    assert(keptFLo.size === 1, "float zones never prune on a lower bound")
    val (keptFHi, _) = ZoneMap.keptLiveFiles(spark, dirF, Seq(NumRange("v", None, Some(0.5))))
    assert(keptFHi.isEmpty, "float hi-bound pruning stays sound")
    assert(spark.read.parquet(dirF).filter(col("v") <= 0.5).count() === 0L)

    // UTF-8 vs UTF-16 order: an emoji (4-byte UTF-8) is the byte-order
    // max even though Java String order puts it below U+FFFF
    val dir2 = scratch() + "/utf8"
    Seq((1L, "￿"), (2L, "😀")).toDF("k", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir2)
    ZoneMap.refreshSidecar(spark, dir2, Seq("s"))
    val (keptS, _) = ZoneMap.keptLiveFiles(spark, dir2, Seq(StrRange("s", Some("￿"), None)))
    assert(keptS.size === 1, "file holds a matching row; byte-order max is the emoji")

    // one-sided sidecar entry must keep, never crash
    val oneSided = Map("k" -> ZoneEntry("f", "k", 10, hasStats = true,
      Some(1.0), None, None, None, 0, isFloat = false))
    assert(ZoneMap.keepFile(oneSided, Seq(NumRange("k", Some(100.0), Some(200.0)))))
  }

  test("refreshSidecar harvests only new files and drops deleted ones") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = scratch() + "/t"
    (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    assert(ZoneMap.refreshSidecar(spark, dir, Seq("k")) === ((2, 0)))
    val conf = spark.sparkContext.hadoopConfiguration
    def entries() = ZoneMap
      .readSidecarPath(new Path(dir, ZoneMap.SidecarFile), conf).get
    assert(entries().map(_.file).distinct.size === 2)

    // append: only the new file is harvested; columns come from the
    // existing sidecar
    (100 until 150).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(ZoneMap.refreshSidecar(spark, dir) === ((1, 0)))
    val es = entries()
    assert(es.map(_.file).distinct.size === 3)
    // the refreshed sidecar prunes the appended file like the others
    val (kept, total) = ZoneMap.keptLiveFiles(spark, dir, Seq(NumRange("k", Some(120.0), None)))
    assert(total === 3 && kept.size === 1)

    // a file REWRITTEN IN PLACE (same path, new content/mtime) must
    // re-harvest — path identity alone would keep stale zones and
    // prune unsoundly
    val rewrite = es.map(_.file).distinct.sorted.last
    val tmp = scratch() + "/rw"
    (9000 until 9050).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpFile = ZoneMap.dataFiles(spark, tmp).head
    val fsy = new Path(rewrite).getFileSystem(conf)
    Thread.sleep(5) // ensure the copy lands on a different mtime tick
    org.apache.hadoop.fs.FileUtil.copy(
      fsy, new Path(tmpFile), fsy, new Path(rewrite), false, true, conf)
    assert(ZoneMap.refreshSidecar(spark, dir) === ((1, 0)))
    val (keptRw, _) = ZoneMap.keptLiveFiles(spark, dir,
      Seq(NumRange("k", Some(9000.0), None)))
    assert(keptRw === Seq(rewrite),
      "refresh must pick up the rewritten file's new zones")

    // delete a file: its entries drop on the next refresh
    val victim = entries().map(_.file).distinct.sorted.head
    new Path(victim).getFileSystem(conf).delete(new Path(victim), false)
    assert(ZoneMap.refreshSidecar(spark, dir) === ((0, 1)))
    assert(entries().map(_.file).distinct.size === 2)
  }

  test("sharded sidecar: column slices bound the read, snapshots GC") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = scratch() + "/t"
    (0 until 400).map(i => (i.toLong, i.toDouble, s"s$i", i * 2.0))
      .toDF("k", "v", "name", "w")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    ZoneMap.refreshSidecar(spark, dir, Seq("k", "v", "name", "w"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val idx = new Path(dir, ZoneMap.SidecarFile)

    // the index is tiny no matter how many files/columns the manifest
    // tracks: O(columns) bytes, not O(files × columns)
    assert(fs.getFileStatus(idx).getLen < 512,
      "the index must stay a bounded column->shard map")
    // one shard per column, all underscore-prefixed (invisible to scans)
    val shards = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("_zone_map.c"))
    assert(shards.length === 4)

    // a single-column slice returns ONLY that column's entries (8 files)
    val slice = ZoneMap.readSidecarColumns(idx, conf, Some(Set("k"))).get
    assert(slice.map(_.col).distinct === Seq("k"))
    assert(slice.size === 8)
    // and the full read still sees everything
    assert(ZoneMap.readSidecarPath(idx, conf).get.size === 32)
    // a column the manifest doesn't track: empty slice, not a failure
    assert(ZoneMap.readSidecarColumns(idx, conf, Some(Set("zzz"))).get.isEmpty)

    // table data stays readable with the sidecar files in place
    assert(spark.read.parquet(dir).count() === 400L)

    // a re-write (here: dropping two tracked columns) supersedes the
    // snapshot and GCs the old shard files
    ZoneMap.refreshSidecar(spark, dir, Seq("k", "v"))
    val after = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("_zone_map.c"))
    assert(after.length === 2, s"stale shards must GC (got ${after.toSeq})")
    assert(after.toSet.intersect(shards.toSet).isEmpty,
      "new snapshot must use fresh shard names")
  }

  test("a bare-array _zone_map.json reads as no sidecar") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = scratch() + "/t"
    writePartitioned((0 until 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v"), dir, 4)
    ZoneMap.refreshSidecar(spark, dir, Seq("k", "v"))
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = new Path(dir, ZoneMap.SidecarFile)
    val entries = ZoneMap.readSidecarPath(idx, conf).get
    assert(entries.size === 8)

    // the same entries as one bare JSON array in place of the index:
    // no build writes that shape, so it must not prune anything
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    entries.foreach { e =>
      val o = arr.addObject()
      o.put("file", e.file); o.put("col", e.col); o.put("nRows", e.nRows)
      o.put("hasStats", e.hasStats)
      e.vminNum.foreach(o.put("vminNum", _)); e.vmaxNum.foreach(o.put("vmaxNum", _))
      o.put("nNulls", e.nNulls); o.put("isFloat", e.isFloat); o.put("mtime", e.mtime)
    }
    val out = idx.getFileSystem(conf).create(idx, true)
    try out.write(m.writeValueAsBytes(arr)) finally out.close()
    assert(ZoneMap.readSidecarColumns(idx, conf, cols = None) === None)
    assert(ZoneMap.readSidecarColumns(idx, conf, Some(Set("v"))) === None)
  }

  test("sketch refresh with named columns fails loudly on a table without data files") {
    val dir = scratch() + "/empty"
    new java.io.File(dir).mkdirs()
    Seq[Seq[String] => Int](
      ZoneMap.refreshBlooms(spark, dir, _),
      ZoneMap.refreshHlls(spark, dir, _),
      ZoneMap.refreshKlls(spark, dir, _)).foreach { refresh =>
      val e = intercept[IllegalArgumentException](refresh(Seq("k")))
      assert(e.getMessage.contains("no parquet data files"))
      // no named columns and no sidecar: nothing tracked, nothing to do
      assert(refresh(Nil) === 0)
    }
  }

  test("aggFromManifest: exact metadata-only census, refuses whenever it cannot prove exactness") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = scratch() + "/t"
    (0 until 300).map(i => (i.toLong + 7,
        if (i % 5 == 0) None else Some(i.toLong),
        i.toDouble, s"s$i"))
      .toDF("k", "opt", "f", "name")
      .repartitionByRange(3, col("k")).sortWithinPartitions("k")
      .write.mode("overwrite").parquet(dir)
    ZoneMap.refreshSidecar(spark, dir, Seq("k", "opt", "f", "name"))

    // int column: counts AND bounds exact
    val k = ZoneMap.aggFromManifest(spark, dir, "k").get
    assert(k.nRows === 300L && k.nNonNull === 300L)
    assert(k.bounds === Some((7.0, 306.0)))
    // nullable column: null census exact
    val o = ZoneMap.aggFromManifest(spark, dir, "opt").get
    assert(o.nRows === 300L && o.nNonNull === 240L)
    // float column: counts yes, bounds refused (footer extrema of a
    // floating column are not Spark's — NaN is invisible to them)
    val f = ZoneMap.aggFromManifest(spark, dir, "f").get
    assert(f.nRows === 300L && f.bounds.isEmpty)
    // a NaN-carrying double column: parquet drops its min/max entirely
    // (PARQUET-1225 shape), the zone is no-stats, the agg REFUSES —
    // conservative and sound
    val nanDir = scratch() + "/nan"
    (0 until 50).map(i => (i.toLong, if (i % 3 == 0) Double.NaN else i.toDouble))
      .toDF("k", "f").coalesce(1).write.mode("overwrite").parquet(nanDir)
    ZoneMap.refreshSidecar(spark, nanDir, Seq("f"))
    assert(ZoneMap.aggFromManifest(spark, nanDir, "f").isEmpty)
    // string column: counts yes, numeric bounds refused
    assert(ZoneMap.aggFromManifest(spark, dir, "name").get.bounds.isEmpty)
    // untracked column: refused outright
    assert(ZoneMap.aggFromManifest(spark, dir, "zzz").isEmpty)

    // a late-arrived file the sidecar has not seen: refused (the
    // manifest cannot speak for the table)
    Seq((9999L, Option(1L), 1.0, "late")).toDF("k", "opt", "f", "name")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(ZoneMap.aggFromManifest(spark, dir, "k").isEmpty)
    // refresh re-admits it — and the census includes the new row
    ZoneMap.refreshSidecar(spark, dir)
    val k2 = ZoneMap.aggFromManifest(spark, dir, "k").get
    assert(k2.nRows === 301L && k2.bounds === Some((7.0, 9999.0)))

    // an in-place rewrite (stale mtime) is refused until re-harvested
    val one = ZoneMap.dataFiles(spark, dir).head
    val p = new Path(one)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(p, fs.getFileStatus(p).getModificationTime + 60000L, -1)
    assert(ZoneMap.aggFromManifest(spark, dir, "k").isEmpty)
  }

  test("z-ordered layout + zone map prunes BOTH dimensions") {
    import spark.implicits._
    val dir = scratch() + "/t"
    val rnd = new scala.util.Random(7)
    val df = (0 until 8000)
      .map(_ => (rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      .toDF("a", "b")
    Layout.zOrder(df, "a", "b", 16, ranges = Some((0.0, 100.0, 0.0, 100.0)))
      .write.mode("overwrite").parquet(dir)
    ZoneMap.refreshSidecar(spark, dir, Seq("a", "b"))
    val (keptA, total) = ZoneMap.keptLiveFiles(spark, dir, Seq(NumRange("a", None, Some(10.0))))
    val (keptB, _) = ZoneMap.keptLiveFiles(spark, dir, Seq(NumRange("b", None, Some(10.0))))
    assert(total === 16)
    assert(keptA.size < total, "z-order must make dim a prunable")
    assert(keptB.size < total, "z-order must make dim b prunable")
    // correctness under the 2-D corner predicate
    val preds = Seq(NumRange("a", None, Some(10.0)), NumRange("b", None, Some(10.0)))
    val pr = ZoneMap.prunedRead(spark, dir, preds)
    val got = pr.df.filter(col("a") <= 10 && col("b") <= 10).count()
    val want = spark.read.parquet(dir).filter(col("a") <= 10 && col("b") <= 10).count()
    assert(got === want && want > 0)
  }

  test("HLL shards: NDV census from metadata, fresh-coverage refusal, incremental refresh") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("zm_hll").toString
    val dir = s"$work/t"
    // 6 files × 500 rows; k has 1000 distinct values spread across
    // files (every file holds a random-ish subset), s has 10
    (0 until 6).foreach { i =>
      (0 until 500).map { j =>
        val g = i * 500 + j
        ((g * 7919L) % 1000L, s"s${g % 10}")
      }.toDF("k", "s").coalesce(1).write.mode("append").parquet(dir)
    }
    ZoneMap.refreshSidecar(spark, dir, Seq("k"))
    assert(ZoneMap.refreshHlls(spark, dir, Seq("k", "s")) === 12)

    val exactK = spark.read.parquet(dir).select("k").distinct().count()
    val exactS = spark.read.parquet(dir).select("s").distinct().count()
    val ndvK = ZoneMap.ndvFromManifest(spark, dir, "k")
      .getOrElse(fail("fresh table must answer"))
    val ndvS = ZoneMap.ndvFromManifest(spark, dir, "s").get
    assert(ndvK.lower <= exactK && exactK <= ndvK.upper,
      s"2σ bounds must bracket the truth: $ndvK vs exact $exactK")
    assert(ndvS.estimate === exactS,
      "10 distinct values: HLL is exact at tiny cardinality")
    // the range maintenance loop PRESERVES sketches
    ZoneMap.refreshSidecar(spark, dir)
    assert(ZoneMap.ndvFromManifest(spark, dir, "k").isDefined)

    // a NEW file poisons the census to refusal until sketches refresh
    Seq((100000L, "s_new")).toDF("k", "s")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(ZoneMap.ndvFromManifest(spark, dir, "k").isEmpty,
      "an unsketched live file must refuse the census")
    // incremental: only the ONE new file re-scans
    assert(ZoneMap.refreshHlls(spark, dir) === 2, "one file × two columns")
    val after = ZoneMap.ndvFromManifest(spark, dir, "s").get
    assert(after.estimate === exactS + 1)
    // untracked column refuses
    assert(ZoneMap.ndvFromManifest(spark, dir, "nope").isEmpty)
  }

  test("KLL shards: quantile census from metadata with bounded rank error") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("zm_kll").toString
    val dir = s"$work/t"
    // v is a permutation of 0..2999 scattered across 6 files (7919 is
    // coprime to 3000), so every file's sketch sees a uniform slice
    (0 until 6).foreach { i =>
      (0 until 500).map { j =>
        val g = i * 500 + j
        ((g * 7919L) % 3000L, s"x$g")
      }.toDF("v", "s").coalesce(1).write.mode("append").parquet(dir)
    }
    assert(ZoneMap.refreshKlls(spark, dir, Seq("v")) === 6)
    val q = ZoneMap.quantilesFromManifest(spark, dir, "v", Seq(0.5, 0.9))
      .getOrElse(fail("fresh table must answer"))
    assert(q.n === 3000L, "sketch n is the exact non-null count")
    // uniform 0..2999: rank error eps translates to value error 3000·eps
    val tol = 2.0 * q.rankError * 3000.0 + 1.0
    assert(math.abs(q.values(0) - 1499.5) <= tol,
      s"median ${q.values(0)} off by more than $tol")
    assert(math.abs(q.values(1) - 2699.0) <= tol,
      s"p90 ${q.values(1)} off by more than $tol")

    // a new file refuses the census until sketches refresh
    Seq((5000L, "late")).toDF("v", "s").coalesce(1)
      .write.mode("append").parquet(dir)
    assert(ZoneMap.quantilesFromManifest(spark, dir, "v", Seq(0.5)).isEmpty)
    assert(ZoneMap.refreshKlls(spark, dir) === 1)
    assert(ZoneMap.quantilesFromManifest(spark, dir, "v", Seq(0.5)).get.n === 3001L)

    // non-numeric columns are refused at build time
    val e = intercept[IllegalArgumentException] {
      ZoneMap.refreshKlls(spark, dir, Seq("s"))
    }
    assert(e.getMessage.contains("NUMERIC"))
  }
}
