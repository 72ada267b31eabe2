package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** OPTIMIZE-style compaction: per-partition-directory bin packing,
  * row-exact rewrites, and sidecar co-maintenance (range zones AND
  * blooms re-attach incrementally after the rewrite).
  */
class CompactSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("bin-packs per partition dir; rows exact; sidecar+blooms refresh") {
    val work = Files.createTempDirectory("compact").toString
    val dir = s"$work/t"
    // 6 small appends under p=a, 4 under p=b — 10 tiny files total,
    // ids globally unique and range-clustered per append
    (0 until 6).foreach { i =>
      (0 until 50).map(j => (i * 50L + j, "a")).toDF("id", "p")
        .coalesce(1).write.mode("append").partitionBy("p").parquet(dir)
    }
    (0 until 4).foreach { i =>
      (0 until 50).map(j => (1000 + i * 50L + j, "b")).toDF("id", "p")
        .coalesce(1).write.mode("append").partitionBy("p").parquet(dir)
    }
    ZoneMap.refreshSidecar(spark, dir, Seq("id"))
    assert(ZoneMap.refreshBlooms(spark, dir, Seq("id")) === 10)

    val before = spark.read.parquet(dir)
    val wantN = before.count()
    val wantSum = before.agg(sum("id")).as[Long].head()
    assert(ZoneMap.dataFiles(spark, dir).length === 10)

    val res = Compact.compact(spark, dir,
      targetBytes = 512L * 1024 * 1024, sortCol = Some("id"))
    assert(res.filesIn === 10 && res.filesOut === 2 && res.bins === 2,
      s"one merged file per partition dir, got $res")
    val live = ZoneMap.dataFiles(spark, dir)
    assert(live.length === 2)

    // rows exact, partition values intact (never crossed a directory)
    val after = spark.read.parquet(dir)
    assert(after.count() === wantN)
    assert(after.agg(sum("id")).as[Long].head() === wantSum)
    assert(after.groupBy("p").count().orderBy("p").as[(String, Long)].collect()
      .toSeq === Seq(("a", 300L), ("b", 200L)))

    // the refreshed sidecar speaks for the WHOLE live table again:
    // the metadata census answers exactly (every live file must carry
    // a fresh entry for that) and blooms re-attached to the new files
    val agg = ZoneMap.aggFromManifest(spark, dir, "id")
      .getOrElse(fail("refreshed sidecar must answer the census"))
    assert(agg.nRows === wantN)
    assert(agg.bounds === Some((0.0, 1199.0)))
    val entries = ZoneMap.readSidecarPath(
      new org.apache.hadoop.fs.Path(dir, ZoneMap.SidecarFile),
      spark.sparkContext.hadoopConfiguration).get
    val blooms = entries.filter(e => ZoneMap.isBloomKey(e.col))
    assert(blooms.map(_.file).toSet === live.toSet,
      "every live (compacted) file must carry a re-attached bloom")
    assert(blooms.forall(_.bloom.exists(_.nonEmpty)))

    // idempotent: nothing small left to do (each dir is one file now)
    val again = Compact.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(again.bins === 0 && again.filesIn === 0)
  }

  test("smallBytes leaves big files alone; singleton bins are no-ops") {
    val work = Files.createTempDirectory("compact2").toString
    val dir = s"$work/t"
    // one BIG file (5k rows) and three tiny ones
    (0 until 5000).map(i => i.toLong).toDF("id")
      .coalesce(1).write.mode("append").parquet(dir)
    (0 until 3).foreach { i =>
      Seq(10000L + i).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    }
    val sizes = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s.getPath.getName -> s.getLen).toMap
    }
    val bigLen = sizes.values.max
    // small threshold excludes the big file; the three tiny ones pack
    val res = Compact.compact(spark, dir,
      targetBytes = bigLen * 10, smallBytes = bigLen)
    assert(res.filesIn === 3 && res.filesOut === 1)
    assert(ZoneMap.dataFiles(spark, dir).length === 2)
    assert(spark.read.parquet(dir).count() === 5003L)

    // a lone small file (singleton bin) is never rewritten
    val before = ZoneMap.dataFiles(spark, dir).toSet
    val res2 = Compact.compact(spark, dir,
      targetBytes = bigLen * 10, smallBytes = bigLen)
    assert(res2.bins === 0)
    assert(ZoneMap.dataFiles(spark, dir).toSet === before)
  }

  test("a failing bin is rethrown only after its sibling bins drain") {
    val work = Files.createTempDirectory("compact3").toString
    val dir = s"$work/t"
    // 8 partition dirs of 3 tiny files each: one bin per dir
    (0 until 3).foreach { i =>
      (0 until 8 * 20).map(j => (i * 1000L + j, s"p${j % 8}")).toDF("id", "p")
        .repartition(col("p")).write.mode("append").partitionBy("p").parquet(dir)
    }
    // one bin carries a corrupt input and fails
    Files.write(java.nio.file.Paths.get(dir, "p=p3", "part-zz-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    def listing(): Seq[String] = {
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try { import scala.jdk.CollectionConverters._; w.iterator().asScala.map(_.toString).toSeq.sorted }
      finally w.close()
    }

    val err = new java.io.ByteArrayOutputStream()
    val origErr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val (thrown, atReturn, settled) =
      try {
        val t = intercept[Exception](Compact.compact(spark, dir,
          targetBytes = 512L * 1024 * 1024, maxConcurrentBins = 2))
        val atReturn = listing()
        Thread.sleep(3000) // long enough for any straggling bin to land
        (t, atReturn, listing())
      } finally System.setErr(origErr)

    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(thrown).exists(_.contains("part-zz-corrupt.parquet")),
      s"the failing bin's error, got: ${messages(thrown)}")
    assert(!err.toString.contains("RejectedExecutionException"), err.toString)
    assert(settled == atReturn, "a sibling bin still changed the table after compact returned")
    assert(!atReturn.exists(_.contains("_compact_tmp_")), "compaction staging left behind")
    // the failed bin's inputs are untouched; every other bin compacted
    assert(ZoneMap.dataFiles(spark, dir).count(_.contains("p=p3")) === 4)
    assert(ZoneMap.dataFiles(spark, dir).length === 4 + 7)
  }
}
