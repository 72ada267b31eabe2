package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ZoneMap

/** Transparent count(*) from the manifest: zero scan tasks on the
  * happy path, and every disqualifier (filter, count(col), grouping,
  * stale/uncovered files, kill switch) falls back to a real scan with
  * the same answer.
  */
class ManifestCountRuleSpec extends AnyFunSuite {

  private def scanCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    PlanWalk.fileScans(df).size
  }

  test("bare count(*) is metadata-only; disqualifiers scan; answers always agree") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s.implicits._
      val work = Files.createTempDirectory("manifest_count").toString
      val dir = s"$work/t"
      (0 until 6).foreach { i =>
        (0 until 500).map(j => ((i * 500 + j).toLong,
            if (j % 10 == 0) None else Some(s"v$j")))
          .toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
      }
      ZoneMap.refreshSidecar(s, dir, Seq("id"))

      def bare() = s.read.parquet(dir).agg(count(lit(1)).as("n"))
      assert(bare().as[Long].head() === 3000L)
      assert(scanCount(bare()) === 0,
        "covered count(*) must not plan a file scan")

      // count(col) skips nulls — must NOT rewrite
      val countCol = s.read.parquet(dir).agg(count($"v").as("n"))
      assert(countCol.as[Long].head() === 2700L)
      assert(scanCount(countCol) === 1)
      // count(NULL) counts nothing — a null literal must NOT rewrite
      // to the row census (it may constant-fold to 0 upstream; either
      // way the answer must be 0)
      val countNull = s.read.parquet(dir)
        .agg(count(lit(null).cast("int")).as("n"))
      assert(countNull.as[Long].head() === 0L)
      // filter disqualifies
      val filtered = s.read.parquet(dir).filter($"id" < 100L).agg(count(lit(1)))
      assert(filtered.as[Long].head() === 100L)
      assert(scanCount(filtered) === 1)
      // grouping disqualifies
      val grouped = s.read.parquet(dir)
        .groupBy(($"id" % 2).as("g")).agg(count(lit(1)))
      assert(scanCount(grouped) === 1)

      // an uncovered (late) file falls back AND counts correctly
      Seq((100000L, Some("late"))).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
      assert(bare().as[Long].head() === 3001L)
      assert(scanCount(bare()) === 1, "uncovered file must force the scan")
      ZoneMap.refreshSidecar(s, dir)
      assert(bare().as[Long].head() === 3001L)
      assert(scanCount(bare()) === 0, "refreshed manifest answers again")

      // kill switch
      s.conf.set("spark.graft.zonemap.countstar", "false")
      assert(scanCount(bare()) === 1)
      assert(bare().as[Long].head() === 3001L)
      s.conf.unset("spark.graft.zonemap.countstar")

      // stale mtime (in-place rewrite since harvest) falls back
      val one = ZoneMap.dataFiles(s, dir).head
      val p = new org.apache.hadoop.fs.Path(one)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      fs.setTimes(p, st.getModificationTime + 60000L, -1)
      assert(scanCount(bare()) === 1, "stale zone entry must force the scan")
      assert(bare().as[Long].head() === 3001L)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }
}
