package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cbo, ZoneMap}

/** Both injected optimizer rules firing on ONE plan: a filtered scan
  * of a zone-map-sidecar table joined to a Cbo-stats-sidecar
  * dimension must (a) skip files on the fact side, (b) broadcast the
  * measured-small dimension, and (c) produce exactly the
  * rules-disabled answer — the composition a catalog-managed lake
  * actually runs, not each rule in isolation.
  */
class ExtensionRulesInterplaySpec extends AnyFunSuite {

  test("zone-map skipping and stats broadcast compose on one query") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      // matches SparkTestBase: if this suite runs first, the JVM-wide
      // context it creates has the same thread budget as every other
      // suite expects
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE wraps the executed plan in AdaptiveSparkPlanExec, hiding
      // the scans from collect() until execution — the assertions here
      // inspect the static plan
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    try {
      import s.implicits._
      val work = Files.createTempDirectory("rules_interplay").toString
      // fact: range-laid-out on k so zone maps prune
      (0L until 10000L).map(i => (i, i % 50 + 1))
        .toDF("k", "dim_id")
        .repartitionByRange(10, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(s"$work/fact")
      ZoneMap.refreshSidecar(s, s"$work/fact", Seq("k"))
      // dim: physically 50 rows; measured sidecar says broadcastable
      (1L to 50L).map(i => (i, s"name$i")).toDF("dim_id", "name")
        .write.mode("overwrite").parquet(s"$work/dim")
      Cbo.writeStats(Cbo.collectStats(s.read.parquet(s"$work/dim")),
        s"$work/dim")

      def query() = s.read.parquet(s"$work/fact")
        .filter(col("k") <= 1000L)
        .join(s.read.parquet(s"$work/dim"), Seq("dim_id"))
        .groupBy("name").agg(count(lit(1)).as("n"), sum("k").cast("long").as("ksum"))

      val plan = query().queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"),
        "stats sidecar must broadcast the dim despite auto-broadcast off")
      val factFiles = plan.collect {
        case sc: FileSourceScanExec
            if sc.relation.location.inputFiles.exists(_.contains("/fact")) =>
          sc.relation.location.inputFiles.length
      }.sum
      assert(factFiles > 0 && factFiles < 10,
        s"zone map must shrink the fact scan (saw $factFiles/10 files)")

      val got = query().orderBy("name").collect().toSeq
      // ground truth with both rules off
      s.conf.set("spark.graft.zonemap.skip", "false")
      s.conf.set("spark.graft.cbo.broadcastBytes", "0")
      val want = query().orderBy("name").collect().toSeq
      s.conf.set("spark.graft.zonemap.skip", "true")
      s.conf.unset("spark.graft.cbo.broadcastBytes")
      assert(got === want && got.nonEmpty)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }
}
