package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cbo

/** The injected CBO rule end-to-end through a real extensions-built
  * session: measured sidecars — not Spark's file-size estimate —
  * decide broadcastability, with auto-broadcast disabled so the rule
  * is the only possible source of a broadcast.
  */
class StatsBroadcastRuleSpec extends AnyFunSuite {

  test("sidecar stats flip the join strategy; user hints and the kill switch win") {
    // The JVM-wide SparkContext is shared with other suites, so swap
    // the default session out and back rather than stop() anything
    // (the GraftExtensionsSpec convention).
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // Spark's own size-based broadcast OFF: any BroadcastHashJoin
      // below can only come from the injected rule
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    try {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("cbo_rule").toString
      (1L to 5000L).map(i => (i % 20 + 1, i)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$work/fact")
      // two physically identical dims: sidecar contents differ
      for (d <- Seq("dim_small", "dim_huge"))
        (1L to 20L).map(i => (i, s"n$i")).toDF("k", "name")
          .write.mode("overwrite").parquet(s"$work/$d")
      val fact = s.read.parquet(s"$work/fact")
      def plan(dim: String, hint: Option[String] = None) = {
        val d0 = s.read.parquet(s"$work/$dim")
        val d = hint.fold(d0)(d0.hint(_))
        fact.join(d, Seq("k")).queryExecution.executedPlan.toString()
      }
      // no sidecar yet: nothing to go on -> shuffle join
      assert(!plan("dim_small").contains("BroadcastHashJoin"))
      // measured-small sidecar -> the rule fills a BROADCAST hint
      Cbo.writeStats(Cbo.collectStats(s.read.parquet(s"$work/dim_small")),
        s"$work/dim_small")
      assert(plan("dim_small").contains("BroadcastHashJoin"),
        "measured-small sidecar must broadcast")
      // projection/filter over the scan still sees the sidecar
      val filtered = fact.join(
        s.read.parquet(s"$work/dim_small").filter($"k" > 2).select("k", "name"),
        Seq("k")).queryExecution.executedPlan.toString()
      assert(filtered.contains("BroadcastHashJoin"))
      // forged huge sidecar -> over budget -> shuffle join
      Cbo.writeStats(Cbo.TableStats(20L, 1L << 40, Map.empty),
        s"$work/dim_huge")
      assert(!plan("dim_huge").contains("BroadcastHashJoin"),
        "measured-huge sidecar must NOT broadcast")
      // an explicit user hint always wins over the rule
      assert(!plan("dim_small", hint = Some("merge"))
        .contains("BroadcastHashJoin"), "user hint must win")
      // kill switch
      s.conf.set("spark.graft.cbo.broadcastBytes", "0")
      assert(!plan("dim_small").contains("BroadcastHashJoin"))
      s.conf.unset("spark.graft.cbo.broadcastBytes")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach { o =>
        SparkSession.setDefaultSession(o)
        SparkSession.setActiveSession(o)
      }
    }
  }

  test("AnalyzeJob on a table dir closes the loop: a plain join broadcasts with no manual sidecar placement") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    try {
      import s.implicits._
      val work = java.nio.file.Files.createTempDirectory("cbo_loop").toString
      (1L to 5000L).map(i => (i % 20 + 1, i)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$work/fact")
      (1L to 20L).map(i => (i, s"n$i")).toDF("k", "name")
        .write.mode("overwrite").parquet(s"$work/dim")
      def plan() = s.read.parquet(s"$work/fact")
        .join(s.read.parquet(s"$work/dim"), Seq("k"))
        .queryExecution.executedPlan.toString()
      assert(!plan().contains("BroadcastHashJoin"),
        "pre-ANALYZE: no sidecar, no broadcast")
      // the user-facing job, table dir in — ONLY the job places stats
      graft.jobs.AnalyzeJob.run(s, s"$work/dim", s"$work/report")
      assert(plan().contains("BroadcastHashJoin"),
        "post-ANALYZE: the CLI product alone must feed the rule")
      // the report copy also landed, and the table still reads clean
      assert(graft.operators.Cbo.readStats(s, s"$work/report").nonEmpty)
      assert(s.read.parquet(s"$work/dim").count() === 20L)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach { o =>
        SparkSession.setDefaultSession(o)
        SparkSession.setActiveSession(o)
      }
    }
  }
}
