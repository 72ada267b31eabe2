package graft

import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("each pass of a gate reports its jobs, and the gate's plan is written") {
    val plans = java.nio.file.Files.createTempDirectory("profile_plans")
    val rows = Profile.run(spark, sfDir, Seq("q_scan_filter"), passes = 2,
      plansDir = Some(plans.toString))
    assert(rows.map(r => (r.name, r.pass)) == Seq(("q_scan_filter", 1), ("q_scan_filter", 2)))
    rows.foreach(r => assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= 1, r))
    val plan = java.nio.file.Files.readString(plans.resolve("q_scan_filter.txt"))
    assert(plan.contains("Physical Plan"), plan)
  }

  // runs before any other test builds setup_zonemap_table in this JVM
  test("a setup task is measured once per JVM, whatever passes says") {
    val rows = Profile.run(spark, sfDir, Seq("setup_zonemap_table"), passes = 3)
    assert(rows.map(r => (r.name, r.pass)) == Seq(("setup_zonemap_table", 1)))
    assert(rows.head.jobs > 0, rows)
  }

  test("a bench setup task is a valid name") {
    val rows = Profile.run(spark, sfDir, Seq("setup_zonemap_table"), passes = 1)
    assert(rows.map(_.name) == Seq("setup_zonemap_table"))
  }

  test("an unknown name is refused") {
    intercept[IllegalArgumentException] {
      Profile.run(spark, sfDir, Seq("q_scan_filter", "q_no_such_gate"), passes = 1)
    }
  }
}
