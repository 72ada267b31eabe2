package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The setup-accounting guard: a gate reading a shared cached
  * derivation must be declared in that derivation's consumer set, or
  * the access fails loudly at the call site (instead of silently
  * re-charging the shared setup cost to the gate — the bench-
  * accounting drift this exists to prevent). Outside a harness-run
  * gate nothing is checked.
  */
class GateContextSpec extends AnyFunSuite {

  test("undeclared consumer fails loudly; declared and non-gate contexts pass") {
    val consumers = Set("q_a", "q_b")
    // no gate running (spec/ad-hoc use): never checked
    GateContext.assertDeclared("setup_x", consumers)
    // declared consumer: fine
    GateContext.runningGate("q_a") {
      GateContext.assertDeclared("setup_x", consumers)
    }
    // undeclared consumer: loud
    val e = intercept[IllegalArgumentException] {
      GateContext.runningGate("q_new") {
        GateContext.assertDeclared("setup_x", consumers)
      }
    }
    assert(e.getMessage.contains("q_new") && e.getMessage.contains("setup_x"))
    // context restores after the gate body (even on throw)
    GateContext.assertDeclared("setup_x", consumers)
  }

  test("every declared consumer set member is a registered gate name") {
    val names = graft.SparkEntry.queries.keySet
    val tasks = graft.SparkEntry.setupTasks
    assert(Set("setup_dedup_pairs", "setup_rdr_merged", "setup_zonemap_table")
      .subsetOf(tasks.map(_.name).toSet))
    assert(tasks.map(_.name).distinct == tasks.map(_.name))
    tasks.foreach { task =>
      assert(task.consumers.nonEmpty, task.name)
      val stale = task.consumers -- names
      assert(stale.isEmpty,
        s"${task.name} names unregistered gates: $stale — " +
          "a renamed/removed gate leaves the bench setup trigger stale")
    }
  }
}
