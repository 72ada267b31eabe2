package graft.core

/** Which gate query is currently executing in this thread, set by the
  * harnesses (Bench/Verify) around each gate run.
  *
  * Purpose: the bench bills one-time shared derivations (the dedup
  * pair graph, the rdr merged table, the zone-map artifacts) to an
  * explicit `setup` phase gated on hand-declared consumer sets
  * ([[graft.SparkEntry.SetupTask]]`.consumers`). A NEW gate that
  * starts reading a cached derivation without being added to its
  * consumer set would silently re-charge the shared setup cost to
  * itself — recreating the round-to-round accounting swings the setup
  * phase exists to fix. [[assertDeclared]] turns that silent drift
  * into a loud failure AT THE ACCESS SITE: `SetupTask.dir`, the one
  * accessor of a shared derivation, checks its consumer set, and an
  * undeclared gate calling it throws. Calls outside a harness-run gate (specs, ad-hoc use) have
  * no current gate and are never checked.
  */
object GateContext {

  private val current = new scala.util.DynamicVariable[Option[String]](None)

  /** Run `body` attributed to gate `name` (harness entry point). */
  def runningGate[A](name: String)(body: => A): A =
    current.withValue(Some(name))(body)

  /** Fail loudly when the currently-running gate reads a shared cached
    * derivation without being in its declared consumer set.
    */
  def assertDeclared(setupName: String, consumers: Set[String]): Unit =
    current.value.foreach { gate =>
      require(consumers.contains(gate),
        s"gate $gate reads the shared '$setupName' derivation but is not in " +
          s"its declared consumer set — add it, or the bench re-charges the " +
          s"shared setup cost to whichever consumer runs first")
    }
}
