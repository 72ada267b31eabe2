package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim.GraftSession

import graft.functions.Functions

/** The one session builder every main goes through, so the jobs CLI,
  * the gate harnesses and the profiler all run the same settings —
  * and the one place a session's settings change: a scoped setting
  * runs on a throwaway clone ([[isolated]]), never on a shared session.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A session with `shufflePartitions` as the SQL shuffle width, no
    * UI, UTC session time, WARN logging and the engine's functions
    * registered. Master precedence: `SPARK_GRAFT_MASTER` > spark-submit's
    * `--master` (never override a cluster manager the submitter chose)
    * > `local[cpus]`.
    */
  def local(app: String, shufflePartitions: Int): SparkSession = {
    val builder = SparkSession.builder()
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    sys.env.get("SPARK_GRAFT_MASTER") match {
      case Some(m) => builder.master(m)
      case None if sys.props.contains("spark.master") =>
      case None => builder.master(s"local[$cpus]")
    }
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Functions.register(s)
    s
  }

  /** Run `body` on a clone of `s` with `overrides` set on the clone.
    * Nothing is restored afterwards because nothing shared is changed:
    * queries on `s` — from any thread, while `body` runs or after —
    * keep `s`'s settings, so concurrent scopes cannot see or undo each
    * other. The clone shares `s`'s context, cache, catalog and
    * functions, and is this thread's active session inside `body`.
    *
    * Every frame `body` runs must belong to the clone: build it from
    * the clone, or [[GraftSession.rebind]] a frame built outside (a
    * frame left on `s` gives the same answer, but plans with `s`'s
    * settings). A frame `body` returns still belongs to the clone;
    * rebind it to `s` when it runs after the scope.
    */
  def isolated[T](s: SparkSession, overrides: (String, String)*)(
      body: SparkSession => T): T =
    isolatedWithRules(s, _ => Nil, overrides: _*)(body)

  /** [[isolated]], with `rules(clone)` appended to the clone's extra
    * optimizer rules. A rule reads its switches from the session it is
    * built with, so `rules` gets the clone, never `s`.
    */
  def isolatedWithRules[T](s: SparkSession,
      rules: SparkSession => Seq[Rule[LogicalPlan]], overrides: (String, String)*)(
      body: SparkSession => T): T = {
    val clone = GraftSession.cloneSession(s)
    overrides.foreach { case (k, v) => clone.conf.set(k, v) }
    clone.experimental.extraOptimizations ++= rules(clone)
    GraftSession.withActive(clone)(body(clone))
  }
}
