package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Session-cloning bridge. `cloneSession()`, `Dataset.ofRows` and
  * `withActive` are `private[sql]`; this shim (the same pattern as
  * [[GraftColumn]]) is what lets [[graft.Sessions.isolated]] run a body
  * on a throwaway copy of the caller's session — the way Spark's own
  * `StreamExecution` gives every streaming query its own session.
  */
object GraftSession {

  /** A new session sharing the caller's context, cache and catalog,
    * with a COPY of its SQL conf, functions and extra optimizer rules:
    * what is set on the copy never reaches the caller's session.
    *
    * The copy runs its jobs without a session-scoped artifact set. An
    * artifact-isolated session gets its own class loader on the
    * executors, and generated code is cached per class loader, so
    * every isolated clone recompiled the generated code of every query
    * it ran (measured on a local[4] aggregation: 0.2 s warm, 0.35-0.4 s
    * on each fresh clone; unisolated clones share one loader and run
    * warm from the second on). Isolation is fixed when `cloneSession`
    * builds the copy's artifact manager from the conf it copies, so the
    * copy is taken from an intermediate clone with isolation off. The
    * engine adds no per-session artifacts (jars, classes) for a clone
    * to miss.
    */
  def cloneSession(s: SparkSession): SparkSession = {
    val unisolated = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    unisolated.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
    unisolated.cloneSession()
  }

  /** `df`'s analyzed plan as a frame of `session`: it plans and runs
    * under `session`'s conf and rules, and still finds `df`'s cached
    * data (the cache is shared between a session and its clones).
    */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)

  /** Run `body` with `s` as this thread's active session. */
  def withActive[T](s: SparkSession)(body: => T): T = s.withActive(body)
}
