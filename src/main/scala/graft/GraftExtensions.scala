package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Library packaging as a Spark extension: running ANY Spark app with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`) injects the engine's
  * native SQL functions at session build time — no imperative
  * `Functions.register(spark)` call needed, and the functions exist in
  * every session derived from the context (thrift server, connect,
  * notebooks). Only the NATIVE expression is injectable here
  * (`injectFunction` takes expression builders); the UDF-backed
  * helpers still come from `Functions.register`, which this extension
  * cannot replace because UDF registration needs a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.Functions.natives.foreach { n =>
      ext.injectFunction((FunctionIdentifier(n.name),
        new ExpressionInfo(n.cls.getName, n.name), n.builder))
    }
    // the ANALYZE feedback loop as an optimizer rule: measured
    // _table_stats.json sidecars fill absent Join hints with BROADCAST
    // (graft.plans.StatsBroadcastRule — the session-wide statsJoin)
    ext.injectOptimizerRule(graft.plans.StatsBroadcastRule.apply)
    // transparent zone-map data skipping: _zone_map.json sidecars
    // (ZoneMapJob / ZoneMap.refreshSidecar) shrink a filtered scan's
    // file list before the scan plans (graft.plans.ZoneSkipRule)
    ext.injectOptimizerRule(graft.plans.ZoneSkipRule.apply)
    // transparent count(*) from the same sidecars when every live file
    // is fresh-covered — zero scan tasks (graft.plans.ManifestCountRule)
    ext.injectOptimizerRule(graft.plans.ManifestCountRule.apply)
  }
}
