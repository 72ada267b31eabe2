package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.ZoneMap

/** TRANSPARENT `count(*)` from the zone-map manifest — the
  * Iceberg/Delta metadata-count shortcut as an injected optimizer
  * rule: an unfiltered, ungrouped `count(*)` over a sidecar-carrying
  * parquet table becomes a [[LocalRelation]] holding the count folded
  * from the manifest's footer row censuses. ZERO scan tasks, zero
  * footer opens at 100 TB — Spark's own parquet count optimization
  * still schedules a task per file to read each footer; this answers
  * from the sidecar slice the planner already holds.
  *
  * The honesty contract mirrors [[ZoneMap.aggFromManifest]]:
  *   - EVERY live data file (one listing) must carry a sidecar entry
  *     whose harvest mtime matches the live status — a late-arrived,
  *     rewritten, or missing file disables the rewrite (the query
  *     scans as usual); `nRows` is exact even for entries without
  *     usable bounds (`hasStats = false` — row counts come from block
  *     metadata, not column statistics);
  *   - only the exact shape rewrites: a single global
  *     `count(*)` / `count(1)` aggregate (non-distinct, no FILTER
  *     clause) over the bare relation or a Project of it (projections
  *     are row-preserving); any Filter, grouping, or additional
  *     aggregate leaves the plan untouched;
  *   - plan-time snapshot semantics: the listing consulted here is
  *     the same snapshot a scan planned in this query would use.
  *
  * Kill switch: `spark.graft.zonemap.countstar=false` (defensive
  * parse, fail-closed like the other sidecar rules).
  */
case class ManifestCountRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = spark.conf
      .getOption("spark.graft.zonemap.countstar")
      .forall(_.equalsIgnoreCase("true"))
    if (!enabled) return plan
    plan.transformUp {
      // the literal must be NON-NULL: count(NULL) counts nothing, so
      // rewriting it to the row census would be wrong, not just slow
      case a @ Aggregate(Nil, Seq(Alias(
            AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _),
            _)), child, _)
          if v != null && bareRelation(child).isDefined =>
        val fs = bareRelation(child).get
        manifestCount(fs) match {
          case Some(n) =>
            val attr = a.output.head.asInstanceOf[AttributeReference]
            LocalRelation(Seq(attr), Seq(InternalRow(n)))
          case None => a
        }
    }
  }

  /** The relation under an optional stack of row-preserving Projects —
    * anything else (Filter, Generate, joins, …) disqualifies.
    */
  private def bareRelation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.location.rootPaths.size == 1 => Some(fs)
    case Project(_, child) => bareRelation(child)
    case _ => None
  }

  /** Exact row count from the sidecar, or None unless every live file
    * is fresh-covered. Uses ONE tracked column's shard (row counts are
    * identical across a file's entries) and the file statuses the
    * relation's index already holds — no extra listing.
    */
  private def manifestCount(fs: HadoopFsRelation): Option[Long] = {
    val root = fs.location.rootPaths.head
    val conf = spark.sparkContext.hadoopConfiguration
    // cheapest slice: the index names its shard columns — pick the
    // first REAL one (aux shards track sketches, not row censuses)
    val shardCols = ZoneSkipRule.sidecarShardColumns(root, conf)
      .getOrElse(return None)
    val col = shardCols.find(c => !ZoneMap.isAuxKey(c)).getOrElse(return None)
    val entries = ZoneSkipRule.cachedSidecar(root, conf, Set(col))
      .getOrElse(return None)
    val statuses = fs.location.listFiles(Nil, Nil).flatMap(_.files)
    val covered = ZoneMap.freshEntries(
      statuses.map(st => (st.getPath.toString, st.getModificationTime)), entries)
    if (covered.exists(_.isEmpty)) None
    else Some(covered.map(_.head.nRows).sum)
  }
}
