package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All gate queries, in registration order. */
  def all: Seq[GateQuery] = {
    val qs = Rel.queries ++ TextOps.queries ++ VectorOps.queries ++
      PipelineOps.queries ++ ExtOps.queries ++ CurationOps.queries ++
      TemporalOps.queries ++ SearchOps.queries ++ StreamingOps.queries ++
      ScaleOps.queries ++ MiningOps.queries ++ AuditOps.queries ++
      EvalOps.queries ++ StatsOps.queries
    // many contributing files: a duplicated name would silently drop a
    // query from queries.toMap (Bench AND Verify would skip it) — fail
    // loudly instead
    val dups = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate gate query names: ${dups.mkString(", ")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Rel.queries.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** A one-time per-(JVM, sfDir) derivation that several gates share:
    * `warm` forces it, `consumers` are the gates that read it.
    */
  final case class SetupTask(name: String, consumers: Set[String],
      warm: (SparkSession, String) => Unit)

  /** The shared derivations, in the order the bench forces them (see
    * GateContext for why their cost is billed apart from the gates).
    */
  val setupTasks: Seq[SetupTask] = Seq(
    SetupTask("setup_dedup_pairs", ExtOps.derivedConsumers, ExtOps.warmDerived),
    SetupTask("setup_rdr_merged", graft.pipeline.RdrPipeline.derivedConsumers,
      graft.pipeline.RdrPipeline.warmDerived),
    SetupTask("setup_zonemap_table", SearchOps.derivedConsumers, SearchOps.warmDerived))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
