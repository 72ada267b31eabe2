package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog-stats-driven join planning — the feedback loop that makes
  * the ANALYZE surface ([[Analyze]], `graft.jobs.AnalyzeJob`)
  * actionable: measured rows / bytes / NDV decide broadcast-vs-shuffle
  * instead of the optimizer's scan-size guess.
  *
  * Why Spark's own estimate isn't enough at 100 TB: the static
  * planner sizes a relation by its FILE bytes, so a join against a
  * heavily filtered or aggregated dimension (or a wide table whose
  * join-relevant projection is two thin columns) sees a
  * multi-gigabyte estimate for a megabyte-sized relation and picks a
  * shuffle join — and AQE can only repair that after the first
  * shuffle of the BIG side has already been paid. A catalog that
  * keeps measured stats next to its tables (the `AnalyzeJob` output)
  * pins the right strategy before any exchange runs.
  *
  * The decision is PINNED, not advisory: the broadcast branch wraps
  * the build side in `broadcast()` and the shuffle branch hints
  * `merge`, so the choice is visible in the plan and testable — a
  * CboSpec asserts the strategy flips when the stats say it should.
  */
object Cbo {

  /** Measured table statistics: exact row count, estimated in-memory
    * bytes (strings/binaries by MEASURED average length, fixed-width
    * types by their type width), exact NDV for the requested columns.
    */
  final case class TableStats(rows: Long, bytes: Long, ndv: Map[String, Long]) {
    /** True when `col`'s values are (measured-)unique — a join on it
      * cannot fan out, so broadcasting the other side is safe from
      * multiplicity blowup.
      */
    def isKey(col: String): Boolean = ndv.get(col).exists(_ >= rows)
  }

  /** ONE scan: count + per-column byte estimate + NDV of `ndvCols`.
    * Variable-width columns (string/binary/array/map/struct) are
    * measured by avg serialized length; fixed-width by type size.
    */
  def collectStats(df: DataFrame, ndvCols: Seq[String] = Nil): TableStats = {
    val widths: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case StringType | BinaryType =>
          coalesce(sum(length(col(field(f.name)))), lit(0L)).cast("long")
        case _: ArrayType | _: MapType | _: StructType =>
          coalesce(sum(length(to_json(col(field(f.name))))), lit(0L)).cast("long")
        case dt => // fixed width: rows * type size, counted via rows below
          lit(dt.defaultSize.toLong) * count(lit(1))
      }
    }
    val aggs = (count(lit(1)).as("_rows") +:
      widths.zipWithIndex.map { case (c, i) => c.as(s"_w$i") }) ++
      ndvCols.map(c => countDistinct(col(field(c))).as(s"_nd_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val rows = row.getLong(0)
    val bytes = df.schema.fields.indices.map(i => row.getLong(i + 1)).sum
    val ndv = ndvCols.zipWithIndex
      .map { case (c, i) => c -> row.getLong(1 + df.schema.size + i) }.toMap
    TableStats(rows, bytes, ndv)
  }

  /** The sidecar filename, next to the table's parquet files. JSON —
    * not parquet — deliberately: [[graft.plans.StatsBroadcastRule]]
    * reads it INSIDE the optimizer, where planning a nested Spark
    * query to read a stats row would recurse into the very rule doing
    * the reading; a Hadoop-FS byte read + Jackson parse has no such
    * cycle (and column names are data — JSON escaping handles any
    * character, no delimiter-joined rendering). Underscore-prefixed so
    * Spark's file listing ignores it when the sidecar sits INSIDE the
    * table directory (where the optimizer rule looks for it): an
    * unprefixed JSON next to the parquet files would be listed as
    * table data and fail every executed read of the table.
    */
  val StatsFile = "_table_stats.json"

  def writeStats(stats: TableStats, dir: String): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("rows", stats.rows)
    root.put("bytes", stats.bytes)
    val nd = root.putObject("ndv")
    stats.ndv.toSeq.sortBy(_._1).foreach { case (k, v) => nd.put(k, v) }
    // replaced whole, never truncated in place: the optimizer rule
    // reads this file mid-planning and must never see a torn one
    graft.core.Commit.replaceFile(new org.apache.hadoop.fs.Path(dir, StatsFile).toString)(
      _.write(m.writeValueAsBytes(root)))
  }

  def readStats(spark: SparkSession, dir: String): Option[TableStats] =
    readStatsPath(new org.apache.hadoop.fs.Path(dir, StatsFile),
      spark.sparkContext.hadoopConfiguration)

  /** FS-level read used by both [[readStats]] and the optimizer rule
    * (which has no DataFrame reader available mid-plan).
    */
  def readStatsPath(p: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Option[TableStats] =
    graft.core.Commit.readBytes(p.toString, conf).flatMap { bytes =>
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
        val nd = root.get("ndv")
        val ndv = scala.jdk.CollectionConverters
          .IteratorHasAsScala(nd.fieldNames()).asScala
          .map(f => f -> nd.get(f).asLong()).toMap
        Some(TableStats(root.get("rows").asLong(), root.get("bytes").asLong(), ndv))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Default broadcast budget: MEASURED bytes, so it can sit well
    * above Spark's conservative 10 MB scan-size default — a measured
    * 64 MB build side is a safe executor-memory resident.
    */
  val DefaultBroadcastBytes: Long = 64L << 20

  /** Join with the strategy pinned from `rightStats`: broadcast the
    * right side when its measured bytes fit the budget, else pin a
    * shuffle (sort-merge) join so a bad static size estimate can
    * never buffer an unbounded build side on the executors.
    */
  def statsJoin(left: DataFrame, right: DataFrame, rightStats: TableStats,
      keys: Seq[String], joinType: String = "inner",
      broadcastBytes: Long = DefaultBroadcastBytes): DataFrame =
    if (rightStats.bytes <= broadcastBytes)
      left.join(broadcast(right), keys, joinType)
    else
      left.join(right.hint("merge"), keys, joinType)

  private def field(name: String): String = graft.core.SqlIdent.quote(name)
}
