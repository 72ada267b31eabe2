package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftSession

/** Loaders for the driver-provided synthetic tables (see TESTDATA.md).
  * One parquet file per table under the scale-factor directory.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark 4
    * rejects unless read as long) and, after a testdata regeneration, as
    * plain timestamp[us] (TIMESTAMP_NTZ to Spark). Adapt on the actual
    * dtype so both generations load as session-TZ TimestampType: the
    * Verify/Bench sessions pin UTC, so NTZ→timestamp is a wall-clock
    * no-op and DuckDB hashing stays aligned. The nanos-as-long read
    * option is set on a clone of `s`, never on `s`: the frame is read
    * there and rebound to `s`, and its relation keeps the clone's conf
    * for its scan.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = graft.Sessions.isolated(s, "spark.sql.legacy.parquet.nanosAsLong" -> "true")(
      clone => GraftSession.rebind(load(clone, d, "events"), s))
    raw.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) surfaced as long nanos
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already session-TZ TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Scale-adaptive fan-out for a heavy-compute path fed by one of the
    * single-file fixture tables. Each table is ONE small parquet file
    * (one row group), so every scan yields exactly ONE input partition
    * — and any gate whose expensive per-row work (vector cosines,
    * signatures, shingles) sits BELOW the first exchange runs it on a
    * single core (e.g. a broadcast join keeps the probe side's scan
    * partitioning all the way to the aggregate). One narrow round-robin
    * exchange of the scan output, sized by defaultParallelism (the
    * session's core budget — never a constant), restores parallelism.
    * Results are unaffected: the repartition moves rows, not values,
    * and every consumer gate quantizes per row before any order-
    * sensitive fold. Use ONLY where heavy per-row work follows the
    * scan directly; a plain aggregate over one small file is cheaper
    * without the extra exchange. At lake scale a real table has many
    * row groups and arrives pre-parallel — the exchange this adds is
    * one narrow pass over data that is about to be expanded by orders
    * of magnitude (pairs, postings, candidates), which is noise there.
    *
    * GUARDED on the scan's actual partition count: a pre-parallel
    * input (multi-row-group lake table) already spreads the work, and
    * forcing a full-table round-robin exchange down to exactly
    * defaultParallelism partitions there would ADD a shuffle and CAP
    * the width — so when the file scans already yield at least
    * defaultParallelism partitions (summed, as a union's would be) this
    * is the identity. The count is read from the scans' input RDDs in
    * the physical plan, which never runs a job — `df.rdd` would run the
    * stages below an adaptive exchange to learn its coalesced width.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val parts = graft.plans.PlanWalk.fileScans(df).map(_.inputRDD.getNumPartitions).sum
    if (parts >= want) df else df.repartition(want)
  }
}

/** One gate query: a Spark DataFrame program plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column names/aliases must match exactly between the two —
  * the driver sorts columns by name before hashing values.
  */
final case class GateQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Oracle SQL shared VERBATIM by gates whose whole point is answering
  * the same ground-truth question: one definition, so an edit cannot
  * silently fork "one ground truth" into two diverging copies that
  * both keep passing.
  */
private[queries] object SharedOracles {

  /** Oracle twin of [[graft.operators.Curation.hashBucket]] — the ONE
    * definition of the md5-prefix bucket every gate family's SQL must
    * agree on (previously four identical private copies).
    */
  def bucketSql(key: String): String =
    s"CAST('0x' || substring(md5($key), 1, 7) AS BIGINT)"

  /** THE content-hash 5-fold split — both engines, one definition.
    * q_kfold_split assigns it and q_split_leakage audits it; sharing
    * the derivation is what makes "the SAME split" a guarantee instead
    * of a parallel-edit convention. (% == pmod here: the bucket is
    * non-negative.)
    */
  val Folds = 5
  def foldCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.pmod(
      graft.operators.Curation.hashBucket(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("fold:"), id.cast("string"))),
      org.apache.spark.sql.functions.lit(Folds))
  def foldSql(idExpr: String): String =
    s"${bucketSql(s"'fold:' || CAST($idExpr AS VARCHAR)")} % $Folds"

  /** Integer half-AWAY-from-zero division `num/den` (den > 0) — the
    * signed sibling of the positive-only `(2a+b) div (2b)` idiom, for
    * quantizing NEGATIVE integer sums (log-probs). Matches round()'s
    * tie behavior on both engines (HALF_UP away from zero). The twin
    * pair keeps the Spark (`div`, DECIMAL) and DuckDB (`//`, HUGEINT)
    * renderings from drifting apart — callers pass pre-widened `num`.
    */
  def halfDivSpark(num: String, den: String): String =
    s"CASE WHEN ($num) < 0" +
      s" THEN -CAST((2 * (-($num)) + ($den)) div (2 * ($den)) AS BIGINT)" +
      s" ELSE CAST((2 * ($num) + ($den)) div (2 * ($den)) AS BIGINT) END"
  def halfDivSql(num: String, den: String): String =
    s"CASE WHEN ($num) < 0" +
      s" THEN -CAST((2 * (-($num)) + ($den)) // (2 * ($den)) AS BIGINT)" +
      s" ELSE CAST((2 * ($num) + ($den)) // (2 * ($den)) AS BIGINT) END"

  /** Exact brute-force top-10 cosine vs vec 0 — the ground truth the
    * direct scan, the materialized IVF probe, the batch append, and
    * the streaming append must ALL equal (nprobe = C => exact).
    */
  val exactTop10Cos: String =
    """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |           FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id, label,
      |       round(
      |         list_sum(list_transform(list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qv),
      |                                 p -> struct_extract(p, 1) * struct_extract(p, 2)))
      |         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |            * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 4) AS cos
      |FROM embeddings, q
      |WHERE vec_id <> 0
      |ORDER BY cos DESC, vec_id ASC
      |LIMIT 10""".stripMargin

  /** Oracle fragment: distinct 16-hex-md5 5-gram shingles of trimmed
    * whitespace-split text (mirrors Curation.shingleHashes at n=5)
    * over a `words` list column — THE shingle derivation every gate
    * family's SQL must agree on (decontamination and containment).
    */
  /** Positional variant (duplicates kept — mirrors
    * Curation.shingleSeq at n=5; winnowing selects over it).
    */
  val shingleSeq5Sql: String =
    """CASE WHEN len(words) >= 5
      |  THEN list_transform(range(len(words) - 4),
      |         i -> substring(md5(array_to_string(words[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], ' ')), 1, 16))
      |  ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  val shingle5Sql: String = s"list_distinct($shingleSeq5Sql)"

  /** All-pairs exact Jaccard >= 0.9 census — the ground truth both the
    * MinHash-LSH pipeline (q_dedup_minhash) and the exact prefix-filter
    * join (q_set_join_exact) must match.
    */
  val allPairsJaccardCensus: String =
    """SELECT count(*) AS n_pairs,
      |       CAST((2 * sum(CAST(round(jac * 100000000) AS HUGEINT)) + count(*) * 10000)
      |            // (2 * count(*) * 10000) AS BIGINT) AS avg_jac_x1e4,
      |       count(DISTINCT id_a) AS n_left_docs
      |FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
      |           / (len(a.wset) + len(b.wset) - len(list_intersect(a.wset, b.wset))) AS jac
      |  FROM (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
      |        FROM documents) a
      |  JOIN (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
      |        FROM documents) b
      |    ON a.doc_id < b.doc_id)
      |WHERE jac >= 0.9""".stripMargin
}
