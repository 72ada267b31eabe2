package graft.operators

import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** DYNAMIC file skipping for a selective equi-join — the runtime
  * analogue of [[graft.plans.ZoneSkipRule]]'s literal pruning, and the
  * file-level strengthening of Spark's own runtime filtering (dynamic
  * partition pruning needs a partitioned probe; injected bloom filters
  * discard rows INSIDE the scan but still schedule and open every
  * file). Here the build side's join keys are known only at run time:
  * one bounded aggregation collects them (capped), the probe's zone
  * sidecar turns them into range + per-file-bloom predicates, and the
  * probe scan reads ONLY the files that can hold a matching key.
  *
  * At 100 TB this is the difference between a selective dim-driven
  * probe (ship 50 keys, open 50-ish files) and a full fact-table scan
  * whose rows are discarded after the IO is already paid.
  *
  * Soundness inherits the sidecar contract: predicates derived from
  * the keys are NECESSARY conditions (range [min, max] always; bloom
  * membership only when the collected distinct-key count fits
  * `maxKeys` and the key type hashes identically on both sides),
  * mtime-stale or missing entries keep the file, and the caller's
  * real join still runs over the survivors.
  */
object DynamicPrune {

  final case class DynPrune(df: DataFrame, filesTotal: Int, filesKept: Int,
      nKeys: Long, usedBlooms: Boolean)

  private def bloomHashable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** Read `probeDir` keeping only files whose zones/blooms can hold a
    * key of `buildKeys` (single-column DataFrame, same type as
    * `probeKey`). `maxKeys` caps the driver collect: beyond it only the
    * key RANGE prunes (one agg, no collect of the set). The returned
    * frame still needs the real join — pruning guarantees a superset.
    */
  def prunedProbe(spark: SparkSession, probeDir: String, probeKey: String,
      buildKeys: DataFrame, maxKeys: Int = 100000): DynPrune = {
    require(buildKeys.schema.fields.length == 1,
      "buildKeys must be a single-column frame of join keys")
    val keyType = buildKeys.schema.fields.head.dataType
    val probeType = spark.read.parquet(probeDir).schema
      .find(_.name == probeKey)
      .getOrElse(sys.error(s"probe column $probeKey not in $probeDir"))
      .dataType
    require(keyType == probeType,
      s"key type mismatch: build $keyType vs probe $probeType — an implicit " +
        "cast would change both the zone domain and the bloom hash")
    val keyCol = buildKeys.schema.fields.head.name
    val nonNull = buildKeys.filter(col(keyCol).isNotNull)

    // ONE aggregation: count(distinct), min, max — null keys never
    // join, so they contribute nothing
    val aggRow = nonNull
      .agg(countDistinct(col(keyCol)).as("n"),
        min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"))
      .collect().head
    val nKeys = aggRow.getLong(0)
    val total = ZoneMap.dataFiles(spark, probeDir).length
    if (nKeys == 0L) // no keys: the join is empty — scan nothing
      return DynPrune(spark.read.parquet(probeDir).limit(0), total, 0, 0L,
        usedBlooms = false)

    // range predicate from the collected extrema — outward ulp
    // widening for every numeric domain (unconditional: always sound,
    // and this path has no reason to split hairs the way the
    // rule's literal analysis must)
    def asNum(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue)
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
      case t: java.sql.Timestamp =>
        Some(t.getTime * 1000.0 + (t.getNanos % 1000000) / 1000.0)
      case i: java.time.Instant =>
        Some(i.getEpochSecond * 1e6 + i.getNano / 1000.0)
      case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
      case t: java.time.LocalDateTime => // TimestampNTZ external type
        Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1e6 + t.getNano / 1000.0)
      case _ => None
    }
    val rangePred: Seq[ZoneMap.ZonePred] = (aggRow.get(1), aggRow.get(2)) match {
      case (lo: String, hi: String) =>
        Seq(ZoneMap.StrRange(probeKey, Some(lo), Some(hi)))
      case (lo, hi) =>
        (asNum(lo), asNum(hi)) match {
          case (Some(l), Some(h)) =>
            Seq(ZoneMap.NumRange(probeKey,
              Some(Math.nextDown(l)), Some(Math.nextUp(h))))
          case _ => Nil
        }
    }
    // bloom membership when the key set fits the driver cap and the
    // type hashes identically to the build side's xxhash64(col)
    val (bloomPred, usedBlooms) =
      if (nKeys <= maxKeys && bloomHashable(keyType)) {
        val keys = nonNull.select(col(keyCol)).distinct().collect()
        val hashes = keys.map { r =>
          new XxHash64(Seq(Literal.create(r.get(0), keyType)))
            .eval(org.apache.spark.sql.catalyst.expressions.EmptyRow)
            .asInstanceOf[Long]
        }.toSeq
        (Seq(ZoneMap.BloomEq(ZoneMap.bloomKey(probeKey), hashes)), true)
      } else (Nil, false)
    val preds = rangePred ++ bloomPred
    if (preds.isEmpty) // unprunable key type: plain read
      return DynPrune(spark.read.parquet(probeDir), total, total, nKeys,
        usedBlooms = false)

    val pr = ZoneMap.prunedRead(spark, probeDir, preds)
    DynPrune(pr.df, pr.filesTotal, pr.filesKept, nKeys, usedBlooms)
  }

  /** The full dynamically-pruned equi-join: prune the probe's file
    * list from the build's keys, then run the real join (Catalyst
    * still picks broadcast vs shuffle on the SURVIVORS' size).
    */
  def join(spark: SparkSession, probeDir: String, probeKey: String,
      build: DataFrame, buildKey: String,
      maxKeys: Int = 100000): (DataFrame, DynPrune) = {
    val pruned = prunedProbe(spark, probeDir, probeKey,
      build.select(col(buildKey)), maxKeys)
    val joined = pruned.df.join(build,
      pruned.df(probeKey) === build(buildKey))
    (joined, pruned)
  }
}
