package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{PartitionFilename, Schema}

import scala.jdk.CollectionConverters._

/** The partition store: sorted ZSTD parquet chunks of ≤10k rewarded
  * decisions whose FILENAMES index the data —
  * `{maxTs}-{minTs}-{count}-{uuid}.parquet` under
  * `rewarded_decisions/{model}/parquet/{yyyy}/{MM}/{dd}/`
  * (reference: src/ingest/partition.py:77-109, 375-463).
  *
  * Write pipeline: TWO passes over the input, both distributed, for
  * every model in the frame at once. The only driver-side data are
  * the census — one (model, prefixLength) row per candidate
  * resolution, ten rows per model — and the file listing.
  *
  *  1. Census: per model, the coarsest KSUID-timestamp prefix
  *     (YYYYmm → YYYYmmddTHHMMSS) at which every prefix group holds
  *     ≤ maxRowsPerFile rows, plus the model's row total — the
  *     reference's "split on timestamp boundaries"
  *     (partition.py:375-405), which disperses overlap repairs through
  *     the timeline so grooming converges in ~O(log N) passes. Each
  *     model gets its own prefix length.
  *  2. Chunked write: shuffle by (model, prefix), sort rows by
  *     decision_id within partitions, write one parquet file per
  *     (model, prefix) chunk (deliberately NO maxRecordsPerFile
  *     backstop — splitting a same-second overflow would create
  *     identical-range files groom re-merges forever; see the NOTE in
  *     writeModels()).
  *  3. Rename each written file to the name-encoded index using the
  *     parquet FOOTER statistics (min/max decision_id, row count) —
  *     metadata-only reads, no data scan.
  *
  * Determinism contract: the input is evaluated once per pass, so both
  * passes must see the same rows — a parquet scan, a merge over one,
  * or a frame the caller staged. This is checked, not assumed: before
  * anything is renamed into the store, each model's Σ footer row
  * counts must equal its census total, else the write throws
  * IllegalStateException and the store is left untouched.
  */
object PartitionStore {

  val MaxRowsPerFile = 10000

  /** Driver-side pool for the footer-stats + rename tail of write(). */
  val RenamePoolSize = 32

  /** Prefix lengths: YYYYmm (6) … YYYYmmddTHHMMSS (15) of the basic-ISO
    * timestamp rendering of the KSUID's time.
    */
  private val MinPrefix = 6
  private val MaxPrefix = 15

  /** Write a merged rewarded-decision DataFrame for ONE model into the
    * store at `baseDir`; returns the written keys (relative to baseDir).
    * Any `model` column of `df` is replaced by `model`.
    */
  def write(df: DataFrame, baseDir: String, model: String,
      maxRowsPerFile: Int = MaxRowsPerFile): Seq[String] =
    writeModels(df.withColumn(Schema.Model, lit(model)), baseDir, maxRowsPerFile)
      .getOrElse(model, Seq.empty)

  /** Write a merged rewarded-decision DataFrame carrying a `model`
    * column into the store at `baseDir`, every model in one pass;
    * returns model → written keys (relative to baseDir).
    */
  private[ingest] def writeModels(df: DataFrame, baseDir: String,
      maxRowsPerFile: Int): Map[String, Seq[String]] = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(baseDir).getFileSystem(conf)
    val tmpDir = s"$baseDir/_tmp_${java.util.UUID.randomUUID()}"
    // native codegen KSUID decode (limb arithmetic, no BigInteger/UDF);
    // throws on an invalid id exactly like PartitionFilename.timestampOf
    val withTs = df.withColumn("_ts",
      graft.functions.KsuidExpressions.ksuidBasicIso(col(Schema.DecisionId)))

    // Census: per-second counts — one row per (model, distinct second)
    // — roll up over all candidate lengths in one distributed agg, so
    // exactly (MaxPrefix−MinPrefix+1) rows per model reach the driver.
    // Every level partitions the same rows, so any level's Σ is the
    // model's row total.
    val census = withTs
      .select(col(Schema.Model), substring(col("_ts"), 1, MaxPrefix).as("_p"))
      .groupBy(Schema.Model, "_p").count()
      .select(col(Schema.Model),
        explode(array((MinPrefix to MaxPrefix).map(i =>
          struct(lit(i).as("len"), substring(col("_p"), 1, i).as("pfx"))): _*)).as("lp"),
        col("count"))
      .groupBy(col(Schema.Model), col("lp.len").as("len"), col("lp.pfx"))
      .agg(sum("count").as("n"))
      .groupBy(Schema.Model, "len").agg(max("n").as("maxN"), sum("n").as("rows"))
      .collect()
      .groupBy(_.getString(0))
    // loud guard: a null/unvalidated model value would become a
    // __HIVE_DEFAULT_PARTITION__ (or percent-escaped) directory below
    // and a store subtree no legitimate listing ever finds
    census.keys.foreach(m => require(Schema.isValidModelName(m),
      s"PartitionStore.write: '$m' is not a valid model name " +
        "(null or unvalidated model column in the input?)"))
    if (census.isEmpty) return Map.empty
    val expectedRows = census.map { case (m, rs) => m -> rs.head.getLong(3) }
    val prefixLen = census.map { case (m, rs) =>
      val levelMax = rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
      m -> (MinPrefix to MaxPrefix)
        .find(i => levelMax.getOrElse(i, 0L) <= maxRowsPerFile)
        .getOrElse(MaxPrefix)
    }

    // cleanup in finally: a failed write must not leak partial tmp
    // output under baseDir (it lives outside rewarded_decisions/, so
    // nothing would ever reclaim it)
    try {
      // NOTE: deliberately no maxRecordsPerFile backstop. If >maxRows
      // rows share one SECOND (prefix length 15 still over the cap),
      // splitting them into several files would create same-second
      // overlapping ranges that groom re-merges forever (livelock);
      // the reference writes one oversized file in that case
      // (partition.py:375-405 splits only down to 1s resolution) and
      // so do we.
      // one hashed IN-set test per distinct length (≤ 10), not a
      // per-row scan of a model → length map
      val chunkLen = prefixLen.groupMap(_._2)(_._1).foldLeft(lit(null).cast("int")) {
        case (other, (len, models)) =>
          when(col(Schema.Model).isin(models.toSeq: _*), len).otherwise(other)
      }
      withTs
        .withColumn("_chunk", col("_ts").substr(lit(1), chunkLen))
        .drop("_ts")
        .repartition(col(Schema.Model), col("_chunk"))
        .sortWithinPartitions(Schema.Model, "_chunk", Schema.DecisionId)
        .write
        .partitionBy(Schema.Model, "_chunk")
        .option("compression", "zstd")
        .parquet(tmpDir)

      // written files are tmpDir/model=<m>/_chunk=<p>/part-*.parquet;
      // model names passed the guard above, so the directory value IS
      // the model name
      val written = listFiles(fs, new Path(tmpDir))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getParent.getParent.getName.stripPrefix(s"${Schema.Model}=") -> f)
      // Footer reads and renames are independent metadata operations; a
      // pooled pass keeps the driver tail O(files / pool) instead of
      // O(files) — at backfill scale one batch can emit ~10⁵ chunks, and
      // against object stores each footer read + rename is a round trip.
      // Hadoop FileSystem instances are thread-safe for these calls.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(written.size, RenamePoolSize)))
      def pooled[A, B](xs: Seq[A])(f: A => B): Seq[B] =
        xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(x)
        })).map { fut =>
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      try {
        val stats = pooled(written) { case (m, file) => (m, file, footerStats(conf, file)) }
        // the determinism check: the chunk pass must have written
        // exactly the rows the census counted, or the prefix choice
        // (and the caller's data) cannot be trusted — fail before
        // anything reaches the store
        val writtenRows = stats.groupMapReduce(_._1)(_._3._3)(_ + _)
        (expectedRows.keySet ++ writtenRows.keySet).foreach { m =>
          val (want, got) = (expectedRows.getOrElse(m, 0L), writtenRows.getOrElse(m, 0L))
          if (want != got) throw new IllegalStateException(
            s"PartitionStore.write: model '$m' census counted $want rows but the " +
              s"chunk pass wrote $got — the input is not deterministic across passes")
        }
        pooled(stats) { case (m, file, (minId, maxId, rows)) =>
          val key = PartitionFilename.key(m, minId, maxId, rows)
          val dest = new Path(baseDir, key)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(file, dest))
            throw new java.io.IOException(s"rename $file -> $dest failed")
          m -> key
        }.groupMap(_._1)(_._2)
      } finally pool.shutdownNow()
    } finally fs.delete(new Path(tmpDir), true)
  }

  /** min/max decision_id + row count from the parquet footer only. */
  def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: Path): (String, String, Long) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var min: String = null
      var max: String = null
      var rows = 0L
      blocks.forEach { b =>
        rows += b.getRowCount
        // resolve decision_id by NAME: write() is public API and a
        // caller's column order must not silently corrupt the
        // name-encoded ranges the groom overlap invariant relies on
        val col = b.getColumns.asScala
          .find(_.getPath.toDotString == Schema.DecisionId)
          .getOrElse(throw new IllegalStateException(
            s"no ${Schema.DecisionId} column in footer of $file"))
        val stats = col.getStatistics
        def asString(v: Any): String = v match {
          case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
          case other => other.toString
        }
        val bMin = asString(stats.genericGetMin)
        val bMax = asString(stats.genericGetMax)
        if (min == null || bMin < min) min = bMin
        if (max == null || bMax > max) max = bMax
      }
      (min, max, rows)
    } finally reader.close()
  }

  /** Lexicographically sorted valid partition keys for a model —
    * chronological by max decision time (partition.py:461-463).
    */
  def listKeys(spark: SparkSession, baseDir: String, model: String): Seq[String] = {
    val root = new Path(s"$baseDir/rewarded_decisions/$model/parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    listFiles(fs, root)
      .map(p => relativize(baseDir, p))
      .filter(PartitionFilename.isValidKey)
      .sorted
  }

  /** Read partition files (by key) back as one DataFrame. */
  def read(spark: SparkSession, baseDir: String, keys: Seq[String]): DataFrame =
    spark.read.schema(Schema.rewardedDecision)
      .parquet(keys.map(k => s"$baseDir/$k"): _*)

  /** Point lookup of ONE decision's rewarded-decision row(s): the
    * filename-encoded [minTs, maxTs] ranges ARE a skip index, so only
    * the files whose range covers the id's KSUID timestamp are opened
    * (typically one once groom has removed overlaps), and the pushed
    * `decision_id = …` predicate then prunes row groups WITHIN the
    * file because chunks are written sorted by decision_id. At any
    * store size the cost is one listing + one file's relevant row
    * group — the serving-path lookup ("what did decision X see and
    * earn") without scanning the store.
    */
  def lookupDecision(spark: SparkSession, baseDir: String, model: String,
      decisionId: String): DataFrame = {
    val ts = PartitionFilename.timestampOf(decisionId) // rejects invalid ids
    // Groom's memoized parse cache (one entry per listed key, shared
    // with Loader/Groom): a point lookup over a 100k-file store must
    // not pay 100k fresh regex parses per call
    val keys = listKeys(spark, baseDir, model).filter { k =>
      Groom.parsedOption(k).exists(p => p.minTs <= ts && ts <= p.maxTs)
    }
    if (keys.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schema.rewardedDecision)
    else
      read(spark, baseDir, keys)
        .filter(col(Schema.DecisionId) === decisionId)
  }

  def delete(spark: SparkSession, baseDir: String, keys: Seq[String]): Unit = {
    val fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    keys.foreach(k => fs.delete(new Path(baseDir, k), false))
  }

  private def relativize(baseDir: String, p: Path): String = {
    val base = new Path(baseDir).toUri.getPath.stripSuffix("/")
    p.toUri.getPath.stripPrefix(base).stripPrefix("/")
  }

  private def listFiles(fs: FileSystem, root: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile) out += f.getPath
    }
    out.result()
  }
}
