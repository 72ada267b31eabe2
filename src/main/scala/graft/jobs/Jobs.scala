package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.ingest.{FirehoseRecords, Groom, Merge, PartitionStore}
import graft.obs.Spans
import graft.operators.{Compact, ZoneMap}
import graft.pipeline.RdrPipeline
import graft.train.{ModelStore, Trainer}

/** User-facing job entry points — the engine's equivalents of the
  * reference's serverless handlers (ingest lambda, groom state
  * machine, SageMaker train script), runnable via spark-submit or
  * `sbt "runMain graft.jobs.<Job>"`.
  */
object Jobs {
  private[jobs] def session(app: String): SparkSession =
    graft.Sessions.local(app,
      sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(32))

  /** A comma-separated column list argument. */
  private[jobs] def columns(arg: String): Seq[String] =
    arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** A job's `main`: runs `body` on a new session, then writes one
    * `[span]` line per span it opened to stderr. */
  private[jobs] def runMain(app: String)(body: SparkSession => Unit): Unit = {
    val spark = session(app)
    try {
      body(spark)
      Spans.report(spark).foreach { case (path, t) =>
        System.err.println(String.format(java.util.Locale.ROOT, "[span] %-28s  %s", path, t.fields))
      }
    } finally spark.stop()
  }
}

/** IngestJob <storeDir> <jsonl-or-gz-file...> — parse, validate,
  * merge, write partitions (per model found in the batch); prints the
  * invalid-record census like the reference ingest lambda.
  */
object IngestJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: IngestJob <storeDir> <file...>")
    Jobs.runMain("graft-ingest")(run(_, args.head, args.drop(1).toSeq))
  }

  /** The job body, session-in, in spans `ingest.parse` and
    * `ingest.merge_write`; returns the partition keys written per model. */
  def run(spark: SparkSession, storeDir: String, files: Seq[String]): Map[String, Seq[String]] = {
    import spark.implicits._
    val (parsed, census) = Spans.span(spark, "ingest.parse") {
      val parsed = FirehoseRecords.parse(spark, files).persist()
      (parsed, FirehoseRecords.invalidCensus(parsed))
    }
    try {
      if (census.nonEmpty) println(s"invalid records: $census")
      val written = Spans.span(spark, "ingest.merge_write")(
        Merge.writePerModel(Merge.merge(parsed.flatMap(_.row).toDF()), storeDir))
      written.foreach { case (model, keys) =>
        println(s"model $model: wrote ${keys.length} partition(s)")
      }
      written
    } finally { parsed.unpersist(); () }
  }
}

/** GroomJob <storeDir> <model> — compact until quiescent. */
object GroomJob {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: GroomJob <storeDir> <model>")
    Jobs.runMain("graft-groom")(run(_, args(0), args(1)))
  }

  /** The job body, session-in, in span `groom`; returns its iterations. */
  def run(spark: SparkSession, storeDir: String, model: String): Int = {
    val (iters, keys, overlaps) = Spans.span(spark, "groom") {
      val iters = Groom.groom(spark, storeDir, model)
      val keys = PartitionStore.listKeys(spark, storeDir, model)
      (iters, keys, Groom.findOverlaps(keys))
    }
    if (overlaps.isEmpty)
      println(s"groomed in $iters iteration(s); ${keys.length} partition(s), no overlaps")
    else
      println(s"groom stopped after $iters iteration(s) with ${overlaps.length} " +
        s"overlapping range(s) remaining across ${keys.length} partition(s) — rerun to continue")
    iters
  }
}

/** TrainJob <storeDir> <model> <modelOutDir> [maxRows] — two-phase
  * train from the partition store (checkpoint-aware) and publish the
  * model artifacts.
  */
object TrainJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TrainJob <storeDir> <model> <modelOutDir> [maxRows]")
    val Array(storeDir, model, outDir) = args.take(3)
    val maxRows = args.lift(3).map(_.toLong).getOrElse(8000000L)
    Jobs.runMain("graft-train")(run(_, storeDir, model, outDir, maxRows = maxRows))
  }

  /** The job body, session-in, in the spans of [[RdrPipeline.trainFromStore]]
    * and `train.publish`; returns the published decision model. */
  def run(spark: SparkSession, storeDir: String, model: String, outDir: String,
      cfg: Trainer.TrainConfig = Trainer.TrainConfig(),
      maxRows: Long = 8000000L): Trainer.DecisionModel = {
    val keys = PartitionStore.listKeys(spark, storeDir, model)
    require(keys.nonEmpty,
      s"no partitions for model '$model' under $storeDir/rewarded_decisions/$model/parquet — " +
        "check the model name and store path")

    // artifacts are scoped per model so a shared outDir can never
    // cross-contaminate checkpoints between models
    val modelOut = s"$outDir/$model"
    val dm = RdrPipeline.trainFromStore(spark, storeDir, model,
      cfg, ckptDir = Some(s"$modelOut/checkpoint"), maxRows = maxRows).decision
    val (arc, latest) = Spans.span(spark, "train.publish") {
      ModelStore.saveDecisionModel(dm, s"$modelOut/latest")
      // publish the consumer-facing artifact: each file gzipped under
      // models/archive/... with a models/latest/{model}.{gbt|mlmodel}.gz
      // copy (reference: unpack_models.py:62-97)
      ModelStore.publish(s"$modelOut/latest", outDir, model)
    }
    println(s"trained ${dm.model.getNumTrees} trees over ${dm.featureNames.length} features -> " +
      s"$modelOut/latest; published $outDir/$arc -> $outDir/$latest")
    dm
  }
}

/** AnalyzeJob <parquetPath> <outDir> [decileCol [buckets]] —
  * ANALYZE-style per-column statistics (rows / nulls / exact NDV /
  * min / max) for any parquet table, plus exact equi-depth boundaries
  * for one column; writes <outDir>/column_stats.parquet and (when a
  * column is named) <outDir>/deciles.parquet — the optimizer-stats /
  * partition-sizing inputs a 100 TB catalog keeps next to its tables.
  */
object AnalyzeJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: AnalyzeJob <parquetPath> <outDir> [decileCol [buckets]]")
    Jobs.runMain("graft-analyze")(
      run(_, args(0), args(1), args.lift(2), args.lift(3).map(_.toInt).getOrElse(10)))
  }

  /** The job body, session-in — what `main` wraps and what specs call
    * (main's `spark.stop()` would tear down a suite-shared context).
    */
  def run(spark: SparkSession, path: String, outDir: String,
      decileCol: Option[String] = None, buckets: Int = 10): Unit = {
    val df = spark.read.parquet(path)
    val stats = graft.operators.Analyze.columnStats(df)
    // evaluate the corpus-wide aggregation ONCE: collect the bounded
    // (one-row-per-column) result, then write + print from the
    // collected rows — writing `stats` and collecting it again would
    // scan the table twice
    val rows = stats.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), stats.schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/column_stats.parquet")
    rows.foreach { r =>
      println(s"${r.getAs[String]("col_name")}: rows=${r.getAs[Long]("n_rows")}" +
        s" nulls=${r.getAs[Long]("n_nulls")} ndv=${r.getAs[Long]("ndv")}" +
        s" min=${r.getAs[String]("min_str")} max=${r.getAs[String]("max_str")}")
    }
    decileCol.foreach { c =>
      val d = graft.operators.Analyze.equiDepth(df, c, buckets)
      d.coalesce(1).write.mode("overwrite").parquet(s"$outDir/deciles.parquet")
      println(s"equi-depth($c, $buckets): " +
        d.collect().map(r => r.getAs[String]("boundary")).mkString(", "))
    }
    // the CBO feedback product (second scan — byte widths are
    // measured, not in the column census): rows/bytes/NDV that
    // Cbo.statsJoin pins join strategies from
    val tStats = graft.operators.Cbo.collectStats(df)
    // the sidecar the injected StatsBroadcastRule reads lives in the
    // TABLE directory — writing it only to outDir would leave the
    // "ANALYZE once, every session broadcasts right" loop open unless
    // the caller happened to pass outDir == parquetPath. outDir keeps
    // a report copy alongside column_stats.parquet.
    // best-effort: `path` may be a glob (spark.read.parquet accepts
    // those) or a read-only table — neither may break the report run,
    // so probe-and-write instead of asserting
    try {
      val tablePath = new org.apache.hadoop.fs.Path(path)
      val tableFs = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (tableFs.getFileStatus(tablePath).isDirectory)
        graft.operators.Cbo.writeStats(tStats, path)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[analyze] in-table stats sidecar skipped for $path: $e")
    }
    if (outDir != path) graft.operators.Cbo.writeStats(tStats, outDir)
    println(s"table_stats: rows=${tStats.rows} bytes=${tStats.bytes}")
  }
}

/** ZoneMapJob <parquetDir> <col[,col...]> — harvest (or incrementally
  * refresh) the file-level zone manifest, the `_zone_map.json` sidecar
  * in <parquetDir> (per-file min/max/null stats from parquet FOOTERS —
  * no data pages read), for the named columns, so `ZoneMap.prunedRead`
  * and `graft.plans.ZoneSkipRule` skip files for every filtered query.
  * Only files the sidecar does not already cover freshly are read.
  * Pairs with Layout.zOrder so BOTH layout dimensions prune.
  */
object ZoneMapJob {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ZoneMapJob <parquetDir> <col[,col...]>")
    Jobs.runMain("graft-zonemap")(run(_, args(0), Jobs.columns(args(1))))
  }

  /** The job body, session-in, in span `zonemap`; returns the metadata
    * census per column (None = refused: the manifest cannot prove it
    * exact — float or ulp-widened bounds, a file changing underfoot —
    * and a reader must scan instead).
    */
  def run(spark: SparkSession, path: String,
      cols: Seq[String]): Map[String, Option[ZoneMap.ManifestAgg]] =
    Spans.span(spark, "zonemap") {
      val (harvested, dropped) = ZoneMap.refreshSidecar(spark, path, cols)
      println(s"sidecar refreshed: $harvested file(s) harvested, $dropped dropped")
      val entries = ZoneMap.readSidecarColumns(
        new org.apache.hadoop.fs.Path(path, ZoneMap.SidecarFile),
        spark.sparkContext.hadoopConfiguration, Some(cols.toSet)).getOrElse(Nil)
      val byCol = entries.groupBy(_.col)
      cols.foreach { c =>
        val es = byCol.getOrElse(c, Nil)
        println(s"$c: files=${es.length} nulls=${es.map(_.nNulls).sum}")
      }
      val census = ZoneMap.aggFromManifestMulti(spark, path, cols)
      cols.foreach { c =>
        census(c) match {
          case Some(a) =>
            val b = a.bounds.map(x => s"min=${x._1} max=${x._2}").getOrElse("bounds=refused")
            println(s"census $c: rows=${a.nRows} non_null=${a.nNonNull} $b")
          case None => println(s"census $c: refused (manifest not exact)")
        }
      }
      census
    }
}

/** `runMain graft.jobs.BloomMapJob <parquetDir> <col[,col...]> [numBits]`
  * — attach (or incrementally refresh) per-file BLOOM FILTERS in the
  * table's zone-map sidecar for the named DATA columns, enabling
  * transparent point-lookup file skipping on high-cardinality
  * unclustered columns (see ZoneMap.refreshBlooms). Incremental
  * when the sidecar already blooms the columns: only files lacking
  * fresh coverage re-scan.
  */
object BloomMapJob {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: BloomMapJob <parquetDir> <col[,col...]> [numBits]")
    val numBits = args.lift(2).fold(1L << 18)(_.toLong)
    Jobs.runMain("graft-bloommap")(run(_, args(0), Jobs.columns(args(1)), numBits))
  }

  /** The job body, session-in, in span `bloommap`; returns the number
    * of (file, column) blooms written. With explicit columns it is the
    * first build too: no prior coverage means every live file is a todo.
    */
  def run(spark: SparkSession, path: String, cols: Seq[String],
      numBits: Long = 1L << 18): Int =
    Spans.span(spark, "bloommap") {
      val written = ZoneMap.refreshBlooms(spark, path, cols, numBits)
      println(s"blooms written: $written (${cols.mkString(",")}, $numBits bits/file)")
      written
    }
}

/** `runMain graft.jobs.CompactJob <parquetDir> [targetBytes] [sortCol]`
  * — OPTIMIZE-style small-file compaction with sidecar co-maintenance
  * (see Compact.compact): bin-pack per partition directory, rewrite,
  * refresh range zones and blooms incrementally.
  */
object CompactJob {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args.length <= 3,
      "usage: CompactJob <parquetDir> [targetBytes] [sortCol]")
    val target = args.lift(1).fold(128L * 1024 * 1024)(_.toLong)
    Jobs.runMain("graft-compact")(run(_, args(0), target, args.lift(2)))
  }

  /** The job body, session-in, in span `compact`. */
  def run(spark: SparkSession, path: String, targetBytes: Long = 128L * 1024 * 1024,
      sortCol: Option[String] = None): Compact.CompactResult =
    Spans.span(spark, "compact") {
      val res = Compact.compact(spark, path, targetBytes = targetBytes, sortCol = sortCol)
      println(s"compacted: ${res.filesIn} files (${res.bytesIn} bytes) " +
        s"-> ${res.filesOut} in ${res.bins} bin(s)")
      res
    }
}

/** `runMain graft.jobs.HllMapJob <parquetDir> <col[,col...]> [lgK]` —
  * attach (or incrementally refresh) per-file HLL sketches in the
  * zone-map sidecar and print the metadata NDV census (see
  * ZoneMap.refreshHlls / ndvFromManifest).
  */
object HllMapJob {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: HllMapJob <parquetDir> <col[,col...]> [lgK]")
    val lgK = args.lift(2).fold(12)(_.toInt)
    Jobs.runMain("graft-hllmap")(run(_, args(0), Jobs.columns(args(1)), lgK))
  }

  /** The job body, session-in, in span `hllmap`; returns the NDV census
    * per column (None = refused: not every live file is sketched).
    */
  def run(spark: SparkSession, path: String, cols: Seq[String],
      lgK: Int = 12): Map[String, Option[ZoneMap.NdvEstimate]] =
    Spans.span(spark, "hllmap") {
      val written = ZoneMap.refreshHlls(spark, path, cols, lgK)
      println(s"hll sketches written: $written (${cols.mkString(",")}, lgK=$lgK)")
      cols.map { c =>
        val ndv = ZoneMap.ndvFromManifest(spark, path, c)
        println(ndv.fold(s"ndv $c: refused (manifest not fresh-complete)")(n =>
          s"ndv $c: ~${n.estimate} (2sigma [${n.lower}, ${n.upper}])"))
        c -> ndv
      }.toMap
    }
}

/** `runMain graft.jobs.KllMapJob <parquetDir> <col[,col...]> [k]` —
  * attach (or incrementally refresh) per-file KLL quantile sketches in
  * the zone-map sidecar and print the metadata quantile census
  * (median / p90 / p99, see ZoneMap.refreshKlls /
  * quantilesFromManifest).
  */
object KllMapJob {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: KllMapJob <parquetDir> <col[,col...]> [k]")
    val k = args.lift(2).fold(200)(_.toInt)
    Jobs.runMain("graft-kllmap")(run(_, args(0), Jobs.columns(args(1)), k))
  }

  /** The job body, session-in, in span `kllmap`; returns the p50/p90/p99
    * census per column (None = refused: not every live file is sketched).
    */
  def run(spark: SparkSession, path: String, cols: Seq[String],
      k: Int = 200): Map[String, Option[ZoneMap.QuantileCensus]] =
    Spans.span(spark, "kllmap") {
      val written = ZoneMap.refreshKlls(spark, path, cols, k)
      println(s"kll sketches written: $written (${cols.mkString(",")}, k=$k)")
      cols.map { c =>
        val q = ZoneMap.quantilesFromManifest(spark, path, c, Seq(0.5, 0.9, 0.99))
        println(q.fold(s"quantiles $c: refused (manifest not fresh-complete)")(q =>
          f"quantiles $c: p50=${q.values(0)}%.4f p90=${q.values(1)}%.4f " +
            f"p99=${q.values(2)}%.4f (n=${q.n}, rank err ±${q.rankError * 100}%.2f%%)"))
        c -> q
      }.toMap
    }
}
