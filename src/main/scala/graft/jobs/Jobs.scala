package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.ingest.{FirehoseRecords, Groom, Merge, PartitionStore}
import graft.obs.Spans
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

/** ZoneMapJob <parquetDir> <outDir> <col[,col...]> — harvest the
  * file-level zone manifest (per-file min/max/null stats from parquet
  * FOOTERS — no data pages read) for the named columns, write it to
  * <outDir>/zone_map.parquet for the explicit `ZoneMap.prunedRead`
  * path, AND drop the `_zone_map.json` sidecar into <parquetDir> so
  * `graft.plans.ZoneSkipRule` skips files TRANSPARENTLY for every
  * filtered query in extension-built sessions. Pairs with
  * Layout.zOrder so BOTH layout dimensions prune.
  */
object ZoneMapJob {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ZoneMapJob <parquetDir> <outDir> <col[,col...]>")
    val Array(path, outDir, colArg) = args
    val cols = colArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Jobs.session("graft-zonemap")
    val zm = graft.operators.ZoneMap
    // incremental when a sidecar already exists: only changed files
    // re-harvest (footer reads are cheap, but O(new) beats O(all) on
    // a table with millions of files); fresh tables do the full build
    val sidecar = new org.apache.hadoop.fs.Path(path, zm.SidecarFile)
    val hasSidecar = sidecar
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sidecar)
    val mf = if (hasSidecar) {
      val (harvested, dropped) = zm.refreshSidecar(spark, path, cols)
      println(s"sidecar refreshed: $harvested file(s) harvested, $dropped dropped")
      import spark.implicits._
      zm.readSidecarPath(sidecar, spark.sparkContext.hadoopConfiguration)
        .get.toDF()
    } else {
      val built = zm.build(spark, path, cols).persist()
      zm.writeSidecar(spark, path, built)
      built
    }
    mf.coalesce(1).write.mode("overwrite").parquet(s"$outDir/zone_map.parquet")
    val perCol = mf.groupBy("col")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("nNulls"))
      .collect()
    perCol.foreach(r => println(s"${r.get(0)}: files=${r.get(1)} nulls=${r.get(2)}"))
    // the metadata-only census the fresh sidecar can now answer —
    // zero data IO (see ZoneMap.aggFromManifestMulti: ONE sidecar
    // slice + ONE listing for every column; "refused" = the manifest
    // cannot prove exactness — float or ulp-widened bounds, a file
    // changing underfoot — and a reader must scan instead)
    val census = zm.aggFromManifestMulti(spark, path, cols)
    cols.foreach { c =>
      census(c) match {
        case Some(a) =>
          val b = a.bounds.map(x => s"min=${x._1} max=${x._2}").getOrElse("bounds=refused")
          println(s"census $c: rows=${a.nRows} non_null=${a.nNonNull} $b")
        case None => println(s"census $c: refused (manifest not exact)")
      }
    }
    spark.stop()
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
    val path = args(0)
    val cols = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val numBits = if (args.length == 3) args(2).toLong else 1L << 18
    val spark = Jobs.session("graft-bloommap")
    // with explicit columns, refreshBlooms IS the fresh build too: no
    // prior coverage means every live file is a todo
    val written = graft.operators.ZoneMap.refreshBlooms(spark, path, cols, numBits)
    println(s"blooms written: $written (${cols.mkString(",")}, $numBits bits/file)")
    spark.stop()
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
    val path = args(0)
    val target = if (args.length >= 2) args(1).toLong else 128L * 1024 * 1024
    val sortCol = if (args.length == 3) Some(args(2)) else None
    val spark = Jobs.session("graft-compact")
    val res = graft.operators.Compact.compact(spark, path,
      targetBytes = target, sortCol = sortCol)
    println(s"compacted: ${res.filesIn} files (${res.bytesIn} bytes) " +
      s"-> ${res.filesOut} in ${res.bins} bin(s)")
    spark.stop()
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
    val path = args(0)
    val cols = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val lgK = if (args.length == 3) args(2).toInt else 12
    val spark = Jobs.session("graft-hllmap")
    val zm = graft.operators.ZoneMap
    val written = zm.refreshHlls(spark, path, cols, lgK)
    println(s"hll sketches written: $written (${cols.mkString(",")}, lgK=$lgK)")
    cols.foreach { c =>
      zm.ndvFromManifest(spark, path, c) match {
        case Some(n) =>
          println(s"ndv $c: ~${n.estimate} (2sigma [${n.lower}, ${n.upper}])")
        case None => println(s"ndv $c: refused (manifest not fresh-complete)")
      }
    }
    spark.stop()
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
    val path = args(0)
    val cols = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val k = if (args.length == 3) args(2).toInt else 200
    val spark = Jobs.session("graft-kllmap")
    val zm = graft.operators.ZoneMap
    val written = zm.refreshKlls(spark, path, cols, k)
    println(s"kll sketches written: $written (${cols.mkString(",")}, k=$k)")
    cols.foreach { c =>
      zm.quantilesFromManifest(spark, path, c, Seq(0.5, 0.9, 0.99)) match {
        case Some(q) =>
          println(f"quantiles $c: p50=${q.values(0)}%.4f p90=${q.values(1)}%.4f " +
            f"p99=${q.values(2)}%.4f (n=${q.n}, rank err ±${q.rankError * 100}%.2f%%)")
        case None => println(s"quantiles $c: refused (manifest not fresh-complete)")
      }
    }
    spark.stop()
  }
}
