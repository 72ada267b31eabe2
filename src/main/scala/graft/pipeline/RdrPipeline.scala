package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSession

import graft.ingest.{Groom, Merge, PartitionStore}
import graft.obs.Spans
import graft.queries.Tables
import graft.schema.Schema

/** End-to-end rewarded-decision pipeline over driver testdata: derive
  * a deterministic firehose JSONL stream from the `events` table, then
  * run the REAL ingest → merge (→ store → groom) dataflow.
  *
  * Derivation (so a SQL oracle can predict the merged result exactly):
  *   - every event becomes one decision record keyed by
  *     ksuid(ts, event_id) with `props` as the item;
  *   - every `purchase` event additionally emits one reward record of
  *     round(value, 2) against its OWN decision.
  * Hence: merged rows == #events; rewarded rows == #purchases;
  * Σ reward == Σ round(value, 2) over purchases.
  */
object RdrPipeline {

  private def ksuidCol(ts: org.apache.spark.sql.Column, seed: org.apache.spark.sql.Column) =
    graft.functions.KsuidExpressions.ksuidDeterministic(ts, seed)

  /** The four rdr gates' shared fixed cost, materialized once per
    * (JVM, sfDir): the derived firehose (`firehose/`) and its gzip JSONL
    * parse + hash-agg merge (`merged/`).
    */
  private[graft] val mergedSetup = graft.SparkEntry.SetupTask("setup_rdr_merged",
    Set("q_rdr_merge", "q_rdr_train", "q_train_soft", "q_rdr_store"),
    (spark, sfDir, out) => {
      generateFirehose(spark, sfDir, s"$out/firehose")
      Merge.ingest(spark, firehoseFiles(s"$out/firehose"))
        .write.mode("overwrite").parquet(s"$out/merged")
    })

  /** Run `body` on a clone of `s` at a fixture-scale shuffle width.
    * Every aggregation exchange schedules one task per partition, and
    * on gate-sized fixtures (10⁵ rows) a 32-wide session pays mostly
    * scheduling overhead that a production run at real data volumes
    * would amortize; results are exact at any width. A production
    * 8M-row run keeps whatever its session configures.
    */
  private def withGateShuffle[T](s: SparkSession)(body: SparkSession => T): T =
    graft.Sessions.isolated(s, "spark.sql.shuffle.partitions" -> "8")(body)

  private def cachedMerged(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${mergedSetup.dir(spark, sfDir)}/merged")

  /** Events → gzipped firehose JSONL under `outDir` (deterministic). */
  def generateFirehose(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("_sec", col("ts").cast("long"))
    val decisions = ev.select(concat(
      lit("""{"message_id":""""), ksuidCol(col("_sec"), col("event_id")),
      lit("""","model":"events","count":2,"item":"""), col("props"),
      lit(""","context":{"t":""""), col("event_type"), lit(""""}}""")).as("value"))
    val rewards = ev.filter(col("event_type") === "purchase").select(concat(
      lit("""{"message_id":""""), ksuidCol(col("_sec"), col("event_id") + 1000000000L),
      lit("""","model":"events","decision_id":""""), ksuidCol(col("_sec"), col("event_id")),
      lit("""","reward":"""), round(col("value"), 2), lit("}")).as("value"))
    // events.parquet is a single small file → one input partition; gzip
    // is unsplittable, so without an explicit fan-out the whole
    // downstream JSONL parse would run on one or two cores. Round-robin
    // repartition is safe: merge semantics are row-order independent.
    decisions.unionByName(rewards)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").option("compression", "gzip").text(outDir)
  }

  private def firehoseFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .map(_.getPath).filter(_.endsWith(".txt.gz"))

  /** ingest → merge → summary row (the gate query; DuckDB-checkable). */
  def mergeSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val merged = cachedMerged(spark, sfDir)
    // integer-units census (cents), not round(x, 2): a decimal round
    // of a double is the engines' HALF_UP-vs-binary flake class this
    // repo documents — an integer is rendered identically everywhere
    val r = merged.agg(
      count(lit(1)).as("n_decisions"),
      sum(when(col(Schema.Reward) > 0, 1L).otherwise(0L)).as("n_rewarded"),
      round(sum(Schema.Reward) * 100).cast("long").as("total_reward_cents"))
      .collect().head
    Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("n_decisions", "n_rewarded", "total_reward_cents")
  }

  /** A trained two-phase chain: both models plus whether phase 1 was
    * served from a warm checkpoint instead of retrained.
    */
  final case class TrainedChain(
      propensity: graft.train.Trainer.PropensityModel,
      decision: graft.train.Trainer.DecisionModel,
      phase1Warm: Boolean)

  /** The USER-FACING two-phase training chain over an EXISTING
    * partition store. `storeDir` is the caller's durable location
    * (object-store prefix, HDFS dir, …), reusable across invocations —
    * unlike the gate wrappers below, nothing here is temp-dir scoped.
    *
    * `ckptDir` enables the reference trainer's warm start
    * (checkpoint.py:26-110): a fresh, version-matching phase-1
    * checkpoint there is REUSED instead of retraining phase 1, and a
    * cold run saves one for the next invocation. `phaseTap` is called
    * with each loaded phase frame before training (census dumps,
    * debugging); the default does nothing.
    *
    * Opens the spans `train.ckpt_load` (with `ckptDir`), `train.load`
    * (once per loaded phase), `train.p1`, `train.ckpt_save` (a cold
    * phase 1 only) and `train.p2`; see [[graft.obs.Spans]].
    */
  def trainFromStore(spark: SparkSession, storeDir: String, model: String,
      cfg: graft.train.Trainer.TrainConfig,
      ckptDir: Option[String] = None,
      maxRows: Long = 8000000L,
      checkpointMaxAgeSeconds: Long = 24 * 3600,
      phaseTap: (Int, DataFrame) => Unit = (_, _) => ()): TrainedChain = {
    import graft.train.{Loader, ModelStore, Trainer}
    def span[A](name: String)(body: => A): A = Spans.span(spark, name)(body)
    val sample = if (cfg.explore) graft.encoding.Encoding.NonZeroPoissonProbability else 1.0
    val warm = ckptDir.flatMap(d => span("train.ckpt_load")(
      ModelStore.loadCheckpoint(spark, d, checkpointMaxAgeSeconds)))
    val pm = warm.getOrElse {
      // phase 1: minRows = maxRows realizes the scarce-data override
      // (the explore sample only thins data the cap would drop anyway)
      val phase1 = span("train.load")(Loader.load(spark, storeDir, model,
        maxRows = maxRows, minRows = maxRows, sample = sample, seed = cfg.seed)
        .withColumn(Schema.Model, lit(model)).persist())
      try {
        phaseTap(1, phase1)
        val trained = span("train.p1")(Trainer.trainPropensity(phase1, cfg))
        ckptDir.foreach(d => span("train.ckpt_save")(ModelStore.saveCheckpoint(trained, d)))
        trained
      } finally { phase1.unpersist(); () }
    }
    val phase2 = span("train.load")(Loader.load(spark, storeDir, model,
      maxRows = maxRows, sample = sample, seed = cfg.seed + 1)
      .withColumn(Schema.Model, lit(model)).persist())
    try {
      phaseTap(2, phase2)
      TrainedChain(pm, span("train.p2")(Trainer.trainDecision(phase2, pm, cfg)), warm.isDefined)
    } finally { phase2.unpersist(); () }
  }

  /** The FULL reference chain in one query: ingest → merge → partition
    * store → listing-driven load (S4/O3/P3/P4) → two-phase train →
    * score a probe item. The gate output is the DATA-SIDE pre-fit
    * census: the loaded phase-1/phase-2 training frames and the
    * selected feature lists are dumped to [[GateArtifacts]], the census
    * is computed by reading those dumps back, and the driver's DuckDB
    * oracle recomputes the identical census from the same files (plus
    * the genuine cross-link n_rows_p1 == count(events), which holds
    * because phase 1's scarce-data override disables sampling below
    * maxRows and the derived stream has no orphans). Model internals
    * (trees, checkpoint round-trip, probe score) stay in-gate as loud
    * requires — they are not SQL-expressible, but a failure still
    * fails the gate. Small tree/depth config keeps the gate fast; the
    * operators are the real ones.
    */
  def trainSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.train.{Loader, Trainer}
    import spark.implicits._
    // the whole chain builds in a STAGING dir; only a fully-built tree
    // is swapped into the slot the oracle SQL reads (see buildSlot)
    val slot = GateArtifacts.buildSlot(sfDir, "train") { stage =>
      // sub-step spans, so a bench-time growth in this (heaviest) gate
      // decomposes into merge / store-write / train as measured fact,
      // not data-shape guesswork
      val ingested = Spans.span(spark, "merge")(cachedMerged(spark, sfDir))
      Spans.span(spark, "store_write")(PartitionStore.write(ingested, s"$stage/store", "events"))
      val cfg = Trainer.TrainConfig(
        maxFeatures = 20, pruneMinStringCount = 0, maxTrees = 5,
        propensityTrees = 5, treeDepth = 4, seed = 42L)
      // the gate runs the USER-FACING chain (trainFromStore): explore
      // bootstrap, scarce-data override, checkpoint save — with a tap
      // that dumps each phase's data-side frame for the oracle census
      val chain = Spans.span(spark, "train")(withGateShuffle(spark)(gate =>
        trainFromStore(gate, s"$stage/store", "events", cfg,
          ckptDir = Some(s"$stage/ckpt"),
          phaseTap = (phase, df) =>
            df.select(Schema.DecisionId, Schema.Reward, Schema.Count)
              .write.mode("overwrite").parquet(s"$stage/phase$phase"))))
      val pm = chain.propensity
      val dm = chain.decision
      require(!chain.phase1Warm, "q_rdr_train: fresh slot must cold-start phase 1")
      // MLlib's own dump of every tree weight, split (feature, threshold)
      // and leaf prediction, node by node; a double prints round-trip
      // exact, and the first line (the model's uid) is dropped
      def trees(m: org.apache.spark.ml.classification.GBTClassificationModel) =
        m.toDebugString.linesIterator.drop(1).toSeq
      // checkpoint round-trip: the cold run saved phase 1 at ckpt — a
      // silent feature/table/tree drift through save/load fails loudly
      // here (checkpoint.py:26-110 is the reference's warm-start branch;
      // RdrPipelineSpec covers the actual warm reuse across invocations)
      val reloaded = graft.train.ModelStore.loadCheckpoint(spark, s"$stage/ckpt")
        .getOrElse(sys.error("q_rdr_train: checkpoint failed to reload"))
      require(reloaded.featureNames == pm.featureNames &&
        reloaded.stringTables == pm.stringTables &&
        reloaded.modelSeed == pm.modelSeed &&
        reloaded.meanItemCount == pm.meanItemCount &&
        trees(reloaded.model) == trees(pm.model),
        "q_rdr_train: reloaded checkpoint differs from the trained phase-1 model")
      pm.featureNames.toDF("feature").coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/features_p1")
      dm.featureNames.toDF("feature").coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/features_p2")
      // model-internal invariants: loud in-gate failures, not census rows
      require(pm.model.getNumTrees > 0 && dm.model.getNumTrees > 0,
        "q_rdr_train: a phase trained zero trees")
      val probeScore = graft.train.Scorer
        .rank(spark, dm, Seq("""{"k":50}"""), """{"t":"click"}""").head._2
      require(!probeScore.isNaN && !probeScore.isInfinite,
        s"q_rdr_train: non-finite probe score $probeScore")
    }
    // census from the READ-BACK, PUBLISHED dumps — byte-identical
    // input to what the DuckDB oracle reads
    val p1 = spark.read.parquet(s"$slot/phase1")
    val p2 = spark.read.parquet(s"$slot/phase2")
    // integer-units census (see mergeSummary): rewards are exact 2dp
    // cents, so mean/std derive from EXACT integer moments (S1, S2 in
    // DECIMAL) with one half-up division / one sqrt of an
    // exact-int-derived double — engine-built avg/stddev float sums
    // (partial-agg order) never touch the published digits. The
    // formula text is mirrored in the q_rdr_train oracle.
    val r1 = p1.agg(count(lit(1)),
      round(sum(Schema.Count) * 100).cast("long")).collect().head
    val r2 = p2.agg(count(lit(1)),
      expr("CAST((2 * sum(CAST(round(reward * 100) AS DECIMAL(38,0))) * 100" +
        " + count(1)) div (2 * count(1)) AS BIGINT)"),
      expr("CASE WHEN count(1) < 2 THEN CAST(0 AS BIGINT) ELSE" +
        " CAST(round(sqrt((CAST(count(1) AS DOUBLE)" +
        " * CAST(sum(CAST(round(reward * 100) AS DECIMAL(38,0))" +
        "         * CAST(round(reward * 100) AS BIGINT)) AS DOUBLE)" +
        " - CAST(sum(CAST(round(reward * 100) AS DECIMAL(38,0))) AS DOUBLE)" +
        " * CAST(sum(CAST(round(reward * 100) AS DECIMAL(38,0))) AS DOUBLE))" +
        " / (CAST(count(1) AS DOUBLE) * (count(1) - 1))) * 100) AS BIGINT) END"))
      .collect().head
    val nEvents = Tables.events(spark, sfDir).count()
    val nf1 = spark.read.parquet(s"$slot/features_p1").count()
    val nf2 = spark.read.parquet(s"$slot/features_p2").count()
    Seq((r1.getLong(0), r2.getLong(0), nEvents, nf1, nf2,
      r1.getLong(1), r2.getLong(1), r2.getLong(2)))
      .toDF("n_rows_p1", "n_rows_p2", "n_events", "n_features_p1",
        "n_features_p2", "total_count_p1_x100", "reward_mean_x1e4",
        "reward_std_x1e4")
  }

  /** Curation-weighted training chain: the merged rewarded decisions
    * get (a) SOFT-DEDUP weights — exact-duplicate clusters on the
    * canonical (item, context) payload, each row downweighted by its
    * cluster's multiplicity via [[graft.operators.Dedup.softWeights]]
    * — and (b) a RECENCY feature — the per-event-type time-decayed
    * engagement from [[graft.operators.Temporal.decayedSum]], injected
    * into the context JSON so the encoder sees it as a real numeric
    * feature. Both phases then train with the soft weight multiplying
    * the phase-2 IPW/Poisson weight (TrainConfig.rowWeightCol), the
    * reference-weighting analogue (decision_trainer.py:99-135).
    *
    * The gate output is a per-event-type census of the weight/recency
    * relations. The (decision_id, cluster, et) assignment is dumped to
    * [[GateArtifacts]]; the DuckDB oracle RE-DERIVES multiplicities and
    * weights from the dumped cluster labels and the decayed recency
    * straight from `events` — both engines compute the census
    * independently from first principles. Model fits stay in-gate as
    * loud requires (not SQL-expressible).
    *
    * Scale shape: the cluster census is one hash agg on the payload
    * key; weights ride a keyed join; the decayed relation is
    * |event_type|-rows and broadcast. No collects, no windows over the
    * corpus.
    */
  def softTrainSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.train.Trainer
    val merged = cachedMerged(spark, sfDir)
    val clusters = merged
      .groupBy(Schema.Item, Schema.Context)
      .agg(min(col(Schema.DecisionId)).as("cluster"))
    val assign = merged
      .select(col(Schema.DecisionId).as("id"), col(Schema.Item), col(Schema.Context))
      .join(clusters, Seq(Schema.Item, Schema.Context))
      .select(col("id"), col("cluster"))
    val decayed = graft.operators.Temporal.decayedSum(
      Tables.events(spark, sfDir).select(col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("cents")),
      Seq("event_type"), "ts", "cents", halfLifeDays = 7)
      .select(col("event_type").as("_et"), col("decayed_x1e6"))
    val enriched = graft.operators.Dedup.softWeights(merged, Schema.DecisionId, assign)
      .join(assign.select(col("id").as(Schema.DecisionId), col("cluster")),
        Seq(Schema.DecisionId))
      .withColumn("_et", get_json_object(col(Schema.Context), "$.t"))
      .join(broadcast(decayed), Seq("_et"), "left")
      // keys alphabetical to match the canonical-JSON convention
      .withColumn(Schema.Context,
        concat(lit("""{"recency":"""), coalesce(col("decayed_x1e6"), lit(0L)),
          lit(""","t":""""), col("_et"), lit(""""}""")))
      .withColumn("_soft_w", col("weight_x1e6").cast("double") / 1e6)
    val slot = GateArtifacts.buildSlot(sfDir, "soft") { stage =>
      val e = enriched.persist()
      try {
        e.select(col(Schema.DecisionId), col("cluster"), col("_et").as("et"))
          .write.mode("overwrite").parquet(s"$stage/weights")
        val cfg = Trainer.TrainConfig(maxFeatures = 20, pruneMinStringCount = 0,
          maxTrees = 3, propensityTrees = 3, treeDepth = 3, seed = 7L,
          rowWeightCol = Some("_soft_w"))
        val (pm, dm) = withGateShuffle(spark) { gate =>
          val ge = GraftSession.rebind(e, gate)
          val p = Trainer.trainPropensity(ge, cfg)
          (p, Trainer.trainDecision(ge, p, cfg))
        }
        require(pm.model.getNumTrees > 0 && dm.model.getNumTrees > 0,
          "q_train_soft: a phase trained zero trees")
        require(pm.featureNames.exists(_.contains("recency")),
          "q_train_soft: the injected recency feature was not selected " +
            s"(features: ${pm.featureNames.mkString(", ")})")
      } finally { e.unpersist(blocking = false); () }
    }
    // census from the READ-BACK dump: multiplicities/weights
    // re-derived from the cluster labels (exactly what the oracle does)
    val w = spark.read.parquet(s"$slot/weights")
    val sizes = w.groupBy("cluster").agg(count(lit(1)).as("_sz"))
    w.join(sizes, Seq("cluster"))
      .withColumn("w_x1e6", expr("1000000 div _sz"))
      .groupBy(col("et").as("event_type"))
      .agg(
        count(lit(1)).as("n_decisions"),
        countDistinct("cluster").as("n_clusters"),
        sum((col("_sz") >= 2).cast("long")).as("n_downweighted"),
        sum("w_x1e6").as("sum_weight_x1e6"))
      .join(decayed.withColumnRenamed("_et", "event_type"),
        Seq("event_type"), "left")
      .select(col("event_type"), col("n_decisions"), col("n_clusters"),
        col("n_downweighted"), col("sum_weight_x1e6"),
        coalesce(col("decayed_x1e6"), lit(0L)).as("decayed_x1e6"))
      .orderBy("event_type")
  }

  /** Full dataflow incl. partition store + groom; the store is written
    * to [[GateArtifacts]] and the census (row count, reward total, file
    * count, id range) is computed by reading the written files back, so
    * the driver's DuckDB oracle can recompute the identical census
    * straight from the store parquet — layout AND content verified.
    */
  def storeSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // store + groom build in staging; the census below reads the
    // PUBLISHED slot the oracle SQL also reads (see buildSlot)
    val slot = GateArtifacts.buildSlot(sfDir, "store") { stage =>
      PartitionStore.write(cachedMerged(spark, sfDir), stage, "events")
      Groom.groom(spark, stage, "events")
    }
    val keys = PartitionStore.listKeys(spark, slot, "events")
    Groom.assertNoOverlappingKeys(keys)
    val back = PartitionStore.read(spark, slot, keys)
    val stats = back.agg(
      count(lit(1)).as("n_rows"),
      // integer-units (cents), see mergeSummary
      round(sum(Schema.Reward) * 100).cast("long").as("total_reward_cents"),
      min(Schema.DecisionId).as("min_id"),
      max(Schema.DecisionId).as("max_id")).collect().head
    // serving-path probe: a point lookup of the store's min id must
    // open only its covering file(s) and return exactly one row —
    // exercises lookupDecision inside the gate chain (in-gate
    // invariant; file-open behavior is not SQL-expressible)
    val probe = PartitionStore.lookupDecision(spark, slot, "events", stats.getString(2))
    require(probe.count() == 1L &&
      probe.inputFiles.length < math.max(2, keys.length),
      "q_rdr_store: point lookup did not prune to the covering file")
    Seq((stats.getLong(0), stats.getLong(1), keys.length.toLong,
      stats.getString(2), stats.getString(3)))
      .toDF("n_rows", "total_reward_cents", "n_files", "min_id", "max_id")
  }
}
