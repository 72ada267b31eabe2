package graft.train

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.Ksuid
import graft.encoding.Encoding
import graft.obs.Spans
import graft.schema.RewardedDecisionRow
import graft.train.Trainer.TrainConfig

class TrainerSpec extends AnyFunSuite with SparkTestBase {

  private val cfg = TrainConfig(
    maxFeatures = 50, pruneMinStringCount = 0, maxTrees = 5,
    propensityTrees = 5, treeDepth = 3, explore = true, seed = 7L)

  /** Synthetic bandit data: items a/b/c; "a" chosen often and rewarded
    * highly, "c" rarely and never rewarded.
    */
  private def syntheticDecisions(n: Int): Seq[RewardedDecisionRow] = {
    val rnd = new scala.util.Random(3)
    val base = 1660000000L
    (0 until n).map { i =>
      val r = rnd.nextDouble()
      val (item, sample, reward) =
        if (r < 0.6) ("\"a\"", "\"b\"", 2.0 + rnd.nextDouble())
        else if (r < 0.9) ("\"b\"", "\"c\"", 0.5)
        else ("\"c\"", "\"a\"", 0.0)
      RewardedDecisionRow(
        Ksuid.deterministic(base + i, i.toLong),
        Some(item), Some(s"""{"device":"d${i % 3}"}"""), Some(3.0), Some(sample),
        Some("{}"), Some(reward), "m")
    }
  }

  test("propensity expansion: 2 rows per decision, correct weights/targets") {
    import spark.implicits._
    val df = syntheticDecisions(50).toDF()
    val expanded = Encoding.expandForPropensity(df)
    assert(expanded.count() == 100) // count=3 → chosen + sample rows
    val byTarget = expanded.groupBy(Encoding.TargetCol)
      .agg(count(lit(1)).as("n"), sum(Encoding.WeightCol).as("sw"))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(byTarget(1.0) == ((50L, 50.0)))   // chosen: w=1
    assert(byTarget(0.0) == ((50L, 100.0)))  // sample: w=count−1=2
  }

  test("two-phase training end-to-end; propensity and reward signals learned") {
    import spark.implicits._
    val df = syntheticDecisions(400).toDF().persist()

    val pm = Trainer.trainPropensity(df, cfg)
    assert(pm.meanItemCount === 3.0 +- 1e-9)
    assert(pm.featureNames.contains(Encoding.TimestampFeature))
    assert(pm.featureNames.contains("item"))
    assert(!pm.selectedFeatures.contains(Encoding.TimestampFeature))

    // chosen-item rows should get higher propensity than sample rows:
    // check via inverse weights (lower ipw ⇒ higher propensity)
    val weighted = Trainer.inversePropensityWeights(df, pm, cfg)
    val ipwByItem = weighted.groupBy(col("item"))
      .agg(avg("_ipw").as("ipw")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ipwByItem("\"a\"") < ipwByItem("\"c\""),
      s"frequent item should have lower inverse-propensity weight: $ipwByItem")

    val dm = Trainer.trainDecision(df, pm, cfg)
    assert(dm.featureNames == pm.selectedFeatures)

    // predictions: item "a" (high reward) should beat "c" (zero reward)
    val enc = Encoding.makeVectorEncoder(dm.featureNames, dm.stringTables, dm.modelSeed)
    def predict(item: String, device: String): Double = {
      val (nums, strs) = Encoding.flattenPair(item, s"""{"device":"$device"}""")
      dm.model.predict(enc(nums, strs, 0.0))
    }
    val denorm = (p: Double) => p * dm.rewardStd + dm.rewardMean
    assert(denorm(predict("\"a\"", "d0")) > denorm(predict("\"c\"", "d0")),
      "high-reward item should predict higher")

    df.unpersist()
  }

  test("checkpoint round-trips and respects age/version gates") {
    import spark.implicits._
    val df = syntheticDecisions(100).toDF()
    val pm = Trainer.trainPropensity(df, cfg)
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString

    ModelStore.saveCheckpoint(pm, dir)
    val loaded = ModelStore.loadCheckpoint(spark, dir).get
    assert(loaded.featureNames == pm.featureNames)
    assert(loaded.stringTables == pm.stringTables)
    assert(loaded.meanItemCount == pm.meanItemCount)
    // the reloaded model scores the training frame bit for bit
    val training = Encoding.withFeatureVector(
      Encoding.withFlatFeatures(Encoding.expandForPropensity(df))
        .withColumn("nums", map_concat(col("nums"), map(lit(Encoding.TimestampFeature), col("_t")))),
      pm.featureNames, pm.stringTables, pm.modelSeed)
    def probabilities(m: Trainer.PropensityModel) =
      m.model.transform(training).select("probability").collect().map(_.get(0)).toSeq
    val trained = probabilities(pm)
    assert(trained.size == 200)
    assert(probabilities(loaded) == trained)

    // stale checkpoint rejected
    val future = java.time.Instant.now().plusSeconds(25 * 3600)
    assert(ModelStore.loadCheckpoint(spark, dir, maxAgeSeconds = 24 * 3600, now = future).isEmpty)
    // missing dir
    assert(ModelStore.loadCheckpoint(spark, dir + "/nope").isEmpty)
  }

  test("decision model artifacts round-trip") {
    import spark.implicits._
    val df = syntheticDecisions(100).toDF()
    val pm = Trainer.trainPropensity(df, cfg)
    val dm = Trainer.trainDecision(df, pm, cfg)
    val dir = java.nio.file.Files.createTempDirectory("model").toString
    ModelStore.saveDecisionModel(dm, dir)
    val loaded = ModelStore.loadDecisionModel(spark, dir).get
    assert(loaded.featureNames == dm.featureNames)
    assert(loaded.rewardMean == dm.rewardMean)
    // same predictions after round-trip
    val enc = Encoding.makeVectorEncoder(dm.featureNames, dm.stringTables, dm.modelSeed)
    for (item <- Seq("\"a\"", "\"b\"", "\"c\""); device <- Seq("d0", "d1", "d2")) {
      val (nums, strs) = Encoding.flattenPair(item, s"""{"device":"$device"}""")
      val v = enc(nums, strs, 0.0)
      assert(loaded.model.predict(v) == dm.model.predict(v))
    }
  }

  /** Drop a file's last 100 bytes, and the local filesystem's checksum
    * sibling with them, so the cut bytes reach the reader (as on a
    * store that keeps no checksums). */
  private def cutShort(file: java.nio.file.Path): Unit = {
    val bytes = java.nio.file.Files.readAllBytes(file)
    java.nio.file.Files.write(file, bytes.take(bytes.length - 100))
    java.nio.file.Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  test("a model.gbt cut short loads as None, not an exception") {
    import spark.implicits._
    val df = syntheticDecisions(100).toDF()
    val pm = Trainer.trainPropensity(df, cfg)
    val dm = Trainer.trainDecision(df, pm, cfg)
    val base = java.nio.file.Files.createTempDirectory("gbt_cut")
    ModelStore.saveCheckpoint(pm, s"$base/ckpt")
    assert(ModelStore.loadCheckpoint(spark, s"$base/ckpt").isDefined)
    cutShort(base.resolve("ckpt/model.gbt"))
    assert(ModelStore.loadCheckpoint(spark, s"$base/ckpt").isEmpty)
    ModelStore.saveDecisionModel(dm, s"$base/model")
    assert(ModelStore.loadDecisionModel(spark, s"$base/model").isDefined)
    cutShort(base.resolve("model/model.gbt"))
    assert(ModelStore.loadDecisionModel(spark, s"$base/model").isEmpty)
  }

  test("a save that fails mid-write leaves the previous decision model loadable and no staging dir") {
    import spark.implicits._
    val df = syntheticDecisions(100).toDF()
    val pm = Trainer.trainPropensity(df, cfg)
    val dm = Trainer.trainDecision(df, pm, cfg)
    val parent = java.nio.file.Files.createTempDirectory("model_fail")
    val dir = parent.resolve("latest").toString
    ModelStore.saveDecisionModel(dm, dir)

    // one feature name too many: the booster is already written to
    // staging when the CoreML export's feature-count check throws
    intercept[IllegalArgumentException](
      ModelStore.saveDecisionModel(dm.copy(featureNames = dm.featureNames :+ "x"), dir))

    val loaded = ModelStore.loadDecisionModel(spark, dir).get
    assert(loaded.featureNames == dm.featureNames)
    val enc = Encoding.makeVectorEncoder(dm.featureNames, dm.stringTables, dm.modelSeed)
    for (item <- Seq("\"a\"", "\"b\"", "\"c\""); device <- Seq("d0", "d1", "d2")) {
      val (nums, strs) = Encoding.flattenPair(item, s"""{"device":"$device"}""")
      val v = enc(nums, strs, 0.0)
      assert(loaded.model.predict(v) == dm.model.predict(v))
    }
    val siblings = {
      val s = java.nio.file.Files.list(parent)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSeq }
      finally s.close()
    }
    assert(siblings == Seq("latest"), s"staging debris left next to the artifact: $siblings")
  }

  test("raw-reward training stores identity de-normalization (scores stay in reward units)") {
    import spark.implicits._
    val df = syntheticDecisions(100).toDF()
    val raw = cfg.copy(normalizeRewards = false)
    val pm = Trainer.trainPropensity(df, raw)
    val dm = Trainer.trainDecision(df, pm, raw)
    // a raw-target model predicts reward units already; the stored
    // (mean, std) must be the identity or score() would scale twice
    assert(dm.rewardMean == 0.0 && dm.rewardStd == 1.0,
      s"(${dm.rewardMean}, ${dm.rewardStd})")
    val scored = Scorer.score(
      Seq(("\"a\"", """{"device":"d1"}""")).toDF("item", "context"), dm)
      .select("score").head().getDouble(0)
    val enc = Encoding.makeVectorEncoder(dm.featureNames, dm.stringTables, dm.modelSeed)
    val (nums, strs) = Encoding.flattenPair("\"a\"", """{"device":"d1"}""")
    assert(scored === dm.model.predict(enc(nums, strs, 0.0)) +- 1e-12)
  }

  test("training is partition-layout independent (content-hash noise, not rand)") {
    import spark.implicits._
    val rows = syntheticDecisions(200)
    // same data, three different physical layouts
    val models = Seq(1, 8, 3).map { n =>
      val df = rows.toDF().repartition(n)
      val pm = Trainer.trainPropensity(df, cfg)
      Trainer.trainDecision(df, pm, cfg)
    }
    // every stochastic choice (dropout, poisson, sprinkle, val split)
    // derives from content hashes, so the fitted models must agree on
    // every prediction — here checked over the full item×context grid
    val enc = Encoding.makeVectorEncoder(
      models.head.featureNames, models.head.stringTables, models.head.modelSeed)
    for (item <- Seq("\"a\"", "\"b\"", "\"c\""); d <- 0 until 3) {
      val (nums, strs) = Encoding.flattenPair(item, s"""{"device":"d$d"}""")
      val v = enc(nums, strs, 0.0)
      val preds = models.map(_.model.predict(v))
      // exact data equality is asserted below via stringTables; the
      // predictions themselves may drift in the last ulp because
      // MLlib's tree-stat aggregation sums floats in partition order
      // (inherent FP non-associativity, not a noise-determinism leak)
      assert(preds.max - preds.min < 1e-9,
        s"model depends on partitioning for ($item, d$d): $preds")
    }
    // string tables are EXACTLY equal — the content-hashed encode path
    // (target-mean shrink, sprinkle, poisson) has no layout dependence
    assert(models.map(_.stringTables).distinct.size == 1)
    // avg() itself sums in partition order: ulp-level drift only
    assert(models.map(_.rewardMean).max - models.map(_.rewardMean).min < 1e-12)
  }

  test("fitPartitions: one partition per 12.5k rows up to 8, then +1 per 250k rows up to 64") {
    assert(Trainer.fitPartitions(0L) == 1)
    assert(Trainer.fitPartitions(10000L) == 1)
    assert(Trainer.fitPartitions(12500L) == 1)
    assert(Trainer.fitPartitions(12501L) == 2)
    assert(Trainer.fitPartitions(63000L) == 6)
    assert(Trainer.fitPartitions(87500L) == 7)
    // above 87.5k rows the old floor of 8 holds, and with it the sizes
    // that set it
    assert(Trainer.fitPartitions(87501L) == 8)
    assert(Trainer.fitPartitions(100000L) == 8)
    assert(Trainer.fitPartitions(200000L) == 8)
    assert(Trainer.fitPartitions(8000000L) == 33)
    assert(Trainer.fitPartitions(15750000L) == 64)
    assert(Trainer.fitPartitions(Long.MaxValue) == 64)
  }

  test("a fit that throws after its persist leaves nothing cached") {
    import spark.implicits._
    spark.catalog.clearCache()
    val df = syntheticDecisions(100).toDF()
    // maxDepth 31 is past MLlib's limit of 30: the estimator's setter
    // throws after the trainer has pinned its flattened frame
    val tooDeep = cfg.copy(treeDepth = 31)
    intercept[IllegalArgumentException](Trainer.trainPropensity(df, tooDeep))
    assert(spark.sharedState.cacheManager.isEmpty, "trainPropensity left its frame cached")
    val pm = Trainer.trainPropensity(df, cfg)
    assert(spark.sharedState.cacheManager.isEmpty)
    intercept[IllegalArgumentException](Trainer.trainDecision(df, pm, tooDeep))
    assert(spark.sharedState.cacheManager.isEmpty, "trainDecision left its frame cached")
  }

  test("a small decision fit stays within its task budget") {
    import spark.implicits._
    val df = syntheticDecisions(200).toDF()
    val pm = Trainer.trainPropensity(df, cfg)
    Spans.span(spark, "trainer_spec_budget")(Trainer.trainDecision(df, pm, cfg))
    val fit = Spans.report(spark, "trainer_spec_budget")("trainer_spec_budget")
    // 200 rows fit on one partition: 57 tasks in 26 jobs. The old floor
    // of 8 partitions ran the same 26 jobs in 282 tasks (each tree
    // level's stages pay one task per partition, whatever the rows)
    assert(fit.tasks < 100, s"${fit.tasks} tasks in ${fit.jobs} jobs")
  }

  test("publish writes latest + timestamped archive; unpack round-trips the model") {
    import spark.implicits._
    val df = syntheticDecisions(100).toDF()
    val pm = Trainer.trainPropensity(df, cfg)
    val dm = Trainer.trainDecision(df, pm, cfg)
    val dir = java.nio.file.Files.createTempDirectory("pubmodel").toString
    ModelStore.saveDecisionModel(dm, s"$dir/saved")

    val root = java.nio.file.Files.createTempDirectory("pubroot").toString
    val (arcKey, latestKey) = ModelStore.publish(s"$dir/saved", root, "messages-2.0")
    assert(latestKey == "models/latest/messages-2.0.gbt.gz")
    assert(arcKey.startsWith("models/archive/messages-2.0/messages-2.0-"))
    assert(arcKey.endsWith(".gbt.gz"))
    assert(new java.io.File(s"$root/$latestKey").isFile)
    assert(new java.io.File(s"$root/$arcKey").isFile)
    assert(new java.io.File(s"$root/models/latest/messages-2.0.mlmodel.gz").isFile)
    // latest is a byte-for-byte copy of the archive object
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$root/$latestKey")),
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$root/$arcKey"))))

    // a consumer polling latest/ can fetch, unpack, load, and predict
    val dest = java.nio.file.Files.createTempDirectory("pubdest").toString
    assert(ModelStore.unpackLatest(root, "messages-2.0", dest))
    val loaded = ModelStore.loadDecisionModel(spark, dest).get
    val enc = Encoding.makeVectorEncoder(dm.featureNames, dm.stringTables, dm.modelSeed)
    val (nums, strs) = Encoding.flattenPair("\"a\"", """{"device":"d1"}""")
    val v = enc(nums, strs, 0.0)
    assert(loaded.model.predict(v) == dm.model.predict(v))
    assert(loaded.stringTables == dm.stringTables)

    // no artifact → false, not an exception
    assert(!ModelStore.unpackLatest(root, "absent-model", dest + "2"))
  }

  test("a truncated published key fails unpack; the unpacked model stays") {
    import spark.implicits._
    val df = syntheticDecisions(100).toDF()
    val pm = Trainer.trainPropensity(df, cfg)
    val dm = Trainer.trainDecision(df, pm, cfg)
    val dir = java.nio.file.Files.createTempDirectory("cutpub").toString
    ModelStore.saveDecisionModel(dm, s"$dir/saved")
    val (_, latestKey) = ModelStore.publish(s"$dir/saved", s"$dir/root", "m")
    val dest = s"$dir/dest"
    assert(ModelStore.unpackLatest(s"$dir/root", "m", dest))

    cutShort(java.nio.file.Paths.get(s"$dir/root/$latestKey"))
    intercept[java.io.IOException](ModelStore.unpackLatest(s"$dir/root", "m", dest))

    val loaded = ModelStore.loadDecisionModel(spark, dest).get
    val enc = Encoding.makeVectorEncoder(dm.featureNames, dm.stringTables, dm.modelSeed)
    val (nums, strs) = Encoding.flattenPair("\"a\"", """{"device":"d1"}""")
    val v = enc(nums, strs, 0.0)
    assert(loaded.model.predict(v) == dm.model.predict(v))
  }

  test("poisson weights are zero-rejected with mean ≈ e/(e−1)") {
    val rnd = new scala.util.Random(5)
    val ws = (1 to 20000).map(_ => Encoding.nonZeroPoissonWeight(rnd.nextDouble()))
    assert(ws.forall(_ >= 1.0))
    val mean = ws.sum / ws.size
    assert(mean === math.E / (math.E - 1) +- 0.02) // ≈ 1.582
  }

  private implicit class ApproxOps(val v: Double) {
    def +-(tol: Double): (Double, Double) = (v, tol)
  }
  private implicit class ApproxEq(val x: Double) {
    def ===(t: (Double, Double)): Boolean = math.abs(x - t._1) <= t._2
  }
}
