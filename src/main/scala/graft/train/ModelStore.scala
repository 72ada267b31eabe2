package graft.train

import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{CanonicalJson, Commit}
import graft.train.Trainer.{DecisionModel, PropensityModel}

import org.apache.hadoop.fs.{Path => HPath}

/** Model artifact + checkpoint layout (reference: model_utils.py
  * metadata embedding, checkpoint.py phase-1 reuse, unpack_models.py
  * publish layout). Every artifact's booster is ONE self-describing
  * file, [[GbtFile]] `model.gbt`, carrying the ensemble and the
  * reference's in-booster attributes as a metadata JSON (string tables,
  * feature names, seed, created_at, version); the decision model's
  * `model.mlmodel` embeds the same JSON. Saving, loading and publishing
  * run on the driver and start no Spark job.
  *
  * Every artifact is written WHOLE and swapped in through [[Commit]]: a
  * crash mid-save leaves the old artifact or none (a missing checkpoint
  * → retrain, which is always safe), never a new booster beside stale
  * files.
  */
object ModelStore {

  val Version = "2.0"

  private val mapper = new ObjectMapper()

  private def metadataJson(featureNames: Seq[String], tables: Map[String, Seq[Long]],
      modelSeed: Long, extra: Map[String, Double]): String = {
    val root = mapper.createObjectNode()
    root.put("version", Version)
    root.put("model_seed", modelSeed)
    root.put("created_at", java.time.Instant.now().toString)
    val fn = root.putArray("feature_names")
    featureNames.foreach(fn.add)
    val st = root.putObject("string_tables")
    tables.foreach { case (k, hashes) =>
      val arr = st.putArray(k)
      hashes.foreach(arr.add)
    }
    extra.foreach { case (k, v) => root.put(k, v) }
    CanonicalJson.dumps(root)
  }

  /** The metadata fields every artifact carries. */
  private final case class Metadata(json: com.fasterxml.jackson.databind.JsonNode,
      featureNames: Seq[String], stringTables: Map[String, Seq[Long]]) {
    def long(field: String): Long = json.get(field).longValue()
    def double(field: String): Double = json.get(field).doubleValue()
  }

  /** Decode `dir`'s model.gbt and `load` the artifact from it: None when
    * the file is absent, unreadable or malformed, or its metadata fails
    * to read. The file resolves through `spark`'s Hadoop configuration.
    */
  private def loadArtifact[A](spark: SparkSession, dir: String)(
      load: (GbtFile.Ensemble, Metadata) => Option[A]): Option[A] =
    try {
      Commit.readBytes(s"$dir/${GbtFile.Name}", spark.sparkContext.hadoopConfiguration)
        .flatMap(GbtFile.decode).flatMap { e =>
          import scala.jdk.CollectionConverters._
          val meta = CanonicalJson.parse(e.metadata)
          val names = meta.get("feature_names").asScala.map(_.textValue()).toSeq
          val tables = meta.get("string_tables").properties().asScala
            .map(t => t.getKey -> t.getValue.asScala.map(_.longValue()).toSeq).toMap
          load(e, Metadata(meta, names, tables))
        }
    } catch { case _: Exception => None }

  // ---- phase-1 checkpoint (M4) -------------------------------------------

  def saveCheckpoint(pm: PropensityModel, dir: String): Unit = {
    val metadata = metadataJson(pm.featureNames, pm.stringTables, pm.modelSeed,
      Map("mean_item_count" -> pm.meanItemCount))
    Commit.replaceDir(dir) { tmp =>
      Commit.writeBytes(s"$tmp/${GbtFile.Name}", GbtFile.encode(metadata,
        pm.model.trees, pm.model.treeWeights, pm.model.numFeatures))
    }
  }

  /** Reuse the phase-1 model when its version matches and it is younger
    * than maxAgeSeconds (checkpoint.py:26-110).
    */
  def loadCheckpoint(spark: SparkSession, dir: String,
      maxAgeSeconds: Long = 24 * 3600,
      now: java.time.Instant = java.time.Instant.now()): Option[PropensityModel] =
    loadArtifact(spark, dir) { (ensemble, meta) =>
      val created = java.time.Instant.parse(meta.json.get("created_at").textValue())
      if (java.time.Duration.between(created, now).getSeconds > maxAgeSeconds) None
      else Some(PropensityModel(ensemble.classifier, meta.featureNames, meta.stringTables,
        meta.long("model_seed"), meta.double("mean_item_count")))
    }

  // ---- final model publish (S9/S10 layout) -------------------------------

  def saveDecisionModel(dm: DecisionModel, dir: String): Unit = {
    // built ONCE: the copies in model.gbt and model.mlmodel must agree
    // byte for byte (same created_at)
    val metadata = metadataJson(dm.featureNames, dm.stringTables, dm.modelSeed,
      Map("reward_mean" -> dm.rewardMean, "reward_std" -> dm.rewardStd))
    Commit.replaceDir(dir) { tmp =>
      Commit.writeBytes(s"$tmp/${GbtFile.Name}", GbtFile.encode(metadata,
        dm.model.trees, dm.model.treeWeights, dm.model.numFeatures))
      // native `.xgb` booster (XGBoost4J probe hit at train time)
      dm.nativeBooster.foreach(b => Commit.writeBytes(s"$tmp/${Boosters.NativeBoosterFile}", b))
      // CoreML `.mlmodel` (model_utils.py:275-321): the tree ensemble +
      // the same metadata JSON in the userDefined dictionary, so Apple-
      // device consumers get the artifact the reference publishes. See
      // CoreMLExport for the (documented) offline validation boundary.
      Commit.writeBytes(s"$tmp/${CoreMLExport.MlModelFile}",
        CoreMLExport.toMlModelBytes(dm.model, dm.featureNames,
          Map(CoreMLExport.MetadataKey -> metadata)))
    }
  }

  def loadDecisionModel(spark: SparkSession, dir: String): Option[DecisionModel] =
    loadArtifact(spark, dir) { (ensemble, meta) =>
      Some(DecisionModel(ensemble.regressor, meta.featureNames, meta.stringTables,
        meta.long("model_seed"), meta.double("reward_mean"), meta.double("reward_std"),
        Commit.readBytes(s"$dir/${Boosters.NativeBoosterFile}",
          spark.sparkContext.hadoopConfiguration)))
    }

  // ---- publish layout (unpack_models.py:62-97) ---------------------------
  //
  // The reference gzips each booster and writes
  //   models/archive/{name}/{name}-{yyyy-MM-dd-HH-mm-ss}-{uuid}.xgb.gz
  // then copies it to models/latest/{name}.xgb.gz — the key consumers
  // poll. Each file of the artifact dir gets that pair of keys, with its
  // own extension (gbt, mlmodel, xgb); each file carries its metadata,
  // so every key stands alone.

  /** The files publish ships, model.gbt LAST: its latest key is the one
    * [[latestKey]] names, so it changes only once the others have. */
  private val Published = Seq(Boosters.NativeBoosterFile, CoreMLExport.MlModelFile, GbtFile.Name)

  /** `{name}.{ext}.gz` for the artifact file `model.{ext}`. */
  private def keyName(modelName: String, file: String): String =
    s"$modelName.${file.stripPrefix("model.")}.gz"

  private def latestKeyOf(modelName: String, file: String): String =
    s"models/latest/${keyName(modelName, file)}"

  def latestKey(modelName: String): String = latestKeyOf(modelName, GbtFile.Name)

  /** Publish each file of a saved decision-model directory under
    * modelsRoot, gzipped, as a timestamped archive object and as the
    * `models/latest/{name}.{ext}.gz` key consumers poll. Returns the
    * archive key of model.gbt and [[latestKey]].
    */
  def publish(modelDir: String, modelsRoot: String, modelName: String,
      now: java.time.Instant = java.time.Instant.now()): (String, String) = {
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm-ss")
      .withZone(java.time.ZoneOffset.UTC).format(now) + "-" + java.util.UUID.randomUUID()
    val files = Published.map(file => file -> Commit.readBytes(s"$modelDir/$file"))
    require(files.last._2.isDefined, s"no ${GbtFile.Name} to publish in $modelDir")
    val arcKeys = files.flatMap { case (file, content) =>
      val latest = new HPath(modelsRoot, latestKeyOf(modelName, file)).toString
      content match {
        case None =>
          // a key left by an earlier artifact would pair with this one
          Commit.fs(latest).delete(new HPath(latest), false)
          None
        case Some(bytes) =>
          val buf = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(buf)
          gz.write(bytes)
          gz.close()
          val arcKey = s"models/archive/$modelName/${keyName(s"$modelName-$stamp", file)}"
          // the archive object first (a fresh key: created, never
          // replaced), then the same bytes over latest: each lands whole
          // through the commit, so the key consumers poll is never
          // absent or partial
          Commit.createFile(new HPath(modelsRoot, arcKey).toString)(_.write(buf.toByteArray))
          Commit.replaceFile(latest)(_.write(buf.toByteArray))
          Some(arcKey)
      }
    }
    (arcKeys.last, latestKey(modelName))
  }

  /** Gunzip the present `models/latest/{name}.*.gz` keys into destDir
    * (the inverse of publish); returns false when no published model
    * exists. destDir is REPLACED whole, and only after every key has
    * read cleanly: a truncated or corrupt key throws and leaves the
    * working model in place (the one failure a model-refresh path must
    * survive).
    */
  def unpackLatest(modelsRoot: String, modelName: String, destDir: String): Boolean = {
    val f = Commit.fs(modelsRoot)
    if (!f.exists(new HPath(modelsRoot, latestKey(modelName)))) return false
    Commit.replaceDir(destDir) { tmp =>
      Published.foreach { file =>
        val key = new HPath(modelsRoot, latestKeyOf(modelName, file))
        if (f.exists(key)) {
          val in = new java.util.zip.GZIPInputStream(f.open(key))
          try Commit.writeBytes(s"$tmp/$file", in.readAllBytes()) finally in.close()
        }
      }
    }
    true
  }
}
