package graft.train

import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{CanonicalJson, Commit, Tar}
import graft.train.Trainer.{DecisionModel, PropensityModel}

import org.apache.hadoop.fs.{Path => HPath}

/** Model artifact + checkpoint layout (reference: model_utils.py
  * metadata embedding, checkpoint.py phase-1 reuse, unpack_models.py
  * publish layout). The booster is the MLlib model directory; the
  * reference's in-booster attributes become a metadata.json sidecar
  * (string tables, feature names, seed, created_at, version).
  *
  * Every artifact is written WHOLE (model + metadata) and swapped in
  * through [[Commit]]: writing the pieces in place would let a crash
  * between the model save and the metadata write pair a NEW booster
  * with yesterday's still-valid metadata — loads would then encode with
  * the wrong feature/string mapping (and de-normalize with the wrong
  * mean/std), silently. A failed save leaves the old artifact or none
  * (a missing checkpoint → retrain, which is always safe).
  */
object ModelStore {

  val Version = "1.0"

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

  private val MetadataFile = "metadata.json"

  /** The metadata fields every artifact carries. */
  private final case class Metadata(json: com.fasterxml.jackson.databind.JsonNode,
      featureNames: Seq[String], stringTables: Map[String, Seq[Long]]) {
    def long(field: String): Long = json.get(field).longValue()
    def double(field: String): Double = json.get(field).doubleValue()
  }

  /** Read `dir`'s metadata.json and `load` the artifact from it: None
    * when there is no metadata, or when it or the model fails to load.
    * Filesystem resolution and the MLlib load go through the active
    * session, so the caller's session is bound first — a caller passing
    * a dedicated session must not silently get a different one.
    */
  private def loadArtifact[A](spark: SparkSession, dir: String)(
      load: Metadata => Option[A]): Option[A] = {
    SparkSession.setActiveSession(spark)
    Commit.readBytes(s"$dir/$MetadataFile").flatMap { bytes =>
      try {
        val meta = CanonicalJson.parse(new String(bytes, "UTF-8"))
        val names = (0 until meta.get("feature_names").size())
          .map(meta.get("feature_names").get(_).textValue())
        val tablesNode = meta.get("string_tables")
        val tables = scala.jdk.CollectionConverters.IteratorHasAsScala(tablesNode.fieldNames())
          .asScala.map { f =>
            val arr = tablesNode.get(f)
            f -> (0 until arr.size()).map(arr.get(_).longValue()).toSeq
          }.toMap
        load(Metadata(meta, names, tables))
      } catch { case _: Exception => None }
    }
  }

  // ---- phase-1 checkpoint (M4) -------------------------------------------

  def saveCheckpoint(pm: PropensityModel, dir: String): Unit =
    Commit.replaceDir(dir) { tmp =>
      pm.model.write.overwrite().save(s"$tmp/phase1_model")
      Commit.writeBytes(s"$tmp/$MetadataFile", metadataJson(pm.featureNames,
        pm.stringTables, pm.modelSeed, Map("mean_item_count" -> pm.meanItemCount))
        .getBytes("UTF-8"))
    }

  /** Reuse the phase-1 model when version matches and it is younger
    * than maxAgeSeconds (checkpoint.py:26-110).
    */
  def loadCheckpoint(spark: SparkSession, dir: String,
      maxAgeSeconds: Long = 24 * 3600,
      now: java.time.Instant = java.time.Instant.now()): Option[PropensityModel] =
    loadArtifact(spark, dir) { meta =>
      val created = java.time.Instant.parse(meta.json.get("created_at").textValue())
      if (meta.json.get("version").textValue() != Version ||
          java.time.Duration.between(created, now).getSeconds > maxAgeSeconds) None
      else Some(PropensityModel(GBTClassificationModel.load(s"$dir/phase1_model"),
        meta.featureNames, meta.stringTables, meta.long("model_seed"),
        meta.double("mean_item_count")))
    }

  // ---- final model publish (S9/S10 layout) -------------------------------

  def saveDecisionModel(dm: DecisionModel, dir: String): Unit = {
    // built ONCE: metadata.json and the copy inside the .mlmodel must
    // agree byte for byte (same created_at)
    val metadata = metadataJson(dm.featureNames, dm.stringTables, dm.modelSeed,
      Map("reward_mean" -> dm.rewardMean, "reward_std" -> dm.rewardStd))
    Commit.replaceDir(dir) { tmp =>
      dm.model.write.overwrite().save(s"$tmp/model")
      // native `.xgb` booster (XGBoost4J probe hit at train time): part
      // of the artifact dir, so publish/unpack tar it automatically
      dm.nativeBooster.foreach(b => Commit.writeBytes(s"$tmp/${Boosters.NativeBoosterFile}", b))
      // CoreML `.mlmodel` (model_utils.py:275-321): the tree ensemble +
      // the same metadata JSON in the userDefined dictionary, so Apple-
      // device consumers get the artifact the reference publishes. See
      // CoreMLExport for the (documented) offline validation boundary.
      Commit.writeBytes(s"$tmp/${CoreMLExport.MlModelFile}",
        CoreMLExport.toMlModelBytes(dm.model, dm.featureNames,
          Map("graft.metadata.json" -> metadata)))
      Commit.writeBytes(s"$tmp/$MetadataFile", metadata.getBytes("UTF-8"))
    }
  }

  // ---- publish layout (unpack_models.py:62-97) ---------------------------
  //
  // The reference gzips each booster and writes
  //   models/archive/{name}/{name}-{yyyy-MM-dd-HH-mm-ss}-{uuid}.xgb.gz
  // then copies it to models/latest/{name}.xgb.gz — the key consumers
  // poll. Our booster is an MLlib model DIRECTORY, so the single-file
  // artifact is a tar.gz bundle of that directory (the same model.tar.gz
  // shape the reference's unpack lambda itself consumes).

  val PublishExtension = ".tar.gz"

  def latestKey(modelName: String): String =
    s"models/latest/$modelName$PublishExtension"

  private def archiveKey(modelName: String, now: java.time.Instant): String = {
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm-ss")
      .withZone(java.time.ZoneOffset.UTC).format(now)
    s"models/archive/$modelName/$modelName-$ts-${java.util.UUID.randomUUID()}$PublishExtension"
  }

  /** Recursively list regular files under dir as
    * (relativeName, path, length), sorted by name for deterministic
    * archives. The length rides along from listStatus so publish never
    * re-stats each file (one RPC per file on a remote store).
    */
  private def walk(f: org.apache.hadoop.fs.FileSystem, root: HPath): Seq[(String, HPath, Long)] = {
    // qualify BOTH sides before prefix-stripping: listStatus returns
    // fully-qualified paths, so a relative `root` (legal CLI input)
    // would strip nothing and yield near-absolute entry names that
    // blow the 100-char tar field or unpack to wrong directories
    val rootUri = f.makeQualified(root).toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, HPath, Long)]
    def go(p: HPath): Unit = f.listStatus(p).foreach { st =>
      if (st.isDirectory) go(st.getPath)
      else {
        val full = f.makeQualified(st.getPath).toUri.getPath
        val rel = full.stripPrefix(rootUri).stripPrefix("/")
        out += ((rel, st.getPath, st.getLen))
      }
    }
    go(root)
    out.sortBy(_._1).toSeq
  }

  /** Bundle a saved model directory (model/ + metadata.json) into a
    * gzipped tar and publish it under modelsRoot as both a timestamped
    * archive object and the `models/latest/{name}.tar.gz` key consumers
    * poll. Returns (archiveKey, latestKey).
    */
  def publish(modelDir: String, modelsRoot: String, modelName: String,
      now: java.time.Instant = java.time.Instant.now()): (String, String) = {
    val f = Commit.fs(modelDir)
    val arcKey = archiveKey(modelName, now)
    val arcPath = new HPath(modelsRoot, arcKey)
    // the archive lands only COMPLETE: a failure mid-walk would
    // otherwise leave a valid gzip of a truncated tar at the published
    // key (the close writes a clean gzip trailer no matter what), which
    // consumers would unpack as a silently partial model
    Commit.replaceFile(arcPath.toString) { out =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      try {
        walk(f, new HPath(modelDir)).foreach { case (rel, p, size) =>
          val in = f.open(p)
          try Tar.writeEntry(gz, rel, size, now.getEpochSecond, in)
          finally in.close()
        }
        Tar.finish(gz)
      } finally gz.close()
    }
    // `latest` is the key consumers poll, so it must never be absent or
    // partial: the archive is copied over it through the same commit.
    // (On an object store a publisher would instead PUT the latest key
    // directly — the PUT itself is atomic there.)
    Commit.replaceFile(new HPath(modelsRoot, latestKey(modelName)).toString) { out =>
      val in = Commit.fs(modelsRoot).open(arcPath)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
      finally in.close()
    }
    (arcKey, latestKey(modelName))
  }

  /** Extract `models/latest/{name}.tar.gz` into destDir (the inverse
    * of publish); returns false when no published artifact exists.
    * destDir is REPLACED whole — consumers re-unpack each new artifact
    * into the same directory, and leftover part-files from a previous
    * artifact would otherwise mix into the MLlib directory-load (which
    * reads every parquet file present) as a silently wrong model. The
    * swap happens only after the whole archive reads cleanly: a
    * truncated or corrupt artifact leaves the working model in place
    * (the one failure a model-refresh path must survive).
    */
  def unpackLatest(modelsRoot: String, modelName: String, destDir: String): Boolean = {
    val f = Commit.fs(modelsRoot)
    val latest = new HPath(modelsRoot, latestKey(modelName))
    if (!f.exists(latest)) return false
    Commit.replaceDir(destDir) { tmp =>
      val destFs = Commit.fs(tmp)
      val in = new java.util.zip.GZIPInputStream(f.open(latest))
      try Tar.read(in, (name, _, data) => {
        // tar entry names come from the (possibly hostile) archive:
        // reject anything that could escape the destination (zip-slip)
        require(!name.startsWith("/") && !name.split('/').contains(".."),
          s"unsafe tar entry name: $name")
        val out = destFs.create(new HPath(tmp, name), true)
        try org.apache.hadoop.io.IOUtils.copyBytes(data, out, 64 * 1024, false)
        finally out.close()
      }) finally in.close()
    }
    true
  }

  def loadDecisionModel(spark: SparkSession, dir: String): Option[DecisionModel] =
    loadArtifact(spark, dir) { meta =>
      Some(DecisionModel(
        GBTRegressionModel.load(s"$dir/model"), meta.featureNames, meta.stringTables,
        meta.long("model_seed"), meta.double("reward_mean"), meta.double("reward_std"),
        Commit.readBytes(s"$dir/${Boosters.NativeBoosterFile}")))
    }
}
