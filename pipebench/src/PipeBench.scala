package pipebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.encoding.Encoding
import graft.functions.Functions
import graft.ingest.{FirehoseRecords, Groom, Merge, PartitionStore}
import graft.schema.Schema
import graft.train.{Loader, ModelStore, Scorer, Trainer}

/** JVM side of the pipeline benchmark: replays one generated run
  * (`manifest.json`) through the same public calls, in the same order,
  * as the bodies of graft.jobs' IngestJob, GroomJob and TrainJob, on a
  * session configured like `Jobs.session`, and writes what it measured
  * and observed to `observed.json`. Checking against the planted truth
  * and the result line are the Python launcher's job.
  *
  * Usage: PipeBench --dir <runDir> --cpus <n> --trace <0|1>
  */
object PipeBench {
  val SpanKey = "pipebench.span"
  val Sentinel = "pipebench.sentinel"
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opts("dir")
    val cpus = opts("cpus").toInt
    val traced = opts("trace") == "1"
    val manifest = mapper.readTree(new java.io.File(s"$dir/manifest.json"))
    val out = mapper.createObjectNode()
    new Run(dir, cpus, traced, manifest, out).run()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(s"$dir/observed.json"), out)
  }

  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("pipebench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Functions.register(s)
    s
  }

  /** Bytes written through Hadoop filesystems in this JVM (local mode:
    * driver and executors share it), data and checksum files alike.
    */
  @annotation.nowarn("cat=deprecation")
  def fsBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  def seconds(ns: Long): Double = ns / 1e9

  /** CPU seconds of this JVM's threads so far, summed by thread kind
    * (the Linux thread name without its number), from /proc.
    */
  def threadCpu(): Map[String, Double] = {
    val ticksPerS = 100.0
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some(name.replaceAll("[#]?[0-9]+$", "").trim -> (f(11).toLong + f(12).toLong) / ticksPerS)
      } catch { case _: java.io.IOException => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** CPU time of the whole JVM (every thread: tasks, driver, JIT, GC). */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
}

/** One span's Spark work, summed from listener events. */
final class SpanAcc {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var input = 0L
  val stages = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Sums Spark's task metrics per span. A span is the local property the
  * driver sets around each public call; every job started under it (from
  * any thread that inherited the property) counts towards it.
  */
final class SpanListener extends SparkListener {
  val accs = new ConcurrentHashMap[String, SpanAcc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  @volatile var busyNs = 0L
  @volatile var sentinelDone = false

  def acc(span: String): SpanAcc = accs.computeIfAbsent(span, _ => new SpanAcc)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(PipeBench.SpanKey)))
      .getOrElse("untagged")
    val a = acc(span)
    a.synchronized { a.jobs += 1 }
    jobSpan.put(e.jobId, span)
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    // the driver waits for its sentinel job's end to know all earlier
    // events have been delivered (one listener queue, in order)
    if (jobSpan.get(e.jobId) == PipeBench.Sentinel) sentinelDone = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    val a = acc(stageSpan.getOrDefault(info.stageId, "untagged"))
    a.synchronized {
      a.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
      for (s <- info.submissionTime; c <- info.completionTime) a.stages += ((s, c))
    }
  }
}

final class Run(dir: String, cpus: Int, traced: Boolean, manifest: JsonNode, out: ObjectNode) {
  import PipeBench._

  private val scratch = s"$dir/scratch"
  private val store = s"$dir/store"
  private val models = s"$dir/models"
  private var spark: SparkSession = _
  private var listener: SpanListener = _
  // wall-clock intervals of each span's calls (ms, the stage clock)
  private val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long)]]
  // time spent on trace-only bookkeeping inside the chain, excluded from it
  private var traceOnlyNs = 0L

  private def arr(name: String) = out.putArray(name)
  private def files(batch: JsonNode): Seq[String] =
    batch.get("files").elements().asScala.map(f => s"$dir/inputs/${f.asText}").toSeq

  /** Runs `body` as one call of span `name`; returns (result, wall ns). */
  private def span[A](name: String)(body: => A): (A, Long) = {
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(SpanKey, name)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val ns = System.nanoTime() - t0
      calls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        ((ms0, System.currentTimeMillis(), ns))
      (r, ns)
    } finally if (traced) sc.setLocalProperty(SpanKey, null)
  }

  private def traceOnly[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally traceOnlyNs += System.nanoTime() - t0
  }

  def run(): Unit = {
    val heap = new HeapAfterGc
    // ---- setup: what Jobs.session does (build the session, register
    // the native functions) plus a first trivial job, four times; the
    // first also pays JVM start (measured from the JVM's start time)
    val setups = (0 until 4).map { i =>
      val t0 = if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
        (System.currentTimeMillis() * 1000000L - System.nanoTime()) else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, scratch)
      spark.range(1).count()
      seconds(System.nanoTime() - t0)
    }
    val setupArr = arr("setup_s"); setups.foreach(setupArr.add)
    if (traced) {
      listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
    }
    heap.start()

    val batchesOut = arr("batches")
    val groomsOut = arr("grooms")
    val trainsOut = arr("trains")
    val batches = manifest.get("batches")
    val chain0 = System.nanoTime()
    val cpu0 = processCpuNs()
    manifest.get("steps").elements().asScala.foreach { step =>
      step.get("op").asText match {
        case "ingest" =>
          val b = step.get("batch").asInt
          batchesOut.add(ingest(b, files(batches.get(b)), batches.get(b).get("lines").asLong,
            step.has("bulk")))
        case "groom" =>
          step.get("models").elements().asScala.foreach(m => groomsOut.add(groom(m.asText)))
        case "train" =>
          val model = if (step.has("model")) step.get("model").asText else trainModel
          trainsOut.add(train(step.get("mode").asText, model))
        case "score" =>
          out.set[JsonNode]("score", score())
      }
    }
    val chainNs = System.nanoTime() - chain0 - traceOnlyNs
    out.put("chain_s", seconds(chainNs))
    out.put("chain_cpu_s", seconds(processCpuNs() - cpu0))
    heap.stop()
    out.put("peak_heap_mb", heap.peakMb)
    out.put("gc_s", heap.gcSeconds)
    out.set[JsonNode]("policy", policy())
    out.set[JsonNode]("calibration", calibrate())
    val cpuByThread = out.putObject("thread_cpu_s")
    threadCpu().toSeq.filter(_._2 >= 0.5).sortBy(-_._2).foreach { case (k, v) =>
      cpuByThread.put(k, v)
    }
    out.set[JsonNode]("store", storeCensus())
    if (traced) out.set[JsonNode]("spans", spanReport())
    spark.stop()
  }

  // ---- the three jobs ----------------------------------------------------

  /** IngestJob's body on one batch of firehose files. */
  private def ingest(b: Int, paths: Seq[String], lines: Long, bulk: Boolean): ObjectNode = {
    val s = spark
    import s.implicits._
    val fs0 = fsBytesWritten()
    val ((parsed, census), parseNs) = span("ingest.parse") {
      val parsed = FirehoseRecords.parse(s, paths).persist()
      (parsed, FirehoseRecords.invalidCensus(parsed))
    }
    val ((merged, written), mergeNs) = span("ingest.merge_write") {
      val merged = Merge.merge(parsed.flatMap(_.row).toDF()).persist()
      (merged, Merge.writePerModel(merged, store))
    }
    val bytes = fsBytesWritten() - fs0
    // the job's process exit would release these; the driver lives on
    traceOnly { merged.unpersist(blocking = true); parsed.unpersist(blocking = true) }
    val o = mapper.createObjectNode()
    o.put("batch", b).put("bulk", bulk).put("lines", lines)
      .put("wall_s", seconds(parseNs + mergeNs))
      .put("files_written", written.values.map(_.length).sum)
      .put("bytes_written", bytes)
    val c = o.putObject("census")
    census.toSeq.sorted.foreach { case (k, v) => c.put(k, v) }
    o
  }

  /** GroomJob's body for one model. */
  private def groom(model: String): ObjectNode = {
    val before = PartitionStore.listKeys(spark, store, model).toSet
    Groom.resetConcurrencyProbe()
    val fs0 = fsBytesWritten()
    val ((iters, keys, overlaps), ns) = span("groom") {
      val iters = Groom.groom(spark, store, model)
      val keys = PartitionStore.listKeys(spark, store, model)
      (iters, keys, Groom.findOverlaps(keys))
    }
    val after = keys.toSet
    mapper.createObjectNode()
      .put("model", model).put("wall_s", seconds(ns)).put("iterations", iters)
      .put("files_in", (before -- after).size).put("files_out", (after -- before).size)
      .put("bytes_written", fsBytesWritten() - fs0)
      .put("peak_concurrency", Groom.peakConcurrentCompactions)
      .put("overlaps", overlaps.length)
  }

  private def trainConfig: Trainer.TrainConfig = {
    val c = manifest.get("train_config")
    Trainer.TrainConfig(
      treeDepth = c.get("treeDepth").asInt, propensityTrees = c.get("propensityTrees").asInt,
      maxTrees = c.get("maxTrees").asInt, maxFeatures = c.get("maxFeatures").asInt,
      seed = c.get("seed").asLong)
  }

  private val trainModel = manifest.get("train_model").asText

  /** TrainJob's body (checkpoint-aware) for one model. */
  private def train(mode: String, model: String): ObjectNode = {
    val (cfg, maxRows) = (trainConfig, 8000000L)
    val o = mapper.createObjectNode().put("mode", mode).put("model", model)
    val t0 = System.nanoTime()
    val trace0 = traceOnlyNs
    val keys = PartitionStore.listKeys(spark, store, model)
    require(keys.nonEmpty, s"no partitions for model '$model'")
    val sample = if (cfg.explore) Encoding.NonZeroPoissonProbability else 1.0
    val modelOut = s"$models/$model"
    val (ckpt, _) = span("train.ckpt_load")(
      ModelStore.loadCheckpoint(spark, s"$modelOut/checkpoint"))
    o.put("ckpt_loaded", ckpt.isDefined)
    var filesSelected = 0L
    val pm = ckpt.getOrElse {
      val (phase1, _) = span("train.load")(
        Loader.load(spark, store, model,
          maxRows = maxRows, minRows = maxRows, sample = sample, seed = cfg.seed)
          .withColumn(Schema.Model, lit(model)))
      if (traced) traceOnly {
        filesSelected += Loader.selectFiles(keys, maxRows, maxRows, sample, cfg.seed).keys.length
        o.put("rows_p1", phase1.count())
      }
      val (trained, _) = span("train.p1")(Trainer.trainPropensity(phase1, cfg))
      span("train.ckpt_save")(ModelStore.saveCheckpoint(trained, s"$modelOut/checkpoint"))
      trained
    }
    val (phase2, _) = span("train.load")(
      Loader.load(spark, store, model, maxRows = maxRows, sample = sample, seed = cfg.seed + 1)
        .withColumn(Schema.Model, lit(model)))
    if (traced) traceOnly {
      filesSelected += Loader.selectFiles(keys, maxRows, 0L, sample, cfg.seed + 1).keys.length
      o.put("rows_p2", phase2.count())
    }
    val (dm, _) = span("train.p2")(Trainer.trainDecision(phase2, pm, cfg))
    val ((_, latest), _) = span("train.publish") {
      ModelStore.saveDecisionModel(dm, s"$modelOut/latest")
      ModelStore.publish(s"$modelOut/latest", models, model)
    }
    o.put("wall_s", seconds(System.nanoTime() - t0 - (traceOnlyNs - trace0)))
    val fs = new Path(models).getFileSystem(spark.sparkContext.hadoopConfiguration)
    o.put("files_selected", filesSelected)
      .put("features", pm.featureNames.length)
      .put("trees_p1", pm.model.getNumTrees)
      .put("trees_p2", dm.model.getNumTrees)
      .put("artifact_bytes", fs.getFileStatus(new Path(models, latest)).getLen)
  }

  private def publishedModel(): Trainer.DecisionModel = {
    val unpacked = s"$scratch/unpacked/$trainModel"
    require(ModelStore.unpackLatest(models, trainModel, unpacked), "no published model")
    ModelStore.loadDecisionModel(spark, unpacked).getOrElse(
      throw new IllegalStateException("published model does not load"))
  }

  private lazy val catalog = manifest.get("catalog").elements().asScala.map(_.asText).toIndexedSeq
  private lazy val holdout = manifest.get("holdout").elements().asScala.map { h =>
    (h.get("context").asText, h.get("items").elements().asScala.map(_.asInt).toIndexedSeq)
  }.toIndexedSeq

  /** The consumer's side: unpack the published model and rank the first
    * holdout contexts' candidates, one Scorer.rank call per context.
    */
  private def score(): ObjectNode = {
    val t0 = System.nanoTime()
    val dm = publishedModel()
    val o = mapper.createObjectNode()
    val tops = o.putArray("top")
    var finite = true
    var ranked = 0
    holdout.take(manifest.get("rank_contexts").asInt).foreach { case (context, items) =>
      val (ranking, _) = span("score.rank")(Scorer.rank(spark, dm, items.map(catalog), context))
      finite &&= ranking.forall(r => java.lang.Double.isFinite(r._2))
      ranked += ranking.length
      tops.add(catalog.indexOf(ranking.head._1))
    }
    o.put("wall_s", seconds(System.nanoTime() - t0)).put("all_finite", finite)
      .put("ranked", ranked)
  }

  /** Top item of every holdout context under the published model, scored
    * in one Scorer.score pass (outside the chain), with Scorer.rank's
    * order: highest score first, ties broken by the item payload.
    */
  private def policy(): ObjectNode = {
    val s = spark
    import s.implicits._
    val rows = holdout.zipWithIndex.flatMap { case ((context, items), c) =>
      items.map(i => (c, i, catalog(i), context))
    }
    val scored = Scorer.score(rows.toDF("c", "idx", "item", "context"), publishedModel())
      .select("c", "idx", "item", "score").as[(Int, Int, String, Double)].collect()
    val o = mapper.createObjectNode()
    val tops = o.putArray("top")
    scored.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, rs) =>
      tops.add(rs.minBy(r => (-r._4, r._3))._2)
    }
    o.put("all_finite", scored.forall(r => java.lang.Double.isFinite(r._4)))
  }

  // ---- output checks and trace report --------------------------------------

  /** Fixed CPU and IO probe (a smaller copy of graft.Bench's), run after
    * the chain so a reader can tell box load from an engine change.
    */
  private def calibrate(): ObjectNode = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; seconds(System.nanoTime() - t0) }
    val cpu = time(spark.range(0, 5000000L).selectExpr("sum(xxhash64(id) & 1048575)").collect())
    val io = time {
      spark.range(0, 300000L)
        .selectExpr("id", "xxhash64(id) AS h", "CAST(id % 97 AS DOUBLE) AS v")
        .write.mode("overwrite").parquet(s"$scratch/calibration")
      spark.read.parquet(s"$scratch/calibration").selectExpr("sum(h & 1048575)").collect()
    }
    mapper.createObjectNode().put("cpu_s", cpu).put("io_s", io)
  }

  /** Per-model census of the final store (outside every timing). */
  private def storeCensus(): ObjectNode = {
    val o = mapper.createObjectNode()
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keys = manifest.get("models").elements().asScala.map(_.asText)
      .map(m => m -> PartitionStore.listKeys(spark, store, m)).toSeq
    val all = keys.flatMap(_._2)
    // one scan of every file: rows, reward sum and orphan rows per file
    val perFile = if (all.isEmpty) Map.empty[String, (Long, Double, Long)] else
      PartitionStore.read(spark, store, all)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)), sum(coalesce(col(Schema.Reward), lit(0.0))),
          sum(when(col(Schema.Item).isNull, 1L).otherwise(0L)))
        .collect().map(r => r.getString(0).split('/').last -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
        .toMap
    keys.foreach { case (model, ks) =>
      val files = ks.map(k => perFile.getOrElse(k.split('/').last, (0L, 0.0, 0L)))
      o.putObject(model)
        .put("files", ks.length).put("overlaps", Groom.findOverlaps(ks).length)
        .put("bytes", ks.map(k => fs.getFileStatus(new Path(store, k)).getLen).sum)
        .put("rows", files.map(_._1).sum).put("reward_sum", files.map(_._2).sum)
        .put("orphans", files.map(_._3).sum)
        .put("max_rows_per_file", (0L +: files.map(_._1)).max)
        .put("name_rows", ks.map(Groom.rowCount).sum)
    }
    o
  }

  /** Per-span listener sums, plus driver time: span wall minus the part
    * of it covered by the span's stages.
    */
  private def spanReport(): ObjectNode = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, Sentinel)
    spark.range(1).count()
    sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!listener.sentinelDone && System.nanoTime() < deadline) Thread.sleep(10)
    require(listener.sentinelDone, "listener events not delivered within 60 s")
    val o = mapper.createObjectNode()
    calls.foreach { case (name, cs) =>
      val a = Option(listener.accs.get(name)).getOrElse(new SpanAcc)
      val wallNs = cs.map(_._3).sum
      val covered = a.synchronized(coveredMs(a.stages.toSeq, cs.map(c => (c._1, c._2)).toSeq))
      o.putObject(name)
        .put("calls", cs.length)
        .put("wall_s", seconds(wallNs))
        .put("driver_s", math.max(0.0, seconds(wallNs) - covered / 1000.0))
        .put("jobs", a.jobs).put("tasks", a.tasks)
        .put("exec_cpu_s", seconds(a.cpuNs)).put("gc_s", a.gcMs / 1000.0)
        .put("shuffle_write_bytes", a.shuffleWrite).put("spill_bytes", a.spill)
        .put("input_bytes", a.input)
    }
    o.putObject("trace").put("listener_s", seconds(listener.busyNs))
      .put("untagged_jobs", Option(listener.accs.get("untagged")).map(_.jobs).getOrElse(0L))
    o
  }

  private def merge(iv: Seq[(Long, Long)]): List[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }

  /** Length (ms) of the union of `stages` inside the union of `windows`. */
  private def coveredMs(stages: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    val ws = merge(windows)
    merge(stages).map { case (s, e) =>
      ws.map { case (a, b) => math.max(0L, math.min(e, b) - math.max(s, a)) }.sum
    }.sum
  }
}

/** Peak heap still in use right after a garbage collection (the live
  * data, which does not depend on when collections happen to run),
  * from the collectors' notifications, plus total GC time.
  */
final class HeapAfterGc extends javax.management.NotificationListener {
  import com.sun.management.GarbageCollectionNotificationInfo
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val emitters = collectors.collect { case e: javax.management.NotificationEmitter => e }
  @volatile private var peak = 0L
  private var gc0 = 0L

  override def handleNotification(n: javax.management.Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      record(info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
    }

  private def record(used: Long): Unit = synchronized { peak = math.max(peak, used) }
  private def gcMs = collectors.map(_.getCollectionTime).sum

  def start(): Unit = {
    gc0 = gcMs
    emitters.foreach(_.addNotificationListener(this, null, null))
  }

  /** Ends the measurement with one full collection, so there is always
    * at least one sample.
    */
  def stop(): Unit = {
    emitters.foreach(_.removeNotificationListener(this))
    System.gc()
    record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
}
