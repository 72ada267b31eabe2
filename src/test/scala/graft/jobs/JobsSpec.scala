package graft.jobs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.Ksuid
import graft.ingest.{Groom, PartitionStore}
import graft.obs.Spans
import graft.train.Trainer

/** The jobs CLI's bodies, session-in, on a tiny inline firehose: two
  * ingest batches (the second carries late rewards and new decisions,
  * so its file overlaps the first), a groom, then a cold and a warm
  * train. Checks the store the chain leaves and the spans each job opens.
  * The lake-index jobs (zone map, bloom, HLL, KLL, compaction) each run
  * once on a small parquet table.
  */
class JobsSpec extends AnyFunSuite with SparkTestBase {

  private val model = "m-jobs"
  private val base = 1700000000L

  private def decision(i: Int): String = {
    val sample = (i + 1) % 4
    s"""{"message_id":"${Ksuid.deterministic(base + i, i.toLong)}","model":"$model",""" +
      s""""count":4,"item":{"k":"i${i % 4}","n":${i % 9}},"context":{"c":"c${i % 3}"},""" +
      s""""sample":{"k":"i$sample","n":${i % 9}}}"""
  }

  private def reward(i: Int): String =
    s"""{"message_id":"${Ksuid.deterministic(base + i, i.toLong + 2000000000L)}",""" +
      s""""model":"$model","decision_id":"${Ksuid.deterministic(base + i, i.toLong)}",""" +
      s""""reward":${1 + i % 2}.0}"""

  private def write(path: String, lines: Seq[String]): String = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString("\n").getBytes("UTF-8"))
    path
  }

  /** Runs `body` under span `root`; returns the spans it opened, by
    * path below `root`.
    */
  private def spansOf(root: String)(body: => Any): Map[String, Spans.Totals] = {
    Spans.span(spark, root)(body)
    Spans.report(spark, root).collect {
      case (p, t) if p != root => p.stripPrefix(s"$root/") -> t
    }
  }

  test("ingest twice, groom, then a cold and a warm train: store census and spans") {
    val work = java.nio.file.Files.createTempDirectory("jobs_spec").toString
    val store = s"$work/store"
    // batch 1: 400 decisions, a third rewarded on time; batch 2: late
    // rewards for another third, and 100 newer decisions
    val batch1 = write(s"$work/b1.jsonl",
      (0 until 400).map(decision) ++ (0 until 400).filter(_ % 3 == 0).map(reward))
    val batch2 = write(s"$work/b2.jsonl",
      (0 until 400).filter(_ % 3 == 1).map(reward) ++ (400 until 500).map(decision))

    val ingestSpans = Seq(batch1, batch2).zipWithIndex.map { case (f, i) =>
      spansOf(s"ingest$i")(IngestJob.run(spark, store, Seq(f)))
    }
    ingestSpans.foreach { s =>
      assert(s.keySet == Set("ingest.parse", "ingest.merge_write"), s)
      assert(s.values.forall(t => t.calls == 1 && t.jobs > 0), s)
    }
    val beforeGroom = PartitionStore.listKeys(spark, store, model)
    assert(Groom.findOverlaps(beforeGroom).nonEmpty, "batch 2 should overlap batch 1")

    val groomSpans = spansOf("groom")(GroomJob.run(spark, store, model))
    assert(groomSpans.keySet == Set("groom") && groomSpans("groom").jobs > 0, groomSpans)

    val keys = PartitionStore.listKeys(spark, store, model)
    assert(keys.nonEmpty && Groom.findOverlaps(keys).isEmpty, keys)
    val perFile = PartitionStore.read(spark, store, keys)
      .groupBy(input_file_name()).agg(count(lit(1)), sum(when(col("reward") > 0, 1L).otherwise(0L)))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(perFile.map(_._1).sum == 500L)
    assert(perFile.map(_._2).sum == (0 until 400).count(_ % 3 != 2))
    assert(perFile.forall(_._1 <= PartitionStore.MaxRowsPerFile))
    assert(keys.map(Groom.rowCount).sum == 500L)

    val cfg = Trainer.TrainConfig(maxFeatures = 8, pruneMinStringCount = 0,
      maxTrees = 2, propensityTrees = 1, treeDepth = 3, seed = 5L)
    val out = s"$work/models"
    val cold = spansOf("cold")(TrainJob.run(spark, store, model, out, cfg))
    assert(cold.keySet == Set("train.ckpt_load", "train.load", "train.p1",
      "train.ckpt_save", "train.p2", "train.publish"), cold)
    assert(cold("train.load").calls == 2)
    Seq("train.p1", "train.p2").foreach(s => assert(cold(s).jobs > 0, s))

    val warm = spansOf("warm")(TrainJob.run(spark, store, model, out, cfg))
    assert(warm.keySet == Set("train.ckpt_load", "train.load", "train.p2", "train.publish"),
      "a warm train reuses phase 1: " + warm)
    assert(warm("train.load").calls == 1)
    assert(new java.io.File(s"$out/${graft.train.ModelStore.latestKey(model)}").isFile)
  }

  /** A 6-file parquet table: id 0..599 range-clustered, v = id / 2,
    * s with 7 distinct values.
    */
  private def lakeTable(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jobs_lake").toString + "/t"
    (0 until 600).map(i => (i.toLong, i / 2.0, s"s${i % 7}")).toDF("id", "v", "s")
      .repartitionByRange(6, col("id")).write.parquet(dir)
    dir
  }

  /** Runs `body`, checks it opened exactly span `job`, once, with
    * jobs; returns what `body` returned.
    */
  private def inOneSpan[A](job: String)(body: => A): A = {
    var out: Option[A] = None
    val s = spansOf(s"$job-root") { out = Some(body) }
    assert(s.keySet == Set(job) && s(job).calls == 1 && s(job).jobs > 0, s)
    out.get
  }

  test("ZoneMapJob harvests the sidecar and answers the metadata census") {
    val dir = lakeTable()
    val census = inOneSpan("zonemap")(ZoneMapJob.run(spark, dir, Seq("id", "v")))
    assert(census("id") == Some(graft.operators.ZoneMap.ManifestAgg(600L, 600L, Some((0.0, 599.0)))))
    assert(census("v").map(_.nRows) == Some(600L) && census("v").get.bounds.isEmpty,
      "float bounds are refused")
    assert(new java.io.File(dir, graft.operators.ZoneMap.SidecarFile).isFile)
  }

  test("BloomMapJob writes one bloom per file and column") {
    val dir = lakeTable()
    assert(inOneSpan("bloommap")(BloomMapJob.run(spark, dir, Seq("id", "s"))) == 12)
  }

  test("HllMapJob sketches every file and answers the NDV census") {
    val dir = lakeTable()
    val ndv = inOneSpan("hllmap")(HllMapJob.run(spark, dir, Seq("s")))
    assert(ndv("s").map(_.estimate) == Some(7L))
  }

  test("KllMapJob sketches every file and answers the quantile census") {
    val dir = lakeTable()
    val q = inOneSpan("kllmap")(KllMapJob.run(spark, dir, Seq("id")))
    val c = q("id").getOrElse(fail("a fresh table must answer"))
    assert(c.n == 600L && c.values.length == 3)
    assert(math.abs(c.values.head - 299.5) <= 2 * c.rankError * 600 + 1, c)
  }

  test("CompactJob packs the small files and keeps every row") {
    val dir = lakeTable()
    val res = inOneSpan("compact")(CompactJob.run(spark, dir, targetBytes = 1L << 30))
    assert(res.filesIn == 6 && res.filesOut == 1, res)
    assert(graft.operators.ZoneMap.dataFiles(spark, dir).length == 1)
    assert(spark.read.parquet(dir).agg(count(lit(1)), sum("id")).head() ==
      org.apache.spark.sql.Row(600L, (0 until 600).sum.toLong))
  }
}
