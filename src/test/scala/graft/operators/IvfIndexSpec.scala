package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.plans.PlanWalk

class IvfIndexSpec extends AnyFunSuite with SparkTestBase {

  // 4 well-separated clusters along the axes of R^8, 25 vectors each
  private def corpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    (0 until 100).map { i =>
      val axis = i % 4
      val v = Seq.tabulate(8)(d =>
        (if (d == axis * 2) 10.0 else 0.0) + rnd.nextGaussian() * 0.1)
      (i.toLong, s"c$axis", v)
    }.toDF("vec_id", "label", "v")
  }

  test("materialized index at nprobe=C matches brute-force exactly") {
    val df = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    val idx = IvfIndex.build(df, "v", "vec_id", dir, numCells = 4, seed = 5L)
    val query = Seq.tabulate(8)(d => if (d == 2) 1.0 else 0.0) // axis-1 direction

    val viaIndex = IvfIndex.topK(spark, idx, "v", "vec_id", query, 10, nprobe = 4)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = df
      .withColumn("cos", round(Ann.cosine(col("v"), array(query.map(lit): _*)), 4))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == brute)

    // reopened index behaves identically
    val reopened = IvfIndex.load(spark, dir)
    assert(reopened.centroids.toSeq == idx.centroids.toSeq)
  }

  test("a 1-probe query reads ONLY the probed cell's files (partition pruning)") {
    val df = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf_prune").toString
    val idx = IvfIndex.build(df, "v", "vec_id", dir, numCells = 4, seed = 5L)
    val query = Seq.tabulate(8)(d => if (d == 2) 1.0 else 0.0)
    val probedCell = Ann.nearestCells(query, idx.centroids, 1).head

    val result = IvfIndex.topK(spark, idx, "v", "vec_id", query, 10, nprobe = 1)
    val rows = result.collect()
    assert(rows.length == 10)

    // every file the scan actually read lives under the probed cell's
    // partition directory — the probe IS partition pruning
    val scans = result.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val filesOnDisk = new java.io.File(s"$dir/cells/cell=$probedCell")
      .listFiles().count(_.getName.endsWith(".parquet"))
    scans.foreach { scan =>
      assert(scan.metadata("PartitionFilters").contains("cell"),
        s"no partition filter on cell: ${scan.metadata("PartitionFilters")}")
      assert(scan.metrics("numFiles").value == filesOnDisk,
        s"scan read ${scan.metrics("numFiles").value} files; " +
          s"probed cell has $filesOnDisk")
    }
    // correctness of the pruned result: all hits from the probed cluster
    assert(rows.forall(_.getAs[String]("label") == "c1"))
  }

  test("indexed topKJoin: exact at nprobe=C; scan reads only the probed cells' files") {
    import spark.implicits._
    val df = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf_knn").toString
    val idx = IvfIndex.build(df, "v", "vec_id", dir, numCells = 4, seed = 5L)
    // three queries, all in the axis-1 cluster direction
    val rnd = new scala.util.Random(33)
    val queries = (0 until 3).map { i =>
      (1000L + i, Seq.tabulate(8)(d =>
        (if (d == 2) 1.0 else 0.0) + rnd.nextGaussian() * 0.01))
    }.toDF("vec_id", "v")

    // nprobe = C: per query equals the single-vector exhaustive search
    val knn = IvfIndex.topKJoin(spark, idx, queries, "v", "vec_id", "vec_id",
      k = 5, nprobe = 4)
    val got = knn.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length == 15)
    for ((qid, qv) <- queries.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))) {
      val single = IvfIndex.topK(spark, idx, "v", "vec_id", qv, 5, nprobe = 4)
        .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val mine = got.filter(_._1 == qid).sortBy(_._4).map(r => (r._2, r._3)).toSeq
      assert(mine == single, s"query $qid")
    }

    // nprobe = 1: every query probes the same (axis-1) cell, so the
    // corpus-side scan must read ONLY that cell's files
    val near = IvfIndex.topKJoin(spark, idx, queries, "v", "vec_id", "vec_id",
      k = 5, nprobe = 1)
    near.collect()
    val probedCell = Ann.nearestCells(
      queries.collect().head.getSeq[Double](1), idx.centroids, 1).head
    val filesOnDisk = new java.io.File(s"$dir/cells/cell=$probedCell")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val scans = PlanWalk.fileScans(near)
      .filter(_.metadata("Location").contains("cells"))
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      assert(scan.metadata("PartitionFilters").contains("cell"),
        s"no partition filter on cell: ${scan.metadata("PartitionFilters")}")
      assert(scan.metrics("numFiles").value == filesOnDisk,
        s"scan read ${scan.metrics("numFiles").value} files; " +
          s"probed cell has $filesOnDisk")
    }
  }

  test("append: incremental batch joins the index; nprobe=C equals brute force over the union") {
    import spark.implicits._
    val df = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val idx = IvfIndex.build(df, "v", "vec_id", dir, numCells = 4, seed = 5L)

    // a new batch clustered near axis 1 (cell of the query) + one stray
    val rnd = new scala.util.Random(77)
    val batch = ((0 until 10).map { i =>
      (500L + i, "new1", Seq.tabulate(8)(d =>
        (if (d == 2) 10.0 else 0.0) + rnd.nextGaussian() * 0.1))
    } :+ ((600L, "new0", Seq.tabulate(8)(d => if (d == 0) 10.0 else 0.0))))
      .toDF("vec_id", "label", "v")
    IvfIndex.append(idx, batch, "v")

    val query = Seq.tabulate(8)(d => if (d == 2) 1.0 else 0.0)
    val viaIndex = IvfIndex.topK(spark, idx, "v", "vec_id", query, 10, nprobe = 4)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = df.unionByName(batch)
      .withColumn("cos", round(Ann.cosine(col("v"), array(query.map(lit): _*)), 4))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == brute)

    // a reopened index sees the appended rows (no sidecar change needed)
    val reopened = IvfIndex.load(spark, dir)
    val again = IvfIndex.topK(spark, reopened, "v", "vec_id", query, 10, nprobe = 4)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(again == brute)
  }

  test("IVF-PQ: ADC probe never reads the vector column; rerank equals exact") {
    val df = corpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf_pq").toString
    val (idx, cb) = IvfIndex.buildPq(df, "v", "vec_id", dir,
      numCells = 4, dim = 8, m = 4, k = 16, seed = 5L)
    val query = Seq.tabulate(8)(d => if (d == 2) 1.0 else 0.0)

    // pure ADC: every hit from the probed cluster, and the scan's read
    // schema excludes the vector column entirely
    val adc = IvfIndex.topKPq(spark, idx, cb, "v", "vec_id", query, 10, nprobe = 1)
    val hits = adc.collect()
    assert(hits.length == 10)
    assert(hits.forall(r => r.getAs[Long]("vec_id") % 4 == 1),
      s"ADC hits outside the axis-1 cluster: ${hits.toSeq}")
    val scans = adc.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      val read = scan.metadata("ReadSchema")
      assert(!read.contains("v:"), s"vector column deserialized: $read")
    }

    // ADC + exact re-rank at nprobe=C reproduces brute force
    val reranked = IvfIndex.topKPq(spark, idx, cb, "v", "vec_id", query,
        10, nprobe = 4, rerank = 3)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = df
      .withColumn("cos", round(Ann.cosine(col("v"), array(query.map(lit): _*)), 4))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
      .select("vec_id", "cos").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(reranked == brute)

    // sidecar round-trip
    val (idx2, cb2) = IvfIndex.loadPq(spark, dir)
    assert(idx2.centroids.toSeq == idx.centroids.toSeq)
    assert(cb2.map(_.map(_.toSeq).toSeq).toSeq == cb.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("append rejects dimension drift and schema drift loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_guard").toString + "/idx"
    val corpus = (1L to 20L).map(i => (i, Seq.fill(4)(i.toDouble))).toDF("vec_id", "v")
    val idx = IvfIndex.build(corpus, "v", "vec_id", dir, numCells = 2)
    // a longer vector would be truncated-scored into a cell and never
    // match any query afterwards — the append must fail instead
    val wide = Seq((100L, Seq(1.0, 2.0, 3.0, 4.0, 5.0))).toDF("vec_id", "v")
    val e = intercept[Exception](IvfIndex.append(idx, wide, "v"))
    assert(e.getMessage.contains("dimension") ||
      Option(e.getCause).exists(_.getMessage.contains("dimension")), e.toString)
    // a drifted column type must not write mixed-schema footers
    val drifted = Seq((101, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "v") // int id
    val e2 = intercept[IllegalArgumentException](IvfIndex.append(idx, drifted, "v"))
    assert(e2.getMessage.contains("schema"), e2.getMessage)
    // a well-formed batch still appends
    val ok = Seq((102L, Seq(9.0, 9.0, 9.0, 9.0))).toDF("vec_id", "v")
    IvfIndex.append(idx, ok, "v")
    assert(spark.read.parquet(s"$dir/cells").count() == 21)
  }

  test("drift ledger flags drifted appends without a ground-truth scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift").toString + "/idx"
    val idx = IvfIndex.build(corpus(), "v", "vec_id", dir, numCells = 4, seed = 5L)
    // fresh index: empty appended side, nothing to recluster
    val fresh = IvfIndex.driftReport(idx).get
    assert(!fresh.needsRecluster && fresh.appendedFraction == 0.0 &&
      fresh.assignPsi == 0.0)

    // ALIGNED append (same 4-axis distribution): small fraction, tiny
    // PSI, no skew growth — no recluster signal
    val rnd = new scala.util.Random(99)
    val aligned = (200 until 220).map { i =>
      val axis = i % 4
      (i.toLong, s"c$axis", Seq.tabulate(8)(d =>
        (if (d == axis * 2) 10.0 else 0.0) + rnd.nextGaussian() * 0.1))
    }.toDF("vec_id", "label", "v")
    IvfIndex.append(idx, aligned, "v")
    val aligned20 = IvfIndex.driftReport(idx).get
    assert(!aligned20.needsRecluster, aligned20.toString)
    assert(math.abs(aligned20.appendedFraction - 20.0 / 120) < 1e-9)
    assert(aligned20.assignPsi < 0.1, aligned20.toString)

    // DRIFTED append: a new embedding pocket orthogonal to every
    // frozen centroid — cos(vec, centroid) ≈ 0 for all of them, so
    // the assignment histogram shifts hard left vs the baseline
    val drifted = (300 until 340).map { i =>
      (i.toLong, "new", Seq.tabulate(8)(d =>
        (if (d == 1) 10.0 else 0.0) + rnd.nextGaussian() * 0.1))
    }.toDF("vec_id", "label", "v")
    IvfIndex.append(idx, drifted, "v")
    val report = IvfIndex.driftReport(idx).get
    assert(report.needsRecluster, report.toString)
    assert(report.assignPsi > 0.25, report.toString)

    // appended-FRACTION alone also triggers: a rebuilt index that then
    // doubles via aligned appends outgrows its quantizer's train set
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_frac").toString + "/idx"
    val idx2 = IvfIndex.build(corpus(), "v", "vec_id", dir2, numCells = 4, seed = 5L)
    val bulk = (400 until 550).map { i =>
      val axis = i % 4
      (i.toLong, s"c$axis", Seq.tabulate(8)(d =>
        (if (d == axis * 2) 10.0 else 0.0) + rnd.nextGaussian() * 0.1))
    }.toDF("vec_id", "label", "v")
    IvfIndex.append(idx2, bulk, "v")
    val grown = IvfIndex.driftReport(idx2).get
    assert(grown.needsRecluster && grown.appendedFraction > 0.5, grown.toString)

    // a pre-stats index (no sidecar) is simply untracked
    graft.core.Commit.fs(dir).delete(
      new org.apache.hadoop.fs.Path(dir, "append_stats.json"), false)
    assert(IvfIndex.driftReport(idx).isEmpty)
  }

  test("null-element vectors cannot fail a landed append or a build (census is best-effort)") {
    // a null ELEMENT passes append's size()==dim guard (size counts
    // null slots) while cosine declines the row to null — before the
    // null filter this NPE'd the driver-side census AFTER the parquet
    // append had already landed, so every retry duplicated the batch
    // ids 7 and 14 carry a null ELEMENT into the build corpus; the
    // deterministic quantizer (first-C centroids = clean ids 1, 2) is
    // required here — kmeans' array_to_vector rejects null elements
    // before the census contract under test is even reached
    val corpus = spark.range(1, 21).selectExpr("id as vec_id",
      "array(cast(id as double), cast(id % 3 as double), 1.0d, " +
        "if(id % 7 = 0, cast(null as double), 0.0d)) as v")
    val dir = java.nio.file.Files.createTempDirectory("ivf_nullel").toString + "/idx"
    val idx = IvfIndex.build(corpus, "v", "vec_id", dir, numCells = 2,
      kmeansQuantizer = false)
    assert(spark.read.parquet(s"$dir/cells").count() == 20,
      "all 20 rows written, null elements included")
    assert(IvfIndex.loadStats(dir).get.base.n == 18,
      "the two null-element rows (ids 7, 14) are uncounted by the census")

    val batch = spark.range(1).selectExpr("100L as vec_id",
      "array(cast(null as double), 1.0d, 2.0d, 3.0d) as v")
    IvfIndex.append(idx, batch, "v") // must not throw
    assert(spark.read.parquet(s"$dir/cells").count() == 21,
      "the append landed")
    val after = IvfIndex.loadStats(dir).get
    assert(after.appended.n == 0,
      s"null-element row is uncounted by the ledger, got ${after.appended}")

    // a fully-null VECTOR row at build time lands in the null cell
    // partition; the build census must skip it rather than NPE a build
    // whose data is fine
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_nullvec").toString + "/idx"
    val withNullVec = corpus.unionAll(spark.range(1).selectExpr(
      "999L as vec_id", "cast(null as array<double>) as v"))
    IvfIndex.build(withNullVec, "v", "vec_id", dir2, numCells = 2,
      kmeansQuantizer = false)
    val st2 = IvfIndex.loadStats(dir2)
    assert(st2.nonEmpty && st2.get.base.n == 18, s"got $st2")
  }

  test("mixed-dimension corpus fails the build loudly, not with silent recall loss") {
    // nearest_cell truncate-scores a LONGER vector into a cell where
    // cosine then declines it at every probe — stored but permanently
    // unprobeable. The build-time guard must reject it instead.
    val mixed = spark.range(1, 11).selectExpr("id as vec_id",
      "if(id = 5, array(1.0d, 2.0d, 3.0d, 4.0d, 5.0d), " +
        "array(cast(id as double), 1.0d, 0.0d, 0.0d)) as v")
    val dir = java.nio.file.Files.createTempDirectory("ivf_mixdim").toString + "/idx"
    val e = intercept[Exception] {
      IvfIndex.build(mixed, "v", "vec_id", dir, numCells = 2,
        kmeansQuantizer = false)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("vector dimension must be 4")),
      s"got: ${messages(e)}")
    // the failed build must not leave a live index behind
    assert(!graft.core.Commit.fs(dir).exists(
      new org.apache.hadoop.fs.Path(dir, "centroids.json")))
  }
}
