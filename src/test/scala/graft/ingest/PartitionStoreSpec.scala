package graft.ingest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.Ksuid
import graft.schema.{PartitionFilename, RewardedDecisionRow, Schema}

class PartitionStoreSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1660000000L // fixed, in the past

  private def syntheticRows(n: Int, spreadSeconds: Long): Seq[RewardedDecisionRow] =
    (0 until n).map { i =>
      val ts = base + (i * spreadSeconds / n)
      RewardedDecisionRow(
        decision_id = Ksuid.deterministic(ts, i.toLong),
        item = Some(s"""{"v":$i}"""), context = Some("{}"),
        count = Some(5.0), sample = None,
        rewards = Some("{}"), reward = Some(0.0), model = "m")
    }

  test("write → name-encoded chunks; listing is chronological; round-trip intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore").toString
    // 2000 rows over ~3 months with 100-row files forces prefix splits
    val rows = syntheticRows(2000, 90L * 24 * 3600)
    val keys = PartitionStore.write(rows.toDF(), dir, "m", maxRowsPerFile = 100)

    assert(keys.nonEmpty)
    keys.foreach(k => assert(PartitionFilename.isValidKey(k), k))

    val listed = PartitionStore.listKeys(spark, dir, "m")
    assert(listed.sorted == listed)
    assert(listed.toSet == keys.toSet)

    // name-encoded [minTs, maxTs] and row counts are truthful
    var totalRows = 0L
    listed.foreach { key =>
      val parsed = PartitionFilename.parse(key.split('/').last).get
      val df = PartitionStore.read(spark, dir, Seq(key))
      val Array(minId, maxId, n) = df
        .agg(min(Schema.DecisionId), max(Schema.DecisionId), count(lit(1)))
        .collect().head.toSeq.toArray
      assert(parsed.rowCount == n.asInstanceOf[Long])
      assert(parsed.minTs == PartitionFilename.timestampOf(minId.asInstanceOf[String]))
      assert(parsed.maxTs == PartitionFilename.timestampOf(maxId.asInstanceOf[String]))
      assert(parsed.rowCount <= 100)
      totalRows += parsed.rowCount
    }
    assert(totalRows == 2000)

    // full read-back preserves every row
    val back = PartitionStore.read(spark, dir, listed)
    assert(back.count() == 2000)
    assert(back.select(Schema.DecisionId).distinct().count() == 2000)

    // non-overlapping ranges after a single consolidated write
    val ranges = listed.map(k => PartitionFilename.parse(k.split('/').last).get)
      .map(p => (p.minTs, p.maxTs)).sortBy(_._2)
    ranges.sliding(2).foreach {
      case Seq((_, prevMax), (curMin, _)) => assert(prevMax <= curMin)
      case _ =>
    }

    // delete removes the files
    PartitionStore.delete(spark, dir, listed)
    assert(PartitionStore.listKeys(spark, dir, "m").isEmpty)
  }

  test("small batch stays one file named by its bounds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore2").toString
    val rows = syntheticRows(50, 10)
    val keys = PartitionStore.write(rows.toDF(), dir, "m")
    assert(keys.length == 1)
    val parsed = PartitionFilename.parse(keys.head.split('/').last).get
    assert(parsed.rowCount == 50)
  }

  test("backfill-scale write: >1k chunk files are footer-named and renamed in parallel") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore_bulk").toString
    // 1200 rows, one per distinct second, at maxRowsPerFile=1 → the
    // prefix search lands on full-second resolution and the write
    // emits 1200 one-row chunks: the footer-stats + rename tail (now
    // pooled) has to process every one of them
    val n = 1200
    val rows = (0 until n).map { i =>
      RewardedDecisionRow(
        decision_id = Ksuid.deterministic(base + i, i.toLong),
        item = Some(s"""{"v":$i}"""), context = None,
        count = None, sample = None, rewards = None, reward = Some(0.0),
        model = "m")
    }
    val t0 = System.nanoTime()
    val keys = PartitionStore.write(rows.toDF(), dir, "m", maxRowsPerFile = 1)
    val tailSecs = (System.nanoTime() - t0) / 1e9
    assert(keys.length == n, s"expected $n chunk files, got ${keys.length}")
    keys.foreach(k => assert(PartitionFilename.isValidKey(k), k))
    assert(keys.distinct.length == n)
    // listing agrees and the store round-trips every row
    val listed = PartitionStore.listKeys(spark, dir, "m")
    assert(listed.toSet == keys.toSet)
    assert(PartitionStore.read(spark, dir, listed).count() == n)
    // generous wall-clock guard: the serial tail at ~3 footer+rename
    // round trips per file would blow far past this on a slow day;
    // the real assertion is "does not scale O(files) on the driver"
    assert(tailSecs < 120, s"bulk write took ${tailSecs}s")
  }

  /** A key without its uuid: its directory plus `{maxTs}-{minTs}-{count}`. */
  private def shapeOf(key: String): String = {
    val (d, f) = key.splitAt(key.lastIndexOf('/') + 1)
    d + f.split('-').take(3).mkString("-")
  }

  test("writePerModel: 50 models, ONE pass over the merged frame, per-model stores intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore_models").toString
    val nModels = 50
    val perModel = 20
    val small = (0 until nModels).flatMap { mi =>
      (0 until perModel).map { i =>
        RewardedDecisionRow(
          decision_id = Ksuid.deterministic(base + mi * 1000 + i, (mi * 100 + i).toLong),
          item = Some(s"""{"m":$mi,"v":$i}"""), context = Some("{}"),
          count = Some(2.0), sample = None,
          rewards = Some("{}"), reward = Some(0.0), model = f"model-$mi%02d")
      }
    }
    // one model dense enough to need sub-hour chunks (12k rows inside
    // one hour) next to one sparse enough for month chunks (300 rows over
    // ~5 months): each must get its own prefix length in the one write
    val dense = (0 until 12000).map { i =>
      RewardedDecisionRow(Ksuid.deterministic(base + i * 3600L / 12000, 100000L + i),
        Some(s"""{"d":$i}"""), Some("{}"), Some(2.0), None, Some("{}"), Some(0.0), "dense")
    }
    val sparse = (0 until 300).map { i =>
      RewardedDecisionRow(Ksuid.deterministic(base + i * 45000L, 200000L + i),
        Some(s"""{"s":$i}"""), Some("{}"), Some(2.0), None, Some("{}"), Some(0.0), "sparse")
    }
    val rows = small ++ dense ++ sparse
    // count how many times the merged frame's rows are EVALUATED: the
    // single-pass contract means upstream executes once, not once per
    // model and not once per store pass — exactly rows.size here.
    // (Accumulators over-count on task retries; local mode has none.
    // The bound stays below a second full pass rather than pinning the
    // exact count.)
    val evals = spark.sparkContext.longAccumulator("merged_evals")
    val counted = org.apache.spark.sql.functions.udf { (s: String) =>
      evals.add(1L); s
    }
    val merged = rows.toDF().withColumn(Schema.Item, counted(col(Schema.Item)))
    val written = Merge.writePerModel(merged, dir)

    assert(written.keySet ==
      (0 until nModels).map(mi => f"model-$mi%02d").toSet ++ Set("dense", "sparse"))
    assert(evals.value < 2L * rows.size,
      s"merged frame evaluated ${evals.value} times for ${rows.size} rows — not one pass")
    // every model's store round-trips its own rows, nobody else's
    Seq(0, 17, 49).foreach { mi =>
      val m = f"model-$mi%02d"
      val back = PartitionStore.read(spark, dir, PartitionStore.listKeys(spark, dir, m))
      assert(back.count() == perModel, m)
      assert(back.select(Schema.Item).as[String].collect()
        .forall(_.contains(s""""m":$mi,""")), m)
    }
    // the mixed-density pair: same files (bounds, row counts) as a
    // one-model write of each alone
    val alone = java.nio.file.Files.createTempDirectory("pstore_alone").toString
    Seq("dense" -> dense, "sparse" -> sparse, "model-07" -> small.filter(_.model == "model-07"))
      .foreach { case (m, rs) =>
        val solo = PartitionStore.write(rs.toDF(), alone, m)
        assert(written(m).map(shapeOf).sorted == solo.map(shapeOf).sorted, m)
        assert(PartitionStore.listKeys(spark, dir, m).map(shapeOf) ==
          PartitionStore.listKeys(spark, alone, m).map(shapeOf), m)
      }
    // dense needs sub-hour chunks; at that length sparse would be 300 files
    assert(written("dense").length > 2, written("dense"))
    assert(written("sparse").length <= 6, written("sparse"))
    // the transient per-model staging tree is gone
    val leftovers = new java.io.File(dir).list().toSeq.filter(_.startsWith("_permodel_stage_"))
    assert(leftovers.isEmpty, leftovers.toString)
    // a null model is refused before anything reaches the store
    val refused = java.nio.file.Files.createTempDirectory("pstore_null_model").toString
    intercept[IllegalArgumentException](Merge.writePerModel(
      sparse.toDF().withColumn(Schema.Model, lit(null).cast("string")), refused))
    assert(!new java.io.File(refused, "rewarded_decisions").exists())
  }

  test("writeModels: key shapes match a pure-Scala prefix model on random multi-model rows") {
    import org.scalacheck.{Gen, Prop}
    import spark.implicits._
    // second offsets at three scales, so the chosen prefix length
    // ranges from months down to whole seconds
    val genOffset = Gen.oneOf(Gen.choose(0L, 59L), Gen.choose(0L, 6L * 3600),
      Gen.choose(0L, 90L * 24 * 3600))
    val genCase = for {
      maxRows <- Gen.choose(2, 5)
      nModels <- Gen.choose(1, 3)
      offsets <- Gen.listOfN(nModels, Gen.choose(0, 25).flatMap(Gen.listOfN(_, genOffset)))
      // one same-second overflow: more rows in one second than a file
      // holds, which the write keeps in one oversized file
      overflowModel <- Gen.choose(0, nModels - 1)
      overflowSecond <- genOffset
      overflowRows <- Gen.choose(maxRows + 1, maxRows + 3)
    } yield (maxRows, offsets.zipWithIndex.map { case (offs, mi) =>
      f"model-$mi" -> (offs ++ (if (mi == overflowModel) Seq.fill(overflowRows)(overflowSecond)
        else Nil))
    })
    // the model: per model, the first prefix length in 6..15 whose
    // largest group fits in maxRows (else 15), and one file per group
    // at that length
    def expectedShapes(maxRows: Int, ids: Seq[String], m: String): Seq[String] = {
      val ts = ids.map(id => id -> PartitionFilename.timestampOf(id))
      val len = (6 to 15).find(i => ts.groupBy(_._2.take(i)).values.map(_.size).max <= maxRows)
        .getOrElse(15)
      ts.groupBy(_._2.take(len)).values.toSeq.map { g =>
        val gIds = g.map(_._1)
        shapeOf(PartitionFilename.key(m, gIds.min, gIds.max, gIds.size.toLong))
      }.sorted
    }
    var seq = 0L
    val prop = Prop.forAllNoShrink(genCase) { case (maxRows, models) =>
      val rows = models.flatMap { case (m, offs) =>
        offs.map { off =>
          seq += 1
          RewardedDecisionRow(Ksuid.deterministic(base + off, seq), Some("{}"), Some("{}"),
            Some(2.0), None, Some("{}"), Some(0.0), m)
        }
      }
      val dir = java.nio.file.Files.createTempDirectory("pstore_prop").toString
      val written = PartitionStore.writeModels(rows.toDF(), dir, maxRows)
      Prop.all(models.map { case (m, _) =>
        val ids = rows.filter(_.model == m).map(_.decision_id)
        val want = if (ids.isEmpty) Nil else expectedShapes(maxRows, ids, m)
        val got = written.getOrElse(m, Nil).map(shapeOf).sorted
        Prop(got == want) :| s"$m maxRows=$maxRows got=$got want=$want"
      }: _*)
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("an upstream that changes between write()'s two passes fails loudly, store untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore_nondet").toString
    val n = 300
    // every evaluation of the input draws fresh counter values, so the
    // census pass keeps all n rows and the chunk pass none of them
    PartitionStoreSpec.draws.set(0L)
    val draw = udf((_: String) => PartitionStoreSpec.draws.incrementAndGet())
      .asNondeterministic()
    val shifting = syntheticRows(n, 3600).toDF()
      .filter(draw(col(Schema.DecisionId)) <= n)
    val err = intercept[IllegalStateException](PartitionStore.write(shifting, dir, "m"))
    assert(err.getMessage.contains("not deterministic"), err.getMessage)
    assert(PartitionStore.listKeys(spark, dir, "m").isEmpty)
    val leftovers = new java.io.File(dir).list().toSeq.filter(_.startsWith("_tmp_"))
    assert(leftovers.isEmpty, leftovers.toString)
  }

  test("point lookup opens only the covering file(s), finds the row, misses cleanly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore3").toString
    val rows = syntheticRows(2000, 90L * 24 * 3600)
    PartitionStore.write(rows.toDF(), dir, "m", maxRowsPerFile = 100)
    val nFiles = PartitionStore.listKeys(spark, dir, "m").size
    assert(nFiles > 5, s"fixture must split into many files, got $nFiles")

    val target = rows(777)
    val hit = PartitionStore.lookupDecision(spark, dir, "m", target.decision_id)
    // file-level skip: the plan's input files are the covering subset,
    // not the store
    val opened = hit.inputFiles.length
    assert(opened >= 1 && opened < nFiles / 2,
      s"lookup opened $opened of $nFiles files")
    val got = hit.collect()
    assert(got.map(_.getAs[String]("decision_id")).toSeq == Seq(target.decision_id))
    assert(got.head.getAs[String]("item") == target.item.get)

    // a valid ksuid that was never written: empty result (whether or
    // not some file's time range covers its second)
    val absent = graft.core.Ksuid.deterministic(base + 1, 999999L)
    assert(PartitionStore.lookupDecision(spark, dir, "m", absent).count() == 0)
    // out-of-range timestamp: no candidate files at all
    val far = graft.core.Ksuid.deterministic(base + 10L * 365 * 24 * 3600, 1L)
    val miss = PartitionStore.lookupDecision(spark, dir, "m", far)
    assert(miss.count() == 0)
    intercept[IllegalArgumentException](
      PartitionStore.lookupDecision(spark, dir, "m", "not-a-ksuid"))
  }
}

object PartitionStoreSpec {
  /** JVM-wide counter for the nondeterministic-upstream case: a UDF
    * closure is serialized per task, so only a static survives it.
    */
  val draws = new java.util.concurrent.atomic.AtomicLong(0L)
}
