package graft.ingest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.Ksuid
import graft.schema.{RewardedDecisionRow, Schema}

class GroomSpec extends AnyFunSuite with SparkTestBase {

  // the reference's curated overlap test lists (test_overlapping_s3_keys.py)
  private def key(maxTs: String, minTs: String, rows: Int) =
    s"rewarded_decisions/appconfig/parquet/2023/07/05/$maxTs-$minTs-$rows-" +
      "00000000-0000-0000-0000-000000000000.parquet"

  private val allOverlapping = Seq(
    key("20230705T135416Z", "20230705T135106Z", 82),
    key("20230705T135246Z", "20230705T135106Z", 81),
    key("20230705T135116Z", "20230705T135106Z", 50),
    key("20230705T135546Z", "20230705T135106Z", 80))

  private val noOverlapping = Seq(
    key("20230705T135546Z", "20230705T135106Z", 200),
    key("20230705T124005Z", "20230705T113025Z", 10050),
    key("20230705T112905Z", "20230705T112425Z", 200),
    key("20230705T140527Z", "20230705T135706Z", 10050))

  test("overlap detection matches the reference's curated cases") {
    Groom.assertNoOverlappingKeys(noOverlapping)
    assert(Groom.findOverlaps(allOverlapping).nonEmpty)
    intercept[IllegalArgumentException] {
      Groom.assertNoOverlappingKeys(allOverlapping ++ noOverlapping)
    }
  }

  test("adjacent grouping folds while ≤ max rows and ≤ max keys") {
    val keys = Seq(key("20230705T000003Z", "20230705T000001Z", 4000),
      key("20230705T000005Z", "20230705T000004Z", 4000),
      key("20230705T000007Z", "20230705T000006Z", 4000),
      key("20230705T000009Z", "20230705T000008Z", 900),
      key("20230705T000011Z", "20230705T000010Z", 20000))
    val groups = Groom.groupSmallAdjacentPartitions(keys, maxRowCount = 10000)
    assert(groups.map(_.map(Groom.rowCount).sum) == Seq(8000, 4900, 20000))
    // group size cap
    val many = (0 until 10).map(i => key(f"20230705T0000${10 + i}Z", f"20230705T0000${10 + i}Z", 1))
    assert(Groom.groupSmallAdjacentPartitions(many, maxGroupSize = 4).map(_.size) == Seq(4, 4, 2))
  }

  test("only single adjacent overlapping group pairs merge") {
    val g1 = Seq(key("20230705T000010Z", "20230705T000001Z", 10))
    val g2 = Seq(key("20230705T000020Z", "20230705T000005Z", 10)) // overlaps g1
    val g3 = Seq(key("20230705T000030Z", "20230705T000015Z", 10)) // overlaps g2
    val g4 = Seq(key("20230705T000040Z", "20230705T000035Z", 10)) // clean
    val merged = Groom.mergeOverlappingAdjacentGroupPairs(Seq(g1, g2, g3, g4))
    // g1+g2 pair; g3 NOT chained in; g4 stays alone
    assert(merged == Seq(g1 ++ g2, g3, g4))
  }

  test("singleton groups are dropped; key-byte cap truncates") {
    val a = key("20230705T000010Z", "20230705T000001Z", 10)
    val b = key("20230705T000020Z", "20230705T000011Z", 10)
    val c = key("20230705T000030Z", "20230705T000021Z", 10)
    assert(Groom.groupPartitionsToGroom(Seq(a, b, c)).isEmpty == false)
    // a+b+c fold into one adjacent group (30 rows) → one group of 3
    assert(Groom.groupPartitionsToGroom(Seq(a, b, c)) == Seq(Seq(a, b, c)))
    // byte cap: only first two fit
    val capped = Groom.capKeyBytes(Seq(Seq(a, b, c)), maxBytes = a.length.toLong * 2 + 10)
    assert(capped == Seq(Seq(a, b)))
  }

  test("listing-scale grouping: 100k keys group in sub-second time with intact invariants") {
    // a 100× store: one 5k-row chunk per minute for ~69 days — the
    // grouping (reference groom.py:87-156) runs driver-side over the
    // full listing, so it must stay near-linear in the listing length
    val base = 1650000000L
    val keys = (0 until 100000).map { i =>
      val ts = graft.schema.PartitionFilename.timestampOf(
        Ksuid.deterministic(base + i * 60L, i.toLong))
      val (yyyy, mm, dd) = (ts.substring(0, 4), ts.substring(4, 6), ts.substring(6, 8))
      s"rewarded_decisions/m/parquet/$yyyy/$mm/$dd/$ts-$ts-5000-" +
        f"00000000-0000-0000-0000-${i}%012d.parquet"
    }
    Groom.groupPartitionsToGroom(keys.take(1000)) // JIT warmup
    val t0 = System.nanoTime()
    val groups = Groom.groupPartitionsToGroom(keys)
    val overlaps = Groom.findOverlaps(keys)
    val ms = (System.nanoTime() - t0) / 1e6
    // 5 s bound: the assertion's point is near-LINEARITY (a quadratic
    // grouping would take minutes at 100k keys), not an exact budget —
    // a 1 s bound flaked once under full-suite GC pressure
    assert(ms < 5000, s"grouping 100k keys took ${ms}ms")
    assert(overlaps.isEmpty)
    // invariants hold at scale: no singleton work items, per-group row
    // cap respected, and the key-byte cap bounds one pass's payload
    assert(groups.nonEmpty)
    assert(groups.forall(_.length >= 2))
    assert(groups.forall(g => g.map(Groom.rowCount).sum <= PartitionStore.MaxRowsPerFile))
    val totalKeyBytes = groups.flatten.map(_.getBytes("UTF-8").length.toLong).sum
    assert(totalKeyBytes <= Groom.MaxKeyBytes)
  }

  test("end-to-end: repeated ingests groom to a quiescent, overlap-free store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("groom").toString
    val base = 1660000000L

    // 5 out-of-order batches: decisions in batch i, their rewards in i+1
    val nBatches = 5
    val perBatch = 120
    (0 until nBatches).foreach { b =>
      val decisions = (0 until perBatch).map { i =>
        val ts = base + ((i * 7 + b * 3) % 600) // interleaved timelines → overlaps
        RewardedDecisionRow(Ksuid.deterministic(ts, (b * 1000 + i).toLong),
          Some(s"""{"v":$i}"""), Some("{}"), Some(3.0), None, None, None, "m")
      }
      val rewards = if (b == 0) Seq.empty else (0 until perBatch).map { i =>
        val ts = base + ((i * 7 + (b - 1) * 3) % 600)
        val did = Ksuid.deterministic(ts, ((b - 1) * 1000 + i).toLong)
        RewardedDecisionRow(did, None, None, None, None,
          Some(s"""{"${Ksuid.deterministic(ts + 900, (b * 7000 + i).toLong)}":1.5}"""),
          None, "m")
      }
      val merged = Merge.merge((decisions ++ rewards).toDF())
      PartitionStore.write(merged, dir, "m", maxRowsPerFile = 100)
    }

    val keysBefore = PartitionStore.listKeys(spark, dir, "m")
    assert(Groom.findOverlaps(keysBefore).nonEmpty, "setup should create overlaps")

    val iters = Groom.groom(spark, dir, "m", maxRowsPerFile = 100)
    assert(iters > 0)

    val keysAfter = PartitionStore.listKeys(spark, dir, "m")
    Groom.assertNoOverlappingKeys(keysAfter)
    assert(keysAfter.length < keysBefore.length)

    val all = PartitionStore.read(spark, dir, keysAfter)
    // every decision exactly once
    assert(all.count() == (nBatches * perBatch).toLong)
    assert(all.select(Schema.DecisionId).distinct().count() == (nBatches * perBatch).toLong)
    // rewards joined: batches 0..3 rewarded with 1.5 each, batch 4 not
    val rewarded = all.filter(col(Schema.Reward) > 0)
    assert(rewarded.count() == ((nBatches - 1) * perBatch).toLong)
    assert(all.agg(sum(Schema.Reward)).collect().head.getDouble(0)
      === 1.5 * (nBatches - 1) * perBatch +- 1e-9)
    // no partial rows survive grooming (every row has its decision)
    assert(all.filter(col(Schema.Item).isNull).count() == 0)
  }

  test("re-ingesting the same batch converges to the single-ingest state (idempotence)") {
    import spark.implicits._
    val base = 1660000000L
    def batch = (0 until 150).map { i =>
      val ts = base + (i * 13) % 400
      RewardedDecisionRow(Ksuid.deterministic(ts, i.toLong),
        Some(s"""{"v":$i}"""), Some("{}"), Some(3.0), None,
        Some(s"""{"${Ksuid.deterministic(ts + 500, i.toLong)}":2.0}"""),
        Some(2.0), "m")
    }

    def buildStore(times: Int): Map[String, (String, String, Double)] = {
      val dir = java.nio.file.Files.createTempDirectory(s"idem$times").toString
      (1 to times).foreach { _ =>
        PartitionStore.write(Merge.merge(batch.toDF()), dir, "m", maxRowsPerFile = 64)
      }
      Groom.groom(spark, dir, "m", maxRowsPerFile = 64)
      val keys = PartitionStore.listKeys(spark, dir, "m")
      Groom.assertNoOverlappingKeys(keys)
      PartitionStore.read(spark, dir, keys)
        .collect().map { r =>
          r.getAs[String](Schema.DecisionId) ->
            ((r.getAs[String](Schema.Item), r.getAs[String](Schema.Rewards),
              r.getAs[Double](Schema.Reward)))
        }.toMap
    }

    val once = buildStore(1)
    val thrice = buildStore(3)
    // the rewards map unions by reward-id, so a re-delivered batch
    // adds nothing: same decisions, same items, same reward payloads
    assert(once.size == 150)
    assert(thrice == once,
      "re-ingesting an identical batch must groom to the identical store")
  }

  /** Two clusters of overlapping files far apart in time, each window
    * 2 × 4000 rows: folding the first window's 8000 rows plus any file
    * of the second overruns the 10k adjacency budget, so the grouping
    * breaks exactly at the window boundary → two disjoint groups in
    * one iteration (at maxRowsPerFile = 4000).
    */
  private def writeTwoDisjointWindows(dir: String): Unit = {
    import spark.implicits._
    val base = 1660000000L
    for (window <- Seq(0L, 100000L); b <- 0 until 2) {
      val rows = (0 until 4000).map { i =>
        val ts = base + window + ((i * 7 + b * 3) % 120)
        RewardedDecisionRow(Ksuid.deterministic(ts, (window + b * 10000 + i).toLong),
          Some(s"""{"v":$i}"""), Some("{}"), Some(1.0), None, None, None, "m")
      }
      PartitionStore.write(Merge.merge(rows.toDF()), dir, "m", maxRowsPerFile = 4000)
    }
  }

  test("disjoint groups of one iteration compact concurrently (latch-proven)") {
    val dir = java.nio.file.Files.createTempDirectory("groom_conc").toString
    writeTwoDisjointWindows(dir)
    val groups = Groom.groupPartitionsToGroom(PartitionStore.listKeys(spark, dir, "m"))
    assert(groups.size >= 2, s"setup should produce >= 2 groups, got ${groups.size}")

    // timing-independent proof: every group of the first iteration must
    // be INSIDE compactGroup at the same moment for the latch to open —
    // a serial pool would park the first task until the await times out
    val latch = new java.util.concurrent.CountDownLatch(groups.size)
    Groom.resetConcurrencyProbe()
    Groom.compactionStartHook = _ => {
      latch.countDown()
      if (!latch.await(2, java.util.concurrent.TimeUnit.MINUTES))
        throw new AssertionError("compaction fan-out never overlapped")
    }
    try {
      val iters = Groom.groom(spark, dir, "m", maxRowsPerFile = 4000)
      assert(iters > 0)
    } finally Groom.compactionStartHook = _ => ()
    assert(Groom.peakConcurrentCompactions >= groups.size)
    Groom.assertNoOverlappingKeys(PartitionStore.listKeys(spark, dir, "m"))
  }

  test("a failing group leaves the narrow shuffle width in place until its siblings drain") {
    val dir = java.nio.file.Files.createTempDirectory("groom_fail").toString
    writeTwoDisjointWindows(dir)
    val groups = Groom.groupPartitionsToGroom(PartitionStore.listKeys(spark, dir, "m"))
    assert(groups.size >= 2, s"setup should produce >= 2 groups, got ${groups.size}")
    val key = "spark.sql.shuffle.partitions"
    val wide = spark.conf.get(key)
    val narrow = "2" // groom's width at maxRowsPerFile = 4000
    assume(wide != narrow, s"session width $wide must differ from groom's")

    // the first group to pass the latch fails; the second reads both
    // widths once the groom thread has left the failed Await and sits
    // in the pool drain (its only timed wait)
    val groomThread = Thread.currentThread()
    val entered = new java.util.concurrent.CountDownLatch(groups.size)
    val failed = new java.util.concurrent.CountDownLatch(1)
    val role = new java.util.concurrent.atomic.AtomicInteger(0)
    val siblingWidth = new java.util.concurrent.atomic.AtomicReference[String]()
    val callerWidth = new java.util.concurrent.atomic.AtomicReference[String]()
    Groom.compactionStartHook = session => {
      entered.countDown()
      entered.await(2, java.util.concurrent.TimeUnit.MINUTES)
      role.getAndIncrement() match {
        case 0 =>
          failed.countDown()
          throw new RuntimeException("injected compaction failure")
        case 1 =>
          failed.await(2, java.util.concurrent.TimeUnit.MINUTES)
          val deadline = System.nanoTime() + 30L * 1000000000L
          while (groomThread.getState != Thread.State.TIMED_WAITING &&
              System.nanoTime() < deadline) Thread.sleep(10)
          siblingWidth.set(session.conf.get(key))
          callerWidth.set(spark.conf.get(key))
        case _ =>
      }
    }
    // an ExecutionContext reports a task its executor rejects on stderr
    val stderr = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(stderr, true))
    val err = try intercept[RuntimeException](Groom.groom(spark, dir, "m", maxRowsPerFile = 4000))
    finally {
      Groom.compactionStartHook = _ => ()
      System.setErr(realErr)
    }
    assert(err.getMessage == "injected compaction failure")
    assert(siblingWidth.get == narrow, "the sibling compaction ran at the session width")
    assert(callerWidth.get == wide, "the caller's session width changed during the drain")
    assert(spark.conf.get(key) == wide, "the caller's session width changed")
    assert(!stderr.toString("UTF-8").contains("RejectedExecutionException"),
      "a completion callback was sent to the shut-down compaction pool")
  }

  test("a firehose batch landing MID-groom is neither lost nor double-merged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("groom_race").toString
    val base = 1660000000L
    // seed: two interleaved-timeline batches → overlapping files
    for (b <- 0 until 2) {
      val rows = (0 until 200).map { i =>
        val ts = base + ((i * 7 + b * 3) % 300)
        RewardedDecisionRow(Ksuid.deterministic(ts, (b * 1000 + i).toLong),
          Some(s"""{"v":$i}"""), Some("{}"), Some(1.0), None, None, None, "m")
      }
      PartitionStore.write(Merge.merge(rows.toDF()), dir, "m", maxRowsPerFile = 100)
    }
    assert(Groom.findOverlaps(PartitionStore.listKeys(spark, dir, "m")).nonEmpty)

    // Mid-groom ingest: the first compaction entry writes a fresh
    // merged batch into the SAME timeline — a streaming-ingest delivery
    // racing the compaction loop. Safe by construction: each compaction
    // reads and deletes exactly the key list captured at iteration
    // start, so a file it never listed can be neither consumed twice
    // nor deleted. (Two concurrent groom() calls on one store remain
    // the caller's responsibility to serialize, as the reference's
    // Step-Function loop does.)
    val landed = new java.util.concurrent.atomic.AtomicBoolean(false)
    Groom.compactionStartHook = _ => {
      if (landed.compareAndSet(false, true)) {
        val rows = (0 until 150).map { i =>
          val ts = base + ((i * 11) % 300)
          val rewards =
            if (i < 50)
              Some(s"""{"${Ksuid.deterministic(ts + 900, (9000 + i).toLong)}":2.0}""")
            else None
          RewardedDecisionRow(Ksuid.deterministic(ts, (5000 + i).toLong),
            Some(s"""{"w":$i}"""), Some("{}"), Some(1.0), None, rewards, None, "m")
        }
        PartitionStore.write(Merge.merge(rows.toDF()), dir, "m", maxRowsPerFile = 100)
      }
    }
    try Groom.groom(spark, dir, "m", maxRowsPerFile = 100)
    finally Groom.compactionStartHook = _ => ()
    assert(landed.get(), "setup: the mid-groom batch never landed")

    // the batch loop's NEXT tick (the reference re-enters groom from
    // its Step-Function loop) picks up whatever landed mid-pass
    Groom.groom(spark, dir, "m", maxRowsPerFile = 100)

    val keys = PartitionStore.listKeys(spark, dir, "m")
    Groom.assertNoOverlappingKeys(keys)
    val all = PartitionStore.read(spark, dir, keys)
    assert(all.count() == 550L, "rows lost or duplicated across the race")
    assert(all.select(Schema.DecisionId).distinct().count() == 550L,
      "a decision was double-merged")
    assert(all.filter(col(Schema.Item).isNull).count() == 0)
    // the landed batch's reward maps survive compaction intact
    assert(all.agg(sum(Schema.Reward)).collect().head.getDouble(0)
      === 2.0 * 50 +- 1e-9)
  }

  test("same-second overload: one oversized file, groom reaches quiescence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("groom_ss").toString
    val base = 1660000000L
    // 250 rows in ONE second with a 100-row cap: prefix splitting
    // cannot separate them — must yield one oversized file, not
    // same-range siblings that groom would rewrite forever
    val rows = (0 until 250).map { i =>
      RewardedDecisionRow(Ksuid.deterministic(base, i.toLong),
        Some(s"""{"v":$i}"""), Some("{}"), Some(2.0), None, Some("{}"), Some(0.0), "m")
    }
    val keys = PartitionStore.write(Merge.merge(rows.toDF()), dir, "m", maxRowsPerFile = 100)
    assert(keys.length == 1, s"expected one oversized chunk, got $keys")
    assert(Groom.rowCount(keys.head) == 250)

    // a second batch in the same second: overlap exists, one compaction
    // resolves it, loop terminates far below the iteration cap
    val rows2 = (250 until 300).map { i =>
      RewardedDecisionRow(Ksuid.deterministic(base, i.toLong),
        Some(s"""{"v":$i}"""), Some("{}"), Some(2.0), None, Some("{}"), Some(0.0), "m")
    }
    PartitionStore.write(Merge.merge(rows2.toDF()), dir, "m", maxRowsPerFile = 100)
    val iters = Groom.groom(spark, dir, "m", maxRowsPerFile = 100)
    assert(iters <= 3, s"groom should converge quickly, used $iters")
    val after = PartitionStore.listKeys(spark, dir, "m")
    assert(after.length == 1)
    assert(PartitionStore.read(spark, dir, after).count() == 300)
  }

  private implicit class ApproxEq(val x: Double) {
    def ===(other: ApproxTarget): Boolean = math.abs(x - other.v) <= other.tol
  }
  private case class ApproxTarget(v: Double, tol: Double)
  private implicit class ApproxOps(val v: Double) {
    def +-(tol: Double): ApproxTarget = ApproxTarget(v, tol)
  }
}
