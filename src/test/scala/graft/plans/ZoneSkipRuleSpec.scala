package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Layout, ZoneMap}

/** The transparent data-skipping rule end-to-end through a real
  * extensions-built session: a sidecar-carrying table's filtered scan
  * reads fewer FILES with identical results; unmentioned (late) files
  * stay visible; the kill switch and non-eligible shapes are no-ops.
  */
class ZoneSkipRuleSpec extends AnyFunSuite {

  private def scanFileCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.relation.location.inputFiles.length
    }.sum

  test("sidecar shrinks a filtered scan's file list; results identical; guards hold") {
    // swap the default session rather than stopping the shared context
    // (the GraftExtensionsSpec convention)
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s.implicits._
      val work = Files.createTempDirectory("zone_skip_rule").toString
      val dir = s"$work/t"
      val rnd = new scala.util.Random(11)
      val rows = (0 until 6000)
        .map(i => (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100))
      Layout.zOrder(rows.toDF("id", "a", "b"), "a", "b", 12,
          ranges = Some((0.0, 100.0, 0.0, 100.0)))
        .write.mode("overwrite").parquet(dir)

      def q() = s.read.parquet(dir).filter($"a" <= lit(10.0) && $"b" <= lit(10.0))
      val wantCount = q().count()
      val wantSum = q().agg(sum("id")).as[Long].head()
      val fullFiles = scanFileCount(q())
      assert(fullFiles === 12, "no sidecar yet: every file scans")

      // harvest + sidecar -> the SAME query scans fewer files,
      // identical answer
      ZoneMap.refreshSidecar(s, dir, Seq("a", "b"))
      val prunedFiles = scanFileCount(q())
      assert(prunedFiles < fullFiles,
        s"sidecar must shrink the file list (got $prunedFiles/$fullFiles)")
      assert(q().count() === wantCount)
      assert(q().agg(sum("id")).as[Long].head() === wantSum)

      // a file the sidecar does not mention stays visible (late data)
      (0 until 50).map(i => ((100000 + i).toLong, 1.0, 1.0))
        .toDF("id", "a", "b").coalesce(1)
        .write.mode("append").parquet(dir)
      assert(q().count() === wantCount + 50,
        "rows in a file missing from the sidecar must not be skipped")

      // refresh the sidecar over the grown table: still exact
      ZoneMap.refreshSidecar(s, dir, Seq("a", "b"))
      assert(q().count() === wantCount + 50)

      // a disjunction prunes as a UNION: only files where neither
      // arm can hold drop, and the answer stays exact
      val orQ = s.read.parquet(dir).filter($"a" <= 10.0 || $"b" <= 10.0)
      s.conf.set("spark.graft.zonemap.skip", "false")
      val orWant = s.read.parquet(dir)
        .filter($"a" <= 10.0 || $"b" <= 10.0).agg(sum("id")).as[Long].head()
      s.conf.set("spark.graft.zonemap.skip", "true")
      assert(scanFileCount(orQ) < scanFileCount(s.read.parquet(dir)),
        "an OR of extractable arms must prune")
      assert(orQ.agg(sum("id")).as[Long].head() === orWant)
      // an arm that extracts nothing disables the whole disjunction
      val orOpaque = s.read.parquet(dir)
        .filter($"a" <= 10.0 || abs($"b") <= 10.0)
      assert(scanFileCount(orOpaque) === scanFileCount(s.read.parquet(dir)))

      // kill switch restores the full listing
      s.conf.set("spark.graft.zonemap.skip", "false")
      assert(scanFileCount(q()) === scanFileCount(s.read.parquet(dir)))
      s.conf.set("spark.graft.zonemap.skip", "true")
      assert(scanFileCount(q()) < scanFileCount(s.read.parquet(dir)))

      // contradiction prunes everything and still answers exactly
      val none = s.read.parquet(dir).filter($"a" >= lit(200.0))
      assert(none.count() === 0L)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }

  test("casts, IN lists, prefixes and nullness prune end-to-end; NaN and bad conf never break") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // micros annotation so footers carry comparable timestamp stats
      // (INT96 has no usable zone; the realistic lake-table layout)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    try {
      import s.implicits._
      val work = Files.createTempDirectory("zone_skip_shapes").toString
      val dir = s"$work/t"
      // 10 day-files: ts spans 2024-01-01..2024-01-10, id follows,
      // name is day-prefixed, and day 3's value column is all null
      (1 to 10).foreach { d =>
        (0 until 100).map { i =>
          (java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:${i % 60}%02d"),
            (d * 1000 + i).toLong, f"d$d%02d-n$i%03d",
            if (d == 3) None else Some(i.toDouble))
        }.toDF("ts", "id", "name", "value").coalesce(1)
          .write.mode("append").parquet(dir)
      }
      ZoneMap.refreshSidecar(s, dir, Seq("ts", "id", "name", "value"))
      val total = scanFileCount(s.read.parquet(dir))
      assert(total === 10)
      def files(df: org.apache.spark.sql.DataFrame): Int = scanFileCount(df)

      // CAST(ts AS DATE) <= lit: prunes (±1 day tz slop keeps 3 files)
      val castQ = s.read.parquet(dir)
        .filter(to_date($"ts") <= lit(java.sql.Date.valueOf("2024-01-02")))
      assert(files(castQ) < total, "date-cast predicate must prune")
      assert(castQ.count() === 200L, "date-cast pruning must stay exact")

      // widening numeric cast on the attribute side
      val numCastQ = s.read.parquet(dir)
        .filter($"id".cast("double") <= lit(2099.0))
      assert(files(numCastQ) < total, "widening-cast predicate must prune")
      assert(numCastQ.count() === 200L)

      // IN list relaxes to [min, max]
      val inQ = s.read.parquet(dir).filter($"id".isin(1001L, 1005L, 2003L))
      assert(files(inQ) < total, "IN list must prune")
      assert(inQ.count() === 3L)

      // startswith prefix range
      val preQ = s.read.parquet(dir).filter($"name".startsWith("d04-"))
      assert(files(preQ) < total, "prefix predicate must prune")
      assert(preQ.count() === 100L)

      // IS NOT NULL drops the provably-all-null file, IS NULL keeps it
      val nnQ = s.read.parquet(dir).filter($"value".isNotNull)
      assert(files(nnQ) === total - 1, "IS NOT NULL must drop the all-null file")
      assert(nnQ.count() === 900L)
      val nQ = s.read.parquet(dir).filter($"value".isNull)
      assert(files(nQ) === 1, "IS NULL keeps only null-carrying files")
      assert(nQ.count() === 100L)

      // NaN predicate: Spark ranks NaN ABOVE every value, so
      // value <= NaN matches every non-null row — a NaN range bound
      // would have pruned all stats-carrying files and lost them all
      // (Spark adds an implied IsNotNull conjunct, which soundly drops
      // the all-null file — the NaN bound itself must prune nothing)
      val nanQ = s.read.parquet(dir).filter($"value" <= lit(Double.NaN))
      assert(files(nanQ) === total - 1, "a NaN bound must not prune anything")
      assert(nanQ.count() === 900L, "NaN-bounded rows must not vanish")

      // malformed kill-switch value: rule disabled-or-ignored, never a throw
      s.conf.set("spark.graft.zonemap.skip", "off")
      assert(s.read.parquet(dir).filter($"id" <= 1050L).count() === 51L)
      s.conf.unset("spark.graft.zonemap.skip")

      // stale zones (in-place rewrite since harvest) keep the file: the
      // live mtime disagrees with the recorded one. Pick a file that is
      // OUT of the query range (max id < 9000) and touch it.
      val one = ZoneMap.dataFiles(s, dir).find { f =>
        s.read.parquet(f).agg(max($"id")).as[Long].head() < 9000L
      }.get
      val p = new org.apache.hadoop.fs.Path(one)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      fs.setTimes(p, st.getModificationTime + 60000L, -1)
      val idQ = s.read.parquet(dir).filter($"id" >= 9000L)
      // in-range d09+d10 plus the touched (stale, unprunable) file
      assert(files(idQ) === 3, "stale-zone file must be kept")
      assert(idQ.count() === 200L)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }

  test("partitioned table: partition pruning and zone pruning COMPOSE") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s.implicits._
      val work = Files.createTempDirectory("zone_skip_part").toString
      val dir = s"$work/t"
      // Hive layout: 3 day partitions × 5 files each, every file a
      // tight 100-id zone (0-99, 100-199, … within each day)
      for (day <- 1 to 3; f <- 0 until 5) {
        (0 until 100).map { i =>
          val id = (f * 100 + i).toLong
          // tag scatters across files (7919 coprime to 500): id zones
          // are tight per file, tag ranges cover everything — the
          // bloom-only-prunable shape, inside a partitioned layout
          (id, s"t${(id * 7919) % 500}", s"d$day")
        }.toDF("id", "tag", "day").coalesce(1)
          .write.mode("append").partitionBy("day").parquet(dir)
      }
      ZoneMap.refreshSidecar(s, dir, Seq("id"))
      ZoneMap.refreshBlooms(s, dir, Seq("tag"))

      // the recursive harvest saw every partition's files
      assert(ZoneMap.dataFiles(s, dir).length === 15)

      def executedNumFiles(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        PlanWalk.fileScans(df).map(_.metrics("numFiles").value).sum
      }

      // data filter + partition filter: the zone index keeps 2 files
      // per day (6 of 15), and partition pruning THEN drops the other
      // days — the executed scan reads exactly 2 files
      val both = s.read.parquet(dir).filter($"day" === "d2" && $"id" <= 150L)
      assert(scanFileCount(both) === 6,
        "zone pruning must keep 2 of 5 files in each of the 3 partitions")
      assert(executedNumFiles(both) === 2L,
        "partition pruning must compose on the zone-pruned index")
      assert(both.count() === 151L, "composed pruning must stay exact")

      // kill switch: identical answer over the full listing
      s.conf.set("spark.graft.zonemap.skip", "false")
      assert(s.read.parquet(dir)
        .filter($"day" === "d2" && $"id" <= 150L).count() === 151L)
      s.conf.set("spark.graft.zonemap.skip", "true")

      // data filter only: partition VALUES survive the kept index —
      // every day still answers, each from its 2 surviving files
      val dataOnly = s.read.parquet(dir).filter($"id" <= 150L)
        .groupBy("day").count().orderBy("day")
      assert(dataOnly.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        === Seq(("d1", 151L), ("d2", 151L), ("d3", 151L)))

      // partition filter only: nothing zone-extractable tracks in the
      // manifest (partition values live in paths, not footers) — the
      // rule must leave the relation alone, and Spark's own partition
      // pruning still reads exactly one directory's files
      val partOnly = s.read.parquet(dir).filter($"day" === "d1")
      assert(scanFileCount(partOnly) === 15, "partition-only filter: no rewrite")
      assert(executedNumFiles(partOnly) === 5L)
      assert(partOnly.count() === 500L)

      // BLOOM pruning composes with partition pruning too: exactly one
      // id per day maps to tag t333 (7919 is invertible mod 500), so
      // the bloom keeps its holder file inside each partition and the
      // partition filter drops the other days — ONE executed file
      val pt = s.read.parquet(dir).filter($"day" === "d2" && $"tag" === "t333")
      assert(executedNumFiles(pt) === 1L,
        "bloom + partition pruning must isolate the single holder file")
      assert(pt.count() === 1L)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }

  test("range extraction: conjunctions tighten, orientations flip, others ignored") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val a = AttributeReference("a", DoubleType)()
    val k = AttributeReference("k", StringType)()
    val got = ZoneSkipRule.extractRanges(
      And(And(GreaterThanOrEqual(a, Literal(2.0)), LessThan(a, Literal(9.0))),
        And(GreaterThan(Literal(5.0), a), // 5 > a => a <= 5
          EqualTo(k, Literal.create("x", StringType)))))
    // the bare-attribute string equality ALSO emits a bloom membership
    // predicate (pseudo-column key, xxhash64 of the literal)
    val (gotBloom, gotRange) = got.partition(_.isInstanceOf[ZoneMap.BloomEq])
    assert(gotRange.toSet === Set(
      ZoneMap.NumRange("a", Some(2.0), Some(5.0)),
      ZoneMap.StrRange("k", Some("x"), Some("x"))))
    assert(gotBloom.map(_.col) === Seq(ZoneMap.bloomKey("k")))
    assert(gotBloom.collect { case ZoneMap.BloomEq(_, hs) => hs.size } === Seq(1))
    // a disjunction extracts as a UNION of its arms' extractions
    val union = ZoneSkipRule.extractRanges(
      Or(GreaterThan(a, Literal(1.0)), IsNull(a)))
    assert(union === Seq(ZoneMap.OrPred(Seq(
      Seq(ZoneMap.NumRange("a", Some(1.0), None)),
      Seq(ZoneMap.NullnessPred("a", mustHaveNull = true))))))
    // ... but an arm that extracts nothing disables the whole OR
    assert(ZoneSkipRule.extractRanges(
      Or(GreaterThan(a, Literal(1.0)), GreaterThan(a, a))).isEmpty)
    // int64 beyond 2^53 widens outward
    val big = ZoneSkipRule.extractRanges(
      GreaterThanOrEqual(AttributeReference("n", LongType)(),
        Literal((1L << 60) + 1L)))
    val lo = big.collect { case ZoneMap.NumRange(_, Some(l), _) => l }.head
    assert(lo < ((1L << 60) + 1L).toDouble)
  }

  test("range extraction: cast shapes, IN, prefix and nullness relax soundly") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    val i = AttributeReference("i", IntegerType)()
    val ts = AttributeReference("ts", TimestampType)()
    val d = AttributeReference("d", DateType)()
    val k = AttributeReference("k", StringType)()
    val f = AttributeReference("f", DoubleType)()

    // widening integral cast: exact bound
    val w = ZoneSkipRule.extractRanges(
      LessThanOrEqual(Cast(i, LongType), Literal(7L)))
    assert(w === Seq(ZoneMap.NumRange("i", None, Some(7.0))))

    // CAST(ts AS DATE) <= date: +2 days upper slop in micros
    val day = 19731 // some day number
    val c = ZoneSkipRule.extractRanges(
      LessThanOrEqual(Cast(ts, DateType), Literal(day, DateType)))
    val hi = c.collect { case ZoneMap.NumRange("ts", _, Some(h)) => h }.head
    assert(hi === ((day + 2L) * 86400000000L).toDouble)

    // CAST(d AS TIMESTAMP) >= micros: −1 day lower slop in days
    val micros = 19731L * 86400000000L + 123L
    val c2 = ZoneSkipRule.extractRanges(
      GreaterThanOrEqual(Cast(d, TimestampType), Literal(micros, TimestampType)))
    val lo2 = c2.collect { case ZoneMap.NumRange("d", Some(l), _) => l }.head
    assert(lo2 === (19731L - 1L).toDouble)

    // narrowing cast: nothing (wrap could make it non-monotone)
    assert(ZoneSkipRule.extractRanges(
      LessThanOrEqual(Cast(AttributeReference("l", LongType)(), IntegerType),
        Literal(7))).isEmpty)

    // IN relaxes to [min, max] AND emits a bloom any-of over the
    // non-null elements; a null element is ignored by both
    val in = ZoneSkipRule.extractRanges(
      In(i, Seq(Literal(5), Literal(2), Literal.create(null, IntegerType), Literal(9))))
    assert(in.filterNot(_.isInstanceOf[ZoneMap.BloomEq])
      === Seq(ZoneMap.NumRange("i", Some(2.0), Some(9.0))))
    val inBloom = in.collect { case b: ZoneMap.BloomEq => b }
    assert(inBloom.map(_.col) === Seq(ZoneMap.bloomKey("i")))
    assert(inBloom.head.hashes.size === 3)

    // InSet (the optimized IN) extracts the same way — IDENTICAL
    // hashes (the rule may see either form depending on list size)
    val inset = ZoneSkipRule.extractRanges(InSet(i, Set[Any](5, 2, 9)))
    assert(inset.filterNot(_.isInstanceOf[ZoneMap.BloomEq])
      === Seq(ZoneMap.NumRange("i", Some(2.0), Some(9.0))))
    val insetBloom = inset.collect { case b: ZoneMap.BloomEq => b }
    assert(insetBloom.head.hashes.toSet === inBloom.head.hashes.toSet)

    // a cast shape never blooms (hash width differs): ranges only
    assert(ZoneSkipRule.extractRanges(
      EqualTo(Cast(i, LongType), Literal(7L)))
      .forall(!_.isInstanceOf[ZoneMap.BloomEq]))

    // startswith: [p, successor)
    val pre = ZoneSkipRule.extractRanges(
      StartsWith(k, Literal.create("ab", StringType)))
    assert(pre === Seq(ZoneMap.StrRange("k", Some("ab"), Some("ac"))))

    // nullness conjuncts become census predicates
    val nn = ZoneSkipRule.extractRanges(
      And(IsNotNull(i), IsNull(k))).toSet
    assert(nn === Set(
      ZoneMap.NullnessPred("i", mustHaveNull = false),
      ZoneMap.NullnessPred("k", mustHaveNull = true)))

    // NaN literal: no bound at all
    assert(ZoneSkipRule.extractRanges(
      LessThanOrEqual(f, Literal(Double.NaN))).isEmpty)

    // union semantics on the decision side: a two-sided OR keeps a
    // file iff EITHER interval overlaps its zone
    val low = ZoneSkipRule.extractRanges(
      Or(LessThan(f, Literal(5.0)), GreaterThan(f, Literal(90.0))))
    def entry(lo: Double, hi: Double) = Map("f" -> ZoneMap.ZoneEntry(
      "x.parquet", "f", 100L, hasStats = true, Some(lo), Some(hi),
      None, None, 0L, isFloat = false, mtime = 1L))
    assert(ZoneMap.keepFile(entry(0.0, 3.0), low), "low zone overlaps arm 1")
    assert(ZoneMap.keepFile(entry(95.0, 99.0), low), "high zone overlaps arm 2")
    assert(!ZoneMap.keepFile(entry(40.0, 60.0), low), "middle zone overlaps neither")
  }

  test("bloom sidecar prunes point lookups on UNCLUSTERED columns end-to-end") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s.implicits._
      val work = Files.createTempDirectory("zone_bloom").toString
      val dir = s"$work/t"
      // ids interleave round-robin across 12 files (grp = i mod 12), so
      // every file's [min, max] spans nearly the whole id domain —
      // min/max zones CANNOT prune a point lookup; only blooms can.
      // Even ids only: odd ids are interior MISSES ranges still cover.
      (0 until 6000).map { i =>
        (2L * i, f"k${2 * i}%05d", i % 12)
      }.toDF("id", "name", "grp")
        .repartitionByRange(12, $"grp")
        .write.mode("overwrite").parquet(dir)
      ZoneMap.refreshSidecar(s, dir, Seq("id", "name"))
      val written = ZoneMap.refreshBlooms(s, dir, Seq("id", "name"))
      val total = scanFileCount(s.read.parquet(dir))
      assert(written === 2 * total, "one bloom per (file, col)")

      // LONG point lookup: ranges keep everything (assert it, via the
      // bloom kill switch), blooms keep only the holder (+fp≈0)
      def hit() = s.read.parquet(dir).filter($"id" === 4242L)
      s.conf.set("spark.graft.zonemap.bloom", "false")
      assert(scanFileCount(hit()) === total,
        "interleaved layout: min/max zones must be POWERLESS here")
      s.conf.unset("spark.graft.zonemap.bloom")
      assert(scanFileCount(hit()) === 1, "bloom must isolate the holder file")
      assert(hit().count() === 1L)

      // STRING point lookup
      val sHit = s.read.parquet(dir).filter($"name" === "k04242")
      assert(scanFileCount(sHit) === 1)
      assert(sHit.count() === 1L)

      // IN: any-of membership keeps the union of holders
      val inQ = s.read.parquet(dir).filter($"id".isin(0L, 4242L, 11998L))
      assert(scanFileCount(inQ) <= 3 && scanFileCount(inQ) >= 1)
      assert(inQ.count() === 3L)

      // interior MISS: ranges cover 4243 in every file, blooms prove
      // absence — ZERO files scanned, empty exact answer
      val miss = s.read.parquet(dir).filter($"id" === 4243L)
      assert(scanFileCount(miss) === 0, "bloom must prune a provable miss")
      assert(miss.count() === 0L)

      // OR of two point lookups: arms prune independently
      val orQ = s.read.parquet(dir)
        .filter($"id" === 4242L || $"id" === 8888L)
      assert(scanFileCount(orQ) <= 2)
      assert(orQ.count() === 2L)

      // a file the sidecar never saw stays visible (no bloom, kept)
      Seq((4242L, "k04242", 99)).toDF("id", "name", "grp")
        .coalesce(1).write.mode("append").parquet(dir)
      assert(hit().count() === 2L, "unmentioned file must not be skipped")
      assert(scanFileCount(hit()) === 2)

      // refreshSidecar (range maintenance) PRESERVES blooms: old files
      // still bloom-prune, the new file gains range zones
      ZoneMap.refreshSidecar(s, dir)
      assert(scanFileCount(hit()) === 2, "blooms must survive a range refresh")
      assert(hit().count() === 2L)
      // the new file's range [4242, 4242] now excludes the miss key,
      // blooms exclude it everywhere else: still zero files
      assert(scanFileCount(s.read.parquet(dir).filter($"id" === 4243L)) === 0)

      // shard cap: an over-cap bloom shard is skipped (no bloom
      // pruning), never unsound, and the range path still works
      s.conf.set("spark.graft.zonemap.bloom.maxShardBytes", "16")
      assert(scanFileCount(hit()) === total + 1,
        "capped bloom shard: fall back to the full listing")
      assert(hit().count() === 2L)
      s.conf.unset("spark.graft.zonemap.bloom.maxShardBytes")
      assert(scanFileCount(hit()) === 2)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
      old.foreach(SparkSession.setActiveSession)
    }
  }
}
