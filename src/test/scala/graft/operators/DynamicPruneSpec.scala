package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Dynamic file skipping from runtime build-side keys: bloom-backed
  * holder isolation, the range-only fallback past the key cap, the
  * empty-build short circuit, and the type-mismatch guard.
  */
class DynamicPruneSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val dir: String = {
    val work = Files.createTempDirectory("dynprune").toString
    val d = s"$work/t"
    // even ids interleave round-robin across 12 files: every file's
    // range covers the whole domain — only blooms can isolate holders
    (0 until 6000).map(i => (2L * i, i % 12))
      .toDF("id", "grp")
      .repartitionByRange(12, $"grp")
      .write.mode("overwrite").parquet(d)
    ZoneMap.refreshSidecar(spark, d, Seq("id"))
    ZoneMap.refreshBlooms(spark, d, Seq("id"))
    d
  }

  test("runtime keys isolate holder files through blooms") {
    val keys = Seq(4242L, 8888L).toDF("k")
    val pr = DynamicPrune.prunedProbe(spark, dir, "id", keys)
    assert(pr.usedBlooms && pr.nKeys === 2)
    // range partitioning samples boundaries: 12 requested partitions
    // may land as 10-12 non-empty files — the invariant is the RATIO
    assert(pr.filesTotal >= 10)
    assert(pr.filesKept >= 1 && pr.filesKept <= 2,
      s"2 keys must keep their holder files only, kept ${pr.filesKept}")
    assert(pr.df.filter($"id".isin(4242L, 8888L)).count() === 2L)

    val (joined, p2) = DynamicPrune.join(spark, dir, "id", keys, "k")
    assert(p2.filesKept <= 2)
    assert(joined.count() === 2L)
  }

  test("misses prune everything; empty build scans nothing") {
    // odd keys are interior misses (data is even-only)
    val pr = DynamicPrune.prunedProbe(spark, dir, "id", Seq(4243L, 8889L).toDF("k"))
    assert(pr.filesKept === 0 && pr.df.count() === 0L)
    val empty = DynamicPrune.prunedProbe(spark, dir, "id",
      Seq.empty[Long].toDF("k"))
    assert(empty.nKeys === 0L && empty.filesKept === 0)
    assert(empty.df.count() === 0L)
  }

  test("past the key cap only the range prunes (sound fallback)") {
    val keys = (2000 until 2100).map(i => 2L * i).toDF("k")
    val pr = DynamicPrune.prunedProbe(spark, dir, "id", keys, maxKeys = 10)
    assert(!pr.usedBlooms)
    // interleaved layout: ranges keep everything — and the answer is
    // still exact through the real join
    assert(pr.filesKept === pr.filesTotal)
    assert(pr.df.filter($"id" >= 4000L && $"id" < 4200L).count() === 100L)
  }

  test("type mismatch is refused, not silently cast") {
    val keys = Seq(4242).toDF("k") // Int vs Long probe column
    val e = intercept[IllegalArgumentException] {
      DynamicPrune.prunedProbe(spark, dir, "id", keys)
    }
    assert(e.getMessage.contains("key type mismatch"))
  }
}
