package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.plans.PlanWalk

class InvertedIndexSpec extends AnyFunSuite with SparkTestBase {

  private def corpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("spark", "join", "merge", "hash", "scan", "filter",
      "table", "row", "agg", "window", "sort", "shuffle")
    (0 until 200).map { i =>
      val words = Seq.fill(20 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("index bm25 equals the direct computation exactly; round-trip load") {
    val df = corpus()
    val dir = java.nio.file.Files.createTempDirectory("inv_idx").toString
    val idx = InvertedIndex.build(df, "doc_id", "text", dir, numBuckets = 16)
    val q = Seq("spark", "merge", "shuffle")

    val direct = Search.bm25(df, "doc_id", "text", q)
      .select(col("doc_id").as("id"), round(col("bm25"), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val indexed = InvertedIndex.bm25(spark, idx, q)
      .select(col("id"), round(col("bm25"), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(indexed == direct)
    assert(direct.nonEmpty)

    // sidecar round-trip: reopened index scores identically
    val reopened = InvertedIndex.load(spark, dir)
    assert(reopened.nDocs == idx.nDocs && reopened.avgdl == idx.avgdl
      && reopened.numBuckets == idx.numBuckets)
    val reScores = InvertedIndex.bm25(spark, reopened, q)
      .select(col("id"), round(col("bm25"), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(reScores == direct)
  }

  test("a term lookup reads ONLY the query terms' bucket files") {
    val df = corpus()
    val dir = java.nio.file.Files.createTempDirectory("inv_prune").toString
    val idx = InvertedIndex.build(df, "doc_id", "text", dir, numBuckets = 16)

    val q = Seq("spark")
    val result = InvertedIndex.bm25(spark, idx, q)
    result.collect()

    // bucket of the (single) query term, derived the same way postings()
    // does — via the build's own column expression
    import spark.implicits._
    val bucket = q.toDS()
      .select(pmod(xxhash64(col("value")), lit(16L)).cast("int"))
      .collect().head.getInt(0)
    val filesOnDisk = new java.io.File(s"$dir/postings/bucket=$bucket")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val scans = PlanWalk.fileScans(result)
      .filter(_.metadata("Location").contains("postings"))
    assert(scans.nonEmpty)
    scans.foreach { scan =>
      assert(scan.metadata("PartitionFilters").contains("bucket"),
        s"no partition filter on bucket: ${scan.metadata("PartitionFilters")}")
      assert(scan.metrics("numFiles").value == filesOnDisk,
        s"scan read ${scan.metrics("numFiles").value} files; bucket has $filesOnDisk")
      // the term equality predicate must reach the parquet reader too
      assert(scan.metadata("PushedFilters").contains("term"),
        s"term filter not pushed: ${scan.metadata("PushedFilters")}")
    }
  }

  test("rebuild swaps atomically: old index is replaced, not blended") {
    val dir = java.nio.file.Files.createTempDirectory("inv_swap").toString + "/idx"
    import spark.implicits._
    val v1 = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "delta epsilon")).toDF("doc_id", "text")
    InvertedIndex.build(v1, "doc_id", "text", dir, numBuckets = 4)
    val idx2 = InvertedIndex.build(v2, "doc_id", "text", dir, numBuckets = 4)
    assert(idx2.nDocs == 1)
    // v1 vocabulary is gone; v2 vocabulary present
    assert(InvertedIndex.postings(spark, idx2, Seq("beta")).count() == 0)
    assert(InvertedIndex.postings(spark, idx2, Seq("delta")).count() == 1)
  }
}
