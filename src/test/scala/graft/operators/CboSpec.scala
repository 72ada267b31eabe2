package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class CboSpec extends AnyFunSuite with SparkTestBase {

  private def dim = {
    import spark.implicits._
    (1L to 20L).map(i => (i, s"name_$i")).toDF("k", "name")
  }

  private def fact = {
    import spark.implicits._
    (1L to 5000L).map(i => (i % 20 + 1, i, s"pad_${i}_${"x" * 40}"))
      .toDF("k", "v", "pad")
  }

  test("collectStats: exact rows, measured variable widths, exact NDV, isKey") {
    import spark.implicits._
    val df = Seq(
      (1L, "ab", Seq(1, 2)),
      (2L, "cdef", Seq(3)),
      (2L, null.asInstanceOf[String], Seq.empty[Int])
    ).toDF("id", "s", "arr")
    val st = Cbo.collectStats(df, Seq("id", "s"))
    assert(st.rows === 3)
    assert(st.ndv === Map("id" -> 2, "s" -> 2))
    assert(!st.isKey("id") && !st.isKey("s"))
    // bytes = 3 longs (8 each) + measured string chars (2 + 4) +
    // json-serialized arrays ("[1,2]" + "[3]" + "[]")
    assert(st.bytes === 3 * 8 + 6 + (5 + 3 + 2))
    // isKey counts non-null distincts, so a column with nulls can
    // never be a key (a null join key fans out under <=> semantics)
    val keyed = Cbo.collectStats(
      df.filter(org.apache.spark.sql.functions.col("s").isNotNull)
        .select("s").distinct(), Seq("s"))
    assert(keyed.isKey("s"))
  }

  test("stats flip the planned join strategy, result unchanged") {
    val d = dim
    val f = fact
    val smallStats = Cbo.collectStats(d)
    // the SAME relation with forged huge stats must flip to sort-merge:
    // the decision comes from the stats, not from Spark's own estimate
    val forgedBig = smallStats.copy(bytes = 1L << 40)
    val asBroadcast = Cbo.statsJoin(f, d, smallStats, Seq("k"))
    val asShuffle = Cbo.statsJoin(f, d, forgedBig, Seq("k"))
    val pb = asBroadcast.queryExecution.executedPlan.toString()
    val ps = asShuffle.queryExecution.executedPlan.toString()
    assert(pb.contains("BroadcastHashJoin") && !pb.contains("SortMergeJoin"),
      s"small stats must broadcast:\n$pb")
    assert(ps.contains("SortMergeJoin") && !ps.contains("BroadcastHashJoin"),
      s"huge stats must pin sort-merge:\n$ps")
    val a = asBroadcast.orderBy("v").collect().map(_.toSeq)
    val b = asShuffle.orderBy("v").collect().map(_.toSeq)
    assert(a.sameElements(b), "strategy must never change the answer")
  }

  test("writeStats/readStats round-trip through the AnalyzeJob layout") {
    // column names are DATA: delimiters, equals signs, backticks and
    // quotes must all survive the sidecar round-trip
    val st = Cbo.TableStats(123L, 4567L,
      Map("a,b" -> 9L, "x=y" -> 3L, "q`\"z" -> 123L))
    val dir = java.nio.file.Files.createTempDirectory("cbo_spec").toString
    Cbo.writeStats(st, dir)
    assert(Cbo.readStats(spark, dir) === Some(st))
    assert(Cbo.readStats(spark, dir + "/missing") === None)
    assert(Cbo.readStats(spark, dir).get.isKey("q`\"z") &&
      !Cbo.readStats(spark, dir).get.isKey("a,b"))
  }
}
