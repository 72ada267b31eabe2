package graft.obs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.FanOut

class SpansSpec extends AnyFunSuite with SparkTestBase {

  /** One shuffle aggregation, built fresh on every call. */
  private def work(): Unit = {
    spark.range(0, 2000, 1, 4).groupBy(col("id") % 7).count().collect()
    ()
  }

  test("jobs started on a FanOut thread inside a span count toward it") {
    Spans.span(spark, "direct")(work())
    Spans.span(spark, "fanned")(FanOut.run("spans", 2)(Seq(() => work(), () => work())))
    val direct = Spans.report(spark, "direct")("direct")
    val fanned = Spans.report(spark, "fanned")("fanned")
    assert(direct.jobs >= 1 && direct.tasks >= 1, direct)
    assert(fanned.jobs == 2 * direct.jobs, (direct, fanned))
    assert(fanned.tasks == 2 * direct.tasks, (direct, fanned))
  }

  test("nested paths roll up into their parents") {
    Spans.span(spark, "outer") {
      Spans.span(spark, "a")(work())
      Spans.span(spark, "b") {
        Spans.span(spark, "c")(work())
      }
      work()
    }
    val r = Spans.report(spark, "outer")
    assert(r.keys.toSeq == Seq("outer", "outer/a", "outer/b", "outer/b/c"))
    val (outer, a, b, c) = (r("outer"), r("outer/a"), r("outer/b"), r("outer/b/c"))
    assert(b.jobs == c.jobs && b.tasks == c.tasks && b.stages == c.stages)
    assert(outer.jobs == 3 * a.jobs && outer.stages == 3 * a.stages && outer.tasks == 3 * a.tasks,
      (outer, a))
    assert(outer.execCpuS >= a.execCpuS + c.execCpuS)
    assert(outer.wallS >= a.wallS + b.wallS)
    assert(b.wallS >= c.wallS)
    assert(r.values.forall(t => t.calls == 1 && t.driverS >= 0 && t.driverS <= t.wallS))
    // each span is reported once
    assert(Spans.report(spark, "outer").isEmpty)
  }

  test("an empty span reports 0 jobs, and reporting starts no job") {
    Spans.span(spark, "watch") {
      Spans.span(spark, "empty")(())
      val empty = Spans.report(spark, "watch/empty")("watch/empty")
      assert(empty == Spans.Totals(1, empty.wallS, empty.driverS, 0, 0, 0, 0.0, 0.0, 0L, 0L))
    }
    // a sentinel job run by the report would count toward `watch`
    assert(Spans.report(spark, "watch")("watch").jobs == 0)
  }

  test("two identical passes report identical job, stage and task counts") {
    val passes = (1 to 2).map { i =>
      val name = s"pass$i"
      Spans.span(spark, name)(work())
      val t = Spans.report(spark, name)(name)
      (t.jobs, t.stages, t.tasks)
    }
    assert(passes(0) == passes(1))
    assert(passes(0)._1 >= 1)
  }
}
