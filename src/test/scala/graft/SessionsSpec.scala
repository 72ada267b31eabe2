package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSession
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanWalk

/** A scoped setting runs on a clone of the caller's session, so it can
  * never reach a query the caller's session plans — from any thread,
  * while the scope is open.
  */
class SessionsSpec extends AnyFunSuite with SparkTestBase {

  /** Rewrites the literal 4141 to 4142: visible in a query's answer. */
  private object MarkerRule extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
      case Literal(4141, IntegerType) => Literal(4142, IntegerType)
    }
  }

  private def shuffleWidths(df: DataFrame): Seq[Int] =
    PlanWalk.nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
    }

  private def adaptive(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]

  /** An aggregation (one shuffle) whose answer carries the marker. */
  private def probe(s: SparkSession): DataFrame =
    s.range(100).groupBy((col("id") % 10).as("k")).count()
      .select(col("k"), lit(4141).as("marker"))

  test("a scoped body's width, AQE switch and rule never reach the caller's session") {
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    assume(width != "2", "the caller's width must differ from the scope's")
    val inside = new CountDownLatch(1)
    val checked = new CountDownLatch(1)
    @volatile var scoped: (Seq[Int], Boolean, Int) = null
    val scope = new Thread(() => Sessions.isolatedWithRules(spark, _ => Seq(MarkerRule),
        "spark.sql.shuffle.partitions" -> "2", "spark.sql.adaptive.enabled" -> "false") { r =>
      val df = probe(r)
      scoped = (shuffleWidths(df), adaptive(df), df.collect().head.getInt(1))
      inside.countDown()
      checked.await(2, TimeUnit.MINUTES)
    })
    scope.start()
    try {
      assert(inside.await(2, TimeUnit.MINUTES), "the scoped body never ran")
      // the caller's session, planned on this thread while the scope is open
      val df = probe(spark)
      assert(shuffleWidths(df) == Seq(width.toInt))
      assert(adaptive(df), "the caller's query lost adaptive execution")
      assert(df.collect().head.getInt(1) == 4141, "the scope's rule reached the caller")
    } finally {
      checked.countDown()
      scope.join(TimeUnit.MINUTES.toMillis(2))
    }
    assert(scoped == ((Seq(2), false, 4142)), "the scope's own settings did not apply")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == width)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(!spark.experimental.extraOptimizations.contains(MarkerRule))
  }

  test("a cached frame rebound into an AQE-off clone plans without AQE and still reads its cache") {
    val cached = spark.range(1000).groupBy((col("id") % 7).as("k")).count().persist()
    try {
      cached.count()
      def census(df: DataFrame) = df.groupBy("count").agg(sum("k").as("ks"))
      def readsCache(df: DataFrame) = PlanWalk.nodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[InMemoryTableScanExec])
      val onCaller = census(cached)
      assert(adaptive(onCaller) && readsCache(onCaller))
      Sessions.isolated(spark, "spark.sql.adaptive.enabled" -> "false") { r =>
        // no per-session executor class loader: clones share warm generated code
        assert(r.conf.get("spark.sql.artifact.isolation.enabled") == "false")
        val rebound = census(GraftSession.rebind(cached, r))
        assert(rebound.sparkSession eq r)
        assert(!adaptive(rebound), "the rebound frame kept the caller's AQE")
        assert(readsCache(rebound), "the rebound frame recomputed instead of reading the cache")
        assert(rebound.collect().toSet == onCaller.collect().toSet)
      }
      assert(adaptive(census(cached)), "the caller's frame lost AQE")
    } finally { cached.unpersist(); () }
  }
}
