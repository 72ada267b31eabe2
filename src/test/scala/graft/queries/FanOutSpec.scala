package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.obs.Spans
import graft.plans.PlanWalk

/** [[Tables.fanOut]] reads its guard from the physical plan: it never
  * runs a job, and a one-file scan still fans out.
  */
class FanOutSpec extends AnyFunSuite with SparkTestBase {

  private lazy val oneFile: String = {
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString + "/t"
    spark.range(1000).select(col("id"), (col("id") % 13).as("g"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def roundRobinWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    PlanWalk.nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case p: RoundRobinPartitioning => p.numPartitions }

  test("fanOut over a frame with an exchange starts no job") {
    val df = spark.read.parquet(oneFile).groupBy("g").count()
    val fanned = Spans.span(spark, "fanout-guard")(Tables.fanOut(df))
    assert(Spans.report(spark, "fanout-guard")("fanout-guard").jobs == 0)
    // the one-file scan under the exchange is what the guard reads
    assert(roundRobinWidths(fanned) == Seq(spark.sparkContext.defaultParallelism))
  }

  test("the one-file scan is repartitioned to defaultParallelism") {
    val scan = spark.read.parquet(oneFile)
    assert(PlanWalk.fileScans(scan).map(_.inputRDD.getNumPartitions) == Seq(1))
    val fanned = Tables.fanOut(scan)
    assert(roundRobinWidths(fanned) == Seq(spark.sparkContext.defaultParallelism))
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }
}
