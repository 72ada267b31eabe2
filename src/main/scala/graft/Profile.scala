package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.core.GateContext
import graft.obs.Spans

/** Measures gates and bench setup tasks pass by pass: each pass runs in
  * a span ([[graft.obs.Spans]]) and prints its wall and driver time,
  * jobs, stages, tasks, executor CPU, GC, shuffle-write and spill bytes;
  * on demand it writes the FormattedMode plan of each gate.
  *
  * Usage: runMain graft.Profile <name[,name...]> [--passes N] [--plans DIR]
  *   name     a gate (a key of SparkEntry.queries) or a bench setup
  *            task (SparkEntry.setupTasks; its derivation is kept per
  *            JVM, so only its first pass does the work)
  *   --passes passes per name (default 3); 0 only writes plans
  *   --plans  write each gate's plan to DIR/<gate>.txt
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object Profile {

  /** One measured pass: the span totals of its gate or setup task (see
    * [[graft.obs.Spans.Totals]]).
    */
  final case class Pass(name: String, pass: Int, wallS: Double,
      jobs: Int, stages: Int, tasks: Int, driverS: Double, execCpuS: Double,
      gcS: Double, shuffleWriteBytes: Long, spillBytes: Long) {
    override def toString: String = String.format(java.util.Locale.ROOT,
      "[profile] %-28s pass %d  %s", name, Int.box(pass),
      Spans.Totals(1, wallS, driverS, jobs, stages, tasks, execCpuS, gcS,
        shuffleWriteBytes, spillBytes).fields)
  }

  private val Usage = "usage: graft.Profile <name[,name...]> [--passes N] [--plans DIR]"

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 1, Usage)
    val opts = args.tail.grouped(2).map { case Array(k, v) => k -> v }.toMap
    require(opts.keySet.subsetOf(Set("--passes", "--plans")), Usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-profile", Sessions.cpus)
    try run(spark, sfDir, args.head.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      opts.get("--passes").fold(3)(_.toInt), opts.get("--plans"))
    finally spark.stop()
  }

  /** Profiles `names` on `sfDir`, printing one line per pass; returns
    * the passes. Every name is resolved before anything runs.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      passes: Int = 3, plansDir: Option[String] = None): Seq[Pass] = {
    require(passes > 0 || (passes == 0 && plansDir.isDefined),
      s"--passes must be positive, or 0 with --plans (got $passes)")
    val gates = SparkEntry.queries
    val setups = SparkEntry.setupTasks.map(t => t.name -> t).toMap
    val targets = names.map { name =>
      name -> gates.get(name).map(Right(_)).orElse(setups.get(name).map(Left(_)))
        .getOrElse(throw new IllegalArgumentException(s"unknown gate or setup task: $name"))
    }
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))
    def writePlan(name: String, df: DataFrame): Unit = plansDir.foreach(d =>
      Files.writeString(Paths.get(d, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode)))
    targets.flatMap { case (name, target) =>
      if (passes == 0) {
        target.foreach(fn => writePlan(name, GateContext.runningGate(name)(fn(spark, sfDir))))
        spark.catalog.clearCache()
        Nil
      } else (1 to passes).map { pass =>
        val (df, spans) = target match {
          case Right(fn) =>
            val (df, spans) = gatePass(spark, sfDir, name, fn)
            (df.map(Option(_)), spans)
          // a setup task runs under no gate name: its accessors refuse
          // every gate outside their consumer set
          case Left(task) => measure(spark, name) { task.dir(spark, sfDir); None }
        }
        val t = spans(name)
        val row = Pass(name, pass, t.wallS, t.jobs, t.stages, t.tasks, t.driverS,
          t.execCpuS, t.gcS, t.shuffleWriteBytes, t.spillBytes)
        println(row)
        val frame = df.get // a failed pass is printed, then rethrown
        if (pass == 1) frame.foreach(writePlan(name, _))
        row
      }
    }
  }

  /** One pass of gate `name`, as Bench and Profile run it, in span
    * `name`: the gate builds its frame (and runs its in-gate actions)
    * under its own gate name, then the frame is counted.
    */
  private[graft] def gatePass(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame)
      : (Try[DataFrame], ListMap[String, Spans.Totals]) =
    measure(spark, name)(GateContext.runningGate(name) {
      val df = fn(spark, sfDir)
      df.count()
      df
    })

  /** Runs `body` as span `name` and returns its outcome with the
    * report of the span and its children, then isolates passes: drops
    * leftover caches, and GCs so the ContextCleaner reclaims shuffle
    * and broadcast state. Any throwable is an outcome: a failed pass is
    * still measured, and the caller rethrows it (Profile) or marks it
    * (Bench).
    */
  private[graft] def measure[A](spark: SparkSession, name: String)(
      body: => A): (Try[A], ListMap[String, Spans.Totals]) = {
    val result =
      try Success(Spans.span(spark, name)(body))
      catch { case e: Throwable => Failure(e) }
    val spans = Spans.report(spark, name)
    spark.catalog.clearCache()
    System.gc()
    (result, spans)
  }
}
