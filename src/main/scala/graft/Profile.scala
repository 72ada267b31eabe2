package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.core.GateContext

/** Measures gates and bench setup tasks pass by pass: wall time plus
  * the jobs, stages and tasks Spark's status tracker recorded for each
  * pass, and on demand the FormattedMode plan of each gate.
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

  /** One measured pass. `stages` and `tasks` count what ran: stages a
    * job skipped because their shuffle output already existed are out.
    */
  final case class Pass(name: String, pass: Int, wallS: Double,
      jobs: Int, stages: Int, tasks: Int) {
    override def toString: String = String.format(java.util.Locale.ROOT,
      "[profile] %-28s pass %d  wall %8.3f s  jobs %4d  stages %4d  tasks %6d",
      name, Int.box(pass), Double.box(wallS), Int.box(jobs), Int.box(stages), Int.box(tasks))
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
    // a gate builds its frame (and runs its in-gate actions) under its
    // own name, as in Bench
    def build(name: String, fn: (SparkSession, String) => DataFrame): DataFrame =
      GateContext.runningGate(name)(fn(spark, sfDir))
    def writePlan(name: String, df: DataFrame): Unit = plansDir.foreach(d =>
      Files.writeString(Paths.get(d, s"$name.txt"),
        df.queryExecution.explainString(FormattedMode)))
    val sc = spark.sparkContext
    targets.flatMap { case (name, target) =>
      if (passes == 0) {
        target.foreach(fn => writePlan(name, build(name, fn)))
        spark.catalog.clearCache()
        Nil
      } else (1 to passes).map { pass =>
        val group = s"graft-profile-$name-$pass-${java.util.UUID.randomUUID()}"
        sc.setJobGroup(group, s"$name pass $pass")
        val t0 = System.nanoTime()
        val df =
          try target match {
            case Right(fn) =>
              val df = build(name, fn)
              GateContext.runningGate(name)(df.count())
              Some(df)
            // a setup task runs under no gate name: its accessors refuse
            // every gate outside their consumer set
            case Left(task) => task.warm(spark, sfDir); None
          } finally sc.clearJobGroup()
        val wallS = (System.nanoTime() - t0) / 1e9
        if (pass == 1) df.foreach(writePlan(name, _))
        val (jobs, stages, tasks) = counted(spark, group)
        val row = Pass(name, pass, wallS, jobs, stages, tasks)
        println(row)
        // isolate passes as Bench does: drop leftover caches, and GC so
        // the ContextCleaner reclaims shuffle and broadcast state
        spark.catalog.clearCache()
        System.gc()
        row
      }
    }
  }

  /** The (jobs, stages, tasks) that ran in job group `group`.
    * The status tracker is fed by listener events, which arrive after
    * the jobs return: a sentinel job, submitted after every job of the
    * group, is seen to end only once all their events are in.
    */
  private[graft] def counted(spark: SparkSession, group: String): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val sentinel = s"$group-sentinel"
    sc.setJobGroup(sentinel, "profile sentinel")
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!tracker.getJobIdsForGroup(sentinel).exists(id =>
        tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.SUCCEEDED))) {
      require(System.nanoTime() < deadline, s"listener events for $group never arrived")
      Thread.sleep(5)
    }
    val jobs = tracker.getJobIdsForGroup(group)
    val ran = jobs.flatMap(id => tracker.getJobInfo(id).toSeq.flatMap(_.stageIds)).distinct
      .flatMap(tracker.getStageInfo).filter(_.numCompletedTasks > 0)
    (jobs.length, ran.length, ran.map(_.numCompletedTasks).sum)
  }
}
