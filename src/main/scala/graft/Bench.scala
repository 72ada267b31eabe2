package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.obs.Spans

object Bench {
  /** A gate whose first pass takes this long or more repeats. */
  private val RepeatSec = 1.0
  /** Passes of a repeated gate, whose median is reported. */
  private val MaxRepeats = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench", Sessions.cpus)
    // one-time JVM warmup (codegen compiler, parquet reader, shuffle
    // machinery) so the alphabetically-first query doesn't absorb
    // ~3-4 s of classloading that belongs to no query
    spark.range(0, 100000).selectExpr("sum(id * 2)").collect()
    // guard the parquet warmup: a partially generated sfDir must fail
    // per-query (loudly, with the -1 marker), not abort the whole run
    if (new java.io.File(s"$sfDir/region.parquet").exists())
      spark.read.parquet(s"$sfDir/region.parquet").count()

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (profiling aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // deterministic name order: run-to-run timings stay comparable
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // a measured pass: its span's wall seconds (-1 when it failed) and
    // the report of its span and child spans
    def timed(name: String, pass: (scala.util.Try[_], ListMap[String, Spans.Totals]))
        : (Double, ListMap[String, Spans.Totals]) = {
      pass._1.failed.foreach(e => System.err.println(s"[bench] $name FAILED: $e"))
      (if (pass._1.isSuccess) pass._2(name).wallS else -1.0, pass._2)
    }
    def wallS(name: String)(body: => Any): Double = timed(name, Profile.measure(spark, name)(body))._1
    // FIXED calibration probe, carried in the JSON: a deterministic
    // CPU pass and a ~100 MB parquet write+read, so any consumer can
    // normalize this run against another box or another round instead
    // of mistaking shared-box load for an engine regression (the r11
    // official record was 58% environment inflation).
    // mask the hash before summing: 5e7 × 2^20 stays far inside a
    // long, so the probe never trips ANSI overflow
    val calCpu = wallS("calibration_cpu") {
      spark.range(0, 50000000L)
        .selectExpr("sum(xxhash64(id) & 1048575)").collect()
    }
    val calDir = graft.pipeline.GateArtifacts.fresh("bench_cal")
    val calIo = wallS("calibration_io") {
      spark.range(0, 8000000L)
        .selectExpr("id", "xxhash64(id) AS h", "CAST(id % 97 AS DOUBLE) AS v")
        .write.mode("overwrite").parquet(s"$calDir/t")
      spark.read.parquet(s"$calDir/t")
        .selectExpr("sum(h & 1048575)").collect()
    }
    graft.pipeline.GateArtifacts.deleteTree(java.nio.file.Paths.get(calDir))

    // EXPLICIT setup phase: the one-time per-(JVM, sfDir) derivations
    // several gates share are forced here and timed under their own
    // names, so their cost never lands on whichever consumer gate the
    // alphabet happens to run first (q_curation_funnel/q_dedup_delta
    // swung 2-4× round to round from exactly this). A setup task only
    // runs when one of its consumer gates is selected.
    val selectedNames = selected.map(_._1).toSet
    val setup = SparkEntry.setupTasks.filter(_.consumers.exists(selectedNames))
      .map(t => t.name -> wallS(t.name)(t.dir(spark, sfDir)))
    // shared-box load can inflate a single pass by >10× (a 5.9 s query
    // once recorded 9.9 s inside a busy suite), so expensive queries
    // report a MEDIAN of several passes instead of one sample. Cheap
    // queries stay single-shot: their absolute noise is bounded by the
    // threshold, so it cannot manufacture a phantom regression, and
    // repeating ~100 sub-second queries would double the suite for
    // nothing; their span counters (jobs, stages, tasks) carry the
    // comparison that a noisy wall time cannot. The per-query repeat
    // count is recorded in the JSON so round-over-round comparisons
    // know what each number is.
    // A pass is one span (Profile.gatePass, the pass Profile runs); a
    // failure must be LOUD and visible in the JSON (-1 marker):
    // swallowing it would record a crashing query as a ~0s success.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
      timed(name, Profile.gatePass(spark, sfDir, name, fn))
    def median(sorted: Seq[Double]): Double =
      if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
    // (name, median seconds, passes in run order)
    val results = selected.map { case (name, fn) =>
      val first = once(name, fn)
      // a failed first pass reports -1 immediately (repeating a crash
      // just burns the suite); repeat-pass failures are dropped from
      // the median rather than poisoning it
      val passes =
        if (first._1 < 0 || first._1 < RepeatSec) Seq(first)
        else first +: (2 to MaxRepeats).map(_ => once(name, fn)).filter(_._1 >= 0)
      (name, median(passes.map(_._1).sorted), passes)
    }
    // milli-second precision is plenty for round-over-round compare
    // and keeps the JSON lines short (the driver's stdout capture is a
    // ~2 KB tail window — r8/r9 artifacts were head-truncated mid-map)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def obj(kvs: Seq[(String, Any)]): String =
      kvs.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, v, _) => k -> r3(v) })
    val reps = obj(results.map { case (k, _, ps) => k -> ps.length })
    val total = r3(results.map(_._2).sum)
    // per gate: the span totals of its median pass (the lower middle
    // one of an even count)
    val spansJson = obj(results.map { case (k, _, ps) =>
      k -> ps.sortBy(_._1).apply((ps.length - 1) / 2)._2(k).json })
    // q_rdr_train sub-step decomposition (merge / store_write / train)
    // of every successful pass, from the gate's own spans: a
    // round-over-round growth in the suite's heaviest gate decomposes
    // into measured steps instead of data-shape guesswork (VERDICT r8
    // Next #5)
    val trainSteps = obj(results.filter(_._1 == "q_rdr_train").flatMap(_._3)
      .filter(_._1 >= 0).zipWithIndex.map { case ((_, spans), i) =>
        s"pass$i" -> obj(Seq("merge", "store_write", "train").map(step =>
          step -> r3(spans.get(s"q_rdr_train/$step").fold(0.0)(_.wallS))))
      })
    // The driver records only a ~2 KB TAIL of stdout, so the final
    // line must be SHORT and self-contained: total, failure list, and
    // the slowest queries. The complete per-query map (plus repeat
    // counts, train-step decomposition, per-gate spans and the span
    // listener's own busy time) goes to BENCH_DETAIL.json in the working
    // directory (`sbt run` starts in the checkout root), the file the
    // line's "detail" field names.
    val calibration =
      s"""{"cpu_sec":${r3(calCpu)},"io_sec":${r3(calIo)}}"""
    val setupJson = obj(setup.map { case (k, v) => k -> r3(v) })
    val setupTotal = r3(setup.map(_._2).filter(_ >= 0).sum)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"setup":$setupJson,"setup_sec":$setupTotal,"queries":$qs,"repeats":$reps,"train_steps":$trainSteps,"spans":$spansJson,"listener_s":${r3(Spans.listenerBusyS(spark))},"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    val failed = results.collect { case (n, v, _) if v < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val slowest = obj(results.sortBy(-_._2).take(25).map { case (k, v, _) => k -> r3(v) })
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"queries_shown":25,"calibration":$calibration,"setup_sec":$setupTotal,"failed":$failed,"queries":$slowest,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
