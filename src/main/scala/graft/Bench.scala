package graft
import org.apache.spark.sql.SparkSession
object Bench {
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

    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // FIXED calibration probe, carried in the JSON: a deterministic
    // CPU pass and a ~100 MB parquet write+read, so any consumer can
    // normalize this run against another box or another round instead
    // of mistaking shared-box load for an engine regression (the r11
    // official record was 58% environment inflation).
    // mask the hash before summing: 5e7 × 2^20 stays far inside a
    // long, so the probe never trips ANSI overflow
    val calCpu = timeIt {
      spark.range(0, 50000000L)
        .selectExpr("sum(xxhash64(id) & 1048575)").collect()
    }
    val calDir = java.nio.file.Files.createTempDirectory("bench_cal").toString
    val calIo = timeIt {
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
    val setup = SparkEntry.setupTasks.collect {
      case SparkEntry.SetupTask(name, consumers, warm) if consumers.exists(selectedNames) =>
        val t =
          try timeIt(warm(spark, sfDir))
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: $e"); -1.0
          }
        spark.catalog.clearCache()
        System.gc()
        name -> t
    }
    // shared-box load can inflate a single pass by >10× (a 5.9 s query
    // once recorded 9.9 s inside a busy suite), so expensive queries
    // report a MEDIAN of several passes instead of one sample. Cheap
    // queries stay single-shot: their absolute noise is bounded by the
    // threshold, so it cannot manufacture a phantom regression, and
    // repeating ~100 sub-second queries would double the suite for
    // nothing. The per-query repeat count is recorded in the JSON so
    // round-over-round comparisons know what each number is.
    val repeatThreshold = sys.env.getOrElse("SPARK_GRAFT_REPEAT_SEC", "1.0").toDouble
    val maxRepeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    // sub-second queries whose round-over-round history showed phantom
    // swings under suite load: always report a median, never one sample
    val forceRepeat = Set("q_knn_cosine", "q_heavy_hitters", "q_distinct_agg", "q_outliers")
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // a failure must be LOUD and visible in the JSON (-1 marker):
      // swallowing it would record a crashing query as a ~0s success
      // and report the regression as a bench speedup
      // the gate-name context lets shared-derivation accessors assert
      // their consumer sets stay complete (GateContext)
      val dt =
        try {
          graft.core.GateContext.runningGate(name)(fn(spark, sfDir).count())
          (System.nanoTime() - t0) / 1e9
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            -1.0
        }
      // isolate queries: operators may persist intermediates that only
      // their own job needs — leftover blocks would evict/slow later
      // queries in this single shared JVM. Spark's ContextCleaner only
      // reclaims shuffle/broadcast state on GC, so force one.
      spark.catalog.clearCache()
      System.gc()
      dt
    }
    def median(sorted: Seq[Double]): Double =
      if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
    val results = selected.map { case (name, fn) =>
      val first = once(name, fn)
      // a failed first pass reports -1 immediately (repeating a crash
      // just burns the suite); repeat-pass failures are dropped from
      // the median rather than poisoning it
      if (first < 0 || (first < repeatThreshold && !forceRepeat(name))) (name, first, 1)
      else {
        val rest = (2 to maxRepeats).map(_ => once(name, fn)).filter(_ >= 0)
        val all = (first +: rest).sorted
        (name, median(all), all.length)
      }
    }
    // milli-second precision is plenty for round-over-round compare
    // and keeps the JSON lines short (the driver's stdout capture is a
    // ~2 KB tail window — r8/r9 artifacts were head-truncated mid-map)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val reps = results.map { case (k, _, n) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = r3(results.map(_._2).sum)
    // q_rdr_train sub-step decomposition (merge / store_write / train),
    // written by the gate into its artifact slot: carried in the bench
    // JSON so a round-over-round growth in the suite's heaviest gate
    // decomposes into measured steps instead of data-shape guesswork
    // (VERDICT r8 Next #5). Absent (empty object) when the gate didn't
    // run this pass.
    // guard against a STALE slot: the artifact dir persists across
    // JVMs, so only report the decomposition when this pass actually
    // ran the gate successfully
    val trainRan = results.exists { case (n, v, _) => n == "q_rdr_train" && v >= 0 }
    val trainSteps = {
      val p = java.nio.file.Paths.get(
        graft.pipeline.GateArtifacts.dir(sfDir), "train", "timings.json")
      if (trainRan && java.nio.file.Files.exists(p))
        java.nio.file.Files.readString(p)
      else "{}"
    }
    // The driver records only a ~2 KB TAIL of stdout, so the final
    // line must be SHORT and self-contained: total, failure list, and
    // the slowest queries. The complete per-query map (plus repeat
    // counts and train-step decomposition) goes to BENCH_DETAIL.json
    // in the repo root — the driver commits uncommitted files, so the
    // full artifact survives the round even though stdout can't carry
    // it.
    val calibration =
      s"""{"cpu_sec":${r3(calCpu)},"io_sec":${r3(calIo)}}"""
    val setupJson = setup.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val setupTotal = r3(setup.map(_._2).filter(_ >= 0).sum)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","calibration":$calibration,"setup":$setupJson,"setup_sec":$setupTotal,"queries":$qs,"repeats":$reps,"train_steps":$trainSteps,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/BENCH_DETAIL.json"), fullJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    val failed = results.collect { case (n, v, _) if v < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val slowest = results.sortBy(-_._2).take(25)
      .map { case (k, v, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.length},"queries_shown":25,"calibration":$calibration,"setup_sec":$setupTotal,"failed":$failed,"queries":$slowest,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
