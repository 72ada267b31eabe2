package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify", Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (local iteration aid,
    // same contract as Bench; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    // FLOAT CANARY: gate outputs must ship integer units (the
    // cross-engine hash contract) — a new DOUBLE column in a gate
    // projection is the decimal-round/accumulation-order flake class
    // re-entering. These grandfathered columns are per-row
    // deterministic expressions or raw data passthroughs (no float
    // ever aggregates), reviewed r10; anything else fails the run.
    val floatAllow: Map[String, Set[String]] = Map(
      "q_ann_ivf" -> Set("cos"), "q_ann_ivf_append" -> Set("cos"),
      "q_ann_ivf_index" -> Set("cos"), "q_ann_ivf_stream" -> Set("cos"),
      "q_knn_join" -> Set("cos"), "q_sort_limit" -> Set("o_totalprice"),
      "q_window_rank" -> Set("value"))
    val floatViolations = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try graft.core.GateContext.runningGate(name) {
        val df = fn(spark, sfDir)
        df.schema.fields.foreach { f =>
          val isFloat = f.dataType == org.apache.spark.sql.types.DoubleType ||
            f.dataType == org.apache.spark.sql.types.FloatType
          if (isFloat && !floatAllow.getOrElse(name, Set.empty).contains(f.name))
            floatViolations += s"$name.${f.name}"
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // per-query isolation (see Bench)
    }
    if (floatViolations.nonEmpty)
      System.err.println("[verify] FLOAT-CANARY: un-allowlisted float gate " +
        s"columns (ship integer units instead): ${floatViolations.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // gate-artifact oracles (q_rdr_store/q_rdr_train) read the parquet
    // the gates wrote: point their SQL at THIS run's artifact dir
    val gates = graft.pipeline.GateArtifacts
    val json = SparkEntry.oracleSql
      .map { case (k, v) => k -> v.replace(gates.Placeholder, gates.dir(sfDir)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // fail AFTER the dump is complete so a canary hit still leaves
    // artifacts to diagnose; the nonzero rc makes local sweeps red
    // before a flaky float ever reaches the driver
    if (floatViolations.nonEmpty) sys.exit(3)
  }
}
