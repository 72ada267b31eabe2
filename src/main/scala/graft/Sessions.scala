package graft

import org.apache.spark.sql.SparkSession

import graft.functions.Functions

/** The one session builder every main goes through, so the jobs CLI,
  * the gate harnesses and the profiler all run the same settings.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A session with `shufflePartitions` as the SQL shuffle width, no
    * UI, UTC session time, WARN logging and the engine's functions
    * registered. Master precedence: `SPARK_GRAFT_MASTER` > spark-submit's
    * `--master` (never override a cluster manager the submitter chose)
    * > `local[cpus]`.
    */
  def local(app: String, shufflePartitions: Int): SparkSession = {
    val builder = SparkSession.builder()
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    sys.env.get("SPARK_GRAFT_MASTER") match {
      case Some(m) => builder.master(m)
      case None if sys.props.contains("spark.master") =>
      case None => builder.master(s"local[$cpus]")
    }
    val s = builder.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Functions.register(s)
    s
  }
}
