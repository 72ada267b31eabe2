package graft.obs

import java.util.Locale

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.chaining._

import org.apache.spark.SparkContext
import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans: named regions of driver code, nested by path, whose Spark work
  * is summed from the scheduler's own events — the one way the engine
  * measures itself (Bench, Profile, the jobs CLI).
  *
  * [[span]] sets the slash-joined path of the open spans as a Spark local
  * property, so every job started under it counts toward it, including
  * jobs started from threads the body creates (a [[graft.core.FanOut]]
  * pool): a thread inherits local properties when it is created. One
  * listener per SparkContext, installed by the first span, sums each
  * path's jobs, stages, tasks and task metrics. [[report]] drains the
  * listener bus first; nothing more is needed, because the scheduler
  * posts a job's end before its action returns.
  */
object Spans {

  /** The local property that carries the open span path. */
  val PathKey = "graft.span"

  /** One span path's totals; a parent includes its child paths' Spark
    * work. `driverS` is the part of the wall time during which no stage
    * of the span ran. `stages` and `tasks` count what ran: a stage a job
    * skipped because its shuffle output already existed is out.
    */
  final case class Totals(calls: Int, wallS: Double, driverS: Double,
      jobs: Int, stages: Int, tasks: Int, execCpuS: Double, gcS: Double,
      shuffleWriteBytes: Long, spillBytes: Long) {
    private def values = Seq(Double.box(wallS), Int.box(jobs), Int.box(stages), Int.box(tasks),
      Double.box(driverS), Double.box(execCpuS), Double.box(gcS),
      Long.box(shuffleWriteBytes), Long.box(spillBytes))

    /** The measured fields as one fixed-width line segment. */
    def fields: String = String.format(Locale.ROOT,
      "wall %8.3f s  jobs %4d  stages %4d  tasks %6d  driver %8.3f s  " +
        "cpu %8.3f s  gc %7.3f s  shuffle %11d B  spill %11d B", values: _*)

    /** The measured fields as a compact JSON object. */
    def json: String = String.format(Locale.ROOT,
      """{"wall_s":%.3f,"jobs":%d,"stages":%d,"tasks":%d,"driver_s":%.3f,""" +
        """"exec_cpu_s":%.3f,"gc_s":%.3f,"shuffle_write_bytes":%d,"spill_bytes":%d}""",
      values: _*)
  }

  /** Run `body` as span `name`, nested under the span open on this thread,
    * if any. The call is recorded even when `body` throws.
    */
  def span[A](spark: SparkSession, name: String)(body: => A): A = {
    require(name.nonEmpty && !name.contains('/'), s"span name '$name' must be non-empty, without '/'")
    val sc = spark.sparkContext
    val rec = recorders.synchronized(recorders.computeIfAbsent(sc,
      _ => new Recorder().tap(sc.addSparkListener)))
    val parent = sc.getLocalProperty(PathKey)
    val path = if (parent == null) name else s"$parent/$name"
    rec.synchronized(rec.acc(path))
    sc.setLocalProperty(PathKey, path)
    val (ms0, t0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      rec.synchronized {
        val a = rec.acc(path)
        a.calls += 1
        a.wallNs += System.nanoTime() - t0
        a.callMs += ((ms0, System.currentTimeMillis()))
      }
      sc.setLocalProperty(PathKey, parent)
    }
  }

  /** Totals of every closed span path at or under `root` ("" for all), in
    * the order the paths were first opened. Each span is reported once:
    * the returned paths are dropped, so a later span on the same path
    * starts from zero. Call it after the spans under `root` close.
    */
  def report(spark: SparkSession, root: String = ""): ListMap[String, Totals] = {
    ListenerBus.drain(spark.sparkContext)
    recorder(spark).fold(ListMap.empty[String, Totals])(_.take(root))
  }

  /** Seconds the listener has spent handling events on `spark`'s context. */
  def listenerBusyS(spark: SparkSession): Double =
    recorder(spark).fold(0.0)(r => r.synchronized(r.busyNs / 1e9))

  private val recorders = new java.util.WeakHashMap[SparkContext, Recorder]()
  private def recorder(spark: SparkSession): Option[Recorder] =
    recorders.synchronized(Option(recorders.get(spark.sparkContext)))

  /** One path's own calls and Spark work (children not included). */
  private final class Acc {
    var calls, jobs, stages, tasks = 0
    var wallNs, cpuNs, gcMs, shuffleWrite, spill = 0L
    val callMs, stageMs = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** The per-context listener. Its state is guarded by its own lock:
    * events arrive on the bus thread, calls and reports on the driver's.
    */
  private final class Recorder extends SparkListener {
    private val accs = mutable.LinkedHashMap.empty[String, Acc]
    private val stagePath = mutable.HashMap.empty[Int, String]
    private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
    var busyNs = 0L

    def acc(path: String): Acc = accs.getOrElseUpdate(path, new Acc)

    private def handle(body: => Unit): Unit = synchronized {
      val t0 = System.nanoTime()
      try body finally busyNs += System.nanoTime() - t0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = handle {
      Option(e.properties).flatMap(p => Option(p.getProperty(PathKey))).foreach { path =>
        acc(path).jobs += 1
        jobStages(e.jobId) = e.stageIds
        // a stage shared with a job of another span stays with the first
        e.stageIds.foreach(stagePath.getOrElseUpdate(_, path))
      }
    }

    // every stage of an ended job has completed or was skipped
    override def onJobEnd(e: SparkListenerJobEnd): Unit = handle {
      jobStages.remove(e.jobId).foreach(_.foreach(stagePath.remove))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = handle {
      val info = e.stageInfo
      stagePath.get(info.stageId).map(acc).foreach { a =>
        if (info.failureReason.isEmpty && info.numTasks > 0) {
          a.stages += 1
          a.tasks += info.numTasks
        }
        Option(info.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        for (s <- info.submissionTime; c <- info.completionTime) a.stageMs += ((s, c))
      }
    }

    def take(root: String): ListMap[String, Totals] = synchronized {
      def under(p: String, r: String) = r.isEmpty || p == r || p.startsWith(r + "/")
      val taken = accs.filter { case (p, _) => under(p, root) }
      taken.keys.foreach(accs.remove)
      ListMap.from(taken.iterator.collect { case (p, own) if own.calls > 0 =>
        val sub = taken.iterator.collect { case (q, a) if under(q, p) => a }.toSeq
        val wallS = own.wallNs / 1e9
        val coveredS = overlapMs(sub.flatMap(_.stageMs), own.callMs.toSeq) / 1000.0
        p -> Totals(own.calls, wallS, math.max(0.0, wallS - coveredS),
          sub.map(_.jobs).sum, sub.map(_.stages).sum, sub.map(_.tasks).sum,
          sub.map(_.cpuNs).sum / 1e9, sub.map(_.gcMs).sum / 1000.0,
          sub.map(_.shuffleWrite).sum, sub.map(_.spill).sum)
      })
    }
  }

  /** Length (ms) of the union of `stages` inside the union of `windows`. */
  private def overlapMs(stages: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    def union(iv: Seq[(Long, Long)]) = iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }
    val ws = union(windows)
    union(stages).map { case (s, e) =>
      ws.map { case (a, b) => math.max(0L, math.min(e, b) - math.max(s, a)) }.sum
    }.sum
  }
}
