package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail: the highest of p99/p95/p90/p75/p50 with at least ten
    * samples beyond it. Returns (level, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val level = Seq(99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (100 - p) / 100 >= 10).getOrElse(50.0)
    (level, percentile(xs, level))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
  def load: Double = os.getSystemLoadAverage
  def processCpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
}

/** One timed operation of a workload, as the client saw it. */
final case class Op(kind: String, startMs: Long, endMs: Long, wallS: Double,
                    items: Long, load: Double, ok: Boolean)

/** Spans recorded around the benchmark's own calls into each layer,
  * kept in memory and summarised when the run ends. A span's name is its
  * layer and call (`store.upsert`, `core.get`, ...).
  */
final class Spans {
  private val all = new ConcurrentLinkedQueue[(String, Double)]()
  @volatile var on = false

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally all.add((name, (System.nanoTime() - t0) / 1e9))
    }

  def secs(name: String): Seq[Double] = all.asScala.collect { case (`name`, s) => s }.toSeq
}

/** Spark's public listener events, summed per job. Stage metrics come
  * from `StageInfo.taskMetrics`, the stage's accumulated task metrics,
  * so no per-task event is handled.
  */
final class EngineListener extends SparkListener {
  final class StageRec(val tasks: Int, val runMs: Long, val cpuNs: Long,
      val shuffleWrite: Long, val shuffleRead: Long, val spill: Long,
      val inputBytes: Long, val inputRecords: Long, val outputBytes: Long,
      val outputRecords: Long)
  final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += new JobRec(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages(i.stageId) = new StageRec(i.numTasks, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }

  /** Engine work of the jobs that started inside [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): Engine = synchronized {
    val js = jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    // union of job intervals: what the engine covered of the op's wall time
    var covered = 0L; var reach = Long.MinValue
    js.map(j => (j.startMs, if (j.endMs < 0) toMs else j.endMs)).sortBy(_._1).foreach {
      case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) covered += e - from
        reach = math.max(reach, e)
    }
    Engine(js.size, ss.size, ss.map(_.tasks.toLong).sum, covered / 1000.0,
      ss.map(_.runMs).sum / 1000.0, ss.map(_.cpuNs).sum / 1e9,
      ss.map(_.shuffleWrite).sum, ss.map(_.shuffleRead).sum, ss.map(_.spill).sum,
      ss.map(_.inputBytes).sum, ss.map(_.inputRecords).sum,
      ss.map(_.outputBytes).sum, ss.map(_.outputRecords).sum)
  }
}

final case class Engine(jobs: Long, stages: Long, tasks: Long, jobWallS: Double,
    runS: Double, cpuS: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long, outputRecords: Long)

/** Counts the engine warnings a query should not cause, from Spark's
  * own log lines.
  */
final class WarnCounter extends AbstractAppender("perfbench-warnings", null, null,
    true, Property.EMPTY_ARRAY) {
  @volatile var largeTaskBinary = 0L
  @volatile var unpartitionedWindow = 0L
  @volatile var on = false
  override def append(e: LogEvent): Unit = if (on) {
    val msg = e.getMessage.getFormattedMessage
    if (msg.contains("large task binary")) largeTaskBinary += 1
    if (msg.contains("No Partition Defined for Window")) unpartitionedWindow += 1
  }
}

object WarnCounter {
  def install(): WarnCounter = {
    val w = new WarnCounter
    w.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(w, null, null)
    ctx.updateLoggers()
    w
  }
}

/** The client side of a run: times each operation. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]

  /** Time one operation; a thrown exception or a false `ok` makes it a failed one. */
  def op[T](kind: String, items: Long)(body: => T)(ok: T => Boolean): Option[T] = {
    val t0 = System.nanoTime(); val s0 = System.currentTimeMillis()
    val r = try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ops += Op(kind, s0, System.currentTimeMillis(), wall, items, Host.load, r.exists(ok))
    r
  }
}
