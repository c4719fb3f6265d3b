package perfbench

import java.io.File

import scala.io.Source

/** One benchmark workload, driven as a closed loop by [[Main]]. */
trait Workload {
  /** Build the workload's program state afresh; returns seconds taken. */
  def setup(): Double
  /** How many times a run sets up; `setup_s` is the median. */
  def setupReps: Int
  /** Untimed operations that let the JIT and caches settle. */
  def warm(): Unit
  /** Run the next operation(s), recording each in `rec`; false when the inputs are used up. */
  def step(rec: Recorder): Boolean
  /** Closing operations on the final state, after the timed loop. */
  def finish(rec: Recorder): Unit = ()
  /** The latencies, in seconds, that `op_p50_s` summarises. */
  def latencies(ops: Seq[Op]): Seq[Double]
  /** The work rate `items_per_s` reports, given the timed loop's seconds. */
  def throughput(ops: Seq[Op], elapsedS: Double): Double = ops.map(_.items).sum / elapsedS
  /** Check the program's final outputs; returns (correct, explanation). */
  def check(): (Boolean, String)
  /** Per-layer figures of the traced operations. */
  def layers(ops: Seq[Op], engine: Option[EngineListener]): Map[String, Double]
  /** Extra figures written to the run's sidecar. */
  def detail(ops: Seq[Op]): Map[String, Double] = Map.empty
}

object Workload {
  /** Epoch seconds every generated clock starts from (gen.py's T0). */
  final val T0 = 1700000000L

  def tsv(path: String): Vector[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  def files(f: File, suffix: String): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(files(_, suffix)).sum
    else if (f.getName.endsWith(suffix)) 1 else 0

  /** Engine figures averaged per operation. */
  def engineLayers(ops: Seq[Op], engine: EngineListener): Map[String, Double] = {
    val per = ops.map(o => engine.window(o.startMs, o.endMs))
    def m(f: Engine => Double) = Stats.mean(per.map(f))
    val mb = 1e6
    Map(
      "engine.jobs" -> m(_.jobs.toDouble),
      "engine.stages" -> m(_.stages.toDouble),
      "engine.tasks" -> m(_.tasks.toDouble),
      "engine.job_wall_s" -> m(_.jobWallS),
      "engine.driver_gap_s" -> Stats.mean(ops.zip(per).map { case (o, e) =>
        math.max(0.0, o.wallS - e.jobWallS) }),
      "engine.executor_run_s" -> m(_.runS),
      "engine.executor_cpu_s" -> m(_.cpuS),
      "engine.shuffle_write_mb" -> m(_.shuffleWrite / mb),
      "engine.shuffle_read_mb" -> m(_.shuffleRead / mb),
      "engine.spill_mb" -> m(_.spill / mb),
      "engine.input_mb" -> m(_.inputBytes / mb),
      "engine.output_mb" -> m(_.outputBytes / mb))
  }
}
