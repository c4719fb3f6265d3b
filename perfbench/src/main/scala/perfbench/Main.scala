package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array, col, lit}

import graft.functions.{CosineSimExpr, Md5Long60Expr, PoissonDecayExpr}
import graft.sources.GraftSession

/** The benchmark harness. `run.py` generates the inputs and starts this
  * main once per run:
  *
  * {{{
  * perfbench.Main --workload W --seconds N --trace 0|1 --inputs DIR
  *                --work DIR --out FILE [--data DIR --expected FILE]
  * perfbench.Main --record FILE --data DIR [--queries a,b,c]
  * }}}
  *
  * A run sets the workload up several times, warms it, then drives it
  * as a closed loop with one client for about `seconds`, and ends with
  * the workload's closing operations. With `--trace 1` it first measures
  * a third of that untraced, then attaches the engine listener, the
  * warning counter and the spans for the full `seconds` and the closing
  * operations, and ends with a short kernel pass. It writes one JSON object to
  * `--out`.
  */
object Main {
  private def opts(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      o.get("record") match {
        case Some(out) =>
          val names = o.get("queries").map(_.split(",").toSeq)
            .getOrElse(graft.SparkEntry.queries.keys.toSeq)
          Suite.record(spark, o("data"), names, out)
        case None => run(spark, o, cpus)
      }
    } finally spark.stop()
  }

  private def run(spark: SparkSession, o: Map[String, String], cpus: Int): Unit = {
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val spans = new Spans
    val warnings = WarnCounter.install()
    val w: Workload = o("workload") match {
      case "forget_table" => new WriteRead(spark, o("inputs"), o("work"), spans)
      case "suite" => new Suite(spark, o("inputs"), o("data"), o("expected"), spans)
      case other => sys.error(s"unknown workload: $other")
    }
    val loadStart = Host.load
    val runStart = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val setups = (1 to w.setupReps).map(_ => w.setup())
    val warmStart = System.nanoTime()
    w.warm()
    val warmS = since(warmStart)

    // Closed loop: the next step starts only if, at the mean step time so
    // far, it would end less than half a step past `secs`.
    def measure(secs: Double): (Recorder, Double, Double) = {
      val rec = new Recorder
      val cpu0 = Host.processCpuNs
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var steps = 0
      while ((steps == 0 || elapsed + 0.5 * elapsed / steps < secs) && w.step(rec)) steps += 1
      (rec, elapsed, (Host.processCpuNs - cpu0) / 1e9)
    }

    var finishS = 0.0
    def finish(rec: Recorder): Unit = { val t = System.nanoTime(); w.finish(rec); finishS = since(t) }

    val (plain, plainS, plainCpuS) = measure(if (traced) math.max(2.0, seconds / 3) else seconds)
    val plainSteps = plain.ops.size
    val engine = if (traced) Some(new EngineListener) else None
    val (rec, elapsed, _) =
      if (!traced) { finish(plain); (plain, plainS, plainCpuS) }
      else {
        spark.sparkContext.addSparkListener(engine.get)
        spans.on = true
        warnings.on = true
        val r = measure(seconds)
        finish(r._1)
        spans.on = false
        warnings.on = false
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        r
      }
    val ops = rec.ops.toSeq
    val checkStart = System.nanoTime()
    val (correct, why) = w.check()
    val checkS = since(checkStart)
    val lat = w.latencies(ops)
    val (tailLevel, tail) = Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_s" -> Stats.median(lat),
      "items_per_s" -> w.throughput(ops, elapsed))
    val layers = if (!traced) Map.empty[String, Double] else {
      val plainLat = w.latencies(plain.ops.toSeq)
      val overhead = Stats.median(lat) - Stats.median(plainLat)
      Workload.engineLayers(ops, engine.get) ++ Main.kernels(spark) ++ w.layers(ops, engine) ++ Map(
        "engine.large_task_binary_warnings" -> warnings.largeTaskBinary.toDouble,
        "engine.unpartitioned_window_warnings" -> warnings.unpartitionedWindow.toDouble,
        "trace.overhead_s" -> overhead,
        "trace.overhead_share" -> overhead / Stats.median(plainLat))
    }
    val detail = w.detail(ops) ++ Map(
      "host.nproc" -> cpus.toDouble,
      "host.load_start" -> loadStart,
      "host.load_end" -> Host.load,
      "op.tail_level" -> tailLevel,
      "op.tail_s" -> tail,
      "op.cpu_s" -> plainCpuS / plainSteps,
      "setup.reps" -> setups.size.toDouble,
      "op.samples" -> lat.size.toDouble,
      "op.measured_s" -> elapsed,
      "run.warm_s" -> warmS,
      "run.finish_s" -> finishS,
      "run.check_s" -> checkS,
      "run.harness_s" -> since(runStart))
    val all = ops ++ (if (traced) plain.ops else Nil)
    writeResult(o("out"), correct, why, all.size, all.count(!_.ok), e2e, layers, detail, ops)
  }

  /** Rows per second through three codegen kernels over `spark.range`. */
  def kernels(spark: SparkSession): Map[String, Double] = {
    val n = 2000000L
    def rate(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double = {
      val df = f(spark.range(n).toDF())
      Force(df) // warm: code generation and JIT
      val t0 = System.nanoTime()
      Force(df)
      n / ((System.nanoTime() - t0) / 1e9)
    }
    val id = col("id")
    Map(
      "functions.poisson_decay_rows_per_s" ->
        rate(_.select(PoissonDecayExpr(lit(2.5), id).as("k"))),
      "functions.hash_rows_per_s" ->
        rate(_.select(Md5Long60Expr(id.cast("string"), 7).as("h"))),
      "functions.vec_rows_per_s" ->
        rate(_.select(CosineSimExpr(
          array((id % 7).cast("double"), (id % 11).cast("double"), (id % 13).cast("double")),
          array(lit(1.0), lit(2.0), lit(3.0))).as("c"))))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")

  private def writeResult(path: String, correct: Boolean, why: String, attempted: Int,
      failed: Int, e2e: Map[String, Double], layers: Map[String, Double],
      detail: Map[String, Double], ops: Seq[Op]): Unit = {
    val opRows = ops.map(op => s"""["${op.kind}", ${num(op.wallS)}, ${num(op.load)}, ${op.ok}]""")
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(
      s"""{"correct": $correct, "why": "${why.replace("\"", "'")}", "attempted": $attempted, """ +
      s""""failed": $failed, "end_to_end": ${obj(e2e)}, "per_layer": ${obj(layers)}, """ +
      s""""detail": ${obj(detail)}, "ops": ${opRows.mkString("[", ", ", "]")}}""")
    finally w.close()
  }
}
