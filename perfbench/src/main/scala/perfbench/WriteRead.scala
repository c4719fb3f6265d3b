package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.core.ForgetParams
import graft.sources.{GraftSession, StateStore}
import graft.streaming.{BinSnapshot, DistState, ForgetStream, FtRequest}

/** The stream's processing clock: a fixed step per micro-batch, set by
  * the client before each batch. A static, so tasks in the local-mode
  * executor read the value the Spark driver set.
  */
object BenchClock {
  val now = new AtomicLong(Workload.T0)
}

/** `forget_table`: the paper's write and read paths on one store. Each
  * round, one client sends a micro-batch of generated requests through
  * `MemoryStream` -> `ForgetStream.requests` (RocksDB state) ->
  * `StateStore.upsertDistributions`, then reads the store it wrote: a
  * `get`, a `topk` and a `dist` point read through `StateStore.loadDist`.
  * After the timed rounds it scans the final store once with a full
  * `topK` and an `expiry`. Every read is checked against Expected-mode
  * decay arithmetic over the model store; the final store against a pure
  * fold of `ForgetStream.transitionRequests`.
  */
final class WriteRead(spark: SparkSession, inputs: String, work: String, spans: Spans)
    extends Workload {
  import Workload.T0

  /** Decays per second and clock seconds per batch: a bin loses about one
    * count per batch of its distribution's clock, so bins whose increments
    * come slower than that are pruned and the store levels off.
    */
  val Rate = 0.1
  val Ticks = 10L
  val K = 10
  val params = ForgetStream.Params(rate = Rate)
  private val PointReads = Set("get", "topk", "dist")

  private val batches: Vector[Array[FtRequest]] = {
    val rows = Workload.tsv(s"$inputs/requests.tsv").map { f =>
      f(0).toInt -> FtRequest(f(3), f(4), f(5).toLong, f(1).toLong, f(2), f(6).toInt)
    }
    rows.groupBy(_._1).toVector.sortBy(_._1).map(_._2.map(_._2).toArray)
  }
  // the point reads of each round: (kind, dist, bins)
  private val reads: Map[Int, Vector[(String, String, Seq[String])]] =
    Workload.tsv(s"$inputs/reads.tsv").map { f =>
      f(0).toInt -> (f(1), f(2), f(3).split(",").filter(_.nonEmpty).toSeq)
    }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2) }

  private var mem: MemoryStream[FtRequest] = _
  private var query: StreamingQuery = _
  private var store: String = _
  private var starts = 0
  private var next = 0
  private var tracedFrom = Int.MaxValue
  // (start ms, end ms, touched buckets) of each traced upsert
  private val upserts = new ConcurrentLinkedQueue[(Long, Long, Int)]()

  private def start(): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    starts += 1
    store = s"$work/run$starts/store"
    val ckpt = s"$work/run$starts/checkpoint"
    mem = MemoryStream[FtRequest]
    val out = ForgetStream.requests(mem.toDS(), params,
      clock = () => BenchClock.now.get, withExpiry = false)
    val dir = store
    query = out.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: Dataset[BinSnapshot], _: Long) =>
        val s0 = System.currentTimeMillis()
        spans("store.upsert") {
          StateStore.upsertDistributions(df.sparkSession, dir, df.toDF())
        }
        if (spans.on) upserts.add((s0, System.currentTimeMillis(), touched(dir, s0)))
        ()
      }
      .start()
  }

  /** Bucket directories the upsert that started at `s0` rewrote. */
  private def touched(dir: String, s0: Long): Int =
    Option(new File(s"$dir/counts").listFiles).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith("dist_bucket=") && f.lastModified >= s0 - 1)

  private def clock(b: Int): Long = T0 + (b + 1) * Ticks

  private def feed(b: Int): Unit = {
    BenchClock.now.set(clock(b))
    mem.addData(batches(b).toSeq)
    query.processAllAvailable()
  }

  val setupReps = 5

  /** Start a fresh query on a fresh store and checkpoint. Its first
    * micro-batch, which opens the state store, is part of the warm round.
    */
  def setup(): Double = {
    if (query != null) query.stop()
    model = Model()
    matched = Array(true, true)
    next = 0
    val t0 = System.nanoTime()
    GraftSession.enableRocksDBStateStore(spark)
    start()
    (System.nanoTime() - t0) / 1e9
  }

  /** Two micro-batches, then one point read of each kind. The first
    * batch opens the state store; the JIT is still speeding up in the
    * second, so the timed round starts at the third.
    */
  def warm(): Unit = {
    val rec = new Recorder
    round(rec, 0)
    round(rec, 3)
  }

  /** One round: the next micro-batch, then its six point reads. */
  def step(rec: Recorder): Boolean = next < batches.size && { round(rec, Int.MaxValue); true }

  private def round(rec: Recorder, nReads: Int): Unit = {
    if (spans.on && tracedFrom == Int.MaxValue) tracedFrom = next
    val b = next
    rec.op("batch", batches(b).length.toLong)(feed(b))(_ => true)
    model = model.fold(b)
    val p = ForgetParams(rate = Rate, nowEpoch = clock(b))
    reads.getOrElse(b, Vector.empty).take(nReads).foreach { case (kind, d, bins) =>
      checkedRead(rec, b, kind, d, bins, p) }
    next += 1
  }

  /** The full-store scans, once each, on the store the last round left. */
  override def finish(rec: Recorder): Unit = {
    val p = ForgetParams(rate = Rate, nowEpoch = clock(next - 1))
    Seq("scan_topk", "scan_expiry").foreach(kind => checkedRead(rec, next - 1, kind, "", Nil, p))
  }

  /** Run one read and check it against both model stores; see [[Model]]. */
  private def checkedRead(rec: Recorder, b: Int, kind: String, d: String, bins: Seq[String],
                          p: ForgetParams): Unit = {
    spark.sparkContext.setJobGroup(s"round$b.$kind", kind)
    rec.op(kind, 1L)(read(kind, d, bins, p)) { got =>
      val hits = Seq(model.stored, model.stateView).map(v =>
        got == Force.expected(got.schema, Model.rows(v, kind, d, bins, p, K)))
      matched = matched.zip(hits).map { case (a, h) => a && h }
      hits.exists(identity)
    }
  }

  private def read(kind: String, d: String, bins: Seq[String], p: ForgetParams): Forced = kind match {
    case "scan_topk" =>
      val ft = spans("store.load")(StateStore.load(spark, store))
      spans("core.scan_topk")(Force(ft.topK(K, p)))
    case "scan_expiry" =>
      val ft = spans("store.load")(StateStore.load(spark, store))
      spans("core.expiry")(Force(ft.expiry(p)))
    case _ =>
      val ft = spans("store.load_dist")(StateStore.loadDist(spark, store, d))
      kind match {
        case "get" => spans("core.get")(Force(ft.get(d, bins, p)))
        case "topk" => spans("core.topk")(Force(ft.topK(K, p, Some(d))))
        case "dist" => spans("core.dist")(Force(ft.dist(p, Some(d))))
      }
  }

  // ------------------------------------------------------------- the model

  /** The program's state after a pure fold of
    * `ForgetStream.transitionRequests` over the batches fed so far: the
    * stream state per distribution, and the store the emitted rows make
    * when each batch replaces the distributions it emitted rows for (what
    * `upsertDistributions` does today). `emitted` counts each batch's
    * rows; `storeRows` the model store's rows after each batch.
    *
    * A `topk` read emits only the bins it fetched, and a batch that mixes
    * an increment run with a read emits both, so that store can differ
    * from the stream state. `stateView` is the store that would equal the
    * stream state; the check accepts a program that follows either.
    */
  private final case class Model(state: Map[String, DistState] = Map.empty,
      stored: Map[String, Vector[BinSnapshot]] = Map.empty,
      emitted: Vector[Long] = Vector.empty, storeRows: Vector[Long] = Vector.empty) {

    def fold(b: Int): Model = {
      var s = state; var st = stored; var n = 0L
      batches(b).groupBy(_.dist).foreach { case (d, reqs) =>
        val (next, out) = ForgetStream.transitionRequests(d, reqs.toSeq, s.get(d), clock(b), params)
        s = next.fold(s - d)(v => s.updated(d, v))
        if (out.nonEmpty) st = st.updated(d, out)
        n += out.size
      }
      Model(s, st, emitted :+ n, storeRows :+ st.values.map(_.size.toLong).sum)
    }

    lazy val stateView: Map[String, Vector[BinSnapshot]] = state.map { case (d, s) =>
      d -> s.counts.toVector.map { case (b, c) => BinSnapshot(d, b, c, s.z, s.t) } }

    /** Distributions whose stored rows differ from the stream state. */
    lazy val diverged: Int = {
      val v = stateView
      (stored.keySet ++ v.keySet).count(d =>
        stored.get(d).map(_.map(r => r.bin -> r.count).sorted) !=
          v.get(d).map(_.map(r => r.bin -> r.count).sorted))
    }
  }

  private object Model {
    /** The rows a read must return from a store holding `stored`, column
      * for column, with each count decayed in Expected mode to `p.nowEpoch`
      * and pruned.
      */
    def rows(stored: Map[String, Vector[BinSnapshot]], kind: String, d: String, bins: Seq[String],
             p: ForgetParams, k: Int): Seq[Seq[Any]] = {
      def newCount(d: String, count: Long): Long = {
        val t = stored(d).map(_.t).max
        val raw = if (count < 1) 0L else math.floor(Rate * (p.nowEpoch - t).toDouble).toLong
        count - (if (raw >= count) count else raw)
      }
      def z(d: String) = stored(d).map(_.z).max
      def prob(c: Long, z: Long): Double = if (z == 0L) 0.0 else c.toDouble / z.toDouble
      def topRows(d: String): Seq[Seq[Any]] = {
        val sel = stored(d).map(r => (r.bin, r.count)).sortBy { case (b, c) => (-c, b) }(
          Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).take(k)
        val zAdj = z(d) - sel.map { case (_, c) => c - newCount(d, c) }.sum
        sel.zipWithIndex.map { case ((b, c), i) =>
          val n = newCount(d, c); Seq(d, (i + 1).toLong, b, n, prob(n, zAdj)) }
      }
      kind match {
        case _ if d.nonEmpty && !stored.contains(d) => Nil
        case "get" =>
          val sel = bins.flatMap { b =>
            val hits = stored(d).filter(_.bin == b).map(r => (b, r.count))
            if (hits.isEmpty) Seq((b, 0L)) else hits
          }
          val zAdj = z(d) - sel.map { case (_, c) => c - newCount(d, c) }.sum
          sel.map { case (b, c) => val n = newCount(d, c); Seq(d, b, n, prob(n, zAdj)) }
        case "topk" => topRows(d)
        case "dist" =>
          val rs = stored(d).map(r => (r.bin, newCount(d, r.count)))
          val z2 = rs.map(_._2).sum
          rs.map { case (b, n) => Seq(d, b, n, prob(n, z2)) }
        case "scan_topk" => stored.keys.toSeq.flatMap(topRows)
        case "scan_expiry" => stored.keys.toSeq.flatMap { d =>
          val live = stored(d).map(r => newCount(d, r.count)).filter(_ > 0)
          if (live.isEmpty) Nil
          else {
            val eta = math.sqrt(live.max.toDouble / Rate)
            val sec = math.floor((p.sigma + eta) * eta).toLong
            Seq(Seq(d, live.max, sec, p.nowEpoch + sec))
          }
        }
      }
    }
  }

  private var model = Model()
  // whether every read so far matched the upsert model / the state view
  private var matched = Array(true, true)

  /** `op_p50_s` times the point reads. */
  def latencies(ops: Seq[Op]): Seq[Double] = ops.filter(o => PointReads(o.kind)).map(_.wallS)

  /** `items_per_s` is the ingest rate: requests per second of batch time. */
  override def throughput(ops: Seq[Op], elapsedS: Double): Double = {
    val bs = ops.filter(_.kind == "batch")
    bs.map(_.items).sum / bs.map(_.wallS).sum
  }

  def check(): (Boolean, String) = {
    query.stop()
    val ft = StateStore.load(spark, store)
    val gotCounts = ft.counts.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toVector
    val gotMeta = ft.meta.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toVector
    def holds(v: Map[String, Vector[BinSnapshot]]) =
      gotCounts == v.values.flatten.map(s => (s.dist, s.bin, s.count)).toVector.sorted &&
        gotMeta == v.map { case (d, rows) => (d, rows.map(_.z).max, rows.map(_.t).max) }.toVector.sorted
    val follows = Seq("upsert model", "stream state").zip(Seq(model.stored, model.stateView))
      .zip(matched).collect { case ((name, v), true) if holds(v) => name }
    (follows.nonEmpty, s"$next rounds; store rows ${gotCounts.size}, dists ${gotMeta.size}; " +
      s"final store and every read match: ${if (follows.isEmpty) "neither model" else follows.mkString(" and ")}; " +
      s"store differs from stream state on ${model.diverged} dists")
  }

  override def detail(ops: Seq[Op]): Map[String, Double] = {
    def kindStats(k: String, name: String) = {
      val xs = ops.filter(_.kind == k).map(_.wallS)
      if (xs.isEmpty) Map.empty[String, Double]
      else Map(s"$name.p50_s" -> Stats.median(xs), s"$name.n" -> xs.size.toDouble)
    }
    kindStats("batch", "ingest.batch") ++ kindStats("get", "read.get") ++
      kindStats("topk", "read.topk") ++ kindStats("dist", "read.dist") ++
      kindStats("scan_topk", "scan.topk_all") ++ kindStats("scan_expiry", "scan.expiry") ++
      model.storeRows.zipWithIndex.map { case (n, b) => f"store.rows.round$b%02d" -> n.toDouble } ++ Map(
        "ingest.req_per_s" -> throughput(ops, 0.0),
        "store.rows" -> model.stored.values.map(_.size).sum.toDouble,
        "store.diverged_dists" -> model.diverged.toDouble,
        "store.mb" -> Workload.dirBytes(new File(store)) / 1e6)
  }

  def layers(ops: Seq[Op], engine: Option[EngineListener]): Map[String, Double] = {
    def med(name: String) = { val xs = spans.secs(name); if (xs.isEmpty) 0.0 else Stats.median(xs) }
    // idle progress events (no input, reported while the client reads) are not batches
    val progress = query.recentProgress.filter(p => p.batchId >= tracedFrom && p.numInputRows > 0).toSeq
    def dur(k: String) = Stats.median(progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val state = progress.map(_.stateOperators.head)
    val ups = upserts.asScala.toSeq
    val rewritten = engine.toSeq.flatMap(e => ups.map { case (s, t, _) => e.window(s, t).outputRecords.toDouble })
    val tracedEmitted = model.emitted.drop(tracedFrom).map(_.toDouble)
    val pointOps = ops.filter(o => PointReads(o.kind))
    val examined = engine.toSeq.flatMap(e => pointOps.map(o => e.window(o.startMs, o.endMs).inputRecords.toDouble))
    Map(
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.state_update_ms" -> Stats.median(state.map(_.allUpdatesTimeMs.toDouble)),
      "streaming.state_commit_ms" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
      "streaming.state_rows" -> state.last.numRowsTotal.toDouble,
      "streaming.state_mem_mb" -> state.last.memoryUsedBytes / 1e6,
      "streaming.rows_emitted" -> Stats.median(tracedEmitted),
      "store.upsert_s" -> med("store.upsert"),
      "store.buckets_touched" -> Stats.median(ups.map(_._3.toDouble)),
      "store.rows_rewritten" -> (if (rewritten.isEmpty) 0.0 else Stats.median(rewritten)),
      "store.write_amp" -> (if (tracedEmitted.sum == 0) 0.0 else rewritten.sum / tracedEmitted.sum),
      "store.files" -> Workload.files(new File(store), ".parquet").toDouble,
      "store.mb" -> Workload.dirBytes(new File(store)) / 1e6,
      "store.load_dist_s" -> med("store.load_dist"),
      "store.load_s" -> med("store.load"),
      "store.rows_examined_per_result" -> Stats.mean(examined),
      "core.get_s" -> med("core.get"),
      "core.topk_s" -> med("core.topk"),
      "core.dist_s" -> med("core.dist"),
      "core.scan_topk_s" -> med("core.scan_topk"),
      "core.expiry_s" -> med("core.expiry"))
  }
}
