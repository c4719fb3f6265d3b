package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries._

/** `suite`: a fixed cross-family set of `SparkEntry.queries` over the
  * fixed sf0.01 tables, two untimed warm passes, then whole timed passes
  * in a seeded order. Every forced result is checked against the
  * expected rows and checksum recorded from the seed code.
  */
final class Suite(spark: SparkSession, inputs: String, data: String, expectedPath: String,
                  spans: Spans) extends Workload {

  final case class Expected(family: String, rows: Long, checksum: Option[Long])

  private val expected: Map[String, Expected] = Workload.tsv(expectedPath)
    .filterNot(_(0).startsWith("#"))
    .map(f => f(0) -> Expected(f(1), f(2).toLong,
      if (f(3) == "rows_only") None else Some(f(3).toLong)))
    .toMap
  private val passes: Vector[Vector[String]] = Workload.tsv(s"$inputs/passes.tsv")
    .map(f => (f(0).toInt, f(1))).groupBy(_._1).toVector.sortBy(_._1)
    .map(_._2.map(_._2))
  private val queries = SparkEntry.queries
  require(expected.keySet.subsetOf(queries.keySet),
    s"expected queries not in SparkEntry.queries: ${expected.keySet.diff(queries.keySet)}")

  private var next = 0
  private var warmFailures = Seq.empty[String]

  private def run(name: String): Forced =
    spans(s"queries.$name")(Force(queries(name)(spark, data)))

  private def matches(name: String, got: Forced): Boolean = {
    val e = expected(name)
    got.rows == e.rows && e.checksum.forall(_ == got.checksum)
  }

  /** Resolve the input tables: file listing and parquet footers. */
  val setupReps = 3

  def setup(): Double = {
    val t0 = System.nanoTime()
    Suite.Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    (System.nanoTime() - t0) / 1e9
  }

  /** Two untimed passes in name order; their outputs are checked too.
    * The first pass plans and compiles every query; the JIT is still
    * speeding up in the second.
    */
  def warm(): Unit = {
    val rec = new Recorder
    for (_ <- 1 to 2; n <- expected.keys.toSeq.sorted) rec.op(n, 1L)(run(n))(matches(n, _))
    warmFailures = rec.ops.filterNot(_.ok).map(_.kind).distinct.toSeq
  }

  def step(rec: Recorder): Boolean =
    if (next >= passes.size) false
    else {
      passes(next).foreach { n =>
        spark.sparkContext.setJobGroup(s"pass$next.$n", n)
        rec.op(n, 1L)(run(n))(matches(n, _))
      }
      next += 1
      true
    }

  /** `op_p50_s` times one pass over the set: each query's median over
    * the run's passes, summed. A slow first pass, still warming the JIT,
    * then moves no query's figure.
    */
  def latencies(ops: Seq[Op]): Seq[Double] = {
    val ps = wholePasses(ops).flatten
    if (ps.isEmpty) Nil
    else Seq(ps.groupBy(_.kind).values.map(q => Stats.median(q.map(_.wallS))).sum)
  }

  def check(): (Boolean, String) =
    (warmFailures.isEmpty, s"${expected.size} queries; warm-pass mismatches: " +
      (if (warmFailures.isEmpty) "none" else warmFailures.mkString(",")))

  /** The whole passes among `ops`. */
  private def wholePasses(ops: Seq[Op]): Seq[Seq[Op]] =
    ops.grouped(expected.size).filter(_.size == expected.size).toSeq

  override def detail(ops: Seq[Op]): Map[String, Double] =
    Map("suite.query_p50_s" -> Stats.median(ops.map(_.wallS)),
      "suite.passes" -> wholePasses(ops).size.toDouble)

  def layers(ops: Seq[Op], engine: Option[EngineListener]): Map[String, Double] = {
    val passes = wholePasses(ops)
    Suite.Families.flatMap { case (fam, _) =>
      val secs = passes.map(_.filter(o => expected(o.kind).family == fam).map(_.wallS).sum)
      val jobs = engine.toSeq.flatMap(e => passes.map(_.filter(o => expected(o.kind).family == fam)
        .map(o => e.window(o.startMs, o.endMs).jobs.toDouble).sum))
      Seq(s"suite.${fam}_s" -> (if (secs.isEmpty) 0.0 else Stats.median(secs)),
        s"suite.${fam}_jobs" -> (if (jobs.isEmpty) 0.0 else Stats.median(jobs)))
    }.toMap
  }
}

object Suite {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Family of each query: the query pack that registers it. */
  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "ft" -> ForgetQueries.queries, "rel" -> RelationalQueries.queries,
    "text" -> TextQueries.queries, "dedup" -> DedupQueries.queries,
    "sim" -> SimilarityQueries.queries, "mm" -> MultimodalQueries.queries,
    "pipe" -> PipelineQueries.queries)

  def familyOf(name: String): String = Families.find(_._2.contains(name)).map(_._1).get

  /** Write the expected file: every query in `names` forced twice; a
    * query whose checksum differs between the two is checked by its row
    * count only.
    */
  def record(spark: SparkSession, data: String, names: Seq[String], out: String): Unit = {
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println("# query\tfamily\trows\tchecksum  (forced twice; a checksum that differed " +
        "would read rows_only)")
      names.sorted.foreach { n =>
        val fs = (1 to 2).map(_ => Force(SparkEntry.queries(n)(spark, data)))
        require(fs.map(_.rows).distinct.size == 1, s"$n: row count differs between runs")
        val sum = if (fs.map(_.checksum).distinct.size == 1) fs.head.checksum.toString else "rows_only"
        w.println(s"$n\t${familyOf(n)}\t${fs.head.rows}\t$sum")
        w.flush()
      }
    } finally w.close()
  }
}
