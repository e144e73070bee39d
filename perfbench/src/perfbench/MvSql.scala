package perfbench

import java.nio.file.Path

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types._

import graft.index.{CsrGraph, VectorStore}
import graft.plans.{AnnIndexRegistry, AnnStrategy, AnnTopKRule, MvJoinTopKExec}

/** `mv_sql`: one query set per statement, asked as the flagship
  * rank-window SQL (`graft_chamfer_score`, `row_number() ... <= 10`)
  * in a child session with the ANN rewrite injected, over the same
  * corpus registered through `AnnIndexRegistry.registerMvRoar`. Each
  * query set arrives as a one-row local relation. A statement that is
  * not routed (no `MvJoinTopK` in its executed plan) is a failed
  * operation, however fast. */
final class MvSql(spark: SparkSession, seed: Long, dir: Path)
    extends Workload(spark, seed, dir) {
  import MvSql._

  private var corpus: Array[Gen.VSet] = _
  private var qsets: Array[Gen.VSet] = _
  private var gt: Array[Array[Int]] = _
  private var rs: SparkSession = _
  private var graph: CsrGraph = _
  private var graphB: Broadcast[CsrGraph] = _
  private var vecs: VectorStore = _
  private var vecsB: Broadcast[VectorStore] = _
  private var buildSec = 0.0
  // per op: (plan ms, exec ms, routed, MvJoinTopKExec numQueries)
  private val stats = new scala.collection.mutable.ArrayBuffer[(Double, Double, Boolean, Long)]

  def minOps: Int = MinStatements

  def setup(tr: Tracer): Unit = {
    phase("start")
    val (c, _, idx, secs) = flagshipIndex(tr)
    corpus = c
    buildSec = secs
    graph = idx.graph
    graphB = spark.sparkContext.broadcast(idx.graph)
    vecs = idx.vecs
    vecsB = spark.sparkContext.broadcast(idx.vecs)
    qsets = Gen.queries(seed, corpus,
      Gen.sample(seed, 2L, 0, corpus.length, Pool), salt = 2L)
    gt = Exact.topK(qsets, corpus, _ => true, MvBatch.Threads)

    phase("ground truth")
    // the set relation: (dset_id, vec_set) parquet, members in sub order
    val setsPath = dir.resolve("sets").toString
    spark.createDataFrame(java.util.Arrays.asList(corpus.indices.map { s =>
      Row(s.toLong, corpus(s).map(_.toSeq).toSeq) }: _*), SetSchema)
      .write.mode("overwrite").parquet(setsPath)

    rs = spark.newSession()
    rs.conf.set("spark.graft.ann.rewrite", "true")
    graft.functions.GraftFunctions.register(rs)
    val cls = rs.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cls.experimental.extraOptimizations = Seq(AnnTopKRule)
    cls.experimental.extraStrategies = Seq(AnnStrategy)
    val sets = rs.read.parquet(setsPath)
    sets.createOrReplaceTempView("perfbench_mv_sets")
    AnnIndexRegistry.registerMvRoar(sets, "dset_id", "vec_set", graphB, vecsB,
      "cosine", Gen.C, Gen.Dim, budget = Budget, name = "perfbench_mv")
    phase("sets+register")
    // warm-up: planning, codegen and the first jobs of the routed path
    (0 until WarmUp).foreach(i => run(i, new Tracer(spark, enabled = false), check = false))
    stats.clear()
    phase("warm-up")
  }

  def op(i: Int, tr: Tracer): Op = run(i, tr, check = true)

  private def run(i: Int, tr: Tracer, check: Boolean): Op = {
    val qi = i % Pool
    rs.createDataFrame(java.util.Arrays.asList(
        Row(qi.toLong, qsets(qi).map(_.toSeq).toSeq)), QuerySchema)
      .createOrReplaceTempView("perfbench_mv_queries")
    val ((plan, rows, planSec, execSec), sec) = tr.timed("op", i) {
      val ((df, plan), planSec) = tr.timed("plans.sql_to_executedPlan", i) {
        val df = rs.sql(Sql)
        (df, df.queryExecution.executedPlan)
      }
      val (rows, execSec) = tr.timed("plans.collect", i)(df.collect())
      (plan, rows, planSec, execSec)
    }
    val mv = mvNode(plan)
    val routed = mv.isDefined
    stats += ((planSec * 1e3, execSec * 1e3, routed,
      mv.map(_.metrics("numQueries").value).getOrElse(0L)))
    var ok = routed
    if (!routed) fail(s"statement $i (qset $qi) ran unrouted")
    if (check) {
      val got = rows.toSeq.map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (d, s) => (-s, d) }
      if (rows.exists(_.getLong(0) != qi)) { ok = false; fail(s"qset $qi: foreign qset_id") }
      ok &= checkAnswer(qi.toLong, qsets(qi), got, corpus, gt(qi))
    }
    Op(sec, 1, failed = !ok)
  }

  private def mvNode(plan: SparkPlan): Option[MvJoinTopKExec] = {
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    p.collectFirst { case m: MvJoinTopKExec => m }
  }

  def buildRowsPerSec: Double = corpus.length * Gen.C / buildSec

  def layers(tr: Tracer): Map[String, Double] = Map(
    "index.build_s" -> buildSec,
    "index.graph_edges" -> graph.nbrs.length.toDouble,
    "index.kernel_ns_per_qset" -> Workload.kernelNsPerQset(graph,
      vecs, qsets.toSeq, math.max(10, Budget / Gen.C),
      math.max(200, Budget * 2), Budget),
    "plans.plan_ms" -> median(stats.map(_._1).toSeq),
    "plans.exec_ms" -> median(stats.map(_._2).toSeq),
    "plans.routed_frac" -> stats.count(_._3).toDouble / math.max(stats.size, 1),
    "plans.mv_queries_per_call" -> median(stats.map(_._4.toDouble).toSeq))

  override def close(): Unit = {
    AnnIndexRegistry.clear()
    if (graphB != null) graphB.destroy()
    if (vecsB != null) vecsB.destroy()
  }
}

object MvSql {
  val Pool = 16
  /** Statements a pass makes at least, so `latency_p95_ms` reads its
    * second-slowest call rather than the slowest. */
  val MinStatements = 20
  /** Untimed statements before the first timed one (latency settles after ~6). */
  val WarmUp = 6
  /** The registered adaptive beam budget (the route's own knob). */
  val Budget = 128
  private val VecSet = ArrayType(ArrayType(FloatType, containsNull = false),
    containsNull = false)
  val SetSchema: StructType = StructType(Seq(
    StructField("dset_id", LongType, nullable = false),
    StructField("vec_set", VecSet, nullable = false)))
  val QuerySchema: StructType = StructType(Seq(
    StructField("qset_id", LongType, nullable = false),
    StructField("vec_set", VecSet, nullable = false)))
  val Sql: String =
    """SELECT qset_id, dset_id, round(score, 6) AS score FROM (
      |  SELECT q.qset_id, d.dset_id,
      |         graft_chamfer_score(q.vec_set, d.vec_set) AS score,
      |         row_number() OVER (PARTITION BY q.qset_id
      |           ORDER BY graft_chamfer_score(q.vec_set, d.vec_set) DESC,
      |                    d.dset_id ASC) AS rnk
      |  FROM perfbench_mv_queries q CROSS JOIN perfbench_mv_sets d) t
      |WHERE rnk <= 10""".stripMargin
}
