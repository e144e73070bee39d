package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What one measured operation reports. `readSec` is the wall time of
  * its one read call (its latency), answering `qsets` query sets;
  * `writeSec` the wall time of its write calls, covering `writeRows`
  * rows appended plus ids deleted. `failed` = an output check failed. */
final case class Op(readSec: Double, qsets: Int, writeSec: Double = 0.0,
                    writeRows: Long = 0L, failed: Boolean = false)

/** One workload: a set-up (inputs, index, ground truth, warm-up) and a
  * closed loop of operations, each issued after the previous returned. */
abstract class Workload(val spark: SparkSession, val seed: Long, val dir: Path) {
  import Workload._

  /** Everything before the first timed call, warm-up included. */
  def setup(tr: Tracer): Unit
  /** Operations a pass runs at least (one pass over the query pool or more). */
  def minOps: Int
  /** Operations a pass runs at most (a fixed write schedule). */
  def maxOps: Int = Int.MaxValue
  def op(i: Int, tr: Tracer): Op
  /** Rows the index build wrote per second of build-call time. */
  def buildRowsPerSec: Double
  /** Per-layer numbers this workload can give after a traced pass. */
  def layers(tr: Tracer): Map[String, Double]
  def close(): Unit = ()

  /** Output-check violations, each a one-line message. */
  val violations = new mutable.ArrayBuffer[String]
  /** Set-level Recall@10 per query id, recorded the first time seen. */
  val recalls = new mutable.LinkedHashMap[Long, Double]

  def recall: Double = recalls.values.sum / math.max(recalls.size, 1)

  protected def fail(msg: String): Unit = violations += msg

  /** Check a top-10 answer for one query set: exactly 10 distinct sets,
    * each score the 6-decimal rounding of the exact chamfer score,
    * scores non-increasing; then record its recall against `gt`. */
  protected def checkAnswer(qid: Long, q: Gen.VSet, got: Seq[(Long, Double)],
                            corpus: Array[Gen.VSet], gt: Array[Int],
                            dead: Long => Boolean = _ => false): Boolean = {
    var ok = true
    def bad(msg: String): Unit = { ok = false; fail(s"qset $qid: $msg") }
    if (got.size != Exact.K) bad(s"${got.size} rows, expected ${Exact.K}")
    if (got.map(_._1).distinct.size != got.size) bad("duplicate dset_id")
    got.sliding(2).foreach {
      case Seq(a, b) if b._2 > a._2 => bad(s"scores out of order at ${b._1}")
      case _ =>
    }
    got.foreach { case (d, s) =>
      if (d < 0 || d >= corpus.length) bad(s"dset_id $d outside the corpus")
      else {
        if (dead(d)) bad(s"returned deleted set $d")
        val exact = Exact.chamfer(q, corpus(d.toInt))
        if (!(math.abs(s - exact) <= Exact.ScoreTol))
          bad(f"score of dset $d is $s%.6f, exact $exact%.9f")
      }
    }
    if (!recalls.contains(qid)) {
      val g = gt.toSet
      recalls(qid) = got.count(r => g.contains(r._1.toInt)).toDouble / Exact.K
    }
    ok
  }

  protected def vectorsDf(rows: Iterator[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v.toSeq) }.toSeq: _*),
      VectorSchema)

  /** (qset_id, q_sub, q_vec) rows for a batch of query sets. */
  protected def querySetsDf(ids: Seq[Long], sets: Seq[Gen.VSet]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ids.zip(sets).flatMap { case (id, s) =>
        s.zipWithIndex.map { case (v, i) => Row(id, i, v.toSeq) }
      }: _*),
      QuerySchema)

  /** The corpus as (vec_id, embedding) parquet, read back as a scan. */
  protected def writeCorpus(sets: Seq[Gen.VSet], from: Int, name: String): DataFrame = {
    val path = dir.resolve(name).toString
    vectorsDf(sets.iterator.zipWithIndex.flatMap { case (s, i) =>
      s.iterator.zipWithIndex.map { case (v, j) => ((from + i).toLong * Gen.C + j, v) }
    }).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** The flagship corpus of this seed (written as parquet and read back
    * as a scan) and its RoarGraph, trained on query-modality vectors,
    * with the build call's seconds. Shared by `mv_batch` and `mv_sql`. */
  protected def flagshipIndex(tr: Tracer)
      : (Array[Gen.VSet], DataFrame, graft.index.RoarIndex, Double) = {
    val corpus = Gen.corpus(seed, MvBatch.NSets)
    val emb = writeCorpus(corpus.toSeq, 0, "corpus")
    val train = vectorsDf(Gen.training(seed, corpus, MvBatch.TrainSets).iterator
      .zipWithIndex.map { case (v, i) => (i.toLong, v) })
    phase("generate+write")
    val t0 = System.nanoTime()
    val idx = tr.span("index.GraphBuild.build", -1) {
      graft.index.GraphBuild.build(spark, emb, train, MvBatch.Params)
    }
    val secs = Workload.secs(t0)
    phase("build")
    (corpus, emb, idx, secs)
  }

  protected def median(xs: Seq[Double]): Double = Workload.median(xs)

  private var phaseT = System.nanoTime()
  /** Log the time since the previous phase mark to stderr. */
  protected def phase(name: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"perfbench: ${getClass.getSimpleName} $name ${(now - phaseT) / 1e9}%.2f s")
    phaseT = now
  }
}

object Workload {
  val VectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
  val QuerySchema: StructType = StructType(Seq(
    StructField("qset_id", LongType, nullable = false),
    StructField("q_sub", IntegerType, nullable = false),
    StructField("q_vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Percentile with linear interpolation between order statistics
    * (numpy's default): p = 0.5 is the median. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Pure-JVM ns per `Metrics("cosine").dist` call at dim 64 (no Spark). */
  def distNs(seed: Long): Double = {
    val m = graft.index.Metrics("cosine")
    val n = 4096
    val r = new java.util.Random(seed)
    val data = Array.fill(n * Gen.Dim)(r.nextFloat())
    val q = Array.fill(Gen.Dim)(r.nextFloat())
    def pass(): Double = {
      var sink = 0.0f
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 50) {
        var i = 0
        while (i < n) { sink += m.dist(data, i * Gen.Dim, q, 0, Gen.Dim); i += 1 }
        rep += 1
      }
      val ns = (System.nanoTime() - t0).toDouble / (50.0 * n)
      if (sink == 42.0f) println("") // keep the loop live
      ns
    }
    (0 until 3).foreach(_ => pass()) // JIT warm-up
    median((0 until 7).map(_ => pass()))
  }

  /** Pure-JVM, single-thread [[graft.index.BeamSearch.searchMulti]] over
    * the same graph and query sets the Spark path searches: ns per
    * query set, median of 5 passes after 2 warm-up passes. */
  def kernelNsPerQset(graph: graft.index.CsrGraph, vecs: graft.index.VectorStore,
                      qsets: Seq[Gen.VSet], minPq: Int, maxPq: Int,
                      budget: Int): Double = {
    val m = graft.index.Metrics("cosine")
    val pool = Array.fill(Gen.C)(new graft.index.VisitedSet(graph.n))
    val qs = qsets.map(_.map(graft.index.VectorStore.normalized))
    def pass(): Double = {
      val t0 = System.nanoTime()
      qs.foreach(q => graft.index.BeamSearch.searchMulti(graph, vecs, m, q,
        minPq, maxPq, budget, adaptive = true, pool))
      (System.nanoTime() - t0).toDouble / qs.size
    }
    (0 until 2).foreach(_ => pass())
    median((0 until 5).map(_ => pass()))
  }
}
