package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{BuildParams, ShardedIndex}
import graft.operators.Rerank

/** `ingest_serve`: writes beside reads on the versioned sharded index.
  * `ShardedIndex.buildVersioned` over the first sets in [[Shards]]
  * shards (more than the `residentShards=2` LRU holds), then a fixed
  * schedule of rounds: `appendVersioned` (new sets), `deleteVersioned`
  * (all member ids of live sets), `maybeCompactVersioned` (its delta
  * threshold fires every [[CompactEvery]] rounds), then batched
  * `ShardedIndex.searchMultiDf` + `Rerank.chamferTopK` on the resolved
  * live generation. Each round is one operation. */
final class IngestServe(spark: SparkSession, seed: Long, dir: Path, rounds: Int)
    extends Workload(spark, seed, dir) {
  import IngestServe._

  private val total = InitialSets + AppendSets * rounds
  private var corpus: Array[Gen.VSet] = _
  private var emb: DataFrame = _
  private var root: String = _
  // set -> round it is deleted in (absent = never)
  private val deletedIn = mutable.HashMap.empty[Int, Int]
  // per round: the ids and sets of the query sets searched after its writes
  private var queries: IndexedSeq[(Seq[Long], Seq[Gen.VSet])] = _
  private var gt: Map[Long, Array[Int]] = _
  private var buildSec = 0.0
  // per op: (append s, delete s, maybeCompact s, compacted, bytes written)
  private val writes = new mutable.ArrayBuffer[(Double, Double, Double, Boolean, Long)]
  private var loads0 = 0
  // the live generation's directory, as last returned by the engine
  private var livePath: String = _

  def minOps: Int = rounds
  override def maxOps: Int = rounds

  private def liveAfter(r: Int)(s: Int): Boolean =
    s < InitialSets + AppendSets * (r + 1) && deletedIn.get(s).forall(_ > r)

  def setup(tr: Tracer): Unit = {
    phase("start")
    corpus = Gen.corpus(seed, total)
    emb = writeCorpus(corpus.toSeq, 0, "corpus")
    // the schedule: which sets each round deletes and searches for
    deletedIn.clear()
    val qsets = (0 until rounds).map { r =>
      val pool = (0 until InitialSets + AppendSets * r).filterNot(deletedIn.contains)
      Gen.sample(seed, 100L + r, 0, pool.size, DeleteSets)
        .foreach(j => deletedIn(pool(j)) = r)
      val live = (0 until InitialSets + AppendSets * (r + 1)).filter(liveAfter(r))
      val targets = Gen.sample(seed, 200L + r, 0, live.size, SearchSets).map(live)
      Gen.queries(seed, corpus, targets, salt = 300L + r)
    }
    gt = (0 until rounds).flatMap { r =>
      Exact.topK(qsets(r), corpus, liveAfter(r), MvBatch.Threads).zipWithIndex
        .map { case (g, i) => qid(r, i) -> g }
    }.toMap
    queries = (0 until rounds).map(r => ((0 until SearchSets).map(qid(r, _)), qsets(r).toSeq))
    phase("generate+ground truth")
    root = dir.resolve("index").toString
    val t0 = System.nanoTime()
    livePath = tr.span("index.ShardedIndex.buildVersioned", -1) {
      ShardedIndex.buildVersioned(spark, emb.filter(col("vec_id") < InitialSets * Gen.C),
        Params, Shards, root).path
    }
    buildSec = Workload.secs(t0)
    phase("build")
    // warm-up on the built generation: the read path
    search(root, querySetsDf(queries(0)._1, queries(0)._2), InitialSets,
      new Tracer(spark, enabled = false), -1)
    phase("warm-up")
    loads0 = ShardedIndex.shardLoadCount
  }

  private def qid(r: Int, i: Int): Long = r * 100000L + i

  private def search(at: String, qdf: DataFrame, liveSets: Int, tr: Tracer,
                     i: Int): Array[org.apache.spark.sql.Row] = {
    val ref = tr.span("index.ShardedIndex.resolveVersioned", i) {
      ShardedIndex.resolveVersioned(spark, at, "cosine")
    }
    val cands = tr.span("index.ShardedIndex.searchMultiDf", i) {
      ShardedIndex.searchMultiDf(spark, qdf, ref, MinPq, MaxPq, Budget,
        adaptive = true).localCheckpoint(true)
    }
    val rows = tr.span("operators.Rerank.chamferTopK", i) {
      Rerank.chamferTopK(emb.filter(col("vec_id") < liveSets.toLong * Gen.C),
        qdf, cands, Gen.C, Exact.K).collect()
    }
    if (tr.enabled) {
      // distinct candidate sets handed to the rerank, per query set
      val candSets = cands.select(col("qset_id"), (col("d_id") / Gen.C).cast("long"))
        .distinct().count().toDouble
      candStats += ((candSets / qdf.select("qset_id").distinct().count(),
        candSets * Gen.C * Gen.C))
    }
    rows
  }

  // per traced search call: (candidate sets per query set, pairs scored)
  private val candStats = new mutable.ArrayBuffer[(Double, Double)]

  def op(r: Int, tr: Tracer): Op = {
    val lo = InitialSets + AppendSets * r
    val hi = lo + AppendSets
    val delGids = deletedIn.collect { case (s, `r`) => s }.toSeq.sorted
      .flatMap(s => (0 until Gen.C).map(j => s.toLong * Gen.C + j))
    val (ids, sets) = queries(r)
    val qdf = querySetsDf(ids, sets)
    val files = new mutable.ArrayBuffer[Map[String, (Long, Long)]]
    files += bytesUnder(root)
    def write[T](name: String)(call: => T): (T, Double) = {
      val res = tr.timed(name, r)(call)
      files += bytesUnder(root)
      res
    }
    val (appendS, deleteS, compactS, compacted, rows, readSec) = tr.span("op", r) {
      val (_, appendS) = write("index.ShardedIndex.appendVersioned") {
        ShardedIndex.appendVersioned(spark,
          emb.filter(col("vec_id") >= lo * Gen.C && col("vec_id") < hi * Gen.C),
          root, Params)
      }
      val (_, deleteS) = write("index.ShardedIndex.deleteVersioned") {
        ShardedIndex.deleteVersioned(spark, root, delGids)
      }
      val (live, compactS) = write("index.ShardedIndex.maybeCompactVersioned") {
        ShardedIndex.maybeCompactVersioned(spark, root, Params,
          maxDeltaFrac = CompactDeltaFrac)
      }
      val compacted = live.path != livePath
      livePath = live.path
      val (rows, readSec) = tr.timed("search+rerank", r)(search(root, qdf, hi, tr, r))
      (appendS, deleteS, compactS, compacted, rows, readSec)
    }
    val bytes = files.zip(files.tail).map { case (a, b) => written(a, b) }.sum
    writes += ((appendS, deleteS, compactS, compacted, bytes))
    System.err.println(f"perfbench: round $r append $appendS%.2f s, delete $deleteS%.2f s, " +
      f"maybeCompact $compactS%.2f s${if (compacted) " (compacted)" else ""}")

    var ok = true
    val byQ = rows.groupBy(_.getLong(0))
    ids.zip(sets).foreach { case (q, s) =>
      val got = byQ.getOrElse(q, Array.empty).sortBy(_.getInt(1))
        .map(x => (x.getLong(2), x.getDouble(3))).toSeq
      ok &= checkAnswer(q, s, got, corpus, gt(q),
        dead = d => deletedIn.get(d.toInt).exists(_ <= r))
    }
    Op(readSec, SearchSets,
      writeSec = appendS + deleteS + compactS,
      writeRows = AppendSets.toLong * Gen.C + delGids.size, failed = !ok)
  }


  /** Regular files under `root` as path -> (size, mtime). */
  private def bytesUnder(at: String): Map[String, (Long, Long)] = {
    val p = Path.of(at)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
        f.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
      }.toMap
      finally s.close()
    }
  }

  /** Bytes in files that are new or changed between two listings. */
  private def written(a: Map[String, (Long, Long)], b: Map[String, (Long, Long)]): Long =
    b.iterator.filter { case (f, v) => !a.get(f).contains(v) }.map(_._2._1).sum

  def buildRowsPerSec: Double = InitialSets * Gen.C / buildSec

  def layers(tr: Tracer): Map[String, Double] = {
    val searchS = tr.named("index.ShardedIndex.searchMultiDf").map(_.durNs / 1e9) ++
      tr.named("index.ShardedIndex.resolveVersioned").map(_.durNs / 1e9)
    val rerankS = tr.named("operators.Rerank.chamferTopK").map(_.durNs / 1e9)
    val compacting = writes.filter(_._4)
    Map(
      "index.build_s" -> buildSec,
      "index.search_s" -> median(searchS),
      "operators.rerank_s" -> median(rerankS),
      "operators.rerank_frac" -> rerankS.sum / (searchS.sum + rerankS.sum),
      "operators.cand_sets_per_qset" -> median(candStats.map(_._1).toSeq),
      "operators.pairs_scored" -> median(candStats.map(_._2).toSeq),
      "index.append_s" -> median(writes.map(_._1).toSeq),
      "index.delete_s" -> median(writes.map(_._2).toSeq),
      "index.maybe_compact_s" -> median(writes.filterNot(_._4).map(_._3).toSeq),
      "index.compact_s" -> median(compacting.map(_._3).toSeq),
      "index.compactions" -> compacting.size.toDouble,
      "index.bytes_written" -> writes.map(_._5.toDouble).sum,
      "index.shard_loads" -> (ShardedIndex.shardLoadCount - loads0).toDouble,
      "index.peak_resident_shards" -> ShardedIndex.peakResidentShards.toDouble)
  }
}

object IngestServe {
  val InitialSets = 384
  val AppendSets = 64
  val DeleteSets = 16
  val SearchSets = 64
  val Shards = 4
  /** Delta rows over base rows past which maybeCompact folds: with
    * 64-set appends onto 384+ sets it fires every second round. */
  val CompactDeltaFrac = 0.25
  val CompactEvery = 2
  val Params: BuildParams = BuildParams(mSq = 32, mPjbp = 16, lPjpq = 64,
    metric = "cosine")
  val Budget = 16
  val MinPq: Int = math.min(10, Budget / Gen.C)
  val MaxPq: Int = math.max(Budget * 2, 32)

  /** Rounds in a run: a fixed schedule, so recall and the number of
    * compactions depend only on the seed and the run length. */
  def rounds(seconds: Int): Int = math.max(CompactEvery, seconds / 10 * CompactEvery)
}
