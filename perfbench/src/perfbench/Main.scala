package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`, which builds
  * it): `--workload <mv_batch|mv_sql|ingest_serve> --seed <n>
  * --seconds <n> --trace <0|1> --work-dir <dir>`. Prints one JSON
  * result line last on stdout; exits 1 if any output check failed. */
object Main {
  /** Per-layer metric names and units, reported by every traced run
    * (0 where a workload does not exercise the layer). */
  val Layers: Seq[(String, String)] = Seq(
    "index.build_s" -> "s", "index.graph_edges" -> "count",
    "index.search_s" -> "s", "index.cmps_per_qset" -> "count",
    "index.hops_per_qset" -> "count", "index.kernel_ns_per_qset" -> "ns",
    "index.dist_ns" -> "ns",
    "operators.rerank_s" -> "s", "operators.rerank_frac" -> "fraction",
    "operators.cand_sets_per_qset" -> "count", "operators.pairs_scored" -> "count",
    "plans.plan_ms" -> "ms", "plans.exec_ms" -> "ms",
    "plans.routed_frac" -> "fraction", "plans.mv_queries_per_call" -> "count",
    "index.append_s" -> "s", "index.delete_s" -> "s",
    "index.maybe_compact_s" -> "s", "index.compact_s" -> "s",
    "index.compactions" -> "count", "index.bytes_written" -> "bytes",
    "index.shard_loads" -> "count", "index.peak_resident_shards" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "trace.overhead_frac" -> "fraction")

  final case class Pass(w: Workload, ops: Seq[Op], setupSec: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val workDir = Path.of(opt("work-dir")).toAbsolutePath
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.graft.index.residentShards", "2")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def make(rep: Int): Workload = {
      val d = workDir.resolve(s"rep$rep")
      Files.createDirectories(d)
      workload match {
        case "mv_batch" => new MvBatch(spark, seed, d)
        case "mv_sql" => new MvSql(spark, seed, d)
        case "ingest_serve" =>
          new IngestServe(spark, seed, d, IngestServe.rounds(seconds))
        case other => sys.error(s"unknown workload '$other'")
      }
    }
    val code =
      try {
        val (metrics, violations, ops) =
          if (!trace) {
            val p = timedPass(make(0), seconds, None)
            (endToEnd(p), p.w.violations.toSeq, p.ops)
          } else {
            // the traced pass, then the untraced pass it is compared
            // against (the tracing overhead); the first set-up is the
            // cold one, as in a timed run
            val tr = new Tracer(spark, enabled = true)
            val traced = timedPass(make(1), seconds, Some(tr))
            val own = traced.w.layers(tr)
            traced.w.close()
            tr.writeJson(workDir.resolve(s"trace-$workload-seed$seed.json"),
              Map("workload" -> workload, "seed" -> seed.toString))
            val plain = timedPass(make(2), seconds, None)
            plain.w.close()
            (perLayer(own, traced, plain, tr),
              Seq(traced.w, plain.w).flatMap(_.violations),
              traced.ops ++ plain.ops)
          }
        val failed = ops.count(_.failed)
        val correct = failed == 0 && violations.isEmpty
        violations.take(20).foreach(v => System.err.println(s"CHECK FAILED: $v"))
        if (violations.size > 20)
          System.err.println(s"... ${violations.size - 20} more check failures")
        println(json(correct, ops.size, failed, metrics))
        if (correct) 0 else 1
      } finally spark.stop()
    sys.exit(code)
  }

  /** One set-up, then a closed loop of operations for `seconds` (at
    * least `minOps`, at most `maxOps`). */
  private def timedPass(w: Workload, seconds: Int, tr: Option[Tracer]): Pass = {
    val off = new Tracer(null, enabled = false)
    val t0 = System.nanoTime()
    w.setup(tr.getOrElse(off))
    val setupSec = Workload.secs(t0)
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val end = System.nanoTime() + seconds * 1000000000L
    while (ops.size < w.maxOps &&
        (ops.size < w.minOps || System.nanoTime() < end)) {
      val o = w.op(ops.size, tr.getOrElse(off))
      System.err.println(f"perfbench: op ${ops.size} read ${o.readSec}%.3f s" +
        (if (o.writeSec > 0) f" write ${o.writeSec}%.3f s" else "") +
        (if (o.failed) " FAILED" else ""))
      ops += o
    }
    Pass(w, ops.toSeq, setupSec)
  }

  private def endToEnd(p: Pass): Seq[(String, Double, String)] = {
    val ops = p.ops
    val lat = ops.map(_.readSec * 1e3)
    val writeSec = ops.map(_.writeSec).sum
    Seq(
      ("setup_s", p.setupSec, "s"),
      ("qps", ops.map(_.qsets).sum / ops.map(_.readSec).sum, "qsets/s"),
      ("recall_at_10", p.w.recall, "fraction"),
      ("latency_p50_ms", Workload.percentile(lat, 0.50), "ms"),
      ("latency_p95_ms", Workload.percentile(lat, 0.95), "ms"),
      ("write_rows_per_s",
        if (writeSec > 0) ops.map(_.writeRows).sum / writeSec else p.w.buildRowsPerSec,
        "rows/s"))
  }

  private def perLayer(own: Map[String, Double], traced: Pass, plain: Pass,
                       tr: Tracer): Seq[(String, Double, String)] = {
    val opSpans = tr.named("op")
    def perOp(counter: String, scale: Double): Double =
      opSpans.map(_.counters(tr.counterIndex(counter)).toDouble).sum /
        math.max(opSpans.size, 1) * scale
    def meanOp(ops: Seq[Op]) = ops.map(o => o.readSec + o.writeSec).sum / ops.size
    val spark = Map(
      "spark.jobs" -> perOp("jobs", 1), "spark.stages" -> perOp("stages", 1),
      "spark.tasks" -> perOp("tasks", 1),
      "spark.shuffle_read_bytes" -> perOp("shuffle_read_bytes", 1),
      "spark.shuffle_write_bytes" -> perOp("shuffle_write_bytes", 1),
      "spark.executor_run_s" -> perOp("executor_run_ms", 1e-3),
      "spark.executor_cpu_s" -> perOp("executor_cpu_ns", 1e-9),
      "spark.gc_s" -> perOp("gc_ms", 1e-3),
      "index.dist_ns" -> Workload.distNs(traced.w.seed),
      "trace.overhead_frac" -> (meanOp(traced.ops) / meanOp(plain.ops) - 1))
    val all = own ++ spark
    Layers.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
  }

  private def json(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
