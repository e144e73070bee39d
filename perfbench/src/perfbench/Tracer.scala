package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark runtime counters summed from listener events. Events of the
  * tracer's own barrier jobs are excluded (by job description). */
final class SparkCounters extends SparkListener {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "executor_run_ms", "executor_cpu_ns", "gc_ms")
  private val c = Array.fill(Names.size)(new AtomicLong)
  private val barrierStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val barriersSeen = new AtomicLong

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (Tracer.BarrierDesc == j.properties.getProperty("spark.job.description"))
      j.stageIds.foreach(s => barrierStages.add(s))
    else c(0).incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    if (barrierStages.remove(s.stageInfo.stageId)) barriersSeen.incrementAndGet()
    else c(1).incrementAndGet()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (!barrierStages.contains(t.stageId)) {
      c(2).incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        c(3).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c(4).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c(5).addAndGet(m.executorRunTime)
        c(6).addAndGet(m.executorCpuTime)
        c(7).addAndGet(m.jvmGCTime)
      }
    }

  def snapshot: Array[Long] = c.map(_.get)
}

/** One traced call: name, start/end (ns, JVM clock), the span that
  * caused it, the request it belongs to, and the Spark counter deltas
  * between its boundaries. Counters of a root span are exact (a barrier
  * flushes the listener at both ends); those of a nested span are read
  * without one, so a late event may land in its successor. */
final case class Span(id: Int, name: String, parent: Int, req: Long,
                      startNs: Long, durNs: Long, counters: Array[Long])

/** Spans around calls into the engine's public functions, kept in
  * memory and written as one JSON file when the run ends. Disabled, a
  * span is just the call: no listener is attached and nothing is
  * recorded, so the timed pass pays nothing for tracing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters = new SparkCounters
  if (enabled) spark.sparkContext.addSparkListener(counters)
  val spans = new ArrayBuffer[Span]
  private var stack: List[Int] = Nil
  private val t0 = System.nanoTime()

  /** Wait until the listener has seen every event posted so far: the bus
    * delivers in order, so once a marker job submitted now is seen, all
    * earlier events are too. */
  private def barrier(): Unit = {
    val seen = counters.barriersSeen.get
    spark.sparkContext.setJobDescription(Tracer.BarrierDesc)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (counters.barriersSeen.get == seen) {
      if (System.nanoTime() > deadline)
        sys.error("listener bus did not deliver the barrier marker in 30 s")
      Thread.sleep(1)
    }
  }

  def span[T](name: String, req: Long)(body: => T): T = timed(name, req)(body)._1

  /** [[span]] that also returns the call's duration in seconds. */
  def timed[T](name: String, req: Long)(body: => T): (T, Double) =
    if (!enabled) {
      val s = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - s) / 1e9)
    } else {
      val root = stack.isEmpty
      if (root) barrier()
      val id = spans.size
      spans += null // reserve the id; filled in at the end
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counters.snapshot
      val s = System.nanoTime()
      var dur = 0L
      try {
        val r = body
        dur = System.nanoTime() - s
        (r, dur / 1e9)
      } finally {
        if (dur == 0L) dur = System.nanoTime() - s
        if (root) barrier()
        val c1 = counters.snapshot
        stack = stack.tail
        spans(id) = Span(id, name, parent, req, s - t0, dur,
          c1.zip(c0).map { case (a, b) => a - b })
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def counterIndex(name: String): Int = counters.Names.indexOf(name)

  def writeJson(path: java.nio.file.Path, header: Map[String, String]): Unit = {
    val sb = new StringBuilder("{")
    header.foreach { case (k, v) => sb ++= s""""$k":"$v",""" }
    sb ++= s""""counters":[${counters.Names.map("\"" + _ + "\"").mkString(",")}],"""
    sb ++= "\"spans\":[\n"
    sb ++= spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"dur_ms":${s.durNs / 1e6}%.3f,""" +
        s""""counters":[${s.counters.mkString(",")}]}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val BarrierDesc = "perfbench_trace_barrier"
}
