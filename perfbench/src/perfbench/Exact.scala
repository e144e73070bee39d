package perfbench

import java.util.concurrent.{Executors, TimeUnit}

/** The benchmark's own yardstick: the exact smooth-Chamfer set score
  * (tau = 16, text scale 1, denominator 2, both terms over the query
  * set's cardinality) written here, independently of the engine's
  * scorers, so a change to those cannot move the reference answer.
  * Pairwise cosine is taken over float inputs promoted to double. */
object Exact {
  val Tau = 16.0
  val K = 10
  /** The engine rounds returned scores to 6 decimals; a returned score
    * must be the rounding of the exact one, up to float-ordering noise. */
  val ScoreTol = 0.5e-6 + 1e-9

  private def norm(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  /** Per-set vector norms, computed once per set. */
  def norms(s: Gen.VSet): Array[Double] = s.map(norm)

  def chamfer(q: Gen.VSet, qn: Array[Double], d: Gen.VSet, dn: Array[Double]): Double = {
    val ni = q.length
    val nj = d.length
    val sim = Array.ofDim[Double](ni, nj)
    var i = 0
    while (i < ni) {
      var j = 0
      while (j < nj) {
        val a = q(i); val b = d(j)
        var dot = 0.0
        var k = 0
        while (k < a.length) { dot += a(k).toDouble * b(k); k += 1 }
        sim(i)(j) = Tau * (dot / (qn(i) * dn(j)))
        j += 1
      }
      i += 1
    }
    // stable log-sum-exp over one row (i fixed) or one column (j fixed)
    var rows = 0.0
    i = 0
    while (i < ni) {
      var mx = Double.NegativeInfinity
      var j = 0
      while (j < nj) { mx = math.max(mx, sim(i)(j)); j += 1 }
      var e = 0.0
      j = 0
      while (j < nj) { e += math.exp(sim(i)(j) - mx); j += 1 }
      rows += mx + math.log(e)
      i += 1
    }
    var cols = 0.0
    var j = 0
    while (j < nj) {
      var mx = Double.NegativeInfinity
      i = 0
      while (i < ni) { mx = math.max(mx, sim(i)(j)); i += 1 }
      var e = 0.0
      i = 0
      while (i < ni) { e += math.exp(sim(i)(j) - mx); i += 1 }
      cols += mx + math.log(e)
      j += 1
    }
    (rows / (ni * Tau) + cols / (ni * Tau)) / 2.0
  }

  def chamfer(q: Gen.VSet, d: Gen.VSet): Double = chamfer(q, norms(q), d, norms(d))

  /** Exact top-[[K]] set ids per query over the `live` corpus sets,
    * ordered by (score desc, id asc); scored on `threads` threads. */
  def topK(queries: Array[Gen.VSet], corpus: Array[Gen.VSet],
           live: Int => Boolean, threads: Int): Array[Array[Int]] = {
    val cn = corpus.map(norms)
    val out = new Array[Array[Int]](queries.length)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futs = queries.indices.grouped(math.max(1, queries.length / (threads * 4) + 1))
        .map { chunk =>
          pool.submit(new Runnable {
            def run(): Unit = chunk.foreach { qi =>
              val q = queries(qi)
              val qn = norms(q)
              // bounded min-heap of (score, id) on the ranking order
              val heap = new java.util.PriorityQueue[(Double, Int)](K + 1,
                (a: (Double, Int), b: (Double, Int)) =>
                  if (a._1 != b._1) java.lang.Double.compare(a._1, b._1)
                  else Integer.compare(b._2, a._2))
              var s = 0
              while (s < corpus.length) {
                if (live(s)) {
                  heap.add((chamfer(q, qn, corpus(s), cn(s)), s))
                  if (heap.size > K) heap.poll()
                }
                s += 1
              }
              out(qi) = Iterator.continually(heap.poll()).take(heap.size)
                .toArray.reverse.map(_._2)
            }
          })
        }.toList
      futs.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    out
  }
}
