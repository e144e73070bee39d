package perfbench

import java.util.Random

/** Seeded input generator. The engine only ever sees the rows made
  * here; the same seed gives the same corpus, queries and schedules.
  *
  * Corpus: `nSets` sets of [[C]] unit vectors in [[Dim]] dimensions.
  * Set centres are drawn around [[Clusters]] cluster means (set s in
  * cluster s mod [[Clusters]], so clusters are equal-sized), members
  * are noisy copies of their centre, everything L2-normalised, so each
  * set competes with the ~nSets/Clusters sets of its own cluster.
  * Vector `vec_id = set_id * C + sub` (the engine's fixed-cardinality
  * convention).
  *
  * Queries are cross-modal: a query set is a noisy copy of a target
  * corpus set shifted by one fixed "modality" offset, so the exact
  * smooth-Chamfer top-10 is meaningful (the target and its nearest
  * cluster-mates) while queries do not coincide with corpus vectors. */
object Gen {
  val C = 4
  val Dim = 64
  val Clusters = 32
  // per-coordinate noise scales (a vector of norm ~ sigma * sqrt(Dim))
  private val CentreSigma = 0.09
  private val MemberSigma = 0.07
  private val QuerySigma = 0.06
  private val ModalityShift = 0.25
  // norm of a cluster mean's own component next to the global direction
  private val MeanSpread = 0.7

  type VSet = Array[Array[Float]]

  private def unit(v: Array[Double]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val inv = 1.0 / math.sqrt(s)
    v.map(x => (x * inv).toFloat)
  }

  private def gaussian(r: Random): Array[Double] =
    Array.fill(Dim)(r.nextGaussian())

  private def noisy(r: Random, base: Array[Float], sigma: Double,
                    shift: Array[Float] = null): Array[Float] =
    unit(Array.tabulate(Dim) { i =>
      base(i) + sigma * r.nextGaussian() +
        (if (shift == null) 0.0 else shift(i).toDouble)
    })

  /** The shared model of one seed: cluster means and modality offset. */
  final class Model(seed: Long) {
    private val r = new Random(seed * 0x9E3779B97F4A7C15L + 1)
    // cluster means share one global direction, so clusters overlap
    // rather than sit on orthogonal islands and every seed's corpus is
    // about equally hard to navigate
    private val global = unit(gaussian(r))
    val means: Array[Array[Float]] = Array.fill(Clusters) {
      val g = gaussian(r)
      unit(Array.tabulate(Dim)(i => global(i) + MeanSpread * g(i) / math.sqrt(Dim)))
    }
    val shift: Array[Float] = unit(gaussian(r)).map(x => (x * ModalityShift).toFloat)
  }

  /** `nSets` corpus sets; set i depends only on (seed, i), so a larger
    * corpus of the same seed extends a smaller one. */
  def corpus(seed: Long, nSets: Int): Array[VSet] = {
    val m = new Model(seed)
    Array.tabulate(nSets) { s =>
      val r = new Random(seed * 1000003L + s)
      val centre = noisy(r, m.means(s % Clusters), CentreSigma)
      Array.fill(C)(noisy(r, centre, MemberSigma))
    }
  }

  /** One cross-modal query set per target (noisy, shifted copies of the
    * target's members); `salt` separates independent query streams. */
  def queries(seed: Long, corpus: Array[VSet], targets: Array[Int],
              salt: Long): Array[VSet] = {
    val m = new Model(seed)
    targets.zipWithIndex.map { case (t, i) =>
      val r = new Random(seed * 7919L + salt * 1000033L + i)
      corpus(t).map(v => noisy(r, v, QuerySigma, m.shift))
    }
  }

  /** `n` distinct ints in [lo, hi), seeded (partial Fisher-Yates). */
  def sample(seed: Long, salt: Long, lo: Int, hi: Int, n: Int): Array[Int] = {
    val r = new Random(seed * 31L + salt)
    val a = Array.range(lo, hi)
    require(n <= a.length, s"cannot sample $n of ${a.length}")
    var i = 0
    while (i < n) {
      val j = i + r.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    a.take(n)
  }

  /** Training queries for the RoarGraph build: query-modality vectors
    * drawn like [[queries]] but from an independent stream, so the graph
    * never sees the measured queries. Returned as flat vectors. */
  def training(seed: Long, corpus: Array[VSet], nSets: Int): Array[Array[Float]] =
    queries(seed, corpus, sample(seed, 97L, 0, corpus.length, nSets), salt = 97L)
      .flatten
}
