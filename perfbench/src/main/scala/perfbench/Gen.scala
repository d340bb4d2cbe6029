package perfbench

import java.util.SplittableRandom

/** Every input the engine receives is made here from the run's seed.
  * Each kind of input draws from its own stream (seed mixed with a fixed
  * stream tag), so adding draws to one kind never shifts another.
  */
final class Gen(seed: Long) {
  def stream(tag: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ tag.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  private def gaussian(r: SplittableRandom): Double = {
    // Marsaglia polar method: exact, and deterministic for a given stream
    var u, v, s = 0.0
    while ({
      u = r.nextDouble() * 2 - 1; v = r.nextDouble() * 2 - 1; s = u * u + v * v
      s >= 1 || s == 0
    }) ()
    u * math.sqrt(-2 * math.log(s) / s)
  }

  /** `n` vectors of `dim` floats from a mixture of `k` Gaussian clusters
    * (centres spread with unit scale, members at `spread` around them).
    */
  def mixture(tag: String, n: Int, dim: Int, k: Int, spread: Double = 0.35): Array[Array[Float]] = {
    val r = stream(tag)
    val centres = Array.fill(k, dim)(gaussian(r))
    Array.fill(n) {
      val c = centres(r.nextInt(k))
      Array.tabulate(dim)(i => (c(i) + spread * gaussian(r)).toFloat)
    }
  }

  /** A query near the data: a corpus vector moved by a small offset, so
    * queries land inside clusters without being corpus members.
    */
  def queriesNear(tag: String, corpus: Array[Array[Float]], n: Int): Array[Array[Float]] = {
    val r = stream(tag)
    Array.fill(n) {
      val v = corpus(r.nextInt(corpus.length))
      Array.tabulate(v.length)(i => (v(i) + 0.2 * gaussian(r)).toFloat)
    }
  }

  def ints(tag: String, n: Int, bound: Int): Array[Int] = {
    val r = stream(tag)
    Array.fill(n)(r.nextInt(bound))
  }

  /** Routed-search filters: every odd request carries a `[lo, hi)` range
    * on the integer field, with a selectivity drawn per request from
    * 5–50%. Alternating, rather than drawing which requests filter, keeps
    * the filtered share of a short window at one half on every seed.
    */
  def rangeFilters(tag: String, n: Int, bound: Int): Array[Option[(Int, Int)]] = {
    val r = stream(tag)
    Array.tabulate(n) { i =>
      if (i % 2 == 1) {
        val width = math.max(1, (bound * (0.05 + 0.45 * r.nextDouble())).toInt)
        val lo = r.nextInt(bound - width + 1)
        Some((lo, lo + width))
      } else None
    }
  }
}
