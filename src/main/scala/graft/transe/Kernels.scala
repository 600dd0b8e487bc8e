package graft.transe

import java.util.SplittableRandom

/** Dense float vector kernels for the SGD hot path.
  *
  * Mirrors the reference's numpy element-wise ops (`Embedding.py:21-27`,
  * `TransE.py:298-369`) as JIT-friendly manual loops — no boxing, and
  * the SGD kernels write into caller-owned scratch. These run inside
  * `mapPartitions` on executors, so they must be allocation-light: at
  * 100 TB scale this loop body executes trillions of times.
  */
object Kernels {

  /** Xavier-style uniform init U(-6/sqrt(k), +6/sqrt(k)) per element
    * (reference `TransE.py:45-57`, `Embedding.py:9`; from the TransE
    * paper). Seeded for reproducibility. */
  def uniformInit(n: Int, k: Int, seed: Long): Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    val bound = 6.0 / math.sqrt(k.toDouble)
    Array.fill(n)(Array.fill(k)((r.nextDouble() * 2 * bound - bound).toFloat))
  }

  /** In-place L2 row normalization v := v / ||v||_2 (reference
    * `Embedding.py:21-27`). No-op on the zero vector. */
  def normalizeInPlace(v: Array[Float]): Unit = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    if (s > 0) {
      val inv = (1.0 / math.sqrt(s)).toFloat
      i = 0
      while (i < v.length) { v(i) *= inv; i += 1 }
    }
  }

  def normalizeAll(m: Array[Array[Float]]): Unit = {
    var i = 0
    while (i < m.length) { normalizeInPlace(m(i)); i += 1 }
  }

  def l2Norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    math.sqrt(s)
  }

  /** L1 distance sum |h_i + l_i - t_i| (reference `TransE.py:298-303`). */
  def distL1(h: Array[Float], l: Array[Float], t: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < h.length) { s += math.abs(h(i) + l(i) - t(i)).toDouble; i += 1 }
    s
  }

  /** Squared L2 distance sum (h_i + l_i - t_i)^2 — no sqrt, matching the
    * paper's dissimilarity (reference `TransE.py:304-309`). */
  def distL2Sq(h: Array[Float], l: Array[Float], t: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < h.length) { val d = h(i) + l(i) - t(i); s += d.toDouble * d; i += 1 }
    s
  }

  /** Two-arg squared L2 (no translation vector) — used by the ANN/IVF
    * operators; avoids allocating a zero vector per call. */
  def distL2Sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d.toDouble * d; i += 1 }
    s
  }

  /** The positive and negative distances of one SGD step, d(h + l, t)
    * into `out(0)` and d(nh + l, nt) into `out(1)`, summed in ONE loop.
    * Each sum adds the same terms in the same order as [[distL1]] /
    * [[distL2Sq]] (so both are bit-identical to two separate calls); the
    * two sums are independent dependency chains, so they overlap in the
    * pipeline instead of running back to back. `out` is caller-owned
    * scratch: no allocation per call. */
  def distPair(d: Distance, h: Array[Float], l: Array[Float], t: Array[Float],
      nh: Array[Float], nt: Array[Float], out: Array[Double]): Unit = {
    var sPos = 0.0; var sNeg = 0.0
    var i = 0
    d match {
      case L1 =>
        while (i < h.length) {
          sPos += math.abs(h(i) + l(i) - t(i)).toDouble
          sNeg += math.abs(nh(i) + l(i) - nt(i)).toDouble
          i += 1
        }
      case L2Squared =>
        while (i < h.length) {
          val a = h(i) + l(i) - t(i); sPos += a.toDouble * a
          val b = nh(i) + l(i) - nt(i); sNeg += b.toDouble * b
          i += 1
        }
    }
    out(0) = sPos
    out(1) = sNeg
  }

  /** Descent direction g = -dd/dh evaluated at (h, l, t), written into the
    * caller's scratch row `g` (no allocation per call):
    * L2: 2(t - h - l); L1: [[l1Descent]](h + l - t) elementwise
    * (reference `gradient`, `TransE.py:352-369`). */
  def gradientInto(d: Distance, h: Array[Float], l: Array[Float], t: Array[Float],
      g: Array[Float]): Unit = {
    val k = h.length
    var i = 0
    d match {
      case L2Squared =>
        while (i < k) { g(i) = 2f * (t(i) - h(i) - l(i)); i += 1 }
      case L1 =>
        while (i < k) { g(i) = l1Descent(h(i) + l(i) - t(i)); i += 1 }
    }
  }

  /** `if (x >= 0f) -1f else 1f` for every float x — so -1 for +0.0 and
    * -0.0, +1 for NaN — computed on the bits without a branch. The sign
    * of a residual is a coin flip, so the branch form mispredicts about
    * every other component. x is "not >= 0" when it is negative and
    * nonzero (sign bit set, magnitude bits nonzero) or NaN (magnitude
    * bits above those of infinity); the result is -1f with its sign bit
    * flipped in that case. */
  def l1Descent(x: Float): Float = {
    val s = java.lang.Float.floatToRawIntBits(x)
    val a = s & 0x7fffffff
    val notGe = ((s >>> 31) & (-a >>> 31)) | ((0x7f800000 - a) >>> 31)
    java.lang.Float.intBitsToFloat(0xbf800000 ^ (notGe << 31))
  }

  /** y := y + a*x (axpy), the SGD update primitive
    * (reference `gradient_descent`, `TransE.py:313-350`). */
  def axpyInPlace(a: Float, x: Array[Float], y: Array[Float]): Unit = {
    var i = 0
    while (i < y.length) { y(i) += a * x(i); i += 1 }
  }

  /** Hinge (margin ranking) loss max(0, margin + dPos - dNeg)
    * (reference `minimize_L`, `TransE.py:258-285`). */
  def hinge(margin: Float, dPos: Double, dNeg: Double): Double =
    math.max(0.0, margin + dPos - dNeg)

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Cosine similarity, shared by the ANN / near-dup operators. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val na = l2Norm(a); val nb = l2Norm(b)
    if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
  }
}
