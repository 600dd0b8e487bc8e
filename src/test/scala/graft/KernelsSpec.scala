package graft

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

import graft.transe._

/** Property-style tests over seeded random inputs (FIXTURES.md §C).
  * scalacheck's scalatest bridge isn't in the offline cache, so properties
  * are checked with an explicit seeded loop — same coverage, deterministic.
  */
class KernelsSpec extends AnyFunSuite {

  private def cases(n: Int)(body: SplittableRandom => Unit): Unit = {
    val r = new SplittableRandom(12345)
    (0 until n).foreach(_ => body(r))
  }

  private def vec(r: SplittableRandom, k: Int, scale: Float = 10f): Array[Float] =
    Array.fill(k)((r.nextDouble() * 2 - 1).toFloat * scale)

  test("normalize yields unit L2 norm; idempotent (Embedding.py:21-27)") {
    cases(200) { r =>
      val v = vec(r, 2 + r.nextInt(63))
      if (Kernels.l2Norm(v) > 1e-4) {
        Kernels.normalizeInPlace(v)
        assert(math.abs(Kernels.l2Norm(v) - 1.0) < 1e-4)
        val before = v.clone()
        Kernels.normalizeInPlace(v)
        assert(v.zip(before).forall { case (a, b) => math.abs(a - b) < 1e-5 })
      }
    }
  }

  test("normalize is a no-op on the zero vector") {
    val z = Array.fill(8)(0.0f)
    Kernels.normalizeInPlace(z)
    assert(z.forall(_ == 0.0f))
  }

  test("distances non-negative; zero iff h + l == t") {
    cases(200) { r =>
      val k = 2 + r.nextInt(31)
      val (h, l, t) = (vec(r, k, 5f), vec(r, k, 5f), vec(r, k, 5f))
      assert(Kernels.distL1(h, l, t) >= 0.0)
      assert(Kernels.distL2Sq(h, l, t) >= 0.0)
    }
    val h = Array(1f, 2f); val l = Array(3f, -1f); val t = Array(4f, 1f)
    assert(Kernels.distL1(h, l, t) == 0.0)
    assert(Kernels.distL2Sq(h, l, t) == 0.0)
  }

  /** Gradient into a scratch row pre-filled with garbage, so a component
    * the kernel fails to write shows. */
  private def gradient(d: Distance, h: Array[Float], l: Array[Float],
      t: Array[Float]): Array[Float] = {
    val g = Array.fill(h.length)(Float.NaN)
    Kernels.gradientInto(d, h, l, t, g)
    g
  }

  test("L1 gradient is ±1-valued (TransE.py:363-365)") {
    cases(200) { r =>
      val k = 2 + r.nextInt(31)
      val g = gradient(L1, vec(r, k), vec(r, k), vec(r, k))
      assert(g.forall(x => x == 1.0f || x == -1.0f))
    }
  }

  test("L1 gradient sign is `x >= 0f`: -1 for +0.0 and -0.0, +1 for NaN") {
    val specials = Seq(0.0f, -0.0f, Float.NaN, Float.MinPositiveValue,
      -Float.MinPositiveValue, Float.PositiveInfinity, Float.NegativeInfinity)
    val r = new SplittableRandom(5)
    val xs = specials ++ Seq.fill(200)(java.lang.Float.intBitsToFloat(r.nextInt()))
    val h = xs.toArray
    val zero = Array.fill(h.length)(0.0f)
    val g = gradient(L1, h, zero, zero) // x = h + 0 - 0 keeps h's sign and NaN
    h.indices.foreach { i =>
      val x = h(i) + zero(i) - zero(i)
      assert(g(i) == (if (x >= 0f) -1f else 1f), s"x=$x")
    }
    assert(g.take(3).toSeq == Seq(-1f, -1f, 1f))
    // -0.0 as the sum itself: (-0) + (-0) - (+0) == -0.0
    assert(gradient(L1, Array(-0.0f), Array(-0.0f), Array(0.0f)).head == -1f)
    // the bit-level sign against the comparison over a sweep of all float
    // bit patterns, plus every pattern next to ±0, ±infinity and NaN
    val edges = Seq(0x00000000, 0x80000000, 0x7f800000, 0xff800000, 0x7fc00000,
      0xffc00000).flatMap(b => Seq(b - 1, b, b + 1))
    (edges.iterator ++ Iterator.iterate(0L)(_ + 4099L).takeWhile(_ < (1L << 32))
      .map(_.toInt)).foreach { bits =>
      val x = java.lang.Float.intBitsToFloat(bits)
      assert(Kernels.l1Descent(x) == (if (x >= 0f) -1f else 1f), f"bits=0x$bits%08x")
    }
  }

  test("L2 gradient equals 2(t - h - l) (TransE.py:359-361)") {
    cases(200) { r =>
      val k = 2 + r.nextInt(31)
      val (h, l, t) = (vec(r, k), vec(r, k), vec(r, k))
      val g = gradient(L2Squared, h, l, t)
      g.indices.foreach { i =>
        assert(math.abs(g(i) - 2f * (t(i) - h(i) - l(i))) < 1e-3)
      }
    }
  }

  test("fused distance pair equals two separate distance sums, bit for bit") {
    val out = new Array[Double](2)
    cases(200) { r =>
      val k = 1 + r.nextInt(64)
      val (h, l, t) = (vec(r, k), vec(r, k), vec(r, k))
      val other = vec(r, k)
      // the negative triple shares a row with the positive one, as a
      // corruption of one side does
      val (nh, nt) = if (r.nextBoolean()) (h, other) else (other, t)
      Kernels.distPair(L1, h, l, t, nh, nt, out)
      assert(out(0) == Kernels.distL1(h, l, t) && out(1) == Kernels.distL1(nh, l, nt))
      Kernels.distPair(L2Squared, h, l, t, nh, nt, out)
      assert(out(0) == Kernels.distL2Sq(h, l, t) && out(1) == Kernels.distL2Sq(nh, l, nt))
    }
  }

  test("gradient step decreases distance (descent direction)") {
    cases(200) { r =>
      val k = 2 + r.nextInt(31)
      val (h, l, t) = (vec(r, k, 5f), vec(r, k, 5f), vec(r, k, 5f))
      if (Kernels.distL2Sq(h, l, t) > 1e-3) {
        val d0 = Kernels.distL2Sq(h, l, t)
        val g = gradient(L2Squared, h, l, t)
        val h2 = h.clone()
        Kernels.axpyInPlace(0.001f, g, h2)
        assert(Kernels.distL2Sq(h2, l, t) < d0)
      }
    }
  }

  test("hinge is non-negative; zero when margin satisfied (TransE.py:276)") {
    assert(Kernels.hinge(1.0f, 2.0, 5.0) == 0.0)
    assert(Kernels.hinge(1.0f, 2.0, 2.5) == 0.5)
    cases(200) { r =>
      val a = r.nextDouble() * 20 - 10
      val b = r.nextDouble() * 20 - 10
      assert(Kernels.hinge(1.0f, a, b) >= 0.0)
    }
  }

  test("uniformInit is seeded-deterministic and in ±6/sqrt(k)") {
    val a = Kernels.uniformInit(10, 25, seed = 7)
    val b = Kernels.uniformInit(10, 25, seed = 7)
    val c = Kernels.uniformInit(10, 25, seed = 8)
    assert(a.flatten.toSeq == b.flatten.toSeq)
    assert(a.flatten.toSeq != c.flatten.toSeq)
    val bound = 6.0 / math.sqrt(25.0)
    assert(a.flatten.forall(x => x >= -bound && x <= bound))
  }

  test("cosine: 1 for parallel, 0 for orthogonal") {
    assert(math.abs(Kernels.cosine(Array(1f, 0f), Array(2f, 0f)) - 1.0) < 1e-6)
    assert(math.abs(Kernels.cosine(Array(1f, 0f), Array(0f, 3f))) < 1e-6)
  }
}
