package graft.transe

import java.util.SplittableRandom

import scala.collection.mutable

/** Reference implementation of the SGD kernel, for exactness tests only:
  * [[TransETrainer.partitionSgd]] written with boxed `mutable.HashMap`
  * write-combining maps, a fresh gradient array per call and two separate
  * distance sums. It is the plain form of the kernel's arithmetic; the
  * allocation-free production kernel must emit exactly the same deltas
  * (SgdExactnessSpec). Its `dist` and `gradient` helpers are the
  * allocating per-call kernels the production code replaced with
  * `Kernels.distPair` and `Kernels.gradientInto`. */
private[transe] object ReferenceSgd {
  import TransETrainer.Delta

  private def dist(d: Distance, h: Array[Float], l: Array[Float], t: Array[Float]): Double =
    d match {
      case L1        => Kernels.distL1(h, l, t)
      case L2Squared => Kernels.distL2Sq(h, l, t)
    }

  /** Descent direction g = -dd/dh evaluated at (h, l, t):
    * L2: 2(t - h - l); L1: -sign(h + l - t) elementwise
    * (reference `gradient`, `TransE.py:352-369`). */
  private def gradient(d: Distance, h: Array[Float], l: Array[Float], t: Array[Float]): Array[Float] = {
    val k = h.length
    val g = new Array[Float](k)
    var i = 0
    d match {
      case L2Squared =>
        while (i < k) { g(i) = 2f * (t(i) - h(i) - l(i)); i += 1 }
      case L1 =>
        while (i < k) { g(i) = if (h(i) + l(i) - t(i) >= 0f) -1f else 1f; i += 1 }
    }
    g
  }

  private def pack(m: mutable.HashMap[Int, Array[Float]], dim: Int): (Array[Int], Array[Float]) = {
    val n = m.size
    val ids = new Array[Int](n)
    val vals = new Array[Float](n * dim)
    var i = 0
    val it = m.iterator
    while (it.hasNext) {
      val (id, v) = it.next()
      ids(i) = id
      System.arraycopy(v, 0, vals, i * dim, dim)
      i += 1
    }
    (ids, vals)
  }

  /** Executor-side SGD over one partition of the sampled batch — the
    * reference's `corrupt_minimize` (`TransE.py:172-218`) re-expressed.
    * Touched rows are copied once into local maps (write-combining) and
    * emitted as the partition delta.
    *
    * Parameter access is through `entBase`/`labBase` READ closures so the
    * broadcast store (full matrices) and the partitioned store
    * (`TransETrainer.fitDistributed`, per-partition prefetched rows) share this kernel bit-for-bit; the
    * closures must return the batch-start value for every id in the
    * partition's read set ({h, t, final corruption candidate} entities and
    * {l} labels per sampled triple — see [[readSet]]).
    *
    * RNG DISCIPLINE (the partitioned store depends on it): the
    * corruption stream consumes exactly `nextBoolean + nextInt*(1+redraws)`
    * per triple, and redraw count depends only on the membership set —
    * never on parameter values. That makes the stream replayable by
    * [[readSet]] without knowing the parameters.
    */
  def partitionSgd(
      pid: Int,
      it: Iterator[Triple],
      entBase: Int => Array[Float],
      labBase: Int => Array[Float],
      membership: TripleMembership,
      nEntities: Int,
      p: TransEParams,
      batchSeed: Long,
      bern: Array[Double] = null): Iterator[Delta] = {

    // Deterministic per-task stream: seed mixes batch and partition
    // (reference uses OS randomness, TransE.py:185 — SURVEY §7.5-3).
    val rng = new SplittableRandom(StableHash.corruptionSeed(batchSeed, pid))
    // Write-combining with DIRTY-ONLY shipping: rows enter the local maps
    // (and hence the emitted delta) only when actually updated. The
    // reference also ships rows it merely READ (`TransE.py:191-206`),
    // which lets an unchanged copy from a later partition stomp a real
    // update under last-writer-wins — shipping only dirty rows is both
    // cheaper (delta bytes track hinge violations, which decay as training
    // converges) and strictly better merge semantics (documented deviation,
    // SURVEY §7.5-2).
    val entLocal = new mutable.HashMap[Int, Array[Float]]()
    val labLocal = new mutable.HashMap[Int, Array[Float]]()
    def entRead(id: Int): Array[Float] = entLocal.getOrElse(id, entBase(id))
    def labRead(id: Int): Array[Float] = labLocal.getOrElse(id, labBase(id))
    def entWrite(id: Int): Array[Float] = entLocal.getOrElseUpdate(id, entBase(id).clone())
    def labWrite(id: Int): Array[Float] = labLocal.getOrElseUpdate(id, labBase(id).clone())

    var loss = 0.0
    it.foreach { tr =>
      // Corruption: flip head or tail — uniform 1/2 (TransE.py:252) or
      // the per-relation bern probability; redraw while the corrupted
      // triple is a real training triple (TransE.py:237-244), capped
      // (SURVEY §7.5-4). The bern array is DATA (relation statistics),
      // not parameters, so readSet's replay contract is preserved.
      val corruptHead =
        if (bern == null) rng.nextBoolean() else rng.nextDouble() < bern(tr.l)
      var candidate = rng.nextInt(nEntities)
      var tries = 0
      while (tries < p.rejectionCap &&
        (if (corruptHead) membership.contains(candidate, tr.l, tr.t)
         else membership.contains(tr.h, tr.l, candidate))) {
        candidate = rng.nextInt(nEntities)
        tries += 1
      }
      val nhId = if (corruptHead) candidate else tr.h
      val ntId = if (corruptHead) tr.t else candidate

      val dPos = dist(p.distance, entRead(tr.h), labRead(tr.l), entRead(tr.t))
      val dNeg = dist(p.distance, entRead(nhId), labRead(tr.l), entRead(ntId))
      val viol = p.margin + dPos - dNeg
      if (viol > 0) { // hinge activation (TransE.py:276)
        loss += viol
        val h = entWrite(tr.h)
        val l = labWrite(tr.l)
        val t = entWrite(tr.t)
        val nh = entWrite(nhId)
        val nt = entWrite(ntId)
        // Gradients computed from pre-update values, then applied jointly;
        // shared rows (l always; t or h on corruption overlap) accumulate
        // both contributions, which is exact joint SGD on the hinge term.
        val gPos = gradient(p.distance, h, l, t)
        val gNeg = gradient(p.distance, nh, l, nt)
        Kernels.axpyInPlace(p.lr, gPos, h)
        Kernels.axpyInPlace(p.lr, gPos, l)
        Kernels.axpyInPlace(-p.lr, gPos, t)
        Kernels.axpyInPlace(-p.lr, gNeg, nh)
        Kernels.axpyInPlace(-p.lr, gNeg, l)
        Kernels.axpyInPlace(p.lr, gNeg, nt)
        // Re-normalize touched ENTITY rows (TransE.py:214-217); labels are
        // only normalized at init (TransE.py:60).
        Kernels.normalizeInPlace(h)
        Kernels.normalizeInPlace(t)
        if (nhId != tr.h) Kernels.normalizeInPlace(nh)
        if (ntId != tr.t) Kernels.normalizeInPlace(nt)
      }
    }
    val (eIds, eVals) = pack(entLocal, p.dim)
    val (lIds, lVals) = pack(labLocal, p.dim)
    Iterator(Delta(pid, eIds, eVals, lIds, lVals, loss))
  }
}
