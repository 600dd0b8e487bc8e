package graft

import java.util.SplittableRandom

import graft.transe._

/** Property gate for the fused ranking scan (LinkPrediction's
  * `fusedCounts`): against a NAIVE full-sum reimplementation on
  * randomized models, both evaluators must produce IDENTICAL ranks. The
  * scan decides from float sums outside an error band and recomputes in
  * double inside it; the band is exact only because every distance term
  * is non-negative. This spec is the tripwire if a future distance breaks
  * that precondition or the fused loops drift from the definition.
  * (scalacheck's scalatest bridge isn't in the offline cache, so
  * properties are seeded-loop style, like KernelsSpec.) */
class RankEquivalenceSpec extends SparkSpec {

  private def naiveRanks(test: Seq[Triple], model: TransEModel): Seq[(Long, Long)] = {
    val ent = model.entity
    val lab = model.label
    val l1 = model.params.distance == L1
    def f(z: Float): Double = if (l1) math.abs(z).toDouble else z.toDouble * z
    // head candidate score d(e + l, t) = sum f(e_i + u_i), u = l - t
    def scoreAdd(e: Array[Float], u: Array[Float]): Double =
      e.indices.foldLeft(0.0)((s, i) => s + f(e(i) + u(i)))
    // tail candidate score d(h + l, e) = sum f(v_i - e_i), v = h + l
    def scoreSub(v: Array[Float], e: Array[Float]): Double =
      e.indices.foldLeft(0.0)((s, i) => s + f(v(i) - e(i)))
    test.map { tr =>
      val l = lab(tr.l); val h = ent(tr.h); val t = ent(tr.t)
      val k = l.length
      val u = Array.tabulate(k)(i => l(i) - t(i))
      val v = Array.tabulate(k)(i => h(i) + l(i))
      val dh = scoreAdd(h, u)
      val dt = scoreSub(v, t)
      var lessH = 0L; var lessT = 0L
      ent.foreach { e =>
        if (scoreAdd(e, u) < dh) lessH += 1
        if (scoreSub(v, e) < dt) lessT += 1
      }
      (lessH + 1, lessT + 1)
    }
  }

  /** Naive FILTERED ranks: a candidate counts only when strictly closer
    * than the true entity AND its triple is not a known one. */
  private def naiveFilteredRanks(test: Seq[Triple], model: TransEModel,
      known: Set[Triple]): Seq[(Long, Long)] = {
    val ent = model.entity
    val l1 = model.params.distance == L1
    def f(z: Float): Double = if (l1) math.abs(z).toDouble else z.toDouble * z
    test.map { tr =>
      val l = model.label(tr.l); val h = ent(tr.h); val t = ent(tr.t)
      val u = Array.tabulate(l.length)(i => l(i) - t(i))
      val v = Array.tabulate(l.length)(i => h(i) + l(i))
      def scoreAdd(e: Array[Float]) = e.indices.foldLeft(0.0)((s, i) => s + f(e(i) + u(i)))
      def scoreSub(e: Array[Float]) = e.indices.foldLeft(0.0)((s, i) => s + f(v(i) - e(i)))
      val (dh, dt) = (scoreAdd(h), scoreSub(t))
      val lessH = ent.indices.count(e =>
        scoreAdd(ent(e)) < dh && !known(Triple(e, tr.l, tr.t)))
      val lessT = ent.indices.count(e =>
        scoreSub(ent(e)) < dt && !known(Triple(tr.h, tr.l, e)))
      (lessH + 1L, lessT + 1L)
    }
  }

  private def randomModel(rng: SplittableRandom, n: Int, nLab: Int, k: Int,
      dist: Distance): TransEModel = {
    def mat(rows: Int) = Array.fill(rows)(
      Array.fill(k)((rng.nextDouble() * 2 - 1).toFloat))
    TransEModel(mat(n), mat(nLab), TransEParams(dim = k, distance = dist))
  }

  test("fused early-exit ranks == naive full-sum ranks (L1 and L2, randomized)") {
    import spark.implicits._
    val rng = new SplittableRandom(7)
    for (dist <- Seq[Distance](L1, L2Squared); trial <- 1 to 3) {
      val n = 40 + rng.nextInt(60)
      val k = 4 + rng.nextInt(12)
      val model = randomModel(rng, n, 3, k, dist)
      val test = Seq.fill(25)(
        Triple(rng.nextInt(n), rng.nextInt(3), rng.nextInt(n)))
      val want = naiveRanks(test, model)
      val got = LinkPrediction.rankTriples(test.toDS(), model)
        .collect().map(r => (r.rank_head, r.rank_tail)).toSeq
      // rankTriples may spread the block over more partitions first, so
      // row order is not the input order — compare as sorted multisets
      assert(got.sorted == want.sorted,
        s"dist=$dist trial=$trial n=$n k=$k: fused ranks diverged")
    }
  }

  test("fused scan counts == naive counts for 1-9 entities and k in {1, 7, 8, 9, 50}") {
    // the scan takes 4 rows per pass: entity counts 1-9 run the n mod 4
    // remainder rows. Thresholds sit exactly on, and one ulp either side
    // of, every candidate's full sum and its partial sums at every 8th
    // component — where a scan that dropped or misordered a term, or
    // stopped short, would miscount.
    val rng = new SplittableRandom(11)
    for (dist <- Seq[Distance](L1, L2Squared); n <- 1 to 9; k <- Seq(1, 7, 8, 9, 50)) {
      val model = randomModel(rng, n, 2, k, dist)
      val flat = model.entity.flatten
      def f(z: Float): Double = if (dist == L1) math.abs(z).toDouble else z.toDouble * z
      val tr = Triple(rng.nextInt(n), rng.nextInt(2), rng.nextInt(n))
      val l = model.label(tr.l); val h = model.entity(tr.h); val t = model.entity(tr.t)
      val u = Array.tabulate(k)(i => l(i) - t(i))
      val v = Array.tabulate(k)(i => h(i) + l(i))
      // prefix sums of every candidate, in component order
      val headSums = model.entity.map(e => (0 until k).scanLeft(0.0)((s, i) => s + f(e(i) + u(i))))
      val tailSums = model.entity.map(e => (0 until k).scanLeft(0.0)((s, i) => s + f(v(i) - e(i))))
      def thresholds(sums: Array[IndexedSeq[Double]]): Seq[Double] =
        sums.toSeq.flatMap(ps => (k +: (8 until k by 8)).map(ps(_)))
          .flatMap(x => Seq(math.nextDown(x), x, math.nextUp(x))).distinct
      val hs = thresholds(headSums)
      val ts = thresholds(tailSums)
      // a 0 threshold counts nothing, so pairing it with the other
      // side's thresholds lets that side alone decide
      val pairs = hs.flatMap(dh => Seq((dh, 0.0), (dh, ts(rng.nextInt(ts.length))))) ++
        ts.flatMap(dt => Seq((0.0, dt), (hs(rng.nextInt(hs.length)), dt)))
      for ((dh, dt) <- pairs) {
        val want = (headSums.count(_.last < dh).toLong, tailSums.count(_.last < dt).toLong)
        val got = LinkPrediction.fusedCounts(flat, n * k, k, u, v, dh, dt, dist == L1)
        assert(got == want, s"dist=$dist n=$n k=$k dh=$dh dt=$dt: fused counts diverged")
      }
    }
  }

  test("float band: fused counts == naive double counts at the band's hard cases") {
    // fusedCounts decides from float sums outside a band around the
    // threshold and recomputes in double inside it. Each case mixes rows
    // that land in or next to the band: copies of the true rows with
    // 1-ulp nudges (double sums within a few ulps of the threshold),
    // tiny components whose float squares underflow (L2), components
    // near Float.MaxValue / k whose float sums overflow, and NaN rows;
    // thresholds are the true distances plus values that put candidate
    // sums one ulp either side of a band edge. n runs 4 to 103, so most
    // cases also leave n mod 4 rows for the double remainder loop.
    val rng = new SplittableRandom(17)
    val ks = Seq(1, 2, 7, 8, 9, 16, 50, 64)
    for (dist <- Seq[Distance](L1, L2Squared); c <- 0 until 120) {
      val l1 = dist == L1
      val k = ks(rng.nextInt(ks.length))
      val n = 4 + rng.nextInt(100)
      val scale = c % 4 match {
        case 0 => 1.0
        case 1 => 1e-20
        case 2 => Float.MaxValue / k * (0.25 + rng.nextDouble())
        case _ => math.sqrt(Float.MaxValue / k) * (0.25 + rng.nextDouble())
      }
      def row() = Array.fill(k)(((rng.nextDouble() * 2 - 1) * scale).toFloat)
      val ent = Array.fill(n)(row())
      val lab = row()
      val (hi, ti) = (rng.nextInt(n), rng.nextInt(n))
      val u = Array.tabulate(k)(i => lab(i) - ent(ti)(i))
      val v = Array.tabulate(k)(i => ent(hi)(i) + lab(i))
      def nudge(src: Array[Float]) = src.map(x => rng.nextInt(3) match {
        case 0 => math.nextUp(x)
        case 1 => math.nextDown(x)
        case _ => x
      })
      for (r <- 0 until n if r != hi && r != ti) rng.nextInt(6) match {
        case 0 => ent(r) = nudge(ent(hi))
        case 1 => ent(r) = nudge(ent(ti))
        case 2 => ent(r) = ent(hi).clone()
        case 3 => ent(r)(rng.nextInt(k)) = Float.NaN
        case _ => ()
      }
      def f(z: Float): Double = if (l1) math.abs(z).toDouble else z.toDouble * z
      val headSums = ent.map(e => (0 until k).foldLeft(0.0)((s, i) => s + f(e(i) + u(i))))
      val tailSums = ent.map(e => (0 until k).foldLeft(0.0)((s, i) => s + f(v(i) - e(i))))
      // a threshold that puts sum x one ulp inside or outside each edge
      val rel = 2.0 * (k + 1) * math.scalb(1.0, -24)
      def nearEdges(x: Double): Seq[Double] = Seq(x / (1 + rel), x / (1 - rel))
        .flatMap(d => Seq(math.nextDown(d), d, math.nextUp(d)))
      def thresholds(sums: Array[Double], dTrue: Double): Seq[Double] =
        dTrue +: nearEdges(sums(rng.nextInt(n))) :+ math.nextUp(sums(rng.nextInt(n)))
      val flat = ent.flatten
      for (dh <- thresholds(headSums, headSums(hi)); dt <- thresholds(tailSums, tailSums(ti))) {
        val want = (headSums.count(_ < dh).toLong, tailSums.count(_ < dt).toLong)
        val got = LinkPrediction.fusedCounts(flat, n * k, k, u, v, dh, dt, l1)
        assert(got == want, s"dist=$dist case=$c n=$n k=$k scale=$scale dh=$dh dt=$dt")
      }
    }
  }

  test("rankTriples on a driver-built block: one job, no shuffle; a 1-split block is spread") {
    import spark.implicits._
    val rng = new SplittableRandom(19)
    val model = randomModel(rng, 64, 3, 10, L1)
    val block = Seq.fill(500)(Triple(rng.nextInt(64), rng.nextInt(3), rng.nextInt(64)))
    val p = spark.sparkContext.defaultParallelism
    val want = naiveRanks(block, model).sorted
    def ranked(ds: org.apache.spark.sql.Dataset[Triple]) =
      graft.metrics.JobProbe.measure(spark)(LinkPrediction.rankTriples(ds, model).collect()
        .map(r => (r.rank_head, r.rank_tail)).toSeq)

    val inPlace = ranked(block.toDS())
    assert(inPlace.jobs == 1, s"jobs: ${inPlace.jobRows.map(_.callSite)}")
    assert(inPlace.work.shuffleWriteBytes == 0L && inPlace.work.tasks == p, inPlace.work)
    assert(inPlace.result.sorted == want)

    val starved = ranked(block.toDS().coalesce(1))
    assert(starved.jobRows.map(_.work.tasks).max == p, starved.jobRows)
    assert(starved.result.sorted == want)
  }

  test("filtered ranks == naive filtered ranks (L1 and L2, n not a multiple of 4)") {
    import spark.implicits._
    val rng = new SplittableRandom(13)
    for (dist <- Seq[Distance](L1, L2Squared); n <- Seq(7, 33)) {
      val k = 9
      val model = randomModel(rng, n, 2, k, dist)
      // a small id space makes known triples share (l, t) and (h, l)
      // keys with the test triples, so the filter removes competitors
      val known = Seq.fill(6 * n)(
        Triple(rng.nextInt(n), rng.nextInt(2), rng.nextInt(n))).distinct
      val test = known.take(10) ++
        Seq.fill(5)(Triple(rng.nextInt(n), rng.nextInt(2), rng.nextInt(n)))
      val want = naiveFilteredRanks(test, model, known.toSet)
      val got = LinkPrediction.rankTriplesFiltered(test.toDS(), model, known.toDS())
        .collect().map(r => (r.rank_head, r.rank_tail)).toSeq
      assert(got.sorted == want.sorted, s"dist=$dist n=$n: filtered ranks diverged")
      assert(want != naiveRanks(test, model), "the filter removed nothing")
    }
  }
}
