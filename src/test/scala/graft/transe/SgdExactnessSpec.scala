package graft.transe

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

/** Exactness gate for the allocation-free SGD kernel: on seeded random
  * partitions, [[TransETrainer.partitionSgd]] must emit exactly the Delta
  * of [[ReferenceSgd.partitionSgd]] — the same id -> row map compared by
  * float bits, the same loss by `==`. Small id spaces make rows repeat
  * within a partition (reads of already-written rows) and make corruption
  * candidates land on the triple's own ids (aliased rows); a replay of the
  * corruption stream checks that those cases and rejection-cap hits
  * really occurred. Spark-free: the kernel is called directly. */
class SgdExactnessSpec extends AnyFunSuite {

  private final case class Partition(
      triples: Array[Triple], membership: TripleMembership, nEntities: Int,
      ent: Array[Array[Float]], lab: Array[Array[Float]], p: TransEParams,
      bern: Array[Double], pid: Int, batchSeed: Long) {
    def sampler = new NegativeSampler(membership, nEntities, p.rejectionCap, bern)
  }

  /** The exact set of `known`, built as the trainer builds it: one block
    * of words in the `keys` format, sorted. */
  private def packed(known: Iterable[Triple], keys: TripleKeys): PackedMembership = {
    val block = TripleBlock.pack(known.iterator, keys, Int.MaxValue, Int.MaxValue)
      .fold(tr => fail(s"$tr does not pack"), identity)
    new PackedMembership(TripleBlock.sorted(keys, Iterator(block.words)))
  }

  /** A random partition over `nEnt` entities. Every triple of the
    * partition is known, plus, for a few (h, l) pairs and (l, t) pairs,
    * every possible tail or head: corruptions of triples there are always
    * rejected, so they run into the rejection cap. */
  private def randomPartition(r: SplittableRandom, nEnt: Int, nLab: Int, dim: Int,
      nTriples: Int, dist: Distance, bern: Boolean, cap: Int): Partition = {
    val triples = Array.fill(nTriples)(
      Triple(r.nextInt(nEnt), r.nextInt(nLab), r.nextInt(nEnt)))
    val known = scala.collection.mutable.HashSet(triples.toSeq: _*)
    if (nTriples > 0) (0 until 3).foreach { _ =>
      val tr = triples(r.nextInt(nTriples))
      (0 until nEnt).foreach { e =>
        known += Triple(tr.h, tr.l, e)
        known += Triple(e, tr.l, tr.t)
      }
    }
    val seed = r.nextLong()
    val ent = Kernels.uniformInit(nEnt, dim, seed)
    val lab = Kernels.uniformInit(nLab, dim, seed + 1)
    Kernels.normalizeAll(ent)
    Kernels.normalizeAll(lab)
    Partition(triples, packed(known, TripleKeys(nEnt, nLab)), nEnt, ent, lab,
      TransEParams(dim = dim, distance = dist, rejectionCap = cap,
        margin = 1f + r.nextInt(3), lr = 0.01f * (1 + r.nextInt(20)),
        seed = seed, bernCorruption = bern),
      if (bern) Array.fill(nLab)(r.nextDouble()) else null,
      r.nextInt(16), r.nextLong())
  }

  private def deepCopy(m: Array[Array[Float]]) = m.map(_.clone())

  private def production(c: Partition): TransETrainer.Delta = {
    val (ent, lab) = (deepCopy(c.ent), deepCopy(c.lab))
    TransETrainer.partitionSgd(c.pid, c.triples.iterator, ent(_), lab(_),
      c.sampler, c.p, c.batchSeed).next()
  }

  private def reference(c: Partition): TransETrainer.Delta = {
    val (ent, lab) = (deepCopy(c.ent), deepCopy(c.lab))
    ReferenceSgd.partitionSgd(c.pid, c.triples.iterator, ent(_), lab(_),
      c.membership, c.nEntities, c.p, c.batchSeed, c.bern).next()
  }

  private def rowsByBits(ids: Array[Int], vals: Array[Float], dim: Int): Map[Int, Seq[Int]] = {
    assert(ids.distinct.length == ids.length, "an id occurs twice in one Delta")
    ids.indices.map { i =>
      ids(i) -> vals.slice(i * dim, (i + 1) * dim)
        .map(java.lang.Float.floatToRawIntBits).toSeq
    }.toMap
  }

  private def assertSameDelta(got: TransETrainer.Delta, want: TransETrainer.Delta,
      dim: Int, clue: String): Unit = {
    assert(got.pid == want.pid, clue)
    assert(got.loss == want.loss, s"$clue: loss ${got.loss} vs ${want.loss}")
    assert(rowsByBits(got.entIds, got.entVals, dim) ==
      rowsByBits(want.entIds, want.entVals, dim), s"$clue: entity rows differ")
    assert(rowsByBits(got.labIds, got.labVals, dim) ==
      rowsByBits(want.labIds, want.labVals, dim), s"$clue: label rows differ")
  }

  /** Replays the corruption stream as the kernel draws it and counts the
    * aliasing cases: (nh == h, nt == t, nh == t, nt == h, cap hits). */
  private def aliasing(c: Partition): Seq[Int] = {
    val rng = new SplittableRandom(StableHash.corruptionSeed(c.batchSeed, c.pid))
    val counts = Array.fill(5)(0)
    c.triples.foreach { tr =>
      val corruptHead =
        if (c.bern == null) rng.nextBoolean() else rng.nextDouble() < c.bern(tr.l)
      var candidate = rng.nextInt(c.nEntities)
      var tries = 0
      while (tries < c.p.rejectionCap &&
        (if (corruptHead) c.membership.contains(candidate, tr.l, tr.t)
         else c.membership.contains(tr.h, tr.l, candidate))) {
        candidate = rng.nextInt(c.nEntities)
        tries += 1
      }
      if (corruptHead && candidate == tr.h) counts(0) += 1
      if (!corruptHead && candidate == tr.t) counts(1) += 1
      if (corruptHead && candidate == tr.t) counts(2) += 1
      if (!corruptHead && candidate == tr.h) counts(3) += 1
      if (c.p.rejectionCap > 0 && tries == c.p.rejectionCap) counts(4) += 1
    }
    counts.toSeq
  }

  test("allocation-free kernel emits exactly the reference Delta (L1/L2, bern on/off)") {
    val r = new SplittableRandom(20240611)
    var seen = Seq.fill(5)(0)
    var active = 0
    for (dist <- Seq[Distance](L1, L2Squared); bern <- Seq(false, true); trial <- 0 until 12) {
      val nEnt = Seq(2, 3, 5, 17, 64, 500)(trial % 6)
      val dim = Seq(1, 7, 50)(trial % 3)
      val cap = Seq(0, 1, 3, 100)(trial % 4)
      val c = randomPartition(r, nEnt, 1 + r.nextInt(4), dim, r.nextInt(400), dist, bern, cap)
      val clue = s"dist=$dist bern=$bern trial=$trial nEnt=$nEnt dim=$dim cap=$cap"
      val want = reference(c)
      assertSameDelta(production(c), want, dim, clue)
      seen = seen.zip(aliasing(c)).map { case (a, b) => a + b }
      if (want.loss > 0) active += 1
    }
    assert(active > 0, "no partition had an active hinge")
    Seq("nh == h", "nt == t", "nh == t", "nt == h", "rejection cap hit").zip(seen)
      .foreach { case (what, n) => assert(n > 0, s"no case with $what") }
  }

  test("an empty partition emits an empty Delta with zero loss") {
    val r = new SplittableRandom(3)
    for (dist <- Seq[Distance](L1, L2Squared)) {
      val c = randomPartition(r, 8, 2, 5, 0, dist, bern = false, cap = 100)
      val got = production(c)
      assertSameDelta(got, reference(c), 5, s"dist=$dist")
      assert(got.entIds.isEmpty && got.labIds.isEmpty && got.loss == 0.0)
    }
  }

  test("the kernel leaves the base rows it reads untouched") {
    val r = new SplittableRandom(11)
    val c = randomPartition(r, 5, 2, 7, 200, L1, bern = false, cap = 3)
    val (ent, lab) = (deepCopy(c.ent), deepCopy(c.lab))
    val d = TransETrainer.partitionSgd(c.pid, c.triples.iterator, ent(_), lab(_),
      c.sampler, c.p, c.batchSeed).next()
    assert(d.entIds.nonEmpty)
    assert(ent.map(_.toSeq).toSeq == c.ent.map(_.toSeq).toSeq)
    assert(lab.map(_.toSeq).toSeq == c.lab.map(_.toSeq).toSeq)
  }

  test("readSet returns exactly the entity ids the kernel reads (bern on/off, cap hits)") {
    val r = new SplittableRandom(20240612)
    var capHits = 0
    for (bern <- Seq(false, true); trial <- 0 until 12) {
      val nEnt = Seq(2, 3, 5, 17, 64, 500)(trial % 6)
      val cap = Seq(0, 1, 3, 100)(trial % 4)
      val c = randomPartition(r, nEnt, 1 + r.nextInt(4), 7, r.nextInt(400), L1, bern, cap)
      val (ent, lab) = (deepCopy(c.ent), deepCopy(c.lab))
      val read = new java.util.HashSet[Integer]()
      TransETrainer.partitionSgd(c.pid, c.triples.iterator, { id => read.add(id); ent(id) },
        lab(_), c.sampler, c.p, c.batchSeed).next()
      val replayed = TransETrainer.readSet(c.pid, c.triples.iterator, c.sampler, c.batchSeed)
      assert(replayed == read, s"bern=$bern trial=$trial nEnt=$nEnt cap=$cap")
      capHits += aliasing(c)(4)
    }
    assert(capHits > 0, "no rejection cap hit")
  }

  test("PackedMembership.contains agrees with a HashSet") {
    // the offset index is rebuilt when the set is read back, so check the
    // copy a strict (registrationRequired) Kryo hands to the executors
    val kryo = new org.apache.spark.serializer.KryoSerializer(
      new org.apache.spark.SparkConf(false)
        .set("spark.kryo.registrator", classOf[graft.GraftKryo].getName)
        .set("spark.kryo.registrationRequired", "true")).newInstance()
    // 27 + 10 + 27 = 64-bit keys (one Long per triple) and 30 + 10 + 30 =
    // 70-bit keys (two Longs per triple)
    for (keys <- Seq(TripleKeys(1 << 27, 1 << 10), TripleKeys(1 << 30, 1 << 10))) {
      assert(keys.packs == (keys.entityBits == 27))
      val r = new SplittableRandom(99)
      val maxEnt = (1 << keys.entityBits) - 1
      val maxLab = (1 << keys.labelBits) - 1
      val topBit = 1 << (keys.entityBits - 1)
      def check(set: Set[(Int, Int, Int)], probes: Seq[(Int, Int, Int)]): Unit = {
        val m = kryo.deserialize[PackedMembership](kryo.serialize(
          packed(set.map { case (h, l, t) => Triple(h, l, t) }, keys)))
        (set.toSeq ++ probes).foreach { case (h, l, t) =>
          assert(m.contains(h, l, t) == set.contains((h, l, t)), s"$keys: ($h, $l, $t)")
        }
      }
      // empty set: nothing is a member, whatever the head
      check(Set.empty, Seq((0, 0, 0), (1, 2, 3), (maxEnt, maxLab, maxEnt)))
      for (trial <- 0 until 20) {
        // heads drawn from a few small ids, a few ids around the head's top
        // bit (the key's sign bit when keys use all 64 bits) and the largest id
        val heads = Seq.fill(2 + r.nextInt(6))(r.nextInt(50)) ++
          Seq(topBit - 1, topBit, maxEnt).filter(_ => r.nextBoolean())
        val set = Seq.fill(r.nextInt(300))((
          heads(r.nextInt(heads.length)),
          if (r.nextBoolean()) r.nextInt(4) else maxLab,
          if (r.nextBoolean()) r.nextInt(60) else maxEnt - r.nextInt(3))).toSet
        val maxHead = if (set.isEmpty) 0 else set.map(_._1).max
        val probes = Seq.fill(500) {
          val (h, l, t) = if (set.isEmpty) (0, 0, 0) else set.toSeq(r.nextInt(set.size))
          r.nextInt(6) match {
            case 0 => (h, l, (t + 1) % (maxEnt + 1))      // member head, near tail
            case 1 => (h, (l + 1) % (maxLab + 1), t)      // member head, other label
            case 2 => (r.nextInt(60), l, t)               // head present or absent
            case 3 => (maxHead + 1 + r.nextInt(1000), l, t) // above the largest head
            case 4 => (r.nextInt(maxEnt + 1), r.nextInt(maxLab + 1), r.nextInt(maxEnt + 1))
            case _ => (h, l, t)
          }
        }.filter(_._1 <= maxEnt)
        check(set, probes)
      }
    }
  }
}
