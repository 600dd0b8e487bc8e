package graft.transe

import java.util.SplittableRandom

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.spark.rdd.RDD
import org.apache.spark.util.sketch.BloomFilter

/** Membership test for negative-sample rejection (reference: broadcast dict
  * used as a set, `utils.py:35-41` + `TransE.py:94-95,243`). */
sealed trait TripleMembership extends Serializable {
  def contains(h: Int, l: Int, t: Int): Boolean
}

/** Exact membership over one sorted [[TripleBlock]]: the training layout's
  * own primitive words, `keys.stride` Longs per triple, at every id width.
  * Packed keys are one Long each and a probe is `Arrays.binarySearch`;
  * wide keys are the pairs (`h << 32 | l`, `t`), and a probe searches the
  * pairs. Nothing is boxed: 8 B per triple packed, 16 B wide.
  *
  * The block is ascending (h, l, t), so each head's triples form one
  * contiguous run. A per-head offset index maps head h to its run, and a
  * probe searches only that run: ~log2(triples of h) steps instead of
  * ~log2(all triples). The answer is the same as a search of the whole
  * block, because a triple can only sit in its own head's run. The index
  * has one Int per head up to the largest; when head ids are sparser than
  * the triples, one entry covers 2^shift consecutive heads instead, so
  * the index never has more entries than there are triples. It is not
  * serialized: a Kryo read rebuilds it from the block. A probe outside
  * the key widths is not a member. */
final class PackedMembership(block: TripleBlock) extends TripleMembership
    with KryoSerializable {
  private var keys: TripleKeys = _
  private var words: Array[Long] = _
  private var shift: Int = _
  /** Heads `b << shift` until `(b + 1) << shift` have their triples at
    * `offsets(b) until offsets(b + 1)`. */
  private var offsets: Array[Int] = _
  index(block)

  private def index(b: TripleBlock): Unit = {
    keys = b.keys
    words = b.words
    val n = b.size
    val maxHead = if (n == 0) 0 else b.h(n - 1)
    shift = 0
    while ((maxHead >>> shift) >= math.max(n, 1)) shift += 1
    // CSR offsets over head buckets: offsets(q) is the first triple whose
    // head bucket is >= q
    val nBuckets = if (n == 0) 0 else (maxHead >>> shift) + 1
    offsets = new Array[Int](nBuckets + 1)
    var i = 0
    var q = 0
    while (i < n) {
      val qi = b.h(i) >>> shift
      while (q <= qi) { offsets(q) = i; q += 1 }
      i += 1
    }
    offsets(nBuckets) = n
  }

  def contains(h: Int, l: Int, t: Int): Boolean =
    h >= 0 && (h >>> shift) < offsets.length - 1 && keys.holds(h, l, t) && {
      val lo = offsets(h >>> shift)
      val hi = offsets((h >>> shift) + 1)
      lo < hi && (
        if (keys.packs) java.util.Arrays.binarySearch(words, lo, hi, keys.pack(h, l, t)) >= 0
        else containsPair(lo, hi, (h.toLong << 32) | l, t))
    }

  /** Binary search of the wide pairs `lo until hi` for (`hl`, `t`). */
  private def containsPair(lo0: Int, hi0: Int, hl: Long, t: Long): Boolean = {
    var lo = lo0
    var hi = hi0 - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val a = words(2 * mid)
      val c = if (a != hl) java.lang.Long.compare(a, hl)
        else java.lang.Long.compare(words(2 * mid + 1), t)
      if (c < 0) lo = mid + 1 else if (c > 0) hi = mid - 1 else return true
    }
    false
  }

  def write(kryo: Kryo, out: Output): Unit = kryo.writeObject(out, new TripleBlock(keys, words))
  def read(kryo: Kryo, in: Input): Unit = index(kryo.readObject(in, classOf[TripleBlock]))
}

/** Bloom-filter membership (1% fpp) — the at-scale path: a false positive
  * only causes a harmless extra redraw of the corrupted triple, so
  * correctness is unaffected while memory drops to ~1.2 B per triple.
  * Each triple is one Long: its packed key, or a splitmix of its wide
  * words, where two triples that mix alike only add a false positive. */
final class BloomMembership(bloom: BloomFilter, keys: TripleKeys) extends TripleMembership {
  def contains(h: Int, l: Int, t: Int): Boolean =
    keys.holds(h, l, t) && bloom.mightContainLong(BloomMembership.key(keys, h, l, t))
}

object BloomMembership {
  def key(keys: TripleKeys, h: Int, l: Int, t: Int): Long =
    if (keys.packs) keys.pack(h, l, t) else StableHash.mix64((h.toLong << 32) | l) ^ t

  /** A filter sized for `n` triples that holds the triples of `b`. */
  def filter(b: TripleBlock, n: Long): BloomFilter = {
    val f = BloomFilter.create(math.max(n, 1L), 0.01)
    var i = 0
    while (i < b.size) { f.putLong(key(b.keys, b.h(i), b.l(i), b.t(i))); i += 1 }
    f
  }
}

/** The one negative-sample draw of the trainer (reference
  * `TransE.py:237-252`): flip the head or the tail — a uniform coin, or
  * the per-relation "bern" probability — draw a candidate entity, and
  * redraw while the corrupted triple is a training triple, at most
  * `rejectionCap` times (SURVEY §7.5-4). [[TransETrainer.partitionSgd]]
  * and [[TransETrainer.readSet]] both draw through it, so the prefetched
  * read set cannot drift from the kernel.
  *
  * RNG DISCIPLINE (the partitioned store depends on it): a draw consumes
  * exactly `nextBoolean` (or `nextDouble` under bern) and then
  * `nextInt` × (1 + redraws), and the redraw count depends only on the
  * membership set — never on parameter values. The bern array is DATA
  * (relation statistics), not parameters. */
final class NegativeSampler(val membership: TripleMembership, nEntities: Int,
    rejectionCap: Int, bern: Array[Double]) extends Serializable {

  /** The per-(batch, partition) corruption stream. */
  def stream(batchSeed: Long, pid: Int): SplittableRandom =
    new SplittableRandom(StableHash.corruptionSeed(batchSeed, pid))

  /** The negative of `tr`, as `nh.toLong << 32 | nt` (read it back with
    * [[NegativeSampler.head]] and [[NegativeSampler.tail]]). */
  def draw(rng: SplittableRandom, tr: Triple): Long = {
    val corruptHead =
      if (bern == null) rng.nextBoolean() else rng.nextDouble() < bern(tr.l)
    var candidate = rng.nextInt(nEntities)
    var tries = 0
    while (tries < rejectionCap &&
      (if (corruptHead) membership.contains(candidate, tr.l, tr.t)
       else membership.contains(tr.h, tr.l, candidate))) {
      candidate = rng.nextInt(nEntities)
      tries += 1
    }
    if (corruptHead) (candidate.toLong << 32) | tr.t else (tr.h.toLong << 32) | candidate
  }
}

object NegativeSampler {
  def head(negative: Long): Int = (negative >>> 32).toInt
  def tail(negative: Long): Int = negative.toInt

  /** The sampler of one fit, built from the PERSISTED layout (not the
    * original Dataset lineage). The exact set sorts the collected
    * blocks, which are already sorted runs of the same words; the Bloom
    * form fills one filter per block and merges them in one job. */
  private[transe] def apply(layout: TransETrainer.Layout, nEntities: Int, nLabels: Int,
      p: TransEParams): NegativeSampler = {
    val membership =
      if (p.exactMembership) {
        new PackedMembership(
          TripleBlock.sorted(layout.keys, layout.blocks.map(_.words).collect().iterator))
      } else {
        val n = layout.nTriples
        new BloomMembership(
          layout.blocks.map(BloomMembership.filter(_, n)).reduce(_.mergeInPlace(_)),
          layout.keys)
      }
    new NegativeSampler(membership, nEntities, p.rejectionCap,
      if (p.bernCorruption) bernProbs(layout.triples, nLabels) else null)
  }

  /** Per-relation head-replacement probability for "bern" corruption
    * (Wang et al. 2014): p_head(l) = tph/(tph+hpt) which reduces to the
    * all-integer dt_l / (dh_l + dt_l) (distinct tails / (distinct heads
    * + distinct tails) of relation l) — one distinct-pair aggregation
    * over the cached training set, deterministic across layouts.
    * Relations absent from the data default to the uniform 1/2. */
  private[graft] def bernProbs(data: RDD[Triple], nLabels: Int): Array[Double] = {
    val counts = data
      .flatMap(tr => Seq(((tr.l, 0, tr.h), null), ((tr.l, 1, tr.t), null)))
      .reduceByKey((a, _) => a)
      .map { case ((l, side, _), _) => ((l, side), 1L) }
      .reduceByKey(_ + _)
      .collect()
    val dh = new Array[Long](nLabels)
    val dt = new Array[Long](nLabels)
    counts.foreach { case ((l, side), n) =>
      if (side == 0) dh(l) = n else dt(l) = n }
    Array.tabulate(nLabels)(l =>
      if (dh(l) + dt(l) == 0) 0.5 else dt(l).toDouble / (dh(l) + dt(l)))
  }
}
