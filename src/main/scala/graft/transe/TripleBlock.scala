package graft.transe

import java.util.SplittableRandom

/** The one key format of the trainer's training layout
  * ([[TransETrainer.relayout]]) and of the negative sampler's
  * [[PackedMembership]]: a triple of ids in [0, nEntities) x [0, nLabels)
  * x [0, nEntities) as ONE Long, h | l | t in
  * `entityBits + labelBits + entityBits` bits, where each
  * width is that of the largest id. The sign bit is flipped: when a key
  * uses all 64 bits the head's top bit is the Long's sign bit, and the
  * flip makes signed key order (what `Arrays.sort` and `binarySearch`
  * use) equal ascending (h, l, t) at every width.
  *
  * Id spaces whose keys would need more than 64 bits do not pack
  * (`packs` is false). A [[TripleBlock]] then stores each triple as two
  * Longs, `h << 32 | l` and `t`, and the layout sorts it by comparator. */
final case class TripleKeys(entityBits: Int, labelBits: Int) {

  val packs: Boolean = 2 * entityBits + labelBits <= 64

  /** Longs per triple in a [[TripleBlock]]. */
  def stride: Int = if (packs) 1 else 2

  /** Whether (h, l, t) fits the widths, so that `pack` is exact. */
  def holds(h: Int, l: Int, t: Int): Boolean =
    (h >>> entityBits) == 0 && (l >>> labelBits) == 0 && (t >>> entityBits) == 0

  /** The key of (h, l, t); only meaningful when `packs` and `holds`. */
  def pack(h: Int, l: Int, t: Int): Long =
    ((h.toLong << (entityBits + labelBits)) | (l.toLong << entityBits) | t.toLong) ^
      Long.MinValue

  def head(key: Long): Int = ((key ^ Long.MinValue) >>> (entityBits + labelBits)).toInt
  def label(key: Long): Int =
    (((key ^ Long.MinValue) >>> entityBits) & ((1L << labelBits) - 1)).toInt
  def tail(key: Long): Int = ((key ^ Long.MinValue) & ((1L << entityBits) - 1)).toInt
}

object TripleKeys {
  /** The widths of ids in [0, nEntities) and [0, nLabels). */
  def apply(nEntities: Int, nLabels: Int): TripleKeys =
    new TripleKeys(bitsFor(nEntities), bitsFor(nLabels))

  /** Bits of the largest id below `n` (0 when there is at most one id). */
  def bitsFor(n: Int): Int = 32 - Integer.numberOfLeadingZeros(math.max(n - 1, 0))
}

/** Training triples as primitive words in the [[TripleKeys]] format:
  * `keys.stride` Longs per triple. A layout partition holds exactly one
  * block, sorted ascending (h, l, t); the Triple objects the SGD kernel
  * reads are made lazily by [[sample]] and [[iterator]]. */
final class TripleBlock(val keys: TripleKeys, val words: Array[Long]) extends Serializable {

  def size: Int = words.length / keys.stride

  def h(i: Int): Int =
    if (keys.packs) keys.head(words(i)) else (words(2 * i) >>> 32).toInt
  def l(i: Int): Int =
    if (keys.packs) keys.label(words(i)) else words(2 * i).toInt
  def t(i: Int): Int =
    if (keys.packs) keys.tail(words(i)) else words(2 * i + 1).toInt

  def triple(i: Int): Triple = Triple(h(i), l(i), t(i))

  def iterator: Iterator[Triple] = Iterator.range(0, size).map(triple)

  /** The triples that pass a Bernoulli(`frac`) draw from `rng`, in block
    * order: one `nextDouble` per triple, drawn as the iterator advances. */
  def sample(rng: SplittableRandom, frac: Double): Iterator[Triple] = new Iterator[Triple] {
    private val n = TripleBlock.this.size
    private var i = 0
    private def skip(): Unit = while (i < n && !(rng.nextDouble() < frac)) i += 1
    skip()
    def hasNext: Boolean = i < n
    def next(): Triple = {
      if (i >= n) throw new NoSuchElementException("sample exhausted")
      val tr = triple(i)
      i += 1
      skip()
      tr
    }
  }
}

object TripleBlock {

  /** Packs triples in input order, or returns the first one with an id
    * outside [0, nEntities) x [0, nLabels) x [0, nEntities). */
  def pack(it: Iterator[Triple], keys: TripleKeys, nEntities: Int,
      nLabels: Int): Either[Triple, TripleBlock] = {
    val words = Array.newBuilder[Long]
    while (it.hasNext) {
      val tr = it.next()
      if (tr.h < 0 || tr.h >= nEntities || tr.l < 0 || tr.l >= nLabels ||
          tr.t < 0 || tr.t >= nEntities) return Left(tr)
      if (keys.packs) words += keys.pack(tr.h, tr.l, tr.t)
      else { words += (tr.h.toLong << 32) | tr.l.toLong; words += tr.t.toLong }
    }
    Right(new TripleBlock(keys, words.result()))
  }

  /** The layout partition of a triple among `parts`: a content hash, so
    * the assignment depends on nothing but the triple. */
  def partitionOf(h: Int, l: Int, t: Int, parts: Int): Int =
    Math.floorMod(StableHash.tripleHash(h, l, t), parts)

  /** Splits a block's words into one array per layout partition
    * ([[partitionOf]]), each in block order. */
  def split(b: TripleBlock, parts: Int): Array[Array[Long]] = {
    val n = b.size
    val stride = b.keys.stride
    val part = new Array[Int](n)
    val sizes = new Array[Int](parts)
    var i = 0
    while (i < n) {
      part(i) = partitionOf(b.h(i), b.l(i), b.t(i), parts)
      sizes(part(i)) += stride
      i += 1
    }
    val out = Array.tabulate(parts)(q => new Array[Long](sizes(q)))
    val fill = new Array[Int](parts)
    i = 0
    while (i < n) {
      val q = part(i)
      System.arraycopy(b.words, i * stride, out(q), fill(q), stride)
      fill(q) += stride
      i += 1
    }
    out
  }

  /** One sorted block from word arrays in the `keys` format: a primitive
    * sort when the keys pack, else an (h, l, t) comparator sort. Both of
    * JDK 17's sorts find ascending runs, so arrays that are each sorted
    * already (a fit's collected layout blocks) merge in linear passes. */
  def sorted(keys: TripleKeys, parts: Iterator[Array[Long]]): TripleBlock = {
    val arrays = parts.toArray
    val words = new Array[Long](arrays.map(_.length).sum)
    var at = 0
    arrays.foreach { a => System.arraycopy(a, 0, words, at, a.length); at += a.length }
    if (keys.packs) java.util.Arrays.sort(words)
    else {
      val unsorted = new TripleBlock(keys, words)
      val triples = Array.tabulate(unsorted.size)(unsorted.triple)
      java.util.Arrays.sort(triples, tripleOrder)
      var i = 0
      while (i < triples.length) {
        words(2 * i) = (triples(i).h.toLong << 32) | triples(i).l.toLong
        words(2 * i + 1) = triples(i).t.toLong
        i += 1
      }
    }
    new TripleBlock(keys, words)
  }

  /** Lexicographic (h, l, t) order without a Tuple3 per comparison. */
  private val tripleOrder: Ordering[Triple] = new Ordering[Triple] {
    def compare(a: Triple, b: Triple): Int =
      if (a.h != b.h) Integer.compare(a.h, b.h)
      else if (a.l != b.l) Integer.compare(a.l, b.l)
      else Integer.compare(a.t, b.t)
  }
}
