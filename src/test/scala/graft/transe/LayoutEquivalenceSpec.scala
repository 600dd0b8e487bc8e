package graft.transe

import org.apache.spark.sql.Dataset
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The block layout against [[ReferenceLayout]] (the per-triple shuffle it
  * replaced): generated cases must give the same triple count, the same
  * partition count and the same id sequence in every partition. Also:
  * out-of-range ids fail a fit before any SGD job, and a fit that throws
  * releases what it persisted. */
class LayoutEquivalenceSpec extends SparkSpec {

  private final case class Case(nEntities: Int, nLabels: Int, triples: Seq[Triple],
      inputParts: Int) {
    def keyBits: Int = 2 * TripleKeys.bitsFor(nEntities) + TripleKeys.bitsFor(nLabels)
    override def toString: String =
      s"Case($nEntities, $nLabels, ${triples.size} triples ${triples.take(4)}..., " +
        s"$inputParts input partitions)"
  }

  /** Ids with the edges of [0, n) overrepresented. */
  private def id(n: Int): Gen[Int] =
    Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(n - 1), 4 -> Gen.choose(0, n - 1))

  /** (nEntities, nLabels): small spaces; powers of two, whose largest id
    * fills its width; 27 + 10 + 27 = 64 bits, where the head's top bit is
    * the key's sign bit; and spaces whose keys exceed 64 bits. */
  private val idSpace: Gen[(Int, Int)] = Gen.oneOf(
    for (e <- Gen.choose(1, 60); l <- Gen.choose(1, 6)) yield (e, l),
    for (eb <- Gen.choose(0, 30); lb <- Gen.choose(0, 30)) yield (1 << eb, 1 << lb),
    Gen.const((1 << 27, 1 << 10)),
    Gen.const((1 << 30, 1 << 10)),
    Gen.const((Int.MaxValue, Int.MaxValue)))

  private def triples(nEnt: Int, nLab: Int): Gen[Seq[Triple]] = {
    val one = for (h <- id(nEnt); l <- id(nLab); t <- id(nEnt)) yield Triple(h, l, t)
    Gen.frequency(
      1 -> Gen.const(Seq.empty[Triple]),
      1 -> one.map(Seq(_)),
      1 -> (for (tr <- one; n <- Gen.choose(2, 300)) yield Seq.fill(n)(tr)),
      2 -> (for (hot <- id(nEnt); n <- Gen.choose(2, 400); ts <- Gen.listOfN(n, one))
        yield ts.zipWithIndex.map { case (tr, i) => if (i % 4 == 0) tr else tr.copy(h = hot) }),
      4 -> Gen.choose(0, 600).flatMap(n => Gen.listOfN(n, one)))
  }

  private val cases: Gen[Case] = for {
    (nEnt, nLab) <- idSpace
    ts <- triples(nEnt, nLab)
    parts <- Gen.choose(1, 8)
  } yield Case(nEnt, nLab, ts, parts)

  private def dataset(ts: Seq[Triple], parts: Int): Dataset[Triple] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(ts, parts))
  }

  /** Whether both layouts of `c` agree; both are released after. */
  private def sameLayout(c: Case): Boolean = {
    val ds = dataset(c.triples, c.inputParts)
    val (ref, refN, refP) = ReferenceLayout.relayout(ds)
    val got = TransETrainer.relayout(ds, c.nEntities, c.nLabels)
    try {
      val want = ref.glom().collect().map(_.toSeq).toSeq
      val blocks = got.blocks.collect()
      got.nTriples == refN && got.partitions == refP &&
        got.blocks.getNumPartitions == refP && blocks.length == refP &&
        blocks.map(_.iterator.toSeq).toSeq == want &&
        got.keys.packs == (c.keyBits <= 64)
    } finally {
      ref.unpersist()
      got.blocks.unpersist()
    }
  }

  test("block layout equals the per-triple reference layout (generated cases)") {
    var wide = 0
    var full = 0
    val prop = Prop.forAllNoShrink(cases) { c =>
      if (c.keyBits > 64) wide += 1
      if (c.keyBits == 64 && c.triples.nonEmpty) full += 1
      sameLayout(c)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(100)
      .withWorkers(1).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= 100)
    // both sort branches ran: comparator keys and full-width packed keys
    assert(wide > 0 && full > 0, s"wide $wide, 64-bit $full")
  }

  test("block layout equals the reference layout at 3 layout partitions") {
    val r = new java.util.SplittableRandom(7)
    val ts = Seq.fill(400001)(Triple(r.nextInt(5000), r.nextInt(40), r.nextInt(5000)))
    assert(sameLayout(Case(5000, 40, ts, 3)))
  }

  private val bad = Seq(Triple(-1, 0, 1), Triple(0, 0, 10), Triple(0, 3, 1), Triple(1, 0, -7))

  test("an out-of-range id fails the fit, naming the triple, before any SGD job") {
    bad.foreach { tr =>
      val ok = Seq.tabulate(50)(i => Triple(i % 10, i % 3, (i + 1) % 10))
      val ds = dataset(ok :+ tr, 2)
      val probed = graft.metrics.JobProbe.measure(spark) {
        intercept[IllegalArgumentException](
          new TransETrainer(TransEParams(epochs = 2, dim = 4)).fit(ds, 10, 3))
      }
      assert(probed.result.getMessage.contains(tr.toString), probed.result.getMessage)
      assert(probed.jobs == 1, s"$tr: ${probed.jobRows.map(_.callSite)}") // the packing pass
      intercept[IllegalArgumentException](
        new TransETrainer(TransEParams(epochs = 2, dim = 4)).fitPartitioned(ds, 10, 3))
    }
  }

  test("a fit that throws leaves the persisted RDDs as it found them") {
    val ok = dataset(Seq.tabulate(200)(i => Triple(i % 10, i % 3, (i + 3) % 10)), 2)
    // ids of RDDs persisted since the start (the map drops collected RDDs,
    // so only new entries are compared)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // in preparation: an out-of-range id
    val outOfRange = dataset(Seq(Triple(0, 0, 1), Triple(0, 5, 1)), 2)
    intercept[IllegalArgumentException](new TransETrainer(TransEParams(dim = 4)).fit(outOfRange, 10, 3))
    intercept[IllegalArgumentException](
      new TransETrainer(TransEParams(dim = 4)).fitDistributed(outOfRange, 10, 3))
    assert(added.isEmpty, s"preparation left RDDs $added persisted")
    // after an epoch: the checkpoint write fails on a path under a file
    val file = java.nio.file.Files.createTempFile("graft_not_a_dir", "")
    val p = TransEParams(epochs = 2, dim = 4, checkpointEvery = 1,
      checkpointDir = Some(file.resolve("ckpt").toString))
    intercept[Exception](new TransETrainer(p).fit(ok, 10, 3))
    assert(added.isEmpty, s"broadcast trainer left RDDs $added persisted")
    intercept[Exception](new TransETrainer(p).fitDistributed(ok, 10, 3))
    assert(added.isEmpty, s"partitioned trainer left RDDs $added persisted")
    java.nio.file.Files.delete(file)
  }
}
