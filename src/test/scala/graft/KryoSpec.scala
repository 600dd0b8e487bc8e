package graft

import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.scalatest.funsuite.AnyFunSuite

import graft.transe.{TransETrainer, Triple}

/** Fail-loud gate for [[GraftKryo]]: a strict registrationRequired
  * KryoSerializer (no SparkContext needed) must round-trip every class
  * the training hot path serializes — model broadcasts, collected Deltas,
  * the training layout's key arrays and blocks, membership broadcasts. A class
  * missing from GraftKryo.classes fails HERE with a clear error instead
  * of silently shipping class names on every SGD round in production. */
class KryoSpec extends AnyFunSuite {

  private def strictInstance() = {
    val conf = new SparkConf(false)
      .set("spark.serializer", classOf[KryoSerializer].getName)
      .set("spark.kryo.registrator", classOf[GraftKryo].getName)
      .set("spark.kryo.registrationRequired", "true")
    new KryoSerializer(conf).newInstance()
  }

  test("hot-path classes round-trip under registrationRequired") {
    val ser = strictInstance()
    def roundTrip[T: scala.reflect.ClassTag](v: T): T =
      ser.deserialize[T](ser.serialize(v))

    // triples and the training layout's blocks
    assert(roundTrip(Triple(1, 2, 3)) == Triple(1, 2, 3))
    assert(roundTrip(Array(Triple(1, 2, 3))).head == Triple(1, 2, 3))
    val keys = transe.TripleKeys(10, 3)
    val block = roundTrip(new transe.TripleBlock(keys, Array(keys.pack(1, 2, 3))))
    assert(block.keys == keys && block.triple(0) == Triple(1, 2, 3))

    // per-batch model broadcast: (entity, label) matrices
    val ent = Array(Array(1.0f, 2.0f), Array(3.0f, 4.0f))
    val got = roundTrip((ent, ent))
    assert(got._1(1)(0) == 3.0f && got._2(0)(1) == 2.0f)

    // collected SGD deltas
    val d = TransETrainer.Delta(0, Array(1, 2), Array(0.5f, 0.5f),
      Array(3), Array(0.25f), 1.25)
    val d2 = roundTrip(d)
    assert(d2.pid == 0 && d2.loss == 1.25 && d2.entVals.head == 0.5f)
    assert(roundTrip(Array(d)).head.loss == 1.25)

    // the sampler broadcast and its membership: the exact set at both key
    // widths and the Bloom form
    assert(roundTrip(Array(1L, 2L, 3L)).toSeq == Seq(1L, 2L, 3L))
    val known = Seq(Triple(1, 2, 3), Triple(1, 0, 7), Triple(9, 1, 0))
    for (k <- Seq(transe.TripleKeys(10, 3), transe.TripleKeys(1 << 30, 1 << 10))) {
      val block = transe.TripleBlock.sorted(k, Iterator(
        transe.TripleBlock.pack(known.iterator, k, Int.MaxValue, Int.MaxValue).toOption.get.words))
      val memberships = Seq(new transe.PackedMembership(block),
        new transe.BloomMembership(transe.BloomMembership.filter(block, known.size), k))
      memberships.foreach { m =>
        val sampler = roundTrip(new transe.NegativeSampler(m, 10, 100, Array(0.5, 0.25, 1.0)))
        val back = sampler.membership
        assert(back.getClass == m.getClass)
        known.foreach(tr => assert(back.contains(tr.h, tr.l, tr.t), s"$k ${m.getClass}: $tr"))
        if (m.isInstanceOf[transe.PackedMembership]) assert(!back.contains(1, 2, 4))
        // the round-tripped sampler draws what the original draws
        val (a, b) = (new java.util.SplittableRandom(5), new java.util.SplittableRandom(5))
        val orig = new transe.NegativeSampler(m, 10, 100, Array(0.5, 0.25, 1.0))
        known.foreach(tr => assert(sampler.draw(a, tr) == orig.draw(b, tr)))
      }
    }
  }

  test("every class in GraftKryo.classes is instantiably registered") {
    // the registrator itself must not throw, and registration must cover
    // the declared list (strict Kryo rejects unregistered writes, so a
    // drifted list surfaces in the round-trip test above; this guards the
    // registrator wiring itself)
    val kryo = new com.esotericsoftware.kryo.Kryo()
    new GraftKryo().registerClasses(kryo)
    GraftKryo.classes.foreach { c =>
      assert(kryo.getClassResolver.getRegistration(c) != null,
        s"${c.getName} not registered")
    }
  }
}
