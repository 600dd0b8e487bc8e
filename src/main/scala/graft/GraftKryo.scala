package graft

import com.esotericsoftware.kryo.Kryo
import org.apache.spark.serializer.KryoRegistrator

/** Kryo registration for the engine's hot serialized types — config
  * parity with the reference, which registers its classes up front
  * (`example.py:16-17`, `test.py:106-108`). Registration replaces
  * fully-qualified class names with small integer ids in every broadcast
  * and RDD-shuffle record. Sessions keep `spark.kryo.registrationRequired`
  * off (see [[GraftKryo.configure]]); KryoSpec and SgdExactnessSpec build
  * strict serializers, so a hot class missing here fails LOUDLY in those
  * tests instead of silently shipping class names on every training round.
  *
  * The hot path this covers: per-batch model broadcasts
  * (`(Array[Array[Float]], Array[Array[Float]])`), the collected SGD
  * `Delta`s, the layout's shuffled key arrays and persisted
  * `TripleBlock`s, and the fit's `NegativeSampler` broadcast with its
  * membership (sorted triple words, or a Bloom filter).
  */
class GraftKryo extends KryoRegistrator {
  override def registerClasses(kryo: Kryo): Unit =
    GraftKryo.classes.foreach(kryo.register)
}

object GraftKryo {
  val classes: Seq[Class[_]] = Seq(
    classOf[graft.transe.Triple],
    Class.forName("[Lgraft.transe.Triple;"),
    classOf[graft.transe.TransETrainer.Delta],
    Class.forName("[Lgraft.transe.TransETrainer$Delta;"),
    classOf[Array[Float]],
    classOf[Array[Array[Float]]],
    classOf[Array[Int]],
    classOf[Array[Long]],
    classOf[Array[Double]],
    classOf[Array[String]],
    classOf[graft.transe.TripleKeys],
    classOf[graft.transe.TripleBlock],
    classOf[graft.transe.NegativeSampler],
    classOf[graft.transe.PackedMembership],
    classOf[graft.transe.BloomMembership],
    // the concrete filter `BloomFilter.create` makes and its bit array
    // (both package-private)
    org.apache.spark.util.sketch.BloomFilter.create(1).getClass,
    Class.forName("org.apache.spark.util.sketch.BitArray"),
    classOf[scala.Tuple2[_, _]],
    classOf[scala.Tuple3[_, _, _]])

  /** Apply Kryo + registration to a session builder. registrationRequired
    * stays OFF at the session level: Spark SQL serializes its own internal
    * singletons (DataType objects ride in collected GenericRowWithSchema
    * results, etc.) and gating those is unwinnable whack-a-mole — an
    * unregistered exotic type must degrade to slow-path serialization,
    * never crash a run. The fail-loud guarantee for the ENGINE's hot
    * classes lives in KryoSpec instead, which drives a strict
    * registrationRequired KryoSerializer over every class in [[classes]]. */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    b.config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", classOf[GraftKryo].getName)
}
