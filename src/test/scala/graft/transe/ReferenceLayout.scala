package graft.transe

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Reference implementation of the training layout, for equivalence
  * tests only: [[TransETrainer.relayout]] as it was written over Triple
  * objects, with a per-triple shuffle and a comparator sort. The block
  * layout must give the same triple count, the same partition count and
  * the same id sequence in every partition (LayoutEquivalenceSpec). */
private[transe] object ReferenceLayout {

  def relayout(triples: Dataset[Triple]): (RDD[Triple], Long, Int) = {
    val rawRdd = triples.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTriples = rawRdd.count()
    val targetParts = math.max(2, math.min(16, (nTriples / 200000L).toInt + 1))
    val relaid = rawRdd
      .keyBy(tr => Math.floorMod(StableHash.tripleHash(tr.h, tr.l, tr.t), targetParts))
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = targetParts
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .mapPartitions({ it =>
        val arr = it.map(_._2).toArray
        java.util.Arrays.sort(arr, tripleOrder)
        arr.iterator
      }, preservesPartitioning = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    relaid.count() // materialize from the parent cache, then drop it
    rawRdd.unpersist()
    (relaid, nTriples, targetParts)
  }

  /** Lexicographic (h, l, t) order, the relayout's within-partition sort:
    * the same order as `Ordering.by(t => (t.h, t.l, t.t))` without a
    * Tuple3 per comparison. */
  private val tripleOrder: Ordering[Triple] = new Ordering[Triple] {
    def compare(a: Triple, b: Triple): Int =
      if (a.h != b.h) Integer.compare(a.h, b.h)
      else if (a.l != b.l) Integer.compare(a.l, b.l)
      else Integer.compare(a.t, b.t)
  }
}
