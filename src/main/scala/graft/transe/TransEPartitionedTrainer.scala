package graft.transe

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** TransE training PAST the broadcast-parameter ceiling (SCALE.md; VERDICT
  * r5 #1): the entity matrix lives as a distributed `(id, vec)` RDD instead
  * of a driver array broadcast per batch, so the design scales to entity
  * counts where n*k*4 bytes no longer fits one heap (the broadcast
  * trainer's documented ~25M-entity ceiling at k=50).
  *
  * BIT-FOR-BIT equivalent to [[TransETrainer]] — same prepared data
  * ([[TransETrainer.prepared]]: the sorted primitive blocks of
  * [[TransETrainer.relayout]], laid out once per fit without a
  * per-triple shuffle, and the same membership and bern broadcasts, all
  * released when the fit returns or throws), same sampler
  * ([[TransETrainer.sampleBatch]]),
  * same SGD kernel ([[TransETrainer.partitionSgd]]), same
  * last-writer-wins merge order — asserted by TransESpec (matrix equality)
  * and ContractSpec (the partitioned loss curve matches the SAME golden
  * recording as the broadcast trainer). The equivalence hinges on one
  * property the kernel documents: corruption-RNG consumption is
  * parameter-independent, so each partition's parameter READ SET is
  * computable before the parameters are fetched
  * ([[TransETrainer.readSet]]).
  *
  * Per-batch dataflow (3 shuffles, each proportional to BATCH size, never
  * to the full parameter matrix):
  *
  *   1. needs:   replay the RNG over the sampled partition -> (id, pid)
  *               pairs, 8 bytes each, shuffled to the parameter layout;
  *   2. fetch:   co-partitioned join needs × params (narrow on the param
  *               side), ship the hit rows to their pid's partition;
  *   3. sgd:     zipPartitions(sampled, fetched) runs the shared kernel
  *               against the prefetched rows — bit-identical floats;
  *   4. merge:   entity deltas reduceByKey(max pid) — equivalent to the
  *               driver's ascending-pid overwrite because each partition
  *               emits an id at most once — then a narrow join updates the
  *               persisted parameter RDD. Label deltas + losses collect to
  *               the driver (the label matrix is small at any realistic
  *               relation count: 10k relations × k=50 is 2 MB, broadcast
  *               per batch like the reference's label matrix).
  *
  * vs the broadcast trainer: broadcast ships n*k*4 bytes to EVERY executor
  * EVERY batch regardless of batch size; this trainer ships
  * O(touched rows × k) — the crossover is measured in SCALE.md.
  *
  * Lineage is truncated every round via the Checkpoints seam (the standard
  * iterative-parameter pattern, as in GraphX Pregel); fault-tolerance at
  * scale would move this to reliable checkpointing on the cluster FS.
  *
  * Driver-side residue, documented: parameter INIT builds the seeded
  * matrices on the driver once (the contract requires
  * [[Kernels.uniformInit]]'s sequential RNG stream, which does not split),
  * and `fit` collects the final matrices into a [[TransEModel]] for
  * parity testing — `fitDistributed` is the true at-scale surface, where
  * entity parameters stay an RDD end-to-end and feed
  * [[LinkPrediction.evaluatePartitioned]] directly.
  */
class TransEPartitionedTrainer(params: TransEParams) extends Serializable {

  /** Per-epoch hinge loss trajectory of the last fit call. */
  @volatile var lossHistory: Vector[Double] = Vector.empty

  /** Parity surface: train distributed, then collect into driver matrices. */
  def fit(triples: Dataset[Triple], nEntities: Int, nLabels: Int): TransEModel = {
    val (entRdd, label) = fitDistributed(triples, nEntities, nLabels)
    val entity = new Array[Array[Float]](nEntities)
    entRdd.collect().foreach { case (id, v) => entity(id) = v }
    entRdd.unpersist()
    TransEModel(entity, label, params)
  }

  /** At-scale surface: entity parameters stay distributed. The returned
    * RDD is persisted; the caller owns unpersisting it. */
  def fitDistributed(triples: Dataset[Triple], nEntities: Int, nLabels: Int):
      (RDD[(Int, Array[Float])], Array[Array[Float]]) = {
    val spark = triples.sparkSession
    val sc = spark.sparkContext
    val p = params

    TransETrainer.prepared(triples, nEntities, nLabels, p) { prep =>
      val membBc = prep.membership
      val bernBc = prep.bern
      val data = prep.layout.blocks
      val targetParts = prep.layout.partitions
      // seeded init on the driver (see scaladoc), then scatter to the
      // parameter layout; the init matrices are released after this
      val (entity0, label) = TransETrainer.initialMatrices(p, nEntities, nLabels, None)
      val paramPart = new HashPartitioner(targetParts)
      val pidPart = new org.apache.spark.Partitioner {
        def numPartitions: Int = targetParts
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      }
      var entParams: RDD[(Int, Array[Float])] = sc
        .parallelize(entity0.indices.map(i => (i, entity0(i))), targetParts)
        .partitionBy(paramPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      entParams.count()

      var history = Vector.empty[Double]
      var epoch = 0
      try {
        while (epoch < p.epochs) {
          var epochLoss = 0.0
          var batch = 0
          while (batch < p.batches) {
            val batchSeed = TransETrainer.batchSeedOf(p, epoch, batch)
            val sampled = TransETrainer.sampleBatch(data, p.batches, batchSeed)
            val labBc = sc.broadcast(label)
            var deltaRdd: RDD[TransETrainer.Delta] = null
            val prev = entParams
            try {
              // 1. parameter read set per partition (ids only)
              val needs: RDD[(Int, Int)] = sampled.mapPartitionsWithIndex({ (pid, it) =>
                val ids = TransETrainer.readSet(pid, it, membBc.value, nEntities, p,
                  batchSeed, bernBc.value)
                val out = new Array[(Int, Int)](ids.size)
                var i = 0
                val jt = ids.iterator()
                while (jt.hasNext) { out(i) = (jt.next().intValue(), pid); i += 1 }
                out.iterator
              }, preservesPartitioning = false)

              // 2. fetch the hit rows and ship them to their consumer partition
              val fetched: RDD[(Int, (Int, Array[Float]))] = entParams
                .join(needs.partitionBy(paramPart)) // narrow: both sides on paramPart
                .map { case (id, (vec, pid)) => (pid, (id, vec)) }
                .partitionBy(pidPart)

              // 3. the shared SGD kernel over prefetched rows
              deltaRdd = sampled.zipPartitions(fetched) {
                (trIt, rowIt) =>
                  val pid = org.apache.spark.TaskContext.getPartitionId()
                  val rows = new java.util.HashMap[Integer, Array[Float]]()
                  rowIt.foreach { case (_, (id, vec)) => rows.put(id, vec) }
                  val entBase = (id: Int) => {
                    val v = rows.get(id)
                    if (v == null) throw new IllegalStateException(
                      s"entity row $id not prefetched for partition $pid — readSet drifted from partitionSgd")
                    v
                  }
                  val lab = labBc.value
                  TransETrainer.partitionSgd(pid, trIt, entBase, lab(_),
                    membBc.value, nEntities, p, batchSeed, bernBc.value)
              }.persist(StorageLevel.MEMORY_AND_DISK)

              // 4a. labels + loss on the driver, ascending-pid LWW (matches the
              //     broadcast trainer's merge order exactly)
              val labAndLoss = deltaRdd
                .map(d => (d.pid, d.labIds, d.labVals, d.loss))
                .collect()
                .sortBy(_._1)
              labAndLoss.foreach { case (_, ids, vals, loss) =>
                epochLoss += loss
                var i = 0
                while (i < ids.length) {
                  System.arraycopy(vals, i * p.dim, label(ids(i)), 0, p.dim)
                  i += 1
                }
              }

              // 4b. entity deltas merged distributed: max-pid wins == the
              //     driver's ascending overwrite (each pid emits an id at most
              //     once, so the combiner is associative with no ties)
              val dim = p.dim
              val updates: RDD[(Int, (Int, Array[Float]))] = deltaRdd.flatMap { d =>
                Iterator.range(0, d.entIds.length).map { i =>
                  (d.entIds(i), (d.pid,
                    java.util.Arrays.copyOfRange(d.entVals, i * dim, (i + 1) * dim)))
                }
              }
              val merged = updates
                .reduceByKey(paramPart, (a, b) => if (a._1 >= b._1) a else b)
              val next = prev
                .leftOuterJoin(merged) // narrow: both sides on paramPart
                .mapValues {
                  case (_, Some((_, row))) => row
                  case (old, None)         => old
                }
              entParams = next
              graft.Checkpoints.truncateRdd(next) // truncate per-round lineage growth
              next.count()
            } finally {
              // teardown order matters: only after `next` is materialized is
              // it safe to drop the inputs that produced it (on a failure
              // they go anyway, and the catch below drops `next`)
              labBc.destroy()
              if (deltaRdd != null) deltaRdd.unpersist()
              prev.unpersist()
            }
            batch += 1
          }
          history :+= epochLoss
          epoch += 1
          if (p.checkpointEvery > 0 && epoch % p.checkpointEvery == 0) {
            p.checkpointDir.foreach { dir =>
              EmbeddingIO.saveDistributed(spark, entParams, s"$dir/epoch=$epoch/entity")
              EmbeddingIO.save(spark, label, s"$dir/epoch=$epoch/label")
              EmbeddingIO.saveParams(spark, p, s"$dir/epoch=$epoch")
            }
          }
        }
      } catch {
        case e: Throwable =>
          entParams.unpersist()
          throw e
      }
      lossHistory = history
      (entParams, label)
    }
  }
}
