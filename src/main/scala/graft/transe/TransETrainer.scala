package graft.transe

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Distributed TransE trainer (Bordes et al., NeurIPS 2013), replacing the
  * reference's `TransE.fit/_sgd` (`TransE.py:64-157`) with the Scala/MLlib
  * idiom: data-parallel gradient computation via `mapPartitions` over the
  * persisted triple blocks, sparse per-partition deltas merged in
  * partition order (same shape as `ml.feature.Word2Vec`).
  *
  * Faithfully preserved reference semantics:
  *  - Bernoulli batch sampling, fraction 1/batches (`TransE.py:120-122`);
  *  - hinge check before any update (`TransE.py:276`);
  *  - touched entity rows re-normalized after each update
  *    (`TransE.py:214-217`); labels normalized once at init (`TransE.py:60`);
  *  - per-partition write-combining of embedding rows (`TransE.py:179-206`);
  *  - LAST-WRITER-WINS on cross-partition delta collisions — the reference's
  *    stale-synchronous merge (`TransE.py:159-170`, SURVEY §7.5-2) — made
  *    deterministic here by applying deltas in partition-index order;
  *  - epoch loss summed from the per-partition losses (`TransE.py:104,279`).
  *
  * Deliberate upgrades: seeded determinism end-to-end (SURVEY §7.5-3),
  * a rejection cap (§7.5-4), float32 parameters, Bloom-filter membership
  * option for at-scale rejection sets.
  *
  * One epoch/batch loop serves two parameter stores:
  *  - [[fit]] keeps both matrices on the driver and broadcasts them per
  *    batch ([[TransETrainer.BroadcastStore]]). Scale ceiling (same as
  *    reference `README.md:30`): both matrices must fit on the driver and
  *    each executor — n*k*4 bytes; at k=50 that is ~5 GB per 25M entities.
  *  - [[fitDistributed]] keeps the entity matrix as a distributed
  *    `(id, vec)` RDD co-partitioned with the per-batch updates
  *    ([[TransETrainer.PartitionedStore]]), the route past that ceiling.
  * Both train on the same layout, sampler, kernel and merge order, so they
  * produce the same floats bit for bit (asserted by TransESpec /
  * ContractSpec).
  */
class TransETrainer(params: TransEParams) extends Serializable {

  /** Per-epoch hinge loss trajectory of the last fit call. */
  @volatile var lossHistory: Vector[Double] = Vector.empty

  /** Per-epoch wall seconds of the last fit call. The host sandbox
    * throttles sustained CPU (measured 3-65 s/epoch swings on identical
    * code), so the MIN is the steady-state epoch time; the mean is the
    * throttle lottery. Bench reports both. */
  @volatile var epochSecsHistory: Vector[Double] = Vector.empty

  def fit(triples: Dataset[Triple], nEntities: Int, nLabels: Int): TransEModel =
    fit(triples, nEntities, nLabels, warmStart = None)

  /** @param warmStart resume from a previous model's matrices (reference
    *                  `TransE.py:28-29,73-76`: restore-then-continue). */
  def fit(triples: Dataset[Triple], nEntities: Int, nLabels: Int,
      warmStart: Option[TransEModel]): TransEModel = {
    val store = train(triples, nEntities, nLabels, warmStart) { (prep, entity, label) =>
      new TransETrainer.BroadcastStore(prep, params, entity, label)
    }
    TransEModel(store.entity, store.label, params)
  }

  /** At-scale surface: entity parameters stay distributed. The returned
    * RDD is persisted; the caller owns unpersisting it. Cold start only:
    * the seeded init is built on the driver once ([[Kernels.uniformInit]]'s
    * sequential RNG stream does not split) and scattered to the cluster. */
  def fitDistributed(triples: Dataset[Triple], nEntities: Int, nLabels: Int):
      (RDD[(Int, Array[Float])], Array[Array[Float]]) = {
    val store = train(triples, nEntities, nLabels, warmStart = None) { (prep, entity, label) =>
      new TransETrainer.PartitionedStore(prep, params, entity, label)
    }
    (store.entParams, store.label)
  }

  /** [[fitDistributed]] collected into driver matrices: the parity surface
    * that compares the partitioned store with [[fit]]. */
  def fitPartitioned(triples: Dataset[Triple], nEntities: Int, nLabels: Int): TransEModel = {
    val (entRdd, label) = fitDistributed(triples, nEntities, nLabels)
    val entity = new Array[Array[Float]](nEntities)
    entRdd.collect().foreach { case (id, v) => entity(id) = v }
    entRdd.unpersist()
    TransEModel(entity, label, params)
  }

  /** The epoch/batch loop over the store `open` builds from the prepared
    * data and the initial matrices. Each partition's loss is added to the
    * epoch sum one by one, in pid order, so both stores sum the same
    * doubles in the same order. No job runs after the last batch unless
    * that epoch checkpoints. On a throw the store releases what it holds,
    * and [[TransETrainer.prepared]] releases the layout and broadcasts. */
  private def train[S <: TransETrainer.ParamStore](triples: Dataset[Triple],
      nEntities: Int, nLabels: Int, warmStart: Option[TransEModel])(
      open: (TransETrainer.Prepared, Array[Array[Float]], Array[Array[Float]]) => S): S = {
    val spark = triples.sparkSession
    val p = params
    TransETrainer.requireWarmStartShape(p, nEntities, nLabels, warmStart)
    TransETrainer.prepared(triples, nEntities, nLabels, p) { prep =>
      val (entity, label) = TransETrainer.initialMatrices(p, nEntities, nLabels, warmStart)
      val store = open(prep, entity, label)
      try {
        var history = Vector.empty[Double]
        var epochSecs = Vector.empty[Double]
        var epoch = 0
        while (epoch < p.epochs) {
          val tEpoch0 = System.nanoTime()
          // loss rides in the COLLECTED deltas, not an accumulator: updates
          // from transformations are re-applied on task retry / speculative
          // execution, which would inflate the metric nondeterministically on
          // a real cluster; collect() results are exactly-once
          var epochLoss = 0.0
          var batch = 0
          while (batch < p.batches) {
            val batchSeed = TransETrainer.batchSeedOf(p, epoch, batch)
            val sampled = TransETrainer.sampleBatch(prep.layout.blocks, p.batches, batchSeed)
            store.step(sampled, batchSeed).foreach(loss => epochLoss += loss)
            batch += 1
          }
          history :+= epochLoss
          epochSecs :+= (System.nanoTime() - tEpoch0) / 1e9
          epoch += 1
          // periodic VERSIONED checkpoint (reference writes per-epoch files
          // entity_embedding_<id>.pkl, utils.py:44-49 / TransE.py:108-111):
          // every checkpointed epoch is restorable from $dir/epoch=<n>
          if (p.checkpointEvery > 0 && epoch % p.checkpointEvery == 0) {
            p.checkpointDir.foreach(dir => store.save(spark, s"$dir/epoch=$epoch"))
          }
        }
        lossHistory = history
        epochSecsHistory = epochSecs
        store
      } catch {
        case e: Throwable =>
          store.release()
          throw e
      }
    }
  }
}

object TransETrainer {

  /** CONTINUAL-TRAINING model growth (round 10): pad a trained model to a
    * larger vocabulary so `fit(warmStart = extended)` resumes with every
    * old row's learned weights intact and only the appended rows at
    * seeded fresh init (the same U(±6/√k) as cold start; new label rows
    * normalized once like init, new entity rows by fit's own epoch-start
    * normalization). Pairs with [[DictionaryEncoder.extendDictionary]]'s
    * id-stability contract: old id i is old matrix row i before and
    * after. The init seed is displaced by the OLD sizes so the appended
    * rows never replay the exact cold-start stream of the original
    * training (which rows 0..oldN-1 already consumed). */
  def extendModel(model: TransEModel, nEntities: Int, nLabels: Int): TransEModel = {
    require(nEntities >= model.nEntities && nLabels >= model.nLabels,
      s"extendModel cannot shrink: (${model.nEntities},${model.nLabels}) -> " +
        s"($nEntities,$nLabels)")
    val p = model.params
    val newEnt = Kernels.uniformInit(nEntities - model.nEntities, p.dim,
      p.seed + 2 + model.nEntities.toLong)
    val newLab = Kernels.uniformInit(nLabels - model.nLabels, p.dim,
      p.seed + 3 + model.nLabels.toLong)
    Kernels.normalizeAll(newLab)
    TransEModel(
      model.entity.map(_.clone()) ++ newEnt,
      model.label.map(_.clone()) ++ newLab,
      p)
  }

  private[transe] def requireWarmStartShape(p: TransEParams, nEntities: Int,
      nLabels: Int, warmStart: Option[TransEModel]): Unit =
    warmStart.foreach { m =>
      require(m.nEntities == nEntities && m.nLabels == nLabels,
        s"warm-start shape (${m.nEntities},${m.nLabels}) != (${nEntities},${nLabels})")
      // dim must match too: the delta pack/apply path reads exactly p.dim
      // floats per row — a wider checkpoint would silently truncate every
      // update and leave components beyond p.dim stale
      require(m.entity.headOption.forall(_.length == p.dim) &&
        m.label.headOption.forall(_.length == p.dim),
        s"warm-start dim ${m.entity.headOption.map(_.length).getOrElse(0)} != ${p.dim}")
    }

  /** The per-round sampling/corruption seed — part of the golden contract. */
  private[transe] def batchSeedOf(p: TransEParams, epoch: Int, batch: Int): Long =
    p.seed * 1000003L + epoch.toLong * p.batches + batch

  /** The training data of one fit, laid out once: one sorted
    * [[TripleBlock]] per layout partition, persisted. `triples` is the
    * same data as a Triple view of the blocks. */
  private[graft] final case class Layout(blocks: RDD[TripleBlock], nTriples: Long,
      partitions: Int, keys: TripleKeys) {
    def triples: RDD[Triple] = blocks.flatMap(_.iterator)
  }

  /** What one fit prepares before its first SGD job: the layout and the
    * broadcast [[NegativeSampler]]. */
  private[graft] final case class Prepared(layout: Layout, sampler: Broadcast[NegativeSampler])

  /** Runs `body` over a fit's [[Prepared]] data and releases it when the
    * body returns or throws: the sampler destroyed, layout unpersisted. */
  private[graft] def prepared[A](triples: Dataset[Triple], nEntities: Int, nLabels: Int,
      p: TransEParams)(body: Prepared => A): A = {
    val layout = relayout(triples, nEntities, nLabels)
    try {
      val sampler = triples.sparkSession.sparkContext.broadcast(
        NegativeSampler(layout, nEntities, nLabels, p))
      try body(Prepared(layout, sampler))
      finally sampler.destroy()
    } finally layout.blocks.unpersist()
  }

  /** Lay the training set out ONCE as persisted primitive blocks: the
    * SGD loop re-samples them 2 * epochs * batches times, and staying in
    * the RDD API avoids re-running Catalyst analysis + whole-stage codegen
    * compilation for a fresh sample plan every round (measured: the
    * planning overhead dominated the loop at sf0.1).
    *
    * Partition count is sized by DELTA VOLUME, not CPU: every partition
    * ships its own copy of each hot embedding row it touched, so 32
    * partitions of a small batch multiply the per-round collect bytes
    * ~32x while the SGD compute itself is microseconds. Measured on sf0.1
    * (1.5M triples, 186k entities): 4-8 partitions beat 32 by ~2-4x wall
    * clock. ~200k triples/partition, clamped to [2, 16].
    *
    * LAYOUT-INDEPENDENT DETERMINISM: each triple goes to a partition by a
    * content hash ([[StableHash.tripleHash]]) and each partition is
    * sorted ascending (h, l, t). The SGD result depends on which rows
    * share a partition (per-partition write-combining + LWW merge) and on
    * iteration order (Bernoulli sampling consumes the RNG stream
    * row-by-row); an upstream coalesce/repartition layout would leak the
    * session's shuffle-partition count and file-split geometry into the
    * trained weights. After this layout, fit() is a pure function of
    * (triple set, params) — what lets the driver gate transe_fit/eval on
    * golden recordings regardless of SPARK_GRAFT_CPUS. Determinism is
    * hand-rolled ([[StableHash.tripleHash]] here, [[sampleBatch]] for
    * Bernoulli sampling) so a Scala/Spark upgrade cannot invalidate the
    * golden recordings (HashStabilitySpec pins the bit patterns).
    *
    * Two jobs, ONE pass over the input lineage:
    *  1. each input partition packs its triples into one Array[Long] of
    *     [[TripleKeys]] keys, checking every id against [0, nEntities) /
    *     [0, nLabels); the packed arrays persist, and their sizes come
    *     back to the driver, which fails the fit on the first
    *     out-of-range triple or else sizes the layout;
    *  2. each packed array splits into one array per layout partition,
    *     the shuffle moves those (input partitions x layout partitions)
    *     arrays instead of one record per triple, and each reducer
    *     concatenates its arrays and sorts them: a primitive sort of the
    *     keys, or an (h, l, t) comparator sort when they do not pack.
    * The result is ascending (h, l, t) under the same partition
    * assignment as a per-triple shuffle and comparator sort, so the
    * sampled rows, the corruption stream and every delta are the same.
    */
  private[transe] def relayout(triples: Dataset[Triple], nEntities: Int,
      nLabels: Int): Layout = {
    val keys = TripleKeys(nEntities, nLabels)
    val packed = triples.rdd
      .mapPartitions(it => Iterator(TripleBlock.pack(it, keys, nEntities, nLabels)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = packed.map(_.map(_.size.toLong)).collect()
      sizes.collectFirst { case Left(tr) =>
        throw new IllegalArgumentException(s"training triple $tr has an id outside " +
          s"[0, $nEntities) x [0, $nLabels) x [0, $nEntities)")
      }
      val nTriples = sizes.map(_.getOrElse(0L)).sum
      val targetParts = math.max(2, math.min(16, (nTriples / 200000L).toInt + 1))
      val blocks = packed
        .flatMap(_.toOption)
        .flatMap { b =>
          TripleBlock.split(b, targetParts)
            .iterator.zipWithIndex.collect { case (a, q) if a.nonEmpty => (q, a) }
        }
        .partitionBy(new IndexPartitioner(targetParts))
        .mapPartitions(it => Iterator(TripleBlock.sorted(keys, it.map(_._2))),
          preservesPartitioning = false)
        .persist(StorageLevel.MEMORY_AND_DISK)
      blocks.count() // materialize from the packed cache, released below
      Layout(blocks, nTriples, targetParts, keys)
    } finally packed.unpersist()
  }

  /** Hand-rolled per-partition Bernoulli sampler (fraction 1/batches,
    * reference `TransE.py:120-122`). Replaces `RDD.sample`, whose
    * per-partition seeding is a Spark implementation detail — this way the
    * sampled row set is a pure function of [[StableHash.samplerSeed]] and
    * the laid-out blocks, stable across Spark upgrades. */
  private[transe] def sampleBatch(data: RDD[TripleBlock], batches: Int,
      batchSeed: Long): RDD[Triple] = {
    val frac = 1.0 / batches
    data.mapPartitionsWithIndex({ (pid, it) =>
      val rng = new SplittableRandom(StableHash.samplerSeed(batchSeed, pid))
      it.next().sample(rng, frac) // a layout partition holds exactly one block
    }, preservesPartitioning = true)
  }

  /** Seeded init / warm-start restore (reference `TransE.py:45-60,97`). */
  private[transe] def initialMatrices(p: TransEParams, nEntities: Int,
      nLabels: Int, warmStart: Option[TransEModel]):
      (Array[Array[Float]], Array[Array[Float]]) =
    warmStart match {
      case Some(m) =>
        val e = m.entity.map(_.clone())
        // the reference normalizes entities at every epoch start INCLUDING
        // the restore-then-continue path (TransE.py:97); labels are only
        // normalized at init
        Kernels.normalizeAll(e)
        (e, m.label.map(_.clone()))
      case None =>
        val e = Kernels.uniformInit(nEntities, p.dim, p.seed)
        val l = Kernels.uniformInit(nLabels, p.dim, p.seed + 1)
        Kernels.normalizeAll(l)
        Kernels.normalizeAll(e)
        (e, l)
    }

  /** One partition's sparse update (reference yields a dict pair per
    * partition, `TransE.py:218`). Stored as FLAT primitive arrays —
    * ids plus row-major values — so task-result serialization is a
    * straight memcpy instead of per-row boxed tuples (this is the
    * dominant per-round byte volume: up to |touched rows| * dim floats
    * per partition). */
  final case class Delta(
      pid: Int,
      entIds: Array[Int], entVals: Array[Float],
      labIds: Array[Int], labVals: Array[Float],
      loss: Double) {

    /** This delta without its entity rows. */
    def labelsOnly: Delta = copy(entIds = Array.emptyIntArray, entVals = Array.emptyFloatArray)

    /** In-place overwrite of the driver matrices (no per-row allocation —
      * safe: the previous round's broadcast is never read again once its
      * tasks' results are collected, and the next round re-broadcasts). */
    def applyTo(entity: Array[Array[Float]], label: Array[Array[Float]], dim: Int): Unit = {
      var i = 0
      while (i < entIds.length) {
        System.arraycopy(entVals, i * dim, entity(entIds(i)), 0, dim)
        i += 1
      }
      i = 0
      while (i < labIds.length) {
        System.arraycopy(labVals, i * dim, label(labIds(i)), 0, dim)
        i += 1
      }
    }
  }

  /** Where one fit keeps its parameters between batches. The trainer's
    * loop samples each batch; the store runs its SGD and merge, writes a
    * checkpoint, and releases what it holds when the fit throws. A store
    * is not Serializable on purpose: a task closure that captured one
    * would ship the driver matrices with every task, and Spark refuses
    * such a closure instead. Task closures capture locals only. */
  private[transe] sealed trait ParamStore {
    /** SGD over one sampled batch, merged into the store; returns each
      * partition's loss in pid order. */
    def step(sampled: RDD[Triple], batchSeed: Long): Array[Double]

    /** Writes the current parameters under `dir` as `entity/`, `label/`
      * and `params/`, the layout [[EmbeddingIO.loadModel]] reads. */
    def save(spark: SparkSession, dir: String): Unit

    /** Releases the store's cluster state after a failed fit. */
    def release(): Unit
  }

  /** Both matrices on the driver. Parameter sync: ONE fresh broadcast per
    * batch bundling both matrices (the reference broadcasts two,
    * TransE.py:116-117), destroyed after the merge (TransE.py:146-149 —
    * epochs*batches generations would otherwise accumulate on executors). */
  private[transe] final class BroadcastStore(prep: Prepared, params: TransEParams,
      val entity: Array[Array[Float]], val label: Array[Array[Float]]) extends ParamStore {

    def step(sampled: RDD[Triple], batchSeed: Long): Array[Double] = {
      val modelBc = sampled.sparkContext.broadcast((entity, label))
      try {
        val sampler = prep.sampler
        val p = params
        mergeInPidOrder(sampled.mapPartitionsWithIndex { (pid, it) =>
          val (ent, lab) = modelBc.value
          partitionSgd(pid, it, ent(_), lab(_), sampler.value, p, batchSeed)
        }.collect(), entity, label, p.dim)
      } finally modelBc.destroy()
    }

    def save(spark: SparkSession, dir: String): Unit =
      EmbeddingIO.saveModel(spark, TransEModel(entity, label, params), dir)

    def release(): Unit = ()
  }

  /** The entity matrix as a distributed `(id, vec)` RDD, so training goes
    * past the broadcast ceiling (SCALE.md): the design scales to entity
    * counts where n*k*4 bytes no longer fits one heap. The label matrix
    * stays on the driver and broadcasts per batch (10k relations × k=50
    * is 2 MB), like the reference's label matrix.
    *
    * The floats equal [[BroadcastStore]]'s because of one property the
    * kernel documents: corruption-RNG consumption is parameter-
    * independent, so each partition's parameter READ SET is computable
    * before the parameters are fetched ([[readSet]]).
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
    *               the driver.
    *
    * vs the broadcast store: broadcast ships n*k*4 bytes to EVERY executor
    * EVERY batch regardless of batch size; this store ships
    * O(touched rows × k) — the crossover is measured in SCALE.md.
    *
    * Lineage is truncated every round via the Checkpoints seam (the standard
    * iterative-parameter pattern, as in GraphX Pregel); fault-tolerance at
    * scale would move this to reliable checkpointing on the cluster FS. */
  private[transe] final class PartitionedStore(prep: Prepared, params: TransEParams,
      entity0: Array[Array[Float]], val label: Array[Array[Float]]) extends ParamStore {
    private val nEntities = entity0.length
    private val paramPart = new HashPartitioner(prep.layout.partitions)
    private val pidPart = new IndexPartitioner(prep.layout.partitions)

    /** The seeded init matrix, broadcast once: each task of the init job
      * reads the rows of its id range from it, so no task carries the
      * matrix. It lives until the first round's parameter RDD is
      * materialized and truncated; until then a lost init partition can
      * still be recomputed from it. */
    private var initBc = prep.layout.blocks.sparkContext.broadcast(entity0)

    /** The entity matrix, persisted and partitioned by `paramPart`. */
    var entParams: RDD[(Int, Array[Float])] = {
      val bc = initBc // a local, so the task closure does not capture the store
      val rows = prep.layout.blocks.sparkContext
        .range(0L, nEntities.toLong, 1L, prep.layout.partitions)
        .map { i => (i.toInt, bc.value(i.toInt)) }
        .partitionBy(paramPart)
        .persist(StorageLevel.MEMORY_AND_DISK)
      rows.count()
      rows
    }

    private def dropInit(): Unit = if (initBc != null) { initBc.destroy(); initBc = null }

    def step(sampled: RDD[Triple], batchSeed: Long): Array[Double] = {
      val sampler = prep.sampler
      val p = params
      val labBc = sampled.sparkContext.broadcast(label)
      var deltaRdd: RDD[Delta] = null
      val prev = entParams
      try {
        // 1. parameter read set per partition (ids only)
        val needs: RDD[(Int, Int)] = sampled.mapPartitionsWithIndex({ (pid, it) =>
          readSet(pid, it, sampler.value, batchSeed)
            .asScala.iterator.map(id => (id.intValue, pid))
        }, preservesPartitioning = false)

        // 2. fetch the hit rows and ship them to their consumer partition
        val fetched: RDD[(Int, (Int, Array[Float]))] = prev
          .join(needs.partitionBy(paramPart)) // narrow: both sides on paramPart
          .map { case (id, (vec, pid)) => (pid, (id, vec)) }
          .partitionBy(pidPart)

        // 3. the shared SGD kernel over prefetched rows
        deltaRdd = sampled.zipPartitions(fetched) { (trIt, rowIt) =>
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
          partitionSgd(pid, trIt, entBase, lab(_), sampler.value, p, batchSeed)
        }.persist(StorageLevel.MEMORY_AND_DISK)

        // 4a. labels + loss on the driver, in the broadcast store's merge
        //     order; the entity rows stay on the cluster
        val losses = mergeInPidOrder(deltaRdd.map(_.labelsOnly).collect(), null, label, p.dim)

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
        dropInit() // no lineage reaches the init rows any more
        losses
      } finally {
        // teardown order matters: only after `next` is materialized is
        // it safe to drop the inputs that produced it (on a failure
        // they go anyway, and release() drops `next`)
        labBc.destroy()
        if (deltaRdd != null) deltaRdd.unpersist()
        prev.unpersist()
      }
    }

    def save(spark: SparkSession, dir: String): Unit = {
      EmbeddingIO.saveDistributed(spark, entParams, s"$dir/entity")
      EmbeddingIO.save(spark, label, s"$dir/label")
      EmbeddingIO.saveParams(spark, params, dir)
    }

    def release(): Unit = {
      entParams.unpersist()
      dropInit()
    }
  }

  /** Applies `deltas` to the driver matrices in partition-index order —
    * the deterministic last-writer-wins merge — and returns their losses
    * in that order. `entity` is not read when no delta carries entity rows. */
  private def mergeInPidOrder(deltas: Array[Delta], entity: Array[Array[Float]],
      label: Array[Array[Float]], dim: Int): Array[Double] = {
    java.util.Arrays.sort(deltas, Ordering.by((d: Delta) => d.pid))
    deltas.map { d =>
      d.applyTo(entity, label, dim)
      d.loss
    }
  }

  /** Sends an Int key to the partition of that index. */
  private final class IndexPartitioner(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Open-addressing Int -> row map holding one task's write-combined
    * rows for [[partitionSgd]]: linear probing over a primitive key array,
    * so a lookup neither boxes the id nor allocates, and there are no
    * entry objects. Ids must be >= 0 (-1 marks an empty slot). */
  private[transe] final class RowMap {
    private var keys = Array.fill(64)(-1)
    private var rows = new Array[Array[Float]](64)
    private var count = 0

    private def slotOf(id: Int): Int = {
      val mask = keys.length - 1
      val x = id * 0x9E3779B9
      var s = (x ^ (x >>> 16)) & mask
      while (keys(s) != id && keys(s) != -1) s = (s + 1) & mask
      s
    }

    /** The row stored for `id`, or null. */
    def get(id: Int): Array[Float] = rows(slotOf(id))

    /** Store a row for an id that is not in the map. */
    def put(id: Int, row: Array[Float]): Unit = {
      if (2 * (count + 1) > keys.length) {
        val oldKeys = keys
        val oldRows = rows
        keys = Array.fill(oldKeys.length * 2)(-1)
        rows = new Array[Array[Float]](oldKeys.length * 2)
        var i = 0
        while (i < oldKeys.length) {
          if (oldKeys(i) != -1) {
            val s = slotOf(oldKeys(i))
            keys(s) = oldKeys(i); rows(s) = oldRows(i)
          }
          i += 1
        }
      }
      val s = slotOf(id)
      keys(s) = id; rows(s) = row
      count += 1
    }

    /** (ids, row-major values) of every stored row, in slot order. */
    def pack(dim: Int): (Array[Int], Array[Float]) = {
      val ids = new Array[Int](count)
      val vals = new Array[Float](count * dim)
      var i = 0
      var s = 0
      while (s < keys.length) {
        if (keys(s) != -1) {
          ids(i) = keys(s)
          System.arraycopy(rows(s), 0, vals, i * dim, dim)
          i += 1
        }
        s += 1
      }
      (ids, vals)
    }
  }

  /** Executor-side SGD over one partition of the sampled batch — the
    * reference's `corrupt_minimize` (`TransE.py:172-218`) re-expressed.
    * Touched rows are copied once into local maps (write-combining) and
    * emitted as the partition delta.
    *
    * Parameter access is through `entBase`/`labBase` READ closures so the
    * broadcast store (full matrices) and the [[PartitionedStore]]
    * (per-partition prefetched rows) share this kernel bit-for-bit; the
    * closures must return the batch-start value for every id in the
    * partition's read set ({h, t, final corruption candidate} entities and
    * {l} labels per sampled triple — see [[readSet]]).
    *
    * RNG DISCIPLINE (the partitioned store depends on it): each
    * negative comes from [[NegativeSampler.draw]], whose RNG consumption
    * depends only on the training set, never on parameter values. That
    * makes the stream replayable by [[readSet]] without knowing the
    * parameters.
    *
    * The loop allocates nothing per triple: the write-combining maps are
    * primitive [[RowMap]]s, both distances come from one
    * [[Kernels.distPair]] pass into a 2-slot scratch, and both gradients
    * go into two per-task scratch rows ([[Kernels.gradientInto]]). It
    * does the float and double operations of the plain formulation
    * (boxed maps, a fresh gradient array per call, two separate distance
    * sums; kept as a test reference) in the same order, so the emitted
    * rows and loss are bit-identical to it: each distance keeps its own
    * summation order; both gradients are taken from the pre-update rows
    * before any update; the six row updates and the re-normalizations
    * run in the same sequence over the same, possibly aliased, row
    * objects, because a row is cloned into its map on first write and
    * every later read or write of that id returns the clone. Ids inside
    * a Delta come in slot order; each occurs once, so the merge does not
    * depend on that order.
    */
  private[transe] def partitionSgd(
      pid: Int,
      it: Iterator[Triple],
      entBase: Int => Array[Float],
      labBase: Int => Array[Float],
      sampler: NegativeSampler,
      p: TransEParams,
      batchSeed: Long): Iterator[Delta] = {

    // Deterministic per-task stream: seed mixes batch and partition
    // (reference uses OS randomness, TransE.py:185 — SURVEY §7.5-3).
    val rng = sampler.stream(batchSeed, pid)
    // Write-combining with DIRTY-ONLY shipping: rows enter the local maps
    // (and hence the emitted delta) only when actually updated. The
    // reference also ships rows it merely READ (`TransE.py:191-206`),
    // which lets an unchanged copy from a later partition stomp a real
    // update under last-writer-wins — shipping only dirty rows is both
    // cheaper (delta bytes track hinge violations, which decay as training
    // converges) and strictly better merge semantics (documented deviation,
    // SURVEY §7.5-2).
    val entLocal = new RowMap
    val labLocal = new RowMap
    def entRead(id: Int): Array[Float] = {
      val r = entLocal.get(id)
      if (r != null) r else entBase(id)
    }
    def labRead(id: Int): Array[Float] = {
      val r = labLocal.get(id)
      if (r != null) r else labBase(id)
    }
    def entWrite(id: Int): Array[Float] = {
      var r = entLocal.get(id)
      if (r == null) { r = entBase(id).clone(); entLocal.put(id, r) }
      r
    }
    def labWrite(id: Int): Array[Float] = {
      var r = labLocal.get(id)
      if (r == null) { r = labBase(id).clone(); labLocal.put(id, r) }
      r
    }
    val dists = new Array[Double](2)
    val gPos = new Array[Float](p.dim)
    val gNeg = new Array[Float](p.dim)

    var loss = 0.0
    while (it.hasNext) {
      val tr = it.next()
      val negative = sampler.draw(rng, tr)
      val nhId = NegativeSampler.head(negative)
      val ntId = NegativeSampler.tail(negative)

      Kernels.distPair(p.distance, entRead(tr.h), labRead(tr.l), entRead(tr.t),
        entRead(nhId), entRead(ntId), dists)
      val viol = p.margin + dists(0) - dists(1)
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
        Kernels.gradientInto(p.distance, h, l, t, gPos)
        Kernels.gradientInto(p.distance, nh, l, nt, gNeg)
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
    val (eIds, eVals) = entLocal.pack(p.dim)
    val (lIds, lVals) = labLocal.pack(p.dim)
    Iterator(Delta(pid, eIds, eVals, lIds, lVals, loss))
  }

  /** Replay the corruption stream WITHOUT parameters to compute the exact
    * set of entity ids one partition's [[partitionSgd]] call will read
    * ({h, t, nh, nt} per sampled triple). Possible because RNG
    * consumption is parameter-independent ([[NegativeSampler]]) — this
    * is what lets the [[PartitionedStore]] prefetch exactly the needed
    * parameter rows ahead of the SGD pass. */
  private[transe] def readSet(
      pid: Int,
      it: Iterator[Triple],
      sampler: NegativeSampler,
      batchSeed: Long): java.util.HashSet[Integer] = {
    val rng = sampler.stream(batchSeed, pid)
    val ids = new java.util.HashSet[Integer]()
    it.foreach { tr =>
      val negative = sampler.draw(rng, tr)
      ids.add(tr.h); ids.add(tr.t)
      ids.add(NegativeSampler.head(negative)); ids.add(NegativeSampler.tail(negative))
    }
    ids
  }
}
