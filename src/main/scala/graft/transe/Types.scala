package graft.transe

/** Raw string triple as read from TSV (reference: `utils.py:6`,
  * positional schema per `TransE.py:371-373`). */
case class RawTriple(h: String, l: String, t: String)

/** Dictionary-encoded triple (reference: `utils.py:26`). Ids are Int:
  * they index dense JVM arrays (the embedding matrix), whose indices are
  * Int-bounded anyway; 2^31 entities is the documented ceiling of the
  * broadcast-matrix design (see TransETrainer scaladoc for the scale path).
  */
case class Triple(h: Int, l: Int, t: Int)

/** Distance function for the TransE score d(h + l, t)
  * (reference: `TransE.py:298-309`). */
sealed trait Distance extends Serializable
case object L1 extends Distance
case object L2Squared extends Distance

/** Hyperparameters (reference defaults: `example.py:30-36`).
  *
  * @param epochs          SGD epochs (`n_epochs`)
  * @param batches         mini-batches per epoch (`n_batches`); batch =
  *                        Bernoulli sample of fraction 1/batches
  *                        (`TransE.py:120-122`)
  * @param margin          hinge margin gamma (`gamma_margin`)
  * @param lr              learning rate (`learning_rate`)
  * @param dim             embedding dimension k (`latent_dimension`)
  * @param seed            RNG seed threaded through init, sampling and
  *                        corruption — the reference seeds from the wall
  *                        clock (`TransE.py:122,185`); determinism is a
  *                        deliberate upgrade (SURVEY §7.5-3)
  * @param rejectionCap    max redraws when a corrupted triple collides with
  *                        the training set (`TransE.py:237-244` loops
  *                        unboundedly; SURVEY §7.5-4)
  * @param bernCorruption  "bern" negative sampling (Wang et al., AAAI
  *                        2014; beyond-reference): corrupt the head with
  *                        probability tph/(tph+hpt) per relation instead
  *                        of 1/2 — fewer false-negative corruptions on
  *                        1-to-N / N-to-1 relations. Default OFF = the
  *                        reference's uniform coin (golden contract)
  * @param exactMembership reject negatives against the exact sorted
  *                        training set (8 B per triple when its keys pack
  *                        into one Long, 16 B otherwise); false = Bloom
  *                        filter (1% fpp, ~1.2 B per triple), the
  *                        100TB-scale path where the exact set no longer
  *                        fits in executor memory
  * @param checkpointEvery write a parquet checkpoint of both matrices
  *                        every N epochs (reference: pickle every 50,
  *                        `TransE.py:108-111`); 0 disables
  * @param checkpointDir   where periodic checkpoints go (entity/ + label/)
  */
case class TransEParams(
    epochs: Int = 100,
    batches: Int = 2,
    margin: Float = 1.0f,
    lr: Float = 0.01f,
    dim: Int = 50,
    distance: Distance = L1,
    seed: Long = 42L,
    rejectionCap: Int = 100,
    bernCorruption: Boolean = false,
    exactMembership: Boolean = true,
    checkpointEvery: Int = 0,
    checkpointDir: Option[String] = None)

/** Trained model: driver-held dense matrices, row = id.
  * (reference: `Embedding.py:7-11` — numpy (n, k) float64; float32 here
  * halves broadcast bytes with no quality cost, SURVEY §7.1.) */
case class TransEModel(
    entity: Array[Array[Float]],
    label: Array[Array[Float]],
    params: TransEParams) {
  def nEntities: Int = entity.length
  def nLabels: Int = label.length
}
