package graft.transe

import java.nio.file.{Files, Path}

import graft.SparkSpec

/** The periodic checkpoint both parameter stores write from the trainer's
  * one epoch loop: every `epoch=N` directory of the broadcast store
  * ([[TransETrainer.fit]]) and of the partitioned store
  * ([[TransETrainer.fitDistributed]]) loads back to the same matrices,
  * carries its hyperparameters, and the last one is the returned model. */
class CheckpointSeamSpec extends SparkSpec {

  private def deleteTree(root: Path): Unit =
    Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))

  private def sameMatrix(a: Array[Array[Float]], b: Array[Array[Float]]): Boolean =
    a.length == b.length && a.indices.forall(i => java.util.Arrays.equals(a(i), b(i)))

  test("both stores checkpoint every epoch to the same loadable matrices") {
    import spark.implicits._
    val r = new java.util.SplittableRandom(3)
    val nEnt = 40
    val nLab = 4
    val triples = Seq.fill(300)(Triple(r.nextInt(nEnt), r.nextInt(nLab), r.nextInt(nEnt)))
      .distinct.toDS().repartition(3)
    val root = Files.createTempDirectory("graft_ckpt_seam")
    try {
      val epochs = 2
      def params(store: String) = TransEParams(epochs = epochs, batches = 2, dim = 8,
        lr = 0.02f, seed = 9, checkpointEvery = 1,
        checkpointDir = Some(root.resolve(store).toString))
      val b = new TransETrainer(params("broadcast"))
      val bModel = b.fit(triples, nEnt, nLab)
      val pt = new TransETrainer(params("partitioned"))
      val pModel = pt.fitPartitioned(triples, nEnt, nLab)
      assert(b.epochSecsHistory.length == epochs, b.epochSecsHistory)
      assert(pt.epochSecsHistory.length == epochs, pt.epochSecsHistory)

      (1 to epochs).foreach { e =>
        val dirs = Seq("broadcast", "partitioned").map(s => root.resolve(s"$s/epoch=$e").toString)
        dirs.foreach(d => assert(EmbeddingIO.loadParams(spark, d).isDefined, d))
        val Seq(bm, pm) = dirs.map(d => EmbeddingIO.loadModel(spark, d, params("any")))
        assert(sameMatrix(bm.entity, pm.entity), s"epoch $e entity checkpoints differ")
        assert(sameMatrix(bm.label, pm.label), s"epoch $e label checkpoints differ")
        if (e == epochs) {
          assert(sameMatrix(bm.entity, bModel.entity) && sameMatrix(bm.label, bModel.label),
            "last broadcast checkpoint is not the returned model")
          assert(sameMatrix(pm.entity, pModel.entity) && sameMatrix(pm.label, pModel.label),
            "last partitioned checkpoint is not the returned model")
        }
      }
    } finally deleteTree(root)
  }
}
