package graft.tools

import graft.queries.TransEQueries
import graft.transe._

/** Dev tool: sweep TransE hyperparameters on the testdata KG and print
  * MeanRank / Hits@10, to pick evalParams that robustly beat random.
  * Usage: runMain graft.tools.EvalSweep <sfDir> */
object EvalSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder().getOrCreate()
    // the registered eval split: placed_by edges of every 17th order held out
    val (train, test, _, nEnt, nLab) = TransEQueries.trainTestSplit(spark, sfDir)

    for ((epochs, lr, dim, dist, margin) <- Seq(
      (40, 0.05f, 32, L2Squared, 1.0f),
      (40, 0.02f, 32, L2Squared, 1.0f),
      (30, 0.05f, 32, L2Squared, 1.0f))) {
      val params = TransEParams(epochs = epochs, batches = 2, margin = margin,
        lr = lr, dim = dim, distance = dist, seed = 42L)
      val trainer = new TransETrainer(params)
      val t0 = System.nanoTime()
      val model = trainer.fit(train, nEnt, nLab)
      val fitS = (System.nanoTime() - t0) / 1e9
      val row = LinkPrediction.evaluate(test, model).collect().head
      val ranks = LinkPrediction.rankTriples(test, model).collect()
      val headMean = ranks.map(_.rank_head).sum.toDouble / ranks.length
      val tailMean = ranks.map(_.rank_tail).sum.toDouble / ranks.length
      System.err.println(f"[sweep] epochs=$epochs lr=$lr dim=$dim dist=$dist m=$margin " +
        f"meanRank=${row.getAs[Double]("mean_rank")}%.0f " +
        f"(head=$headMean%.0f tail=$tailMean%.0f) " +
        f"hits10=${row.getAs[Double]("hits_at_10")}%.3f " +
        f"lossLast=${trainer.lossHistory.last}%.0f " +
        f"fit=${fitS}%.1fs (rand=${nEnt / 2})")
    }
    spark.stop()
  }
}
