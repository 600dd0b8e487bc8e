package graft.tools

import graft.GraftSession
import graft.transe._

/** Staged long-train probe on the learnable fb15k-shape KG
  * ([[Fb15kShape.structuredKg]]): trains `epochsPerStage` epochs per
  * stage (warm-starting each stage from the previous model) and prints
  * held-out MeanRank / Hits@10 after every stage — the feasibility
  * instrument behind the LongTrainSpec thresholds. The SPEC trains in
  * one uninterrupted fit (stage boundaries re-seed the batch sampler, so
  * a chained run is NOT bit-identical to a single long run); this tool
  * only maps the quality trajectory.
  *
  * Usage: runMain graft.tools.LongTrainExperiment [epochsPerStage] [stages]
  */
object LongTrainExperiment {
  def main(args: Array[String]): Unit = {
    val epochsPerStage = args.headOption.map(_.toInt).getOrElse(50)
    val stages = if (args.length > 1) args(1).toInt else 4
    val spark = GraftSession.builder().getOrCreate()

    val (train, test) = Fb15kShape.structuredSplit(spark)
    val trainP = train.persist()
    val testP = test.persist()
    println(s"train=${trainP.count()} test=${testP.count()}")

    var model: Option[TransEModel] = None
    var done = 0
    val t0 = System.nanoTime()
    (1 to stages).foreach { _ =>
      val trainer = new TransETrainer(Fb15kShape.params(epochs = epochsPerStage))
      model = Some(trainer.fit(trainP, Fb15kShape.nEntities,
        Fb15kShape.nLabels, warmStart = model))
      done += epochsPerStage
      val row = LinkPrediction.evaluate(testP, model.get, hitsK = 10)
        .collect().head
      val elapsed = (System.nanoTime() - t0) / 1e9
      println(f"EPOCHS $done%4d (${elapsed}%.0f s): mean_rank=${row.getDouble(0)}%.2f " +
        f"head=${row.getDouble(1)}%.2f tail=${row.getDouble(2)}%.2f " +
        f"hits@10=${row.getDouble(3)}%.4f n=${row.getLong(4)} " +
        f"loss_last=${trainer.lossHistory.last}%.1f")
    }
    spark.stop()
  }
}
