package graft.tools

import graft.GraftSession
import graft.queries.TransEQueries
import graft.transe._

/** One-shot recorder for the ContractSpec golden values (run manually,
  * output pasted into ContractSpec's companion — the documented re-record
  * path). Prints:
  *   - the L1-distance fixed-seed loss curve + eval metrics at sf0.001
  *     (VERDICT r5 #6: the registry's evalParams train L2Squared, so the
  *     L1 kernels were previously ungated);
  *   - the fb15k-shape 3-epoch loss curve (VERDICT r5 #8).
  * Deterministic by the trainer's layout-independent contract, so values
  * recorded here reproduce under any master/parallelism. */
object RecordGoldens {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(8).getOrCreate()

    val sf = "/root/testdata/sf0.001"
    val (train, test, _, nEnt, nLab) = TransEQueries.trainTestSplit(spark, sf)

    val p = TransEQueries.evalParams.copy(distance = L1)
    val trainer = new TransETrainer(p)
    val model = trainer.fit(train, nEnt, nLab)
    println("goldenLossCurveL1 = Array(")
    println(trainer.lossHistory.map(_.toString).grouped(3)
      .map(_.mkString("  ", ", ", "")).mkString(",\n") + ")")
    val row = LinkPrediction.evaluate(test, model, hitsK = 10).collect().head
    println(s"goldenEvalL1 = (${row.getDouble(0)}, ${row.getDouble(1)}, " +
      s"${row.getDouble(2)}, ${row.getDouble(3)}, ${row.getLong(4)}L)")

    // filtered-protocol eval golden (round 6): registry model (L2Squared,
    // seed 42), known set = the full encoded KG
    val (fit, fitTest) = TransEQueries.fitted(spark, sf)
    val (encodedAll, _, _, _, _) = TransEQueries.encodedKg(spark, sf)
    val frow = LinkPrediction.evaluateFiltered(fitTest, fit.model,
      encodedAll, hitsK = 10).collect().head
    println(s"goldenEvalFiltered = (${frow.getDouble(0)}, ${frow.getDouble(1)}, " +
      s"${frow.getDouble(2)}, ${frow.getDouble(3)}, ${frow.getLong(4)}L)")

    val kg = Fb15kShape.kg(spark).persist()
    kg.count()
    val fbTrainer = new TransETrainer(Fb15kShape.params(epochs = 3))
    fbTrainer.fit(kg, Fb15kShape.nEntities, Fb15kShape.nLabels)
    println("goldenFb15kShapeLoss = Array(" +
      fbTrainer.lossHistory.mkString(", ") + ")")

    spark.stop()
  }
}
