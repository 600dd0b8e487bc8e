package graft.tools

/** Dev-only: time the broadcast trainer vs the partitioned-parameter
  * trainer on the same encoded KG — the measured side of SCALE.md's
  * crossover discussion. Prints per-epoch wall seconds for both.
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.tools.TrainCompare [sfDir] [epochs]
  */
object TrainCompare {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val epochs = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.GraftSession.builder().getOrCreate()

    val (enc, _, _, nEnt, nLab) = graft.queries.TransEQueries.encodedKg(spark, sfDir)
    enc.count()
    val p = graft.queries.TransEQueries.paramsFor(sfDir).copy(epochs = epochs)

    val b = new graft.transe.TransETrainer(p)
    val t0 = System.nanoTime()
    b.fit(enc, nEnt, nLab)
    val tB = (System.nanoTime() - t0) / 1e9
    println(f"[train-compare] broadcast:   total=$tB%.2fs " +
      f"epochs=${b.epochSecsHistory.map(s => f"$s%.2f").mkString(",")} " +
      f"min=${b.epochSecsHistory.min}%.2fs")

    val pt = new graft.transe.TransEPartitionedTrainer(p)
    val t1 = System.nanoTime()
    pt.fit(enc, nEnt, nLab)
    val tP = (System.nanoTime() - t1) / 1e9
    println(f"[train-compare] partitioned: total=$tP%.2fs " +
      f"(${tP / epochs}%.2f s/epoch) lossEq=${b.lossHistory == pt.lossHistory}")
    println(f"[train-compare] shape: nEnt=$nEnt nLab=$nLab k=${p.dim} " +
      f"batches=${p.batches} ratio=${tP / tB}%.2fx")
    spark.stop()
  }
}
