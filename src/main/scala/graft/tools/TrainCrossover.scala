package graft.tools

/** Dev-only: locate the broadcast-vs-partitioned parameter store crossover
  * (`TransETrainer.fit` vs `fitDistributed`) by training seeded synthetic
  * KGs of increasing entity count at the reference k=50. The broadcast
  * store ships n*k*4 bytes per round regardless of batch size; the
  * partitioned store ships O(batch) — as n grows the ratio must invert. Prints one line per shape.
  * Usage: runMain graft.tools.TrainCrossover [nEnt1,nEnt2,...] [epochs]
  */
object TrainCrossover {
  def main(args: Array[String]): Unit = {
    val shapes = args.headOption.getOrElse("250000,1000000,4000000")
      .split(",").map(_.trim.toInt)
    val epochs = args.lift(1).map(_.toInt).getOrElse(2)
    val batches = args.lift(2).map(_.toInt).getOrElse(2)
    val mode = args.lift(3).getOrElse("both") // both | broadcast | partitioned
    val spark = graft.GraftSession.builder().getOrCreate()
    import spark.implicits._

    shapes.foreach { nEnt =>
      val nLab = 237
      val nTriples = nEnt * 2
      val kg = spark.range(nTriples.toLong).map { i =>
        val r = new java.util.SplittableRandom(0xc0ffeeL + i)
        graft.transe.Triple(r.nextInt(nEnt), r.nextInt(nLab), r.nextInt(nEnt))
      }.persist()
      kg.count()
      val p = graft.transe.TransEParams(epochs = epochs, batches = batches,
        margin = 1.0f, lr = 0.01f, dim = 50, distance = graft.transe.L1)

      val b = new graft.transe.TransETrainer(p)
      val tB = if (mode != "partitioned") {
        val t0 = System.nanoTime()
        b.fit(kg, nEnt, nLab)
        (System.nanoTime() - t0) / 1e9 / epochs
      } else -1.0

      val pt = new graft.transe.TransETrainer(p)
      // shuffle volume of the partitioned fit: the scale claim is
      // per-round traffic ~ O(touched-rows x k), so report it measured
      val (tP, shuffle) = if (mode != "broadcast") {
        val probed = graft.metrics.JobProbe.measure(spark) {
          val t1 = System.nanoTime()
          val (entRdd, _) = pt.fitDistributed(kg, nEnt, nLab)
          val s = (System.nanoTime() - t1) / 1e9 / epochs
          entRdd.unpersist()
          s
        }
        (probed.result, probed.work)
      } else (-1.0, graft.metrics.Work())
      kg.unpersist()
      val mb = nEnt.toLong * p.dim * 4 / (1 << 20)
      println(f"[crossover] nEnt=$nEnt%d batches=$batches (matrix=${mb}MB) " +
        f"broadcast=$tB%.2f s/epoch partitioned=$tP%.2f s/epoch " +
        f"ratio=${tP / tB}%.2fx " +
        f"shuffleRead=${shuffle.shuffleReadBytes / (1 << 20)}MB/" +
        f"${shuffle.shuffleReadRecords / 1000000.0}%.1fMrec (all epochs) lossEq=${
          mode == "both" && b.lossHistory == pt.lossHistory}")
    }
    spark.stop()
  }
}
