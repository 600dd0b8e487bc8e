package graft.tools

/** Dev-only: print the fixed-seed transe_fit loss curve and transe_eval
  * metrics under a given SPARK_GRAFT_CPUS — used to verify the trainer's
  * layout-independent determinism claim (ContractSpec golden gates must
  * hold regardless of core count / shuffle partitions).
  * Usage: SPARK_GRAFT_CPUS=4 runMain graft.tools.FitCurve [sfDir] */
object FitCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = graft.GraftSession.cpus
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    val losses = graft.queries.TransEQueries.transeFit(spark, sfDir)
      .orderBy("epoch").collect().map(_.getDouble(1))
    println(s"[fit-curve cpus=$cpus] ${losses.mkString(",")}")
    val m = graft.queries.TransEQueries.transeEval(spark, sfDir).collect().head
    println(s"[eval cpus=$cpus] $m")
    spark.stop()
  }
}
