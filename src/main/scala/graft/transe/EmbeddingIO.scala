package graft.transe

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Embedding checkpointing (reference `utils.backup/restore`,
  * `utils.py:44-59`, which pickles numpy matrices to driver-local disk).
  * Engine format: Parquet `(id INT, vec ARRAY<FLOAT>)` — splittable,
  * compressed, readable by any engine, and writable/readable distributed
  * (FIXTURES.md §A.3). */
object EmbeddingIO {

  def toDF(spark: SparkSession, m: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    spark.sparkContext
      .parallelize(m.zipWithIndex.map { case (v, i) => (i, v) }.toIndexedSeq)
      .toDF("id", "vec")
  }

  def save(spark: SparkSession, m: Array[Array[Float]], path: String): Unit =
    toDF(spark, m).write.mode("overwrite").parquet(path)

  /** Distributed checkpoint writer: the matrix stays an RDD end-to-end —
    * the partitioned store's at-scale path ([[TransETrainer.fitDistributed]]), where the entity matrix
    * never materializes on the driver. Same format as [[save]]. */
  def saveDistributed(spark: SparkSession,
      m: org.apache.spark.rdd.RDD[(Int, Array[Float])], path: String): Unit = {
    import spark.implicits._
    m.toDF("id", "vec").write.mode("overwrite").parquet(path)
  }

  /** Load a checkpoint back into a dense driver matrix. Ids must be dense
    * 0..n-1 (enforced — they index the matrix). */
  def load(spark: SparkSession, path: String): Array[Array[Float]] = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select("id", "vec").as[(Int, Array[Float])].collect()
    val n = rows.length
    val out = new Array[Array[Float]](n)
    rows.foreach { case (id, v) =>
      require(id >= 0 && id < n, s"non-dense embedding id $id (n=$n)")
      out(id) = v
    }
    require(out.forall(_ != null), "missing embedding ids in checkpoint")
    out
  }

  def saveModel(spark: SparkSession, model: TransEModel, dir: String): Unit = {
    save(spark, model.entity, s"$dir/entity")
    save(spark, model.label, s"$dir/label")
    saveParams(spark, model.params, dir)
  }

  /** Persist the scoring-relevant hyperparameters with the matrices. The
    * reference's pickle checkpoints carry only matrices, which silently
    * ranks an L2-trained model with L1 on restore; recording `distance`
    * (and dim/margin/lr/seed for provenance) closes that trap. */
  def saveParams(spark: SparkSession, p: TransEParams, dir: String): Unit = {
    import spark.implicits._
    Seq((p.dim, if (p.distance == L2Squared) "L2" else "L1",
      p.margin, p.lr, p.seed))
      .toDF("dim", "distance", "margin", "lr", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  /** Load persisted hyperparameters; None ONLY for pre-versioning
    * checkpoints (no params directory). A params file that exists but
    * cannot be read/decoded THROWS — silently falling back to the L1
    * default would reopen the exact wrong-distance trap this file
    * exists to close. */
  def loadParams(spark: SparkSession, dir: String): Option[TransEParams] =
    try {
      val r = spark.read.parquet(s"$dir/params").collect().head
      Some(TransEParams(
        dim = r.getAs[Int]("dim"),
        distance = if (r.getAs[String]("distance") == "L2") L2Squared else L1,
        margin = r.getAs[Float]("margin"),
        lr = r.getAs[Float]("lr"),
        seed = r.getAs[Long]("seed")))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None // path absent
    }

  def loadModel(spark: SparkSession, dir: String, params: TransEParams): TransEModel =
    TransEModel(load(spark, s"$dir/entity"), load(spark, s"$dir/label"), params)
}
