package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. All engine queries go
  * through these helpers so that column pruning / predicate pushdown reach
  * the parquet scan uniformly.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else if (name == "embeddings") embeddings(spark, sfDir)
    else parquet(spark, s"$sfDir/$name.parquet")

  /** Reads `path` with its schema given rather than inferred: Spark's
    * inference runs one job per read. The schema is a session-free memo
    * entry keyed by the file's path and modification time. The
    * `nanosAsLong` setting changes how a nanosecond timestamp reads; only
    * events.parquet holds one and [[events]] always reads it with the
    * setting on, so the setting is not part of the key. A missing path
    * fails the way Spark reports it. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val mtime =
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    mtime match {
      case None => spark.read.parquet(path)
      case Some(t) =>
        spark.read.schema(Assets.memo("tableSchema", spark, s"$path|$t")(
          spark.read.parquet(path).schema)).parquet(path)
    }
  }

  def region(spark: SparkSession, d: String): DataFrame    = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = load(spark, d, "lineitem")
  /** events.parquet has stored `ts` as parquet TIMESTAMP(NANOS) in some
    * generations (surfaced as a long under
    * spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS) in others
    * (surfaced as TimestampType directly). The driver regenerates the file
    * between rounds and the physical type has flipped before, so EVERY
    * reader — batch and streaming — must go through [[eventsRawSchema]] +
    * [[normalizeEventTs]] rather than assuming a unit. Integer division
    * keeps precision — epoch nanos (~1.7e18) exceed double's 2^53 mantissa.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(parquet(spark, s"$d/events.parquet"))
  }

  /** The file's ACTUAL schema (probed, not assumed): `ts` is LongType when
    * the parquet type is TIMESTAMP(NANOS), TimestampType when MICROS. The
    * streaming source needs this as its explicit schema so batch and stream
    * can never disagree on the source again. */
  def eventsRawSchema(spark: SparkSession, d: String): org.apache.spark.sql.types.StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$d/events.parquet").schema
  }

  /** Normalize the probed `ts` to TimestampType (microsecond precision):
    * rescale when the raw column is a nanos long; cast when it is
    * TIMESTAMP_NTZ (parquet MICROS with isAdjustedToUTC=false — watermarks
    * and unix_micros reject NTZ, and the engine runs UTC sessions so the
    * cast preserves the instant). A true TimestampType passes through.
    * Shared by the batch reader and
    * [[graft.streaming.EventStreams.readEventStream]]. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")

  /** Same drift-insurance discipline as [[events]]: the ANN/quantization
    * family assumes `embedding: array<float>` (typed Datasets, float
    * kernels). If a regeneration widens the element type (list<double>
    * is pyarrow's default for plain Python floats), normalize here in
    * ONE place instead of failing across a dozen queries. */
  def embeddings(spark: SparkSession, d: String): DataFrame = {
    val raw = parquet(spark, s"$d/embeddings.parquet")
    raw.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => raw
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case _ => raw
    }
  }
}
