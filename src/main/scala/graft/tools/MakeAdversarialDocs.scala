package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Build the adversarial DOCUMENTS fixture (the documents twin of
  * AdversarialEventsSpec's events fixture): a temp sfDir whose
  * documents.parquet carries the shapes the clean testdata happens to
  * lack, with every other table symlinked so ANY registered query runs
  * against it unchanged — including the DuckDB oracle replay, which
  * reads the same parquet. Used by AdversarialDocsSpec and by the
  * driver-style sweep (`runMain graft.tools.MakeAdversarialDocs <sf>
  * <outDir>` then Verify + check_oracles.py on outDir).
  *
  * Shapes planted (all deterministic in doc_id):
  *  - empty text (% 41), whitespace-only (% 43), single word (% 47),
  *    mixed-script unicode with combining marks + emoji (% 53),
  *    punctuation-only (% 59);
  *  - appended extras: an exact-duplicate pair, a 1-word-edit near-dup
  *    pair, a whitespace-padded copy (exact-dup under trim only), a
  *    pathological repetition doc (one token x 5000), and a NULL text.
  */
object MakeAdversarialDocs {

  val ExactDupA = 900001L
  val ExactDupB = 900002L
  val NearDupA = 900003L
  val NearDupB = 900004L
  val RepetitionDoc = 900005L
  val NullTextDoc = 900006L
  val PaddedCopy = 900007L

  def build(spark: SparkSession, baseSf: String, outDir: String): String = {
    import spark.implicits._
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      val link = dir.resolve(s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(baseSf, s"$t.parquet").toAbsolutePath)
    }
    val base = graft.Tables.documents(spark, baseSf)
    // The extras below use reserved fixed ids (ExactDupA..PaddedCopy, all
    // >= 900001) that specs reference as compile-time constants. A big
    // enough base corpus would collide with them and silently break the
    // doc_id-is-a-key invariant every dedup operator relies on — so
    // refuse loudly instead.
    val baseMax = base.agg(max(col("doc_id"))).head.getLong(0)
    require(baseMax < ExactDupA,
      s"base corpus max doc_id $baseMax collides with the reserved " +
        s"adversarial-extra id range starting at $ExactDupA")
    val mutated = base
      .withColumn("text",
        when(col("doc_id") % 41 === 0, lit(""))
          .when(col("doc_id") % 43 === 0, lit("   \t  "))
          .when(col("doc_id") % 47 === 0, lit("word"))
          .when(col("doc_id") % 53 === 0,
            lit("héllo wörld 你好 世界 🚀 café naïve"))
          .when(col("doc_id") % 59 === 0, lit("!!! ??? ... ,,,"))
          .otherwise(col("text")))
    val sharedText = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "phi chi psi omega one two three four five six").trim
    val nearText = sharedText.replace("omicron", "OMICRON-EDIT")
    val extras = Seq(
      (ExactDupA, Some(sharedText), "en", "adv"),
      (ExactDupB, Some(sharedText), "en", "adv"),
      (NearDupA, Some(sharedText + " seven eight nine ten"), "en", "adv"),
      (NearDupB, Some(nearText + " seven eight nine ten"), "en", "adv"),
      (RepetitionDoc, Some(Array.fill(5000)("spam").mkString(" ")), "en", "adv"),
      (NullTextDoc, None: Option[String], "en", "adv"),
      (PaddedCopy, Some("  " + sharedText + "  "), "en", "adv"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
    val out = mutated
      .withColumn("n_chars", coalesce(length(col("text")).cast("long"), lit(0L)))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(extras.select("doc_id", "text", "lang", "source", "n_chars"))
    val tmp = Files.createTempDirectory("graft_adv_docs")
    out.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = { val l = Files.list(tmp)
      try l.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally l.close() }
    Files.deleteIfExists(dir.resolve("documents.parquet"))
    Files.move(part, dir.resolve("documents.parquet"))
    dir.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    println(build(spark, args(0), args(1)))
    spark.stop()
  }
}
