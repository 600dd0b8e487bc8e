package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental (batch-vs-corpus) deduplication — the production shape of
  * dedup at 100 TB. A pipeline never re-deduplicates the whole corpus
  * when a day's crawl arrives; it probes the NEW batch against the
  * standing corpus and keeps only novel documents:
  *
  *  - exact: the batch's content hashes equi-join the corpus's md5 index
  *    — one shuffle keyed on md5, batch-sized probe volume;
  *  - near: the batch's shingles equi-join the corpus's inverted shingle
  *    index (shingle-hash -> posting), then exact Jaccard on the
  *    candidate (batch doc, corpus doc) pairs. Candidate cost is
  *    |batch shingles| x posting length — NEVER corpus x corpus — and
  *    posting length is bounded by the hot-shingle cap (shingles shared
  *    by more than `maxDocFreq` corpus docs carry no dedup signal and
  *    are dropped from BOTH sides, same discipline as
  *    [[Dedup.ngramJaccard]]).
  *
  * At scale both indexes are persisted assets maintained alongside the
  * corpus (md5 index: one narrow column; shingle index: the same
  * inverted index LSH banding builds on), so per-batch cost is
  * independent of corpus growth except through posting lengths.
  *
  * Output contract: one row per batch document —
  * (doc_id, dup_exact_of, near_of, near_jaccard, verdict) where verdict
  * is 'exact' (byte-identical corpus doc exists; dup_exact_of = min such
  * corpus id), 'near' (best corpus Jaccard >= tau; near_of = that doc,
  * ties to the smaller corpus id), or 'keep'. Exact duplicates also
  * report their near match (jaccard 1.0 unless the cap bites). All
  * decision columns are integer/rounded-ratio valued, so the DuckDB
  * oracle ([[flagBatchSql]]) replays bit-for-bit.
  */
object IncrementalDedup {

  /** The standing corpus's dedup index: md5 content index, capped hashed
    * shingle postings, per-doc capped set sizes, and the hot-shingle set
    * (needed to filter BATCH shingles into the same universe). At 100 TB
    * this is a persisted asset maintained alongside the corpus — see
    * [[flagBatchStaged]] for the parquet-backed form. */
  final case class CorpusIndex(md5: DataFrame, shingles: DataFrame,
      sizes: DataFrame, hot: DataFrame)

  /** md5-derived hashed shingles per doc — the SAME hash the DuckDB
    * replay computes ([[OracleSql.hex64Signed]]) — not xxhash64, which
    * DuckDB cannot evaluate: with engine-distinct hash functions a
    * collision on either side would silently diverge set sizes and
    * Jaccard counts from the oracle. */
  private def hashedShingles(docs: DataFrame, n: Int) = Dedup.shingles(docs, n)
    .select(col("doc_id"), Dedup.hash64Col(col("shingle")).as("sh"))
    .distinct()

  /** Build the corpus index. Hot shingles (doc-frequency above the cap)
    * carry no dedup signal and are dropped from the postings; the hot
    * SET itself is part of the index so batch probes drop them too. */
  def buildIndex(corpus: DataFrame, n: Int = 5, maxDocFreq: Int = 500): CorpusIndex = {
    val corpusMd5 = corpus
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("dup_exact_of"))
    val cSh0 = hashedShingles(corpus, n)
    val hot = cSh0.groupBy("sh").count()
      .filter(col("count") > maxDocFreq).select("sh")
    val cSh = cSh0.join(hot, Seq("sh"), "left_anti")
    val cSizes = cSh.groupBy("doc_id").agg(count(lit(1)).as("n_c"))
    CorpusIndex(corpusMd5, cSh, cSizes, hot)
  }

  /** Flag each batch document against the corpus. `corpus` and `batch`
    * must both have (doc_id, text); doc_ids must be disjoint. */
  def flagBatch(corpus: DataFrame, batch: DataFrame, n: Int = 5,
      tau: Double = 0.5, maxDocFreq: Int = 500): DataFrame = {
    val idx = buildIndex(corpus, n, maxDocFreq)
    // persist the shingle postings for the index-build pass (probed twice:
    // sizes already derived, intersection below)
    val cSh = idx.shingles.persist()
    val out = probeIndex(
      idx.copy(shingles = cSh), batch, n, tau)
    cSh.unpersist()
    out
  }

  /** Probe a (built or parquet-read) corpus index with a batch. */
  def probeIndex(idx: CorpusIndex, batch: DataFrame, n: Int,
      tau: Double): DataFrame = {
    // ---- exact: md5 index probe
    val batchMd5 = batch.select(col("doc_id"),
      md5(col("text").cast("binary")).as("text_md5"))
    val exact = batchMd5.join(idx.md5, Seq("text_md5"), "left")
      .select(col("doc_id"), col("dup_exact_of"))

    // ---- near: inverted-index probe + exact Jaccard on candidates;
    // batch shingles drop the corpus's hot set so sizes and
    // intersections use the same universe
    val cSh = idx.shingles
    val bSh = hashedShingles(batch, n)
      .join(idx.hot, Seq("sh"), "left_anti").persist()

    val cSizes = idx.sizes
    val bSizes = bSh.groupBy("doc_id").agg(count(lit(1)).as("n_b"))
    val inter = bSh.select(col("doc_id").as("b_id"), col("sh"))
      .join(cSh.select(col("doc_id").as("c_id"), col("sh")), Seq("sh"))
      .groupBy("b_id", "c_id").agg(count(lit(1)).as("n_common"))
    val scored = inter
      .join(bSizes.select(col("doc_id").as("b_id"), col("n_b")), "b_id")
      .join(cSizes.select(col("doc_id").as("c_id"), col("n_c")), "c_id")
      .withColumn("jaccard", round(
        col("n_common").cast("double") /
          (col("n_b") + col("n_c") - col("n_common")), 6))
      .filter(col("jaccard") >= tau)
    // best match per batch doc: highest jaccard, ties to smaller corpus id
    val best = scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("b_id")
          .orderBy(col("jaccard").desc, col("c_id").asc)))
      .filter(col("rn") === 1)
      .select(col("b_id").as("doc_id"), col("c_id").as("near_of"),
        col("jaccard").as("near_jaccard"))

    val out = exact.join(best, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("dup_exact_of").isNotNull, "exact")
          .when(col("near_of").isNotNull, "near")
          .otherwise("keep"))
      .persist().transform(graft.CacheScope.register)
    out.count() // materialize, then release the batch shingles
    bSh.unpersist()
    out
  }

  /** [[flagBatch]] with the corpus index as the persisted parquet asset
    * it is in production: built ONCE per (corpus file, mtime) into a
    * staged directory, probed from the files afterwards — per-batch cost
    * is the probe, independent of corpus size except through posting
    * lengths (the same staging discipline as the bucketed/partitioned
    * sinks). Output is identical to [[flagBatch]] and shares its oracle. */
  def flagBatchStaged(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      corpus: DataFrame, batch: DataFrame, n: Int = 5,
      tau: Double = 0.5, maxDocFreq: Int = 500): DataFrame =
    probeIndex(stagedIndex(spark, sfDir, corpus, n, maxDocFreq), batch, n, tau)

  /** The persisted corpus index behind [[flagBatchStaged]], exposed so
    * the STREAMING consumer ([[graft.streaming.CorpusStreams]]) can probe
    * the same asset per micro-batch without restaging. */
  def stagedIndex(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      corpus: DataFrame, n: Int = 5, maxDocFreq: Int = 500): CorpusIndex = {
    // the CORPUS FRAME's canonicalized plan is part of the key (ADVICE r5
    // #1): two callers slicing the same file differently must not share a
    // staged index — same plan-keyed discipline as ModelStaging
    val corpusPlan = corpus.queryExecution.analyzed.canonicalized.toString
    val dir = graft.Assets.staged("dedupidx",
        Seq(java.nio.file.Paths.get(sfDir, "documents.parquet")),
        s"$n:$maxDocFreq|$corpusPlan") { d =>
      val idx = buildIndex(corpus, n, maxDocFreq)
      idx.md5.write.mode("overwrite").parquet(d.resolve("md5").toString)
      idx.shingles.write.mode("overwrite").parquet(d.resolve("shingles").toString)
      idx.sizes.write.mode("overwrite").parquet(d.resolve("sizes").toString)
      idx.hot.write.mode("overwrite").parquet(d.resolve("hot").toString)
    }
    CorpusIndex(
      spark.read.parquet(dir.resolve("md5").toString),
      spark.read.parquet(dir.resolve("shingles").toString),
      spark.read.parquet(dir.resolve("sizes").toString),
      spark.read.parquet(dir.resolve("hot").toString))
  }

  /** DuckDB replay of [[flagBatch]] where corpus/batch are SQL-defined
    * slices of the documents table (`batchPred` selects the batch). */
  def flagBatchSql(batchPred: String, n: Int = 5, tau: Double = 0.5,
      maxDocFreq: Int = 500): String = {
    // the SAME md5-derived hash64 the Spark side keys on
    // ([[Dedup.hash64Col]]) — sizes, hot-cap, and intersections all live
    // in the hashed universe in BOTH engines
    val h64 = OracleSql.hex64Signed("md5(shingle)")
    s"""WITH batch AS (SELECT doc_id, text FROM documents WHERE $batchPred),
       |corpus AS (SELECT doc_id, text FROM documents WHERE NOT ($batchPred)),
       |cmd5 AS (SELECT md5(text) AS h, MIN(doc_id) AS dup_exact_of
       |         FROM corpus GROUP BY md5(text)),
       |exact AS (SELECT b.doc_id, cmd5.dup_exact_of
       |          FROM batch b LEFT JOIN cmd5 ON md5(b.text) = cmd5.h),
       |cshs AS (
       |  SELECT doc_id, array_to_string(w[i:i+${n - 1}], ' ') AS shingle
       |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - ${n - 1}, 1) + 1)) AS i
       |        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus))
       |), csh0 AS (
       |  SELECT DISTINCT doc_id, $h64 AS sh FROM cshs
       |), hot AS (
       |  SELECT sh FROM csh0 GROUP BY sh HAVING COUNT(*) > $maxDocFreq
       |), csh AS (
       |  SELECT doc_id, sh FROM csh0 WHERE sh NOT IN (SELECT sh FROM hot)
       |), bshs AS (
       |  SELECT doc_id, array_to_string(w[i:i+${n - 1}], ' ') AS shingle
       |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - ${n - 1}, 1) + 1)) AS i
       |        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM batch))
       |), bsh AS (
       |  SELECT doc_id, sh FROM (SELECT DISTINCT doc_id, $h64 AS sh FROM bshs)
       |  WHERE sh NOT IN (SELECT sh FROM hot)
       |), csizes AS (SELECT doc_id, COUNT(*) AS n_c FROM csh GROUP BY doc_id),
       |bsizes AS (SELECT doc_id, COUNT(*) AS n_b FROM bsh GROUP BY doc_id),
       |inter AS (
       |  SELECT b.doc_id AS b_id, c.doc_id AS c_id, COUNT(*) AS n_common
       |  FROM bsh b JOIN csh c ON b.sh = c.sh
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT b_id, c_id,
       |    ROUND(CAST(n_common AS DOUBLE) / (n_b + n_c - n_common), 6) AS jaccard
       |  FROM inter
       |  JOIN bsizes ON b_id = bsizes.doc_id
       |  JOIN csizes ON c_id = csizes.doc_id
       |  WHERE ROUND(CAST(n_common AS DOUBLE) / (n_b + n_c - n_common), 6) >= $tau
       |), best AS (
       |  SELECT b_id AS doc_id, c_id AS near_of, jaccard AS near_jaccard
       |  FROM (SELECT b_id, c_id, jaccard, ROW_NUMBER() OVER (
       |          PARTITION BY b_id ORDER BY jaccard DESC, c_id ASC) AS rn
       |        FROM scored)
       |  WHERE rn = 1
       |)
       |SELECT e.doc_id, e.dup_exact_of, best.near_of, best.near_jaccard,
       |  CASE WHEN e.dup_exact_of IS NOT NULL THEN 'exact'
       |       WHEN best.near_of IS NOT NULL THEN 'near'
       |       ELSE 'keep' END AS verdict
       |FROM exact e LEFT JOIN best ON e.doc_id = best.doc_id
       |ORDER BY e.doc_id""".stripMargin
  }
}
