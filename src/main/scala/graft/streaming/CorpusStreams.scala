package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IncrementalDedup

/** Streaming corpus-ingest operators — the STREAMING twin of the batch
  * incremental-dedup path ([[IncrementalDedup]]): documents arrive on an
  * unbounded source and each micro-batch is probed against the standing
  * corpus's persisted dedup index before admission.
  *
  * This is the production ingest shape at 100 TB: the corpus index (md5
  * + capped shingle postings) is a maintained asset; arrivals NEVER scan
  * the corpus — each micro-batch pays |batch shingles| x posting length,
  * independent of both corpus size (through the hot-cap) and of how the
  * arrivals were chopped into micro-batches. That last property is the
  * correctness argument: every verdict in [[IncrementalDedup.probeIndex]]
  * is a function of (one batch doc, corpus index) alone — batch docs are
  * never compared to each other — so the union of per-micro-batch probes
  * equals the one-shot batch probe EXACTLY, and the stream shares
  * dedup_incremental's DuckDB oracle bit-for-bit.
  */
object CorpusStreams {

  /** Replay the dedup_incremental arrival set (doc_id % 10 == 7) as a
    * 4-file micro-batch stream and probe each micro-batch against the
    * staged corpus index via foreachBatch. Output: the same
    * (doc_id, dup_exact_of, near_of, near_jaccard, verdict) contract as
    * [[IncrementalDedup.probeIndex]], ordered for the oracle compare.
    *
    * foreachBatch (not a built-in sink) because the probe is a
    * multi-join batch program — exactly the documented use of the
    * micro-batch escape hatch; the per-batch parquet append keyed under
    * a fresh checkpointed output dir keeps the run restart-safe.
    */
  def streamingIncrementalDedup(spark: SparkSession, sfDir: String,
      n: Int = 5, tau: Double = 0.5, maxDocFreq: Int = 500): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val arrivals = docs.filter(col("doc_id") % 10 === 7)

    // one staged-asset build per (documents file, corpus slice) — the
    // stream probes the SAME persisted index as the batch twin
    val idx = IncrementalDedup.stagedIndex(spark, sfDir, corpus, n, maxDocFreq)

    // memoized replay keyed on the input file's identity, the same
    // discipline as restartRecoveryDedup: the streaming run is the
    // evidence; re-invocations read the completed sink
    val base = graft.Assets.staged("streamdedup",
        Seq(Paths.get(sfDir, "documents.parquet")), s"$n:$tau:$maxDocFreq") { base =>
      val (src, out, chk) = (base.resolve("src"), base.resolve("out"), base.resolve("chk"))
      Files.createDirectories(src)
      // four disjoint arrival files (doc_id % 40 ∈ {7,17,27,37}) — the
      // stream sees them as four micro-batches in file order
      (0 until 4).foreach { i =>
        arrivals.filter(pmod(col("doc_id"), lit(40)) === (7 + 10 * i))
          .coalesce(1).write.mode("append").parquet(src.toString)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      StreamRun.eachFile(spark, schema, src, chk) { (batch: DataFrame, _: Long) =>
        val flagged = IncrementalDedup.probeIndex(idx, batch, n, tau)
        flagged.write.mode("append").parquet(out.toString)
        flagged.unpersist(): Unit
      }
    }
    spark.read.parquet(base.resolve("out").toString).orderBy("doc_id")
  }

  /** Shared with the batch twin — see the header's order-insensitivity
    * argument for why the finite replay equals the one-shot probe. */
  def streamingIncrementalDedupSql(n: Int = 5, tau: Double = 0.5,
      maxDocFreq: Int = 500): String =
    IncrementalDedup.flagBatchSql("doc_id % 10 = 7", n, tau, maxDocFreq)

  /** Streaming vector-ingest enrichment: arriving embeddings (vec_id %
    * 10 == 7) probe the IVF index of the standing corpus per micro-batch
    * — the serving shape of [[graft.operators.IvfAnn.topKAgainst]].
    * The index (centroids + cell assignment) is built ONCE outside the
    * stream; each batch pays |batch| x (corpus/nCells x nProbe) exactly
    * like the batch twin, and per-query results depend only on (query
    * vector, corpus index), so the micro-batched union equals the
    * one-shot probe and shares its DuckDB oracle. */
  def streamingAnnProbe(spark: SparkSession, sfDir: String,
      nCells: Int = 16, nProbe: Int = 4, k: Int = 5, iters: Int = 2): DataFrame = {
    import graft.operators.IvfAnn
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") % 10 =!= 7)
    val arrivals = emb.filter(col("vec_id") % 10 === 7)

    val base = graft.Assets.staged("annprobe", Seq(Paths.get(sfDir, "embeddings.parquet")),
        s"$nCells:$nProbe:$k:$iters") { base =>
      val (src, out, chk) = (base.resolve("src"), base.resolve("out"), base.resolve("chk"))
      val centroids = IvfAnn.trainCentroids(corpus, nCells, iters)
      val assigned = IvfAnn.assign(corpus, centroids).persist()
      assigned.count()
      Files.createDirectories(src)
      (0 until 4).foreach { i =>
        arrivals.filter(pmod(col("vec_id"), lit(40)) === (7 + 10 * i))
          .coalesce(1).write.mode("append").parquet(src.toString)
      }
      val schema = arrivals.schema
      StreamRun.eachFile(spark, schema, src, chk) { (batch: DataFrame, _: Long) =>
        IvfAnn.probeAssigned(assigned, centroids, batch, nProbe, k)
          .write.mode("append").parquet(out.toString)
        ()
      }
      assigned.unpersist()
    }
    spark.read.parquet(base.resolve("out").toString).orderBy("query_id", "rank")
  }

  def streamingAnnProbeSql(nCells: Int = 16, nProbe: Int = 4, k: Int = 5,
      iters: Int = 2): String =
    graft.operators.IvfAnn.topKAgainstSql(64, "vec_id % 10 = 7",
      nCells, nProbe, k, iters)

  /** Streaming vector INGEST maintenance — the ANN counterpart of the
    * search family's [[streamingSearchMaintained]], closing the standing
    * assets' symmetry: every corpus-version asset (postings, IVF index)
    * now has an append path. The FROZEN base quantizer (centroids
    * trained on the base slice only — arriving vectors must not reshape
    * the cells they land in, the FAISS add-after-train contract) assigns
    * each arriving micro-batch to its nearest cell and appends the
    * (vec_id, embedding, cell) rows to a cell-partitioned delta dir;
    * the base assignment is staged ONCE next to it. Assignment to fixed
    * centroids is a pure per-vector function, so base ∪ delta equals
    * the one-shot assignment over base ∪ arrivals row-for-row and the
    * registered probe (a held-out query slice ranking the maintained
    * index) carries a full DuckDB oracle
    * ([[graft.operators.IvfAnn.topKMaintainedSql]]). At 100 TB: ingest
    * cost is |batch| x nCells centroid distances — independent of index
    * size — and probes prune to nProbe cell partitions of base + delta,
    * the same economics as the token-bucketed postings probes. */
  def streamingAnnMaintained(spark: SparkSession, sfDir: String,
      nCells: Int = 16, nProbe: Int = 4, k: Int = 5, iters: Int = 2): DataFrame = {
    import graft.operators.IvfAnn
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val baseSlice = emb.filter(col("vec_id") % 10 =!= 7 &&
      col("vec_id") % 10 =!= 5)
    val arrivals = emb.filter(col("vec_id") % 10 === 5)
    val queries = emb.filter(col("vec_id") % 10 === 7)

    // the frozen quantizer: deterministic integer Lloyd over the base
    // slice, memoized by ModelStaging — identical on build and probe
    val centroids = IvfAnn.trainCentroids(baseSlice, nCells, iters)

    val base = graft.Assets.staged("annmaint", Seq(Paths.get(sfDir, "embeddings.parquet")),
        s"$nCells:$nProbe:$k:$iters:v1") { base =>
      val (src, baseIdx, delta, chk) = (base.resolve("src"),
        base.resolve("base_idx"), base.resolve("delta"), base.resolve("chk"))
      // stage the base assignment once — the standing cell index,
      // partitioned by cell so probes prune to nProbe dirs
      IvfAnn.assign(baseSlice, centroids)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(baseIdx.toString)
      Files.createDirectories(src)
      (0 until 4).foreach { i =>
        arrivals.filter(pmod(col("vec_id"), lit(40)) === (5 + 10 * i))
          .coalesce(1).write.mode("append").parquet(src.toString)
      }
      StreamRun.eachFile(spark, arrivals.schema, src, chk) { (batch: DataFrame, _: Long) =>
        // ingest = |batch| x nCells integer distances, index untouched
        IvfAnn.assign(batch, centroids)
          .write.mode("append").partitionBy("cell")
          .parquet(delta.toString)
        ()
      }
    }
    val deltaSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      StructField("cell", org.apache.spark.sql.types.IntegerType)))
    val assignedAll = spark.read.parquet(base.resolve("base_idx").toString)
      .select("vec_id", "embedding", "cell")
      .unionByName(spark.read.schema(deltaSchema).parquet(base.resolve("delta").toString)
        .select("vec_id", "embedding", "cell"))
    IvfAnn.probeAssigned(assignedAll, centroids, queries, nProbe, k)
      .orderBy("query_id", "rank")
  }

  def streamingAnnMaintainedSql(nCells: Int = 16, nProbe: Int = 4,
      k: Int = 5, iters: Int = 2): String =
    graft.operators.IvfAnn.topKMaintainedSql(64,
      "vec_id % 10 NOT IN (5, 7)", "vec_id % 10 = 5", "vec_id % 10 = 7",
      nCells, nProbe, k, iters)

  /** Streaming DSIR selection serving: arriving documents (doc_id % 10
    * == 7) are scored per micro-batch against the STANDING corpus's
    * bucket model — the admission-control shape of importance
    * resampling at ingest time. The B-row model
    * ([[graft.operators.ImportanceSampling.bucketModel]]) is trained
    * once outside the stream on the corpus slice; every score is a pure
    * per-doc function of (doc, model) — and the model materializes ALL
    * B buckets, so an arrival token the corpus never saw still hits a
    * model row (the add-one floor) — hence the micro-batched union
    * equals the one-shot scoring of all arrivals and shares its DuckDB
    * oracle exactly. */
  def streamingDsirScore(spark: SparkSession, sfDir: String,
      targetSource: String = "src1", buckets: Int = 1024): DataFrame = {
    import graft.operators.ImportanceSampling
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val arrivals = docs.filter(col("doc_id") % 10 === 7)

    val base = graft.Assets.staged("streamdsir", Seq(Paths.get(sfDir, "documents.parquet")),
        s"$targetSource:$buckets") { base =>
      val (src, out, chk) = (base.resolve("src"), base.resolve("out"), base.resolve("chk"))
      val model = ImportanceSampling.bucketModel(corpus, targetSource, buckets)
        .persist()
      model.count()
      Files.createDirectories(src)
      (0 until 4).foreach { i =>
        arrivals.filter(pmod(col("doc_id"), lit(40)) === (7 + 10 * i))
          .coalesce(1).write.mode("append").parquet(src.toString)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("source", StringType)))
      StreamRun.eachFile(spark, schema, src, chk) { (batch: DataFrame, _: Long) =>
        ImportanceSampling.scoreAgainst(model, batch, buckets)
          .write.mode("append").parquet(out.toString)
        ()
      }
      model.unpersist()
    }
    spark.read.parquet(base.resolve("out").toString).orderBy("doc_id")
  }

  def streamingDsirScoreSql(targetSource: String = "src1",
      buckets: Int = 1024): String =
    graft.operators.ImportanceSampling.dsirScoreSql(targetSource,
      "doc_id % 10 <> 7", "doc_id % 10 = 7", buckets)

  /** Streaming decontamination monitor: arriving training documents
    * (the doc_id % 10 == 7 slice of the train split) are checked per
    * micro-batch against the STANDING eval-set gram asset — benchmark
    * hygiene at ingest time, before a contaminated doc ever lands in a
    * training shard. The distinct eval-gram set
    * ([[graft.operators.Decontaminate.evalGramSet]]) is built once
    * outside the stream and broadcasts into every probe; each verdict is
    * a pure per-doc function of (doc, gram set) — arrivals are never
    * compared to each other — so the micro-batched union equals the
    * one-shot batch probe exactly and the stream shares the batch
    * ladder's oracle restricted to the arrival slice. Output is the
    * ADMISSION table — one verdict row per arrival, clean docs at
    * n_shared_grams = 0 (an ingest gate must decide every doc, not just
    * report the hits). At 100 TB this is the
    * admission-control shape: |batch shingles| x broadcast-set lookup
    * per batch, corpus never rescanned. */
  def streamingDecontaminate(spark: SparkSession, sfDir: String,
      n: Int = 8, evalRate: Double = 0.05): DataFrame = {
    import graft.operators.Decontaminate
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val (evalDocs, train) = Decontaminate.evalSplit(docs, evalRate)
    val arrivals = train.filter(col("doc_id") % 10 === 7)

    val base = graft.Assets.staged("streamdecon", Seq(Paths.get(sfDir, "documents.parquet")),
        s"$n:$evalRate") { base =>
      val (src, out, chk) = (base.resolve("src"), base.resolve("out"), base.resolve("chk"))
      val grams = Decontaminate.evalGramSet(evalDocs, n).persist()
      grams.count()
      Files.createDirectories(src)
      (0 until 4).foreach { i =>
        arrivals.filter(pmod(col("doc_id"), lit(40)) === (7 + 10 * i))
          .coalesce(1).write.mode("append").parquet(src.toString)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      StreamRun.eachFile(spark, schema, src, chk) { (batch: DataFrame, _: Long) =>
        Decontaminate.probeGrams(grams, batch, n, keepClean = true)
          .write.mode("append").parquet(out.toString)
        ()
      }
      grams.unpersist()
    }
    spark.read.parquet(base.resolve("out").toString).orderBy("doc_id")
  }

  def streamingDecontaminateSql(n: Int = 8, evalRate: Double = 0.05): String =
    graft.operators.Decontaminate.verdictsSql(n, evalRate,
      trainPred = "doc_id % 10 = 7")

  /** Streaming MAINTENANCE of the standing search index (r14): the
    * token-bucketed positional-postings asset covers the already-ingested
    * corpus (doc_id % 10 != 7); arriving documents stream in four
    * micro-batches, and each batch appends ITS OWN postings — produced by
    * the exact expression tree the base build uses
    * ([[graft.operators.Search.postingsOf]]) and partitioned into the
    * same token buckets — to a delta dir. The corpus is never rescanned
    * and arrival cost is |batch tokens|, independent of corpus size and
    * of how arrivals were chopped into batches (postings are a pure
    * per-document function, so base UNION delta equals the from-scratch
    * index over corpus ∪ arrivals row-for-row).
    *
    * The registered result PROVES the maintained index: a conjunctive
    * keyword search probed over base ∪ delta (bucket-pruned on both
    * sides) must equal the batch search over the FULL documents table —
    * the stream shares [[graft.operators.Search.keywordSearchSql]]
    * verbatim. This is the 100 TB ingest economics for lexical search:
    * index once, append forever, queries prune to |terms| buckets of
    * base + delta. */
  /** Asset (kind, inputs, params) of [[streamingSearchMaintained]]'s
    * memoized run — ONE derivation shared by the producer and any spec
    * that re-enters the committed dirs (key drift would silently split
    * them). */
  private def searchRun(sfDir: String) =
    ("streamsearch", Seq(Paths.get(sfDir, "documents.parquet")), "v4")

  private[graft] def searchMaintainedBase(sfDir: String): Path = {
    val (kind, inputs, params) = searchRun(sfDir)
    graft.Assets.dirOf(kind, inputs, params)
  }

  def streamingSearchMaintained(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame = {
    import graft.operators.Search
    val baseDir = Search.stagedDirSlice(spark, sfDir, Some("doc_id % 10 != 7"))
    val run = ensureSearchMaintainedRun(spark, sfDir)
    Search.keywordSearchMaintained(spark, baseDir, run.delta.toString, terms)
      .orderBy("doc_id")
  }

  /** The committed dirs of one maintained-index streaming run — handed
    * out by [[ensureSearchMaintainedRun]] so no consumer ever re-derives
    * a path (drift would silently split producer and probe). */
  private case class MaintainedRun(base: Path) {
    val delta: Path = base.resolve("delta")
    val deltaDl: Path = base.resolve("delta_dl")
    val tombs: Path = base.resolve("tomb")
    val compacted: Path = base.resolve("compacted")
    val purged: Path = base.resolve("purged")
  }

  /** Ensure [[streamingSearchMaintained]]'s memoized streaming run has
    * executed: arrivals chopped into four micro-batches, each appending
    * its own postings AND its own doclen rows (the statistics half the
    * ranked searches need), then a SECOND stream of four delete-request
    * micro-batches (takedowns for base docs with doc_id % 20 == 2)
    * appending tombstones — the data-governance half — and finally the
    * two lifecycle rewrites of base ∪ delta: the full compaction
    * ([[graft.operators.Search.compactIndex]]) and the purge compaction
    * ([[graft.operators.Search.purgeIndex]]). One asset holds all of it. */
  private def ensureSearchMaintainedRun(spark: SparkSession,
      sfDir: String): MaintainedRun = {
    import graft.operators.Search
    val arrivals = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"))

    val (kind, inputs, params) = searchRun(sfDir)
    MaintainedRun(graft.Assets.staged(kind, inputs, params) { base =>
      val run = MaintainedRun(base)
      val (src, delta, deltaDl, chk) =
        (base.resolve("src"), run.delta, run.deltaDl, base.resolve("chk"))
      val (srcTomb, tomb, chkTomb) = (base.resolve("src_tomb"),
        run.tombs, base.resolve("chk_tomb"))
      Files.createDirectories(src)
      Files.createDirectories(delta)
      Files.createDirectories(deltaDl)
      (0 until 4).foreach { i =>
        arrivals.filter(pmod(col("doc_id"), lit(40)) === (7 + 10 * i))
          .coalesce(1).write.mode("append").parquet(src.toString)
      }
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      StreamRun.eachFile(spark, schema, src, chk) { (batch: DataFrame, _: Long) =>
        Search.postingsOf(batch)
          .write.mode("append").partitionBy("bucket")
          .parquet(delta.toString)
        // the STATISTICS delta: one narrow doclen row per arrival doc
        // (null-text docs ride with dl = 0, like the base build) — at
        // 100 TB this is what keeps BM25's n_docs/sum_dl/dl exact
        // without ever rescanning the corpus
        Search.doclenOf(batch)
          .write.mode("append").parquet(deltaDl.toString)
        ()
      }
      // the DELETION stream: takedown requests (doc_id only) arrive in
      // four micro-batches of their own, each appended as tombstones —
      // logical deletion is a probe-time anti join, physical erasure is
      // the purge compaction's job
      val tombstones = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 20 === 2)
        .select(col("doc_id"))
      Files.createDirectories(srcTomb)
      Files.createDirectories(tomb)
      (0 until 4).foreach { i =>
        tombstones.filter(pmod(col("doc_id"), lit(80)) === (2 + 20 * i))
          .coalesce(1).write.mode("append").parquet(srcTomb.toString)
      }
      StreamRun.eachFile(spark, graft.operators.Search.TombstoneSchema, srcTomb, chkTomb) { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(tomb.toString)
        ()
      }
      val baseDir = Search.stagedDirSlice(spark, sfDir, Some("doc_id % 10 != 7"))
      Search.compactIndex(spark, baseDir, delta.toString, deltaDl.toString,
        run.compacted.toString)
      Search.purgeIndex(spark, baseDir, delta.toString, deltaDl.toString,
        tomb.toString, run.purged.toString)
    })
  }

  /** RANKED retrieval over the maintained index — exact BM25 with
    * MAINTAINED corpus statistics: tf probes base ∪ delta postings, dl
    * unions base ∪ delta doclen, and n_docs/sum_dl are the base's
    * committed stats plus the delta rollup (pure additive aggregates,
    * so they equal the from-scratch constants exactly). The claim
    * keyword maintenance alone doesn't make: length normalization and
    * idf stay serving-correct as documents arrive, pinned by sharing
    * [[graft.operators.Search.bm25SearchSql]]'s full-documents oracle
    * verbatim. */
  def streamingSearchBm25Maintained(spark: SparkSession, sfDir: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    import graft.operators.Search
    val baseDir = Search.stagedDirSlice(spark, sfDir, Some("doc_id % 10 != 7"))
    val run = ensureSearchMaintainedRun(spark, sfDir)
    // presentation order at the registration boundary, matching the
    // batch twin search_bm25_topk's oracleOrder (the top-k cut itself is
    // the ladder's (score DESC, doc_id) order)
    Search.bm25SearchMaintained(spark, baseDir, run.delta.toString,
      run.deltaDl.toString, terms, k).orderBy("doc_id")
  }

  /** RANKED retrieval over the COMPACTED full asset: after
    * [[streamingSearchCompacted]]'s merge (which folds doclen and stats
    * alongside the postings), the compacted dir is interchangeable with
    * the standing corpus asset — this query runs the plain staged BM25
    * probe against it, proving the fold preserved the statistics
    * (scores depend on every doc's dl and the corpus constants, so a
    * lost doclen row or a stale stats table breaks the shared oracle). */
  def streamingSearchBm25Compacted(spark: SparkSession, sfDir: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    val cdir = ensureSearchMaintainedRun(spark, sfDir).compacted
    graft.operators.Search.bm25SearchOver(spark, cdir.toString, terms, k)
      .orderBy("doc_id")
  }

  /** COMPACTION of the maintained index — the lifecycle step "append
    * forever" eventually demands: the streamed delta (one small file per
    * micro-batch x bucket) is folded back into the base's
    * bucket-partitioned layout, producing a single-source postings asset
    * inside the maintained run's asset. The merge reads only index
    * rows (never the corpus text), writes exactly one file per bucket,
    * and — because postings are a pure per-document function — the
    * compacted table equals the from-scratch index over corpus ∪
    * arrivals row-for-row. The registered probe is the conjunctive
    * search over the compacted asset alone (no base∪delta union), so it
    * shares [[graft.operators.Search.keywordSearchSql]] verbatim, like
    * the maintained twin; StreamingSpec pins compacted == maintained ==
    * direct, the single-source plan shape, and the one-file-per-bucket
    * layout bound. */
  def streamingSearchCompacted(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame = {
    val cdir = ensureSearchMaintainedRun(spark, sfDir).compacted
    graft.operators.Search.keywordSearchOver(spark, cdir.toString, terms)
      .orderBy("doc_id")
  }

  /** Maintained-index search UNDER DELETION: streamed takedown requests
    * (tombstones) are anti-joined out of the base ∪ delta probe, so a
    * deleted document stops being served the moment its tombstone lands
    * — no index rewrite on the serving path. The oracle is the
    * from-scratch search over the corpus MINUS the tombstoned docs,
    * which is exactly what logical deletion must equal. */
  def streamingSearchTombstoned(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame = {
    import graft.operators.Search
    val baseDir = Search.stagedDirSlice(spark, sfDir, Some("doc_id % 10 != 7"))
    val run = ensureSearchMaintainedRun(spark, sfDir)
    Search.keywordSearchTombstoned(spark, baseDir, run.delta.toString,
      run.tombs.toString, terms).orderBy("doc_id")
  }

  /** Search over the PURGED asset — the physical-erasure half of
    * deletion: purge compaction folds base ∪ delta minus tombstones
    * (postings, doclen AND the re-rolled stats all forget the deleted
    * docs), so the committed asset contains no trace of a tombstoned
    * document; the probe is the plain staged spelling and shares the
    * tombstoned oracle. StreamingSpec asserts the physical absence —
    * the takedown-compliance claim a probe-time filter can't make. */
  def streamingSearchPurged(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame = {
    import graft.operators.Search
    val cdir = ensureSearchPurged(spark, sfDir)
    Search.keywordSearchOver(spark, cdir.toString, terms)
      .orderBy("doc_id")
  }

  /** The purged full-asset dir of the committed maintained run. */
  private[graft] def ensureSearchPurged(spark: SparkSession, sfDir: String): Path =
    ensureSearchMaintainedRun(spark, sfDir).purged

  /** Shared oracle of the deletion pair: the batch conjunctive search
    * over documents minus the takedown slice. */
  def streamingSearchDeletedSql(terms: Seq[String]): String =
    graft.operators.Search.keywordSearchSql(terms,
      Some("NOT (doc_id % 20 = 2)"))

  /** The maintained index equals the from-scratch one, so the oracle is
    * the batch conjunctive search over the FULL documents table. */
  def streamingSearchMaintainedSql(terms: Seq[String]): String =
    graft.operators.Search.keywordSearchSql(terms)
}
