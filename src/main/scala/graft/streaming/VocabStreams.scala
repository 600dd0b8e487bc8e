package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.transe.DictionaryEncoder

/** STREAMING vocabulary growth — the continual-training dictionary
  * ([[DictionaryEncoder.extendDictionary]]) maintained as new triples
  * land in micro-batches. Unlike the dedup probes (order-insensitive by
  * construction), id assignment DEPENDS on arrival order: batch k's new
  * names get ids after everything that arrived before them. The stream
  * therefore pins arrival order deterministically (one file per
  * micro-batch, explicitly-set ascending mtimes so the file source's
  * timestamp ordering is never a tie-break lottery), and the DuckDB
  * oracle replays the SAME content-defined batch sequence as a fixed
  * chain of CTEs — a full hash oracle over ids whose values encode the
  * arrival history. Old ids never move (the continual contract), so a
  * restart that replays a batch is idempotent: every name it would add
  * is already present and the anti-join admits nothing.
  */
object VocabStreams {

  /** The kg_encode_incremental split, streamed: the ~10% arriving slice
    * is delivered as 3 content-defined micro-batches (sub-bucket
    * (hash div 10) mod 3, one file each, forced ascending mtimes); each
    * batch extends the persisted entity dictionary via foreachBatch.
    * Output: the final extended entity dictionary (name, id BIGINT),
    * ordered by id — ids 0..|old|-1 are the old corpus dictionary
    * verbatim, then each batch's new names in sorted order. */
  def streamingVocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = graft.Assets.staged("vocabstream",
        Seq(Paths.get(sfDir, "lineitem.parquet")), "v2") { base =>
      val (src, out, chk) =
        (base.resolve("src"), base.resolve("out"), base.resolve("chk"))
      val withK = contentSplit(spark, sfDir)
      stageArrivals(withK, src)

      // the standing dictionary: built once from the old corpus
      val oldRaw = withK.filter(col("bucket") < 9)
        .select("h", "l", "t").as[graft.transe.RawTriple]
      var ents = DictionaryEncoder.buildDictionary(
        oldRaw.select(col("h").as("name"))
          .unionAll(oldRaw.select(col("t").as("name")))).persist()
      ents.count()

      val schema = StructType(Seq(
        StructField("h", StringType), StructField("l", StringType),
        StructField("t", StringType)))
      StreamRun.eachFile(spark, schema, src, chk) { (batch: DataFrame, _: Long) =>
        val names = batch.select(col("h").as("name"))
          .unionAll(batch.select(col("t").as("name")))
        val grown = DictionaryEncoder.extendDictionary(ents, names).persist()
        grown.count() // materialize while the micro-batch is still live
        ents.unpersist()
        ents = grown
        ()
      }
      ents.write.mode("overwrite").parquet(out.toString)
    }
    spark.read.parquet(base.resolve("out").toString)
      .select(col("name"), col("id").cast("long").as("id"))
      .orderBy("id")
  }

  /** kgTriples with the content-defined split: `bucket` = hash % 10
    * (>= 9 is the arriving slice) and `k` = (hash div 10) % 3, the
    * arrival sub-batch. DIV, not `/`: Column `/` is ALWAYS fractional
    * (double) division in Spark, so (hv / 10) % 3 yields non-integral k
    * values that match no equality filter — integral DIV keeps the
    * sub-bucket exact and engine-identical to DuckDB's `//`. */
  private def contentSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val hv = conv(substring(md5(
      concat_ws("|", col("h"), col("l"), col("t"))), 1, 6), 16, 10)
      .cast("long")
    graft.queries.TransEQueries.kgTriples(spark, sfDir)
      .select(col("h"), col("l"), col("t"), hv.as("hv"))
      .select(col("h"), col("l"), col("t"),
        (col("hv") % 10).as("bucket"), expr("(hv DIV 10) % 3").as("k"),
        col("hv"))
  }

  /** The arriving slice as one file per content-defined sub-batch, mtimes
    * forced ascending so the file source's timestamp order IS the batch
    * order. */
  private def stageArrivals(withK: DataFrame, src: java.nio.file.Path): Unit =
    (0 until 3).foreach { k =>
      EventStreams.writeSingleFile(
        withK.filter(col("bucket") >= 9 && col("k") === k).select("h", "l", "t"),
        src.resolve(f"b$k%03d.parquet"), Some(1700000000000L + k * 60000L))
    }

  /** STREAMING CONTINUAL TRAINER (VERDICT r10 #3) — the foreachBatch
    * composition of the round-10 continual pieces that previously only
    * existed separately: per arriving micro-batch of raw triples,
    * (1) extend BOTH dictionaries with the batch's new names — old ids
    * verbatim ([[DictionaryEncoder.extendDictionaries]]); (2) pad the
    * trained model with seeded fresh rows for the grown vocabulary
    * ([[graft.transe.TransETrainer.extendModel]]); (3) warm-continue
    * training on the newly-encoded batch plus a deterministic 5%
    * experience-replay slice of the old corpus (replay anchors the old
    * region against catastrophic forgetting — the not-forgotten gate in
    * StreamingSpec checks exactly that). This is the streaming twin of
    * the `Train --extend` CLI; the reference can only warm-start at a
    * FIXED vocabulary (`TransE.py:28-29,73-76` restores matrices whose
    * shape must match), so vocabulary growth there means full retrain.
    *
    * Arrival order and batch content are the SAME content-defined split
    * as [[streamingVocabGrowth]] (bucket >= 9 sliced by (hash div 10) %
    * 3, one file per micro-batch, forced ascending mtimes). Output: one
    * row per training stage — the initial fit (k = -1) and each
    * micro-batch — with the vocabulary sizes, the new-name count, the
    * training-set size, and the final hinge loss of that stage's warm
    * continuation. SGD floats make it rows-only (SQL cannot train);
    * the behavioral gate lives in StreamingSpec's continual-contract
    * twin (see `gating.json`). Deterministic end-to-end (seeded SGD over
    * content-defined batches), memoized on disk like the growth query. */
  def streamingContinualTrain(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensureContinualRun(spark, sfDir).resolve("out").toString)
      .orderBy("k")

  /** The committed continual-train run for `sfDir` (layout v3 added the
    * quantized eval checkpoint under `evalq/`). */
  private def ensureContinualRun(spark: SparkSession,
      sfDir: String): java.nio.file.Path = {
    import spark.implicits._
    import graft.transe.RawTriple
    // durable per-stage state in a SIBLING dir, outside the asset's wipe
    // path: an uncommitted asset (src/chk/out) is disposable and rebuilt,
    // but committed SGD stages are exactly what a killed run must RESUME
    // from — wiping them with the asset would refit the old corpus from
    // scratch and make every persistStage write dead weight. The fresh
    // checkpoint re-delivers all files with the same deterministic
    // batchIds (one file per trigger in forced-mtime order), and the
    // committed-id guard skips the already-trained ones, so recovery
    // stays exactly-once and bit-identical.
    def stateDirOf(base: java.nio.file.Path) =
      base.resolveSibling(s"${base.getFileName}_v${StateFormatVersion}_state")
    val base = graft.Assets.staged("contstream",
        Seq(Paths.get(sfDir, "lineitem.parquet")), "v3") { base =>
      val (src, out, chk) =
        (base.resolve("src"), base.resolve("out"), base.resolve("chk"))
      val withK = contentSplit(spark, sfDir)
      stageArrivals(withK, src)

      // old corpus: dictionaries + initial fit (seeded, small budget —
      // the query proves the continual PLUMBING; learning quality is
      // gated on the analytic chain KG in StreamingSpec)
      val p = ContTrainParams
      val oldRaw = withK.filter(col("bucket") < 9)
        .select($"h", $"l", $"t").as[RawTriple]
      // deterministic 5% replay slice, fixed for the run
      val replay = withK.filter(col("bucket") < 9 && col("hv") % 20 === 0)
        .select($"h", $"l", $"t").as[RawTriple]
      val outcome = runContinualStream(spark, src.toString, chk.toString,
        oldRaw, replay, p, batchEpochs = 1, stateDir = Some(stateDirOf(base)))
      // QUANTIZED EVAL CHECKPOINT (VERDICT r12 #4): stage the final
      // continually-trained model plus a deterministic test sample drawn
      // from the STREAMED slice (the triples the warm continuations
      // trained on), encoded with the final grown dictionaries — the
      // transe_eval_quantized integer ladder then puts the continual
      // trainer's OUTPUT under a full DuckDB hash oracle even though the
      // training itself is float SGD (see streamingContinualEval).
      val encNew = graft.transe.DictionaryEncoder.encode(
        withK.filter(col("bucket") >= 9).select($"h", $"l", $"t").as[RawTriple],
        outcome.entities, outcome.labels)
      val evalSample = encNew.orderBy("h", "l", "t")
        .limit(graft.transe.QuantizedEval.SampleN).collect()
      graft.transe.QuantizedEval.stageAt(spark, base.resolve("evalq").toString,
        graft.transe.QuantizedEval.quantize(outcome.model.entity),
        graft.transe.QuantizedEval.quantize(outcome.model.label), evalSample)
      outcome.entities.unpersist(); outcome.labels.unpersist()
      outcome.stages
        .toDF("k", "n_entities", "n_labels", "n_new_entities",
          "n_train_triples", "hinge_loss")
        .coalesce(1).write.mode("overwrite").parquet(out.toString)
    }
    // committed SGD stages exist to RESUME a killed run; once the asset
    // is committed the run can never resume again, so the sibling state
    // dir is dead weight — drop it (ADVICE r11)
    deleteRecursively(stateDirOf(base))
    base
  }

  /** The registered continual run's hyperparameters — the SINGLE source
    * the trainer, the eval ranks and the eval oracle all read, so a
    * dim/distance change can never silently desynchronize the oracle's
    * replay ladder from the staged matrices. */
  private val ContTrainParams = graft.transe.TransEParams(epochs = 2,
    batches = 2, margin = 1.0f, lr = 0.05f, dim = 32,
    distance = graft.transe.L2Squared, seed = 42L)

  @volatile private var lastContEvalDir: Option[String] = None

  /** Oracle SQL for [[streamingContinualEval]] — None until the query
    * ran in this JVM (the QuantizedEval discipline: the SQL embeds the
    * staging dir of the checkpoint the ranks actually came from, so a
    * filtered Verify run that skipped the query omits the oracle rather
    * than pointing DuckDB at a stale path). */
  def continualEvalOracleOpt: Option[(String, String)] =
    lastContEvalDir.map(d => "stream_continual_eval" ->
      graft.transe.QuantizedEval.oracleSqlFor(d, dim = ContTrainParams.dim,
        l1 = ContTrainParams.distance == graft.transe.L1))

  /** DuckDB-replayable link-prediction ranks over the CONTINUALLY
    * trained checkpoint (VERDICT r12 #4): the integer-quantized eval
    * ladder (transe_eval_quantized) applied to the model the streaming
    * trainer committed, ranking a deterministic sample of the STREAMED
    * triples. Float SGD stays un-oracled — what this hash-pins is that
    * the continual stream produced exactly the committed checkpoint and
    * that ranking over it is bit-exact, which also freezes the whole
    * upstream chain (content-defined batching, dictionary growth,
    * exactly-once warm continuations) since any drift there changes the
    * staged matrices. */
  def streamingContinualEval(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.transe.{QuantizedEval, Triple}
    // the committed continual run's evalq checkpoint
    val dir = ensureContinualRun(spark, sfDir).resolve("evalq").toString
    val entities = spark.read.parquet(s"$dir/entity")
    val labQ: Array[Array[Long]] = spark.read.parquet(s"$dir/label")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1).map(_._2)
    val sample: Array[Triple] = spark.read.parquet(s"$dir/test")
      .collect().map(r => Triple(r.getInt(0), r.getInt(1), r.getInt(2)))
      .sortBy(t => (t.h, t.l, t.t))
    lastContEvalDir = Some(dir)
    QuantizedEval.toRankDf(spark,
      QuantizedEval.rankQuantized(entities, labQ, sample,
        l1 = ContTrainParams.distance == graft.transe.L1))
  }

  /** Final state of a continual-training stream run: per-stage metric
    * rows, the grown dictionaries (persisted — caller unpersists), and
    * the warm-continued model. */
  private[graft] final case class ContinualOutcome(
      stages: Seq[(Long, Long, Long, Long, Long, Double)],
      entities: DataFrame, labels: DataFrame,
      model: graft.transe.TransEModel)

  /** Times a continual-trainer foreachBatch SKIPPED a replayed batch
    * because its state commit already existed — the replay-evidence
    * counter StreamingSpec's kill/replay test asserts (the txnAppend
    * pattern, applied to TRAINING state). */
  private[graft] val continualSkips =
    new java.util.concurrent.atomic.AtomicLong(0)

  // ---------------- durable per-batch training state (restart safety)
  // Layout: stateDir/batch=<id>/{entities,labels,model,stage.csv,_DONE},
  // staged under batch=<id>.tmp and atomically renamed — the same
  // stage-then-move commit protocol as the txnAppend sink, so a crash
  // mid-persist never leaves a half-written state a restart could adopt.
  // id = -1 is the initial (pre-stream) fit.

  /** Version of the persisted stage LAYOUT above — owned here, next to
    * the writer, and folded into every state-dir key by callers: a
    * format change bumps it and can never silently adopt a stale
    * committed stage written in the old layout for an unchanged corpus
    * (ADVICE r11). */
  private[graft] val StateFormatVersion = 1

  /** A stage's marker inside its batch=<id> dir: a resume log, not a
    * staged asset (apps/Train's `state/batch=N/_DONE` reads the same). */
  private val StageMarker = "_DONE"

  private def stageDone(stateDir: java.nio.file.Path, id: Long) =
    stateDir.resolve(s"batch=$id").resolve(StageMarker)

  private def committedStages(stateDir: java.nio.file.Path): Seq[Long] = {
    if (!Files.exists(stateDir)) Seq.empty
    else {
      val s = Files.list(stateDir)
      try s.iterator().asScala.toList
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("batch=") && !n.endsWith(".tmp") =>
          n.stripPrefix("batch=").toLong }
        .filter(id => Files.exists(stageDone(stateDir, id)))
        .sorted
      finally s.close()
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }

  private def persistStage(spark: SparkSession, stateDir: java.nio.file.Path,
      id: Long, ents: DataFrame, labs: DataFrame,
      model: graft.transe.TransEModel,
      row: (Long, Long, Long, Long, Long, Double)): Unit = {
    val tmp = stateDir.resolve(s"batch=$id.tmp")
    deleteRecursively(tmp)
    Files.createDirectories(tmp)
    ents.coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("entities").toString)
    labs.coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("labels").toString)
    graft.transe.EmbeddingIO.saveModel(spark, model,
      tmp.resolve("model").toString)
    Files.writeString(tmp.resolve("stage.csv"),
      s"${row._1},${row._2},${row._3},${row._4},${row._5},${row._6}")
    Files.writeString(tmp.resolve(StageMarker), "ok")
    val dst = stateDir.resolve(s"batch=$id")
    deleteRecursively(dst)
    Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def loadStage(spark: SparkSession, stateDir: java.nio.file.Path,
      id: Long, p: graft.transe.TransEParams):
      (DataFrame, DataFrame, graft.transe.TransEModel,
        (Long, Long, Long, Long, Long, Double)) = {
    val d = stateDir.resolve(s"batch=$id")
    val ents = spark.read.parquet(d.resolve("entities").toString).persist()
    val labs = spark.read.parquet(d.resolve("labels").toString).persist()
    ents.count(); labs.count()
    val model = graft.transe.EmbeddingIO.loadModel(spark,
      d.resolve("model").toString, p)
    val f = Files.readString(d.resolve("stage.csv")).trim.split(',')
    (ents, labs, model, (f(0).toLong, f(1).toLong, f(2).toLong,
      f(3).toLong, f(4).toLong, f(5).toDouble))
  }

  /** The continual-training foreachBatch core, separated from the
    * sfDir-specific staging so StreamingSpec can drive it with the
    * analytic chain KG (TransESpec's continual contract, streamed).
    * Reads `srcDir` one file per micro-batch; trains `p.epochs` initial
    * epochs on `oldRaw`, then per batch extends dictionaries + model and
    * warm-continues `batchEpochs` epochs on batch + replay.
    *
    * RESTART SAFETY (`stateDir`): when set, every completed stage —
    * the initial fit and each micro-batch — commits (dictionaries,
    * model, stage row) durably under the txnAppend stage-then-rename
    * protocol, keyed by batchId. A restart loads the latest committed
    * state instead of refitting (at 100 TB the old corpus is cold
    * storage — recomputing is not recovery), the engine's checkpoint
    * resumes the source where it left off, and a REPLAYED batch (crash
    * between state commit and streaming commit) is detected by its
    * already-committed batchId and skipped outright — training effects
    * are exactly-once, not at-least-once, so the recovered model is
    * BIT-IDENTICAL to an uninterrupted run (StreamingSpec proves it). */
  private[graft] def runContinualStream(spark: SparkSession, srcDir: String,
      chkDir: String, oldRaw: org.apache.spark.sql.Dataset[graft.transe.RawTriple],
      replay: org.apache.spark.sql.Dataset[graft.transe.RawTriple],
      p: graft.transe.TransEParams, batchEpochs: Int,
      stateDir: Option[java.nio.file.Path] = None,
      format: String = "parquet"): ContinualOutcome = {
    import spark.implicits._
    import graft.transe.{RawTriple, TransETrainer}
    stateDir.foreach(Files.createDirectories(_))
    val committed = scala.collection.mutable.SortedSet.empty[Long]
    stateDir.foreach(d => committed ++= committedStages(d))
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Double)]

    var ents: DataFrame = null
    var labs: DataFrame = null
    var nEnt = 0
    var nLab = 0
    var model: graft.transe.TransEModel = null
    val replayP = replay.persist(); replayP.count()

    if (committed.nonEmpty) {
      // resume: replay the committed stage rows, load the LATEST state
      val d = stateDir.get
      committed.foreach { id =>
        val f = Files.readString(
          d.resolve(s"batch=$id").resolve("stage.csv")).trim.split(',')
        rows += ((f(0).toLong, f(1).toLong, f(2).toLong, f(3).toLong,
          f(4).toLong, f(5).toDouble))
      }
      val (e, l, m, _) = loadStage(spark, d, committed.max, p)
      ents = e; labs = l; model = m
      nEnt = ents.count().toInt; nLab = labs.count().toInt
    } else {
      val oldP = oldRaw.persist(); oldP.count()
      val (e0, l0) = DictionaryEncoder.buildDictionaries(oldP)
      ents = e0.persist(); labs = l0.persist()
      nEnt = ents.count().toInt
      nLab = labs.count().toInt
      val enc0 = DictionaryEncoder.encode(oldP, ents, labs).persist()
      val n0 = enc0.count()
      val trainer0 = new TransETrainer(p)
      model = trainer0.fit(enc0, nEnt, nLab)
      enc0.unpersist(); oldP.unpersist()
      val initRow = (-1L, nEnt.toLong, nLab.toLong, nEnt.toLong, n0,
        trainer0.lossHistory.last)
      rows += initRow
      stateDir.foreach { d =>
        persistStage(spark, d, -1L, ents, labs, model, initRow)
        committed += -1L
      }
    }

    val schema = StructType(Seq(
      StructField("h", StringType), StructField("l", StringType),
      StructField("t", StringType)))
    val reader = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
    val stream = format match {
      case "parquet" => reader.parquet(srcDir)
      // the reference's own landing format (TripleReader parity: raw
      // split-on-tab — quoting off so "1984" stays quoted and tabs never
      // merge inside quoted fields). PERMISSIVE (the csv default) would
      // null-fill a short line and the null would become a DICTIONARY
      // ENTRY with its own embedding row — drop malformed lines like the
      // batch reader does, then belt-and-braces filter below.
      case "tsv" => reader.option("sep", "\t").option("header", "false")
        .option("quote", "").option("mode", "DROPMALFORMED").csv(srcDir)
      case other => throw new IllegalArgumentException(
        s"continual stream: unknown format '$other' (parquet|tsv)")
    }
    StreamRun.drain(spark, stream
      .writeStream
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // REPLAYED batch (restart after a crash between the state commit
        // and the streaming commit): the training effects are already in
        // the loaded state — skip, don't retrain (exactly-once, the
        // txnAppend discipline applied to SGD state)
        if (committed.contains(batchId)) {
          continualSkips.incrementAndGet()
        } else {
        // foreachBatch bodies run serially on the driver; every grown
        // frame is materialized while its micro-batch is live (the
        // vocab-growth query documents the same contract)
        val rawBatch = batch.select(col("h"), col("l"), col("t"))
          // a null in ANY position would otherwise become a dictionary
          // entry with its own embedding row (guards parquet feeds too)
          .filter(col("h").isNotNull && col("l").isNotNull &&
            col("t").isNotNull)
          .as[RawTriple].persist()
        rawBatch.count()
        val (e2, l2) = DictionaryEncoder.extendDictionaries(ents, labs, rawBatch)
        val e2p = e2.persist(); val l2p = l2.persist()
        val nEnt2 = e2p.count().toInt
        val nLab2 = l2p.count().toInt
        // grow the matrices: old rows verbatim, fresh seeded init for
        // the new id range
        model = TransETrainer.extendModel(model, nEnt2, nLab2)
        // warm-continue on the batch + the fixed replay slice
        val trainEnc = DictionaryEncoder
          .encode(rawBatch.unionAll(replayP), e2p, l2p).persist()
        val nTrain = trainEnc.count()
        val trainer = new TransETrainer(p.copy(epochs = batchEpochs))
        model = trainer.fit(trainEnc, nEnt2, nLab2, warmStart = Some(model))
        val stageRow = (batchId, nEnt2.toLong, nLab2.toLong,
          (nEnt2 - nEnt).toLong, nTrain, trainer.lossHistory.last)
        rows += stageRow
        trainEnc.unpersist(); rawBatch.unpersist()
        ents.unpersist(); labs.unpersist()
        ents = e2p; labs = l2p; nEnt = nEnt2; nLab = nLab2
        // durable state commit BEFORE the engine records the streaming
        // commit — a crash between the two replays this batchId, which
        // the guard above then skips
        stateDir.foreach { d =>
          persistStage(spark, d, batchId, ents, labs, model, stageRow)
          committed += batchId
        }
        }
        ()
      }
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()))
    replayP.unpersist()
    ContinualOutcome(rows.toSeq, ents, labs, model)
  }

  /** DuckDB replay of [[streamingContinualTrain]]'s INTEGER stage
    * metrics (r13, VERDICT r12 #4): the float hinge loss cannot cross
    * engines, but every other stage column is pure relational arithmetic
    * over the content-defined batching — dictionary sizes via the
    * vocab-growth chain (whose logic stream_vocab_growth already
    * hash-validates id-exactly), new-name deltas, and per-stage training
    * counts (|old| for the initial fit; |batch k| + |replay| after,
    * where replay is the fixed hv % 20 == 0 slice). The registered
    * query projects hinge_loss away so THIS oracle makes the trainer's
    * observable stage surface hash-green; the loss stays gated by
    * StreamingSpec/ContractSpec and the checkpoint itself by
    * stream_continual_eval. */
  def streamingContinualTrainSql: String = {
    val hash = graft.operators.OracleSql.hexVal(
      "md5(h || '|' || l || '|' || t)", 1, 6)
    def newEnts(k: Int, prior: Seq[String]): String =
      s"""e${k + 1} AS (
         |  SELECT DISTINCT name FROM (
         |    SELECT h AS name FROM arr WHERE k = $k
         |    UNION ALL SELECT t FROM arr WHERE k = $k)
         |  WHERE ${prior.map(p => s"name NOT IN (SELECT name FROM $p)").mkString(" AND ")}
         |)""".stripMargin
    def newLabs(k: Int, prior: Seq[String]): String =
      s"""l${k + 1} AS (
         |  SELECT DISTINCT l AS name FROM arr WHERE k = $k
         |    AND ${prior.map(p => s"l NOT IN (SELECT name FROM $p)").mkString(" AND ")}
         |)""".stripMargin
    s"""WITH triples AS (
       |${graft.queries.TransEQueries.kgSqlForOracle}
       |), b AS (
       |  SELECT h, l, t, ($hash) % 10 AS bucket, (($hash) // 10) % 3 AS k,
       |         ($hash) AS hv
       |  FROM triples
       |), old AS (SELECT * FROM b WHERE bucket < 9),
       |arr AS (SELECT * FROM b WHERE bucket >= 9),
       |e0 AS (SELECT DISTINCT name FROM (
       |  SELECT h AS name FROM old UNION ALL SELECT t FROM old)),
       |l0 AS (SELECT DISTINCT l AS name FROM old),
       |${newEnts(0, Seq("e0"))},
       |${newLabs(0, Seq("l0"))},
       |${newEnts(1, Seq("e0", "e1"))},
       |${newLabs(1, Seq("l0", "l1"))},
       |${newEnts(2, Seq("e0", "e1", "e2"))},
       |${newLabs(2, Seq("l0", "l1", "l2"))},
       |c AS (SELECT
       |  (SELECT COUNT(*) FROM e0) AS ce0, (SELECT COUNT(*) FROM e1) AS ce1,
       |  (SELECT COUNT(*) FROM e2) AS ce2, (SELECT COUNT(*) FROM e3) AS ce3,
       |  (SELECT COUNT(*) FROM l0) AS cl0, (SELECT COUNT(*) FROM l1) AS cl1,
       |  (SELECT COUNT(*) FROM l2) AS cl2, (SELECT COUNT(*) FROM l3) AS cl3,
       |  (SELECT COUNT(*) FROM old) AS n_old,
       |  (SELECT COUNT(*) FROM old WHERE hv % 20 = 0) AS n_replay,
       |  (SELECT COUNT(*) FROM arr WHERE k = 0) AS nb0,
       |  (SELECT COUNT(*) FROM arr WHERE k = 1) AS nb1,
       |  (SELECT COUNT(*) FROM arr WHERE k = 2) AS nb2)
       |SELECT CAST(-1 AS BIGINT) AS k, ce0 AS n_entities, cl0 AS n_labels,
       |  ce0 AS n_new_entities, n_old AS n_train_triples FROM c
       |UNION ALL SELECT 0, ce0 + ce1, cl0 + cl1, ce1, nb0 + n_replay FROM c
       |UNION ALL SELECT 1, ce0 + ce1 + ce2, cl0 + cl1 + cl2, ce2,
       |  nb1 + n_replay FROM c
       |UNION ALL SELECT 2, ce0 + ce1 + ce2 + ce3, cl0 + cl1 + cl2 + cl3, ce3,
       |  nb2 + n_replay FROM c
       |ORDER BY k""".stripMargin
  }

  /** Fixed 3-batch CTE chain replaying the same content-defined arrival
    * order: names(k) = new names of sub-batch k not seen in the old
    * corpus or any earlier batch; ids continue from the running count. */
  def streamingVocabGrowthSql: String = {
    val hash = graft.operators.OracleSql.hexVal(
      "md5(h || '|' || l || '|' || t)", 1, 6)
    s"""WITH triples AS (
       |${graft.queries.TransEQueries.kgSqlForOracle}
       |), b AS (
       |  SELECT h, l, t, ($hash) % 10 AS bucket, (($hash) // 10) % 3 AS k
       |  FROM triples
       |), oldnames AS (
       |  SELECT DISTINCT name FROM (
       |    SELECT h AS name FROM b WHERE bucket < 9
       |    UNION ALL SELECT t FROM b WHERE bucket < 9)
       |), d0 AS (
       |  SELECT name, CAST(ROW_NUMBER() OVER (ORDER BY name NULLS FIRST) - 1 AS BIGINT) AS id
       |  FROM oldnames
       |), arr AS (
       |  SELECT h, t, k FROM b WHERE bucket >= 9
       |), n1 AS (
       |  SELECT DISTINCT name FROM (
       |    SELECT h AS name FROM arr WHERE k = 0
       |    UNION ALL SELECT t FROM arr WHERE k = 0)
       |  WHERE name NOT IN (SELECT name FROM d0)
       |), d1 AS (
       |  SELECT name, CAST((SELECT COUNT(*) FROM d0)
       |    + ROW_NUMBER() OVER (ORDER BY name NULLS FIRST) - 1 AS BIGINT) AS id
       |  FROM n1
       |), n2 AS (
       |  SELECT DISTINCT name FROM (
       |    SELECT h AS name FROM arr WHERE k = 1
       |    UNION ALL SELECT t FROM arr WHERE k = 1)
       |  WHERE name NOT IN (SELECT name FROM d0)
       |    AND name NOT IN (SELECT name FROM d1)
       |), d2 AS (
       |  SELECT name, CAST((SELECT COUNT(*) FROM d0) + (SELECT COUNT(*) FROM d1)
       |    + ROW_NUMBER() OVER (ORDER BY name NULLS FIRST) - 1 AS BIGINT) AS id
       |  FROM n2
       |), n3 AS (
       |  SELECT DISTINCT name FROM (
       |    SELECT h AS name FROM arr WHERE k = 2
       |    UNION ALL SELECT t FROM arr WHERE k = 2)
       |  WHERE name NOT IN (SELECT name FROM d0)
       |    AND name NOT IN (SELECT name FROM d1)
       |    AND name NOT IN (SELECT name FROM d2)
       |), d3 AS (
       |  SELECT name, CAST((SELECT COUNT(*) FROM d0) + (SELECT COUNT(*) FROM d1)
       |    + (SELECT COUNT(*) FROM d2)
       |    + ROW_NUMBER() OVER (ORDER BY name NULLS FIRST) - 1 AS BIGINT) AS id
       |  FROM n3
       |)
       |SELECT name, id FROM (
       |  SELECT * FROM d0 UNION ALL SELECT * FROM d1
       |  UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
       |ORDER BY id""".stripMargin
  }
}
