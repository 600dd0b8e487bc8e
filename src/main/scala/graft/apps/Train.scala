package graft.apps

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.rand

import graft.transe._

/** Training entry point — the engine's `example.py` (reference
  * `example.py:14-40`): load TSV triples, dictionary-encode, train TransE,
  * write the model + dictionaries as parquet.
  *
  * Usage (spark-submit or sbt runMain):
  *   graft.apps.Train --train <triples.tsv> --out <modelDir>
  *     [--epochs 1000] [--batches 2] [--margin 1.0] [--lr 0.01]
  *     [--dim 50] [--distance L1|L2] [--seed 42]
  *     [--corruption uniform|bern]   # bern = Wang et al. 2014 sampling
  *     [--checkpoint-every 50] [--warm-start <modelDir>]
  *     [--warm-start-epoch <n>]   # restore <modelDir>/checkpoint/epoch=<n>
  *     [--extend <modelDir>]      # CONTINUAL: grow vocab + warm-continue
  *     [--exec broadcast|partitioned]
  *
  * `--extend <modelDir>` is the CONTINUAL-TRAINING route (round 10; the
  * reference retrains from scratch when new entities arrive): the old
  * model and dictionaries load from <modelDir>, the new TSV's vocabulary
  * EXTENDS the dictionaries (old ids verbatim — matrix row i keeps
  * meaning row i), the model pads with fresh seeded rows, and training
  * warm-continues on the provided triples. Include replayed old triples
  * in the TSV to protect against forgetting, or only the new batch for a
  * cheap delta update — the file's content is the curriculum.
  *
  * `--exec partitioned` trains with [[TransETrainer.fitDistributed]]: the
  * entity matrix lives as a distributed (id, vec) RDD end-to-end and is
  * written with `saveDistributed` — never collected to the driver. The
  * route for entity inventories past the broadcast budget (SCALE.md);
  * loss-curve-identical to the broadcast trainer by contract
  * (ContractSpec golden gates). Warm start / extend are broadcast-only
  * for now (restore requires the driver-matrix form).
  */
object Train {
  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val trainPath = opts.required("train")
    val outDir = opts.required("out")
    val params = TransEParams(
      epochs = opts.int("epochs", 1000),
      batches = opts.int("batches", 2),
      margin = opts.float("margin", 1.0f),
      lr = opts.float("lr", 0.01f),
      dim = opts.int("dim", 50),
      distance = if (opts.str("distance", "L1") == "L2") L2Squared else L1,
      seed = opts.long("seed", 42L),
      bernCorruption = opts.str("corruption", "uniform") == "bern",
      checkpointEvery = opts.int("checkpoint-every", 0),
      checkpointDir = Some(s"$outDir/checkpoint"))

    val (spark, owned) = Args.session()
    import spark.implicits._

    val raw = TripleReader.readTsv(spark, trainPath)
    // O1 (reference TransE.py:88): randomize row->partition assignment once
    // so partitions are balanced regardless of input file order
    val shuffled = raw.orderBy(rand(params.seed)).as[RawTriple]

    require(opts.get("extend").isEmpty || opts.get("warm-start").isEmpty,
      "--extend and --warm-start are mutually exclusive (extend IS a warm " +
        "start over a grown vocabulary)")
    val (encoded, ents, labs, nEnt, nLab, warm) = opts.get("extend") match {
      case Some(oldDir) =>
        // continual route: grow the old dictionaries with the new file's
        // vocabulary (old ids verbatim), pad the old model, warm-continue
        val oldEnts = spark.read.parquet(s"$oldDir/entity_dict").persist()
        val oldLabs = spark.read.parquet(s"$oldDir/label_dict").persist()
        val cached = shuffled.persist()
        val (e, l) = DictionaryEncoder.extendDictionaries(oldEnts, oldLabs, cached)
        val eP = e.persist(); val lP = l.persist()
        val (nE, nL) = (eP.count().toInt, lP.count().toInt)
        val oldModel = EmbeddingIO.loadModel(spark, oldDir, params)
        val grown = TransETrainer.extendModel(oldModel, nE, nL)
        (DictionaryEncoder.encode(cached, eP, lP), eP, lP, nE, nL, Some(grown))
      case None =>
        val (enc, e, l) = DictionaryEncoder.encodeAll(shuffled)
        // --warm-start takes a model root (final matrices) or, with
        // --warm-start-epoch n, a specific versioned checkpoint epoch
        val w = opts.get("warm-start").map { dir =>
          val src = opts.get("warm-start-epoch")
            .map(n => s"$dir/checkpoint/epoch=$n").getOrElse(dir)
          EmbeddingIO.loadModel(spark, src, params)
        }
        (enc, e, l, e.count().toInt, l.count().toInt, w)
    }

    val execMode = opts.str("exec", "broadcast")
    val t0 = System.nanoTime()
    val trainer = new TransETrainer(params)
    execMode match {
      case "partitioned" =>
        require(warm.isEmpty,
          "--warm-start/--extend require --exec broadcast (restore needs " +
            "the driver-matrix form)")
        val (entRdd, label) = trainer.fitDistributed(encoded, nEnt, nLab)
        // the entity matrix is written straight from the distributed
        // parameter table — the driver never holds n*k floats
        EmbeddingIO.saveDistributed(spark, entRdd, s"$outDir/entity")
        EmbeddingIO.save(spark, label, s"$outDir/label")
        EmbeddingIO.saveParams(spark, params, outDir)
        entRdd.unpersist()
      case _ =>
        EmbeddingIO.saveModel(spark, trainer.fit(encoded, nEnt, nLab, warm), outDir)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    ents.write.mode("overwrite").parquet(s"$outDir/entity_dict")
    labs.write.mode("overwrite").parquet(s"$outDir/label_dict")

    println(f"[train] exec=$execMode epochs=${params.epochs} nEntities=$nEnt " +
      f"nLabels=$nLab totalSec=$sec%.1f epochSec=${sec / params.epochs}%.3f " +
      s"lossFirst=${trainer.lossHistory.headOption.getOrElse(0.0)} " +
      s"lossLast=${trainer.lossHistory.lastOption.getOrElse(0.0)}")
    if (owned) spark.stop()
  }
}

/** STREAMING continual-training entry point — `Train --extend`, taken to
  * an unbounded feed. Watches a directory of triple TSVs (one file per
  * micro-batch), drains everything available, and per batch: extends
  * both dictionaries (old ids verbatim), pads the model with seeded
  * fresh rows, and warm-continues training on the batch plus a
  * deterministic 1-in-`--replay` experience-replay slice of the initial
  * corpus. Every completed stage commits durably under
  * `<out>/state/batch=<id>` (the txnAppend protocol), so re-running the
  * SAME command after a kill resumes from the last commit instead of
  * refitting, and a replayed batch is skipped — training effects are
  * exactly-once (StreamingSpec proves bit-identity of the recovered
  * model). The reference has no streaming and retrains from scratch
  * when new entities arrive (`utils.py:6-28`).
  *
  * Usage: graft.apps.TrainStream --watch <tsvDir> --old <triples.tsv>
  *   --out <modelDir> [--epochs 30] [--batch-epochs 1] [--replay 20]
  *   [hyperparameters as Train: --batches --margin --lr --dim
  *    --distance --seed]
  *
  * `--epochs` is the INITIAL fit budget on the old corpus (skipped on
  * resume); `--batch-epochs` the warm budget per arriving batch. The
  * final model + dictionaries land in `<out>` in Train's layout, so
  * `Evaluate --model <out>` works unchanged.
  */
object TrainStream {
  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val watchDir = opts.required("watch")
    val outDir = opts.required("out")
    val params = TransEParams(
      epochs = opts.int("epochs", 30),
      batches = opts.int("batches", 2),
      margin = opts.float("margin", 1.0f),
      lr = opts.float("lr", 0.01f),
      dim = opts.int("dim", 50),
      distance = if (opts.str("distance", "L1") == "L2") L2Squared else L1,
      seed = opts.long("seed", 42L))
    val replayRate = opts.int("replay", 20)

    val (spark, owned) = Args.session()
    import spark.implicits._

    // --old is required even on resume: the initial fit is skipped when
    // committed state exists, but the experience-replay slice derives
    // from the old corpus — a resume without it would warm-continue on
    // the batches alone, silently dropping the forgetting protection and
    // breaking the bit-identical-recovery contract ("re-run the SAME
    // command" is the resume story, not a different one)
    val oldRaw = TripleReader.readTsv(spark, opts.required("old"))
    // deterministic content-keyed replay slice (1 in replayRate):
    // splitmix64 over the triple's content hash, not hashCode (which is
    // JVM-stable but weakly mixed for short strings)
    val replay =
      if (replayRate <= 0) spark.emptyDataset[RawTriple]
      else oldRaw.filter((t: RawTriple) => math.floorMod(
        StableHash.mix64(s"${t.h}|${t.l}|${t.t}".hashCode.toLong),
        replayRate.toLong) == 0L)

    val outcome = graft.streaming.VocabStreams.runContinualStream(spark,
      watchDir, s"$outDir/chk", oldRaw, replay, params,
      batchEpochs = opts.int("batch-epochs", 1),
      stateDir = Some(java.nio.file.Paths.get(outDir, "state")),
      format = "tsv")

    EmbeddingIO.saveModel(spark, outcome.model, outDir)
    outcome.entities.write.mode("overwrite").parquet(s"$outDir/entity_dict")
    outcome.labels.write.mode("overwrite").parquet(s"$outDir/label_dict")
    outcome.entities.unpersist(); outcome.labels.unpersist()
    outcome.stages.foreach { case (k, nE, nL, nNew, nTrain, loss) =>
      val stage = if (k < 0) "init" else s"batch $k"
      println(f"[train-stream] $stage: entities=$nE labels=$nL new=$nNew " +
        f"trained_on=$nTrain loss=$loss%.4f")
    }
    if (owned) spark.stop()
  }
}

/** Evaluation entry point — the engine's `test.py` (reference
  * `test.py:105-126`): load the model + dictionaries, encode the test TSV
  * with the TRAINING dictionary (shared-dictionary fix, SURVEY J4), run
  * link prediction, print MeanRank / Hits@10.
  *
  * Usage: graft.apps.Evaluate --test <triples.tsv> --model <modelDir>
  *   [--hits-k 10] [--distance L1|L2] [--exec broadcast|partitioned]
  *
  * Scoring distance resolution: --distance flag > hyperparameters
  * persisted with the checkpoint (saveModel writes them) > L1 default —
  * an L2-trained model is never silently ranked with L1 unless the
  * checkpoint predates params persistence AND no flag is given.
  *
  * `--exec partitioned` ranks against the entity checkpoint read back as
  * a DISTRIBUTED (id, vec) table — the path for matrices past the
  * broadcast budget (see LinkPrediction.rankTriplesPartitioned); the
  * matrix is never collected driver-side.
  */
object Evaluate {
  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val testPath = opts.required("test")
    val modelDir = opts.required("model")
    val hitsK = opts.int("hits-k", 10)

    val (spark, owned) = Args.session()
    import spark.implicits._

    val persisted = EmbeddingIO.loadParams(spark, modelDir)
    val params = opts.get("distance") match {
      case Some(d) =>
        persisted.getOrElse(TransEParams())
          .copy(distance = if (d == "L2") L2Squared else L1)
      case None => persisted.getOrElse(TransEParams())
    }
    val ents = spark.read.parquet(s"$modelDir/entity_dict")
    val labs = spark.read.parquet(s"$modelDir/label_dict")

    val raw = TripleReader.readTsv(spark, testPath)
    // inner-join encode drops test triples with unseen entities/labels —
    // the reference's "raw" skip-unknown protocol (test.py:45-46)
    val encoded = DictionaryEncoder.encode(raw, ents, labs)

    val result = opts.str("exec", "broadcast") match {
      case "partitioned" =>
        // the entity matrix stays a distributed table; only the (small)
        // label matrix is materialized
        LinkPrediction.evaluatePartitioned(encoded,
          spark.read.parquet(s"$modelDir/entity").select("id", "vec"),
          EmbeddingIO.load(spark, s"$modelDir/label"),
          params.distance, hitsK)
      case _ =>
        LinkPrediction.evaluate(encoded,
          EmbeddingIO.loadModel(spark, modelDir, params), hitsK)
    }
    val row = result.collect().head
    println(f"[evaluate] n=${row.getAs[Long]("n_ranks")} " +
      f"meanRank=${row.getAs[Double]("mean_rank")}%.2f " +
      f"meanRankHead=${row.getAs[Double]("mean_rank_head")}%.2f " +
      f"meanRankTail=${row.getAs[Double]("mean_rank_tail")}%.2f " +
      f"hits@$hitsK=${row.getAs[Double](s"hits_at_$hitsK") * 100}%.2f%% " +
      f"mrr=${row.getAs[Double]("mrr")}%.4f " +
      f"hits@1=${row.getAs[Double]("hits_at_1") * 100}%.2f%% " +
      f"hits@3=${row.getAs[Double]("hits_at_3") * 100}%.2f%%")
    if (owned) spark.stop()
  }
}

/** Tiny flag parser + shared session builder for the apps. */
private[apps] class Args(m: Map[String, String]) {
  def get(k: String): Option[String] = m.get(k)
  def required(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def str(k: String, d: String): String = m.getOrElse(k, d)
  def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
  def long(k: String, d: Long): Long = m.get(k).map(_.toLong).getOrElse(d)
  def float(k: String, d: Float): Float = m.get(k).map(_.toFloat).getOrElse(d)
}

private[apps] object Args {
  def parse(args: Array[String]): Args = {
    val m = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    new Args(m)
  }

  /** Returns (session, ownedByUs): reuse an active session when embedded
    * (tests, notebooks) and only stop sessions this app created. */
  def session(): (SparkSession, Boolean) = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) => (s, false)
      case None =>
        // SPARK_GRAFT_MASTER points a deployment at its cluster
        val b = graft.GraftSession.builder()
        val spark = sys.env.get("SPARK_GRAFT_MASTER").fold(b)(b.master)
          .getOrCreate()
        (spark, true)
    }
  }
}
