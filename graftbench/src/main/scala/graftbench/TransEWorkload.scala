package graftbench

import scala.collection.mutable

import graft.transe.{Fb15kShape, LinkPrediction, TransEModel, TransETrainer, Triple}

/** `transe`: the paper's trainer and ranker on a seeded KG at the
  * published FB15k-237 shape (14,541 entities, 237 relations, 272,115
  * training triples) with the reference hyperparameters (k=50, L1, 2
  * batches, margin 1, lr 0.01). Set-up trains [[warmEpochs]] warm-up epochs
  * and ranks [[warmBlocks]] warm-up blocks; the timed window runs one `TransETrainer.fit` and
  * then ranks fixed-size blocks of held-out triples through
  * `LinkPrediction.rankTriples` against the trained model until the
  * window closes, consuming every rank. */
object TransEWorkload {
  val nEntities: Int = Fb15kShape.nEntities
  val nLabels: Int = Fb15kShape.nLabels
  val nTrain: Int = Fb15kShape.nTriples
  val nHeldOut = 20000
  val blockSize = 500
  val warmEpochs = 5
  val warmBlocks = 4
  /** Held-out triples whose ranks are recounted by a naive scan. */
  val nChecked = 24

  /** Epochs of the timed fit: with the ~1.7 s warm fit preparation, about
    * half the window at the measured 0.5-0.7 s/epoch on 4 cores; at least
    * 3. A pure function of the window length, so one seed's loss curve is
    * comparable across runs. */
  def epochsFor(seconds: Double): Int = math.max(3, math.min(30, (seconds * 0.6).toInt))

  /** Row i of the KG for `seed`: seed 0 reproduces `Fb15kShape.kg`, whose
    * 3-epoch loss curve the test suite pins. Rows past `nTrain` are the
    * held-out block. */
  def triple(seed: Long, i: Long): Triple = {
    val r = new java.util.SplittableRandom(0x5eed5eedL + seed * 10000000L + i)
    Triple(r.nextInt(nEntities), r.nextInt(nLabels), r.nextInt(nEntities))
  }

  /** Head and tail rank of `t` by a full scan over every entity, with the
    * scorer's float arithmetic: 1 + the candidates strictly closer. */
  def naiveRanks(m: TransEModel, t: Triple): (Long, Long) = {
    val k = m.entity(0).length
    val l = m.label(t.l)
    val u = Array.tabulate(k)(i => l(i) - m.entity(t.t)(i))
    val v = Array.tabulate(k)(i => m.entity(t.h)(i) + l(i))
    def headDist(e: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < k) { s += math.abs(e(i) + u(i)).toDouble; i += 1 }
      s
    }
    def tailDist(e: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < k) { s += math.abs(v(i) - e(i)).toDouble; i += 1 }
      s
    }
    val dh = headDist(m.entity(t.h))
    val dt = tailDist(m.entity(t.t))
    (1L + m.entity.count(headDist(_) < dh), 1L + m.entity.count(tailDist(_) < dt))
  }

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    import spark.implicits._
    val seed = r.opts.seed
    val train = spark.range(nTrain).map(i => triple(seed, i)).persist()
    train.count()
    val held = Array.tabulate(nHeldOut)(i => triple(seed, nTrain.toLong + i))
    var nextOp = 0

    def rankBlock(model: TransEModel, triples: Array[Triple]): Array[LinkPrediction.Ranks] =
      LinkPrediction.rankTriples(spark.createDataset(triples.toSeq), model).collect()

    // set-up: warm-up epochs and blocks; in a fresh JVM, epoch time was
    // measured to keep falling over the first ~5 epochs
    val warm = new TransETrainer(Fb15kShape.params(epochs = warmEpochs))
    val warmModel = r.spans("warm_fit", "trainer", -1)(warm.fit(train, nEntities, nLabels))
    (0 until warmBlocks).foreach { b =>
      r.spans("warm_rank", "eval", -1)(
        rankBlock(warmModel, held.slice(b * blockSize, (b + 1) * blockSize)))
    }
    val setupS = r.sinceJvmStart

    val gc0 = r.gcSecs
    val t0 = r.spans.nowUs
    val epochs = epochsFor(r.opts.seconds)
    val trainer = new TransETrainer(Fb15kShape.params(epochs))
    val fitOp = nextOp
    nextOp += 1
    r.tag(fitOp, "fit", "trainer")
    val model = try r.spans("fit", "trainer", fitOp)(trainer.fit(train, nEntities, nLabels))
    finally r.untag()
    val fitSpan = r.spans.all.last

    val nBlocks = nHeldOut / blockSize
    val blockSums = mutable.HashMap.empty[Int, Long]
    val ranks = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    var b = 0
    while (r.spans.nowUs - t0 < r.opts.seconds * 1e6 || ranks.length < 3) {
      val id = nextOp
      nextOp += 1
      val blk = b % nBlocks
      val rec = mutable.LinkedHashMap[String, Any]("op" -> id, "block" -> blk)
      r.tag(id, s"rank_block_$blk", "eval")
      try {
        val out = r.spans("rank_block", "eval", id)(
          rankBlock(model, held.slice(blk * blockSize, (blk + 1) * blockSize)))
        val sum = out.iterator.map(x => x.rank_head + x.rank_tail).sum
        val inRange = out.forall(x => x.rank_head >= 1 && x.rank_head <= nEntities &&
          x.rank_tail >= 1 && x.rank_tail <= nEntities)
        rec("ranks") = 2 * out.length
        // every returned rank is scored against the model's every entity
        rec("candidates") = 2L * out.length * model.entity.length
        rec("ok") = out.length == blockSize && inRange && blockSums.getOrElseUpdate(blk, sum) == sum
      } catch {
        case e: Throwable =>
          rec("ok") = false
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      } finally r.untag()
      rec("secs") = r.spans.all.last.secs
      ranks += rec
      b += 1
    }
    val gcS = r.gcSecs - gc0
    r.drain()

    // untimed checks: engine ranks of a sample equal a naive recount
    val sample = held.take(nChecked)
    val engine = rankBlock(model, sample).map(x => (x.l, x.rank_head, x.rank_tail)).sorted.toSeq
    val naive = sample.map(t => { val (h, tl) = naiveRanks(model, t); (t.l, h, tl) }).sorted.toSeq

    val layers = if (r.opts.trace) traced(r, fitSpan, trainer.epochSecsHistory,
      r.spans.all.filter(s => s.name == "rank_block" && s.op >= 0).toSeq,
      Stats.mean(ranks.flatMap(_.get("candidates")).map(_.toString.toDouble).toSeq))
    else Map.empty[String, Double]
    Map("setup_s" -> setupS,
      "fit" -> Map("epochs" -> epochs, "triples" -> nTrain, "secs" -> fitSpan.secs,
        "epoch_secs" -> trainer.epochSecsHistory, "loss" -> trainer.lossHistory,
        "warm_loss" -> warm.lossHistory),
      "ops" -> ranks, "rank_check" -> Map("checked" -> nChecked,
        "mismatched" -> engine.zip(naive).count { case (a, c) => a != c }),
      "layers" -> (layers ++ Map("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> r.heapPeakMb)))
  }

  private def traced(r: Run, fit: Span, epochSecs: Seq[Double],
      rankSpans: Seq[Span], candidates: Double): Map[String, Double] = {
    import Stats._
    val e = epochSecs.length
    // `fit` ends its epoch loop with the last SGD job and that batch's
    // merge, then only releases its broadcasts and cached data, which
    // fires no job. So the loop ends at the last job's end, and epoch i
    // spans [loopEnd - sum(epochSecs from i), loopEnd - sum(epochSecs
    // after i)]. The part of the last merge this misses is a few ms; the
    // release after the loop stays out of every window and out of
    // fit_prep_s.
    val fitJobs = r.jobsIn(fit)
    val loopEndUs = if (fitJobs.isEmpty) fit.endUs else fitJobs.map(_.endMs).max * 1000L
    val loopStartUs = loopEndUs - (epochSecs.sum * 1e6).toLong
    val bounds = epochSecs.scanLeft(loopStartUs)((t, s) => t + (s * 1e6).toLong)
    val epochJobs = bounds.zip(bounds.tail).map { case (a, z) =>
      fitJobs.filter(j => j.startMs * 1000L >= a && j.startMs * 1000L < z)
    }
    val sgd = epochJobs.flatten
    val aggs = r.stageAggs(sgd)
    def jobSecs(js: Seq[JobRec]): Double = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    val rankAggs = rankSpans.map(s => r.stageAggs(r.jobsIn(s)))
    Map(
      "trainer.sgd_job_s" -> median(epochJobs.map(jobSecs)),
      "trainer.task_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9 / e,
      "trainer.task_deser_s" -> aggs.map(_.deserMs).sum / 1e3 / e,
      "trainer.gc_s" -> aggs.map(_.gcMs).sum / 1e3 / e,
      "trainer.driver_sync_s" ->
        median(epochSecs.zip(epochJobs).map { case (s, js) => s - jobSecs(js) }),
      "trainer.broadcast_bytes" -> r.broadcastBytesIn(loopStartUs, loopEndUs).toDouble / e,
      "trainer.result_bytes" -> aggs.map(_.resultBytes).sum.toDouble / e,
      "trainer.jobs_per_epoch" -> sgd.length.toDouble / e,
      "trainer.tasks_per_epoch" -> aggs.map(_.tasks).sum.toDouble / e,
      "trainer.fit_prep_s" -> (loopStartUs - fit.startUs) / 1e6,
      "eval.rank_job_s" -> median(rankSpans.map(s => jobSecs(r.jobsIn(s)))),
      "eval.task_cpu_s" -> median(rankAggs.map(_.map(_.cpuNs).sum / 1e9)),
      "eval.task_skew" -> median(rankAggs.map { as =>
        val scan = as.maxBy(_.tasks).durationsMs.map(_.toDouble).toSeq
        val mid = median(scan)
        if (mid > 0) scan.max / mid else 1.0
      }),
      "eval.shuffle_write_bytes" -> mean(rankAggs.map(_.map(_.shuffleWriteBytes).sum.toDouble)),
      "eval.broadcast_bytes" ->
        mean(rankSpans.map(s => r.broadcastBytesIn(s.startUs, s.endUs).toDouble)),
      "eval.candidates" -> candidates)
  }
}
