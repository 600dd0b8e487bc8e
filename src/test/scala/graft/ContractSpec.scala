package graft

/** Driver-contract invariants: the queries/oracles registries stay
  * consistent. `Map ++` silently shadows duplicate keys, so a name
  * reused across query packs would drop an operator from the driver's
  * sweep without any compile-time signal — this spec is that signal. */
class ContractSpec extends SparkSpec with PerfProbing {

  test("query names are unique across all packs (no silent shadowing)") {
    val packs = Seq(
      queries.Relational.queries, queries.TransEQueries.queries,
      queries.PipelineQueries.queries, queries.StreamingQueries.queries,
      queries.GraphQueries.queries)
    val total = packs.map(_.size).sum
    assert(SparkEntry.queries.size == total,
      s"duplicate query names shadow each other: ${total - SparkEntry.queries.size} lost")
    val oraclePacks = Seq(
      queries.Relational.oracles, queries.TransEQueries.oracles,
      queries.PipelineQueries.oracles, queries.StreamingQueries.oracles,
      queries.GraphQueries.oracles)
    val totalOracles = oraclePacks.map(_.size).sum
    assert(SparkEntry.oracleSql.size == totalOracles,
      "duplicate oracle names shadow each other")
  }

  test("every oracle refers to a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("the rows-only set is exactly the five SGD training metrics") {
    // embed_pca_project's oracle is DYNAMIC (trained-literal SQL,
    // published once a model trains in this JVM) — train first so the
    // assertion sees the steady-state oracle surface. Same for the two
    // quantized-eval oracles and the continual-eval oracle, whose SQL
    // embeds the staging dir of the checkpoint the query just ranked
    // (None until that run happens).
    graft.operators.Pca.project(Tables.embeddings(spark, sf)).count()
    graft.queries.TransEQueries.transeEvalQuantized(spark, sf).count()
    graft.streaming.VocabStreams.streamingContinualEval(spark, sf).count()
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // r13: stream_continual_train's integer stage surface gained a full
    // relational oracle (hinge_loss projected away) — only the five
    // intrinsically-float SGD metrics remain rows-only
    assert(rowsOnly == Set("transe_eval", "transe_eval_partitioned",
      "transe_eval_filtered", "transe_fit", "transe_fit_partitioned"),
      s"unexpected rows-only queries: $rowsOnly")
  }

  // ------------------------- golden gates for the rows-only SGD queries
  // transe_fit/transe_eval can never hash-match a DuckDB oracle (DuckDB
  // cannot train TransE), so their correctness gate lives HERE: the
  // registry queries run with fixed seed 42 (TransEQueries.evalParams)
  // and the trainer's deterministic partition-order merge, so their
  // outputs are exactly reproducible — any drift in the loss curve or
  // eval metrics below means the training pipeline changed behavior.

  test("golden gate: transe_fit loss curve is the fixed-seed recording (sf0.001)") {
    val losses = queries.TransEQueries.transeFit(spark, sf)
      .orderBy("epoch").collect().map(_.getDouble(1))
    assert(losses.length == queries.TransEQueries.evalParams.epochs)
    // recorded from the seed-42 registry run; relative tolerance covers
    // float-sum association differences only, not behavior drift
    val golden = ContractSpec.goldenLossCurve
    assert(losses.length == golden.length,
      s"epoch count drifted: ${losses.length} vs ${golden.length}")
    losses.zip(golden).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
        s"loss[$i] drifted: got $a want $b\nfull curve: ${losses.mkString(", ")}")
    }
  }

  test("structural gate: an epoch adds jobs-constant, shuffle-free work") {
    // VERDICT r10 #4: transe_epoch_sec swung 1.05 -> 1.47 s (spread
    // 9.6 s) on an UNTOUCHED epoch path — pure host throttle — so the
    // baseline-comparable metric gets a SHAPE invariant beside the golden
    // loss curve: the broadcast trainer moves parameters by broadcast +
    // collect only, so each extra epoch must add a CONSTANT number of
    // jobs (one collect per batch) and ZERO shuffle (relayout/membership
    // shuffles happen once per fit, identical across runs and cancelled
    // by the delta). A lineage re-run or a sneaked-in repartition breaks
    // either immediately; epoch SECONDS are advisory (variance_prone).
    val (data, _, _, nEnt, nLab) = queries.TransEQueries.encodedKg(spark, sf)
    val p = queries.TransEQueries.evalParams
    def run(epochs: Int): (Int, Long, Long) = probeJobs {
      new transe.TransETrainer(p.copy(epochs = epochs)).fit(data, nEnt, nLab)
    }
    run(1) // warm source/encode caches out of the measurement
    val (j2, b2, r2) = run(2)
    val (j4, b4, r4) = run(4)
    val (j6, b6, r6) = run(6)
    info(s"epoch shape: jobs $j2/$j4/$j6, shuffleBytes $b2/$b4/$b6, " +
      s"shuffleRecords $r2/$r4/$r6")
    val dj1 = j4 - j2
    val dj2 = j6 - j4
    assert(dj1 == dj2, s"jobs per epoch drifted: +$dj1 then +$dj2 " +
      s"($j2/$j4/$j6) — an epoch is scheduling extra work")
    assert(dj1 == 2 * p.batches,
      s"expected ${p.batches} jobs (one collect per batch) per epoch, " +
        s"got ${dj1 / 2.0}")
    // extra epochs shuffle NOTHING: sampling filters the cached relayout,
    // deltas travel by collect, parameters by broadcast
    assert(r4 - r2 == 0 && r6 - r4 == 0,
      s"epochs shuffled records: $r2/$r4/$r6 — cached relayout lost")
    assert(b4 - b2 == 0 && b6 - b4 == 0,
      s"epochs read shuffle bytes: $b2/$b4/$b6 — lineage re-run on the " +
        "epoch path")
  }

  test("structural gate: a fit's preparation shuffles arrays, not triples") {
    // everything a fit does before its first SGD job (layout, membership,
    // their broadcasts), measured as a zero-epoch fit: the layout shuffle
    // moves one key array per (input partition, layout partition) pair,
    // never one record per triple
    val (data, _, _, nEnt, nLab) = queries.TransEQueries.encodedKg(spark, sf)
    val nTriples = data.count()
    val inputParts = data.rdd.getNumPartitions
    val layoutParts = math.max(2, math.min(16, (nTriples / 200000L).toInt + 1))
    val p = queries.TransEQueries.evalParams.copy(epochs = 0)
    def prep(): (Int, Long, Long) = probeJobs {
      new transe.TransETrainer(p).fit(data, nEnt, nLab)
    }
    prep() // warm source/encode caches out of the measurement
    val (jobs, bytes, records) = prep()
    info(s"preparation: $jobs jobs, $records shuffle records, $bytes shuffle bytes " +
      s"($nTriples triples, $inputParts input x $layoutParts layout partitions)")
    assert(records <= inputParts.toLong * layoutParts,
      s"preparation shuffled $records records for $nTriples triples " +
        s"(bound $inputParts x $layoutParts)")
  }

  test("golden gate: transe_eval metrics match the fixed-seed recording (sf0.001)") {
    val row = queries.TransEQueries.transeEval(spark, sf).collect().head
    val got = (row.getDouble(0), row.getDouble(1), row.getDouble(2),
      row.getDouble(3), row.getLong(4))
    val (mr, mrh, mrt, hits, n) = ContractSpec.goldenEval
    assert(row.getLong(4) == n, s"rank count drifted: $got")
    Seq(row.getDouble(0) -> mr, row.getDouble(1) -> mrh,
      row.getDouble(2) -> mrt, row.getDouble(3) -> hits).foreach {
      case (a, b) => assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"eval metrics drifted: got $got")
    }
    // appended protocol columns (round 8): MRR + hits ladder. Properties,
    // not goldens — each is a mathematical consequence of rank validity:
    // AM-HM gives mrr >= 1/mean_rank; the ladder is monotone by
    // definition; all live in (0, 1].
    val (mrr, h1, h3) =
      (row.getAs[Double]("mrr"), row.getAs[Double]("hits_at_1"),
        row.getAs[Double]("hits_at_3"))
    assert(mrr > 0.0 && mrr <= 1.0, s"mrr out of range: $mrr")
    assert(mrr >= 1.0 / row.getDouble(0) - 1e-12, s"AM-HM violated: $mrr vs $mr")
    assert(h1 <= h3 + 1e-12 && h3 <= row.getDouble(3) + 1e-12,
      s"hits ladder not monotone: $h1 / $h3 / ${row.getDouble(3)}")
  }

  test("golden gate: filtered eval matches its recording and dominates raw") {
    val row = queries.TransEQueries.transeEvalFiltered(spark, sf).collect().head
    val (mr, mrh, mrt, hits, n) = ContractSpec.goldenEvalFiltered
    assert(row.getLong(4) == n, s"rank count drifted: $row")
    Seq(row.getDouble(0) -> mr, row.getDouble(1) -> mrh,
      row.getDouble(2) -> mrt, row.getDouble(3) -> hits).foreach {
      case (a, b) => assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"filtered eval drifted: $row")
    }
    // protocol invariant: excluding known-true competitors can only
    // IMPROVE ranks — filtered mean ranks <= raw, hits >= raw
    val (rmr, rmrh, rmrt, rhits, _) = ContractSpec.goldenEval
    assert(mr <= rmr && mrh <= rmrh && mrt <= rmrt && hits >= rhits)
  }

  test("golden gate: transe_fit_partitioned matches the SAME golden recording") {
    // the partitioned-parameter trainer is contractually BIT-equivalent to
    // the broadcast trainer (same layout, sampler, kernel, merge order) —
    // so its loss curve must match the broadcast golden, not its own
    val losses = queries.TransEQueries.transeFitPartitioned(spark, sf)
      .orderBy("epoch").collect().map(_.getDouble(1))
    val golden = ContractSpec.goldenLossCurve
    assert(losses.length == golden.length,
      s"epoch count drifted: ${losses.length} vs ${golden.length}")
    losses.zip(golden).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, // exact: same float ops in the same order
        s"partitioned loss[$i] != broadcast golden: got $a want $b\n" +
          s"full curve: ${losses.mkString(", ")}")
    }
  }

  test("golden gate: partitioned-trained model evals to the SAME golden metrics") {
    val fp = queries.TransEQueries.fittedPartitioned(spark, sf)
    val (_, test, _, _, _) = queries.TransEQueries.trainTestSplit(spark, sf)
    val row = transe.LinkPrediction.evaluate(test, fp.model, hitsK = 10).collect().head
    val (mr, mrh, mrt, hits, n) = ContractSpec.goldenEval
    assert(row.getLong(4) == n)
    assert(row.getDouble(0) == mr && row.getDouble(1) == mrh &&
      row.getDouble(2) == mrt && row.getDouble(3) == hits,
      s"partitioned-trained eval drifted from golden: $row")
  }

  test("golden gate: transe_eval_partitioned equals transe_eval exactly") {
    // same flops, same strict-less counts — the registry-level equality
    // the driver's rows-only check cannot see
    val a = queries.TransEQueries.transeEval(spark, sf).collect().head
    val b = queries.TransEQueries.transeEvalPartitioned(spark, sf).collect().head
    assert(a == b, s"broadcast vs partitioned eval diverged:\n  $a\n  $b")
  }

  test("golden gate: L1-distance training matches its fixed-seed recording (sf0.001)") {
    // the registry's evalParams train L2Squared, so the L1 kernels
    // (Kernels.distPair/gradientInto L1 branches) previously flowed
    // through NO golden gate (VERDICT r5 #6); this pins them with the
    // same contract
    val (train, test, _, nEnt, nLab) =
      queries.TransEQueries.trainTestSplit(spark, sf)
    val p = queries.TransEQueries.evalParams.copy(distance = transe.L1)
    val trainer = new transe.TransETrainer(p)
    val model = trainer.fit(train, nEnt, nLab)
    val losses = trainer.lossHistory
    val golden = ContractSpec.goldenLossCurveL1
    assert(losses.length == golden.length,
      s"epoch count drifted: ${losses.length} vs ${golden.length}")
    losses.zip(golden).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
        s"L1 loss[$i] drifted: got $a want $b\nfull curve: ${losses.mkString(", ")}")
    }
    val row = transe.LinkPrediction.evaluate(test, model, hitsK = 10).collect().head
    val (mr, mrh, mrt, hits, n) = ContractSpec.goldenEvalL1
    assert(row.getLong(4) == n, s"L1 rank count drifted: $row")
    Seq(row.getDouble(0) -> mr, row.getDouble(1) -> mrh,
      row.getDouble(2) -> mrt, row.getDouble(3) -> hits).foreach {
      case (a, b) => assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"L1 eval metrics drifted: $row")
    }
  }

  test("golden gate: fb15k-shape bench KG trains to its recorded loss curve") {
    // the bench's headline epoch-time KG (Fb15kShape, 272k triples at the
    // published FB15k-237 shape) previously trained UNGATED — wall-clock
    // triage could not tell "throttled" from "wrong" (VERDICT r5 #8).
    // 3 epochs here (the bench's transe_epoch_sec block), exact contract.
    val kg = transe.Fb15kShape.kg(spark).persist()
    kg.count()
    val trainer = new transe.TransETrainer(transe.Fb15kShape.params(epochs = 3))
    trainer.fit(kg, transe.Fb15kShape.nEntities, transe.Fb15kShape.nLabels)
    kg.unpersist()
    val losses = trainer.lossHistory
    val golden = ContractSpec.goldenFb15kShapeLoss
    assert(losses.length == golden.length)
    losses.zip(golden).zipWithIndex.foreach { case ((a, b), i) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
        s"fb15k-shape loss[$i] drifted: got $a want $b\n" +
          s"full curve: ${losses.mkString(", ")}")
    }
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The O(n^2) exact baselines are the ONLY queries allowed a
    * nested-loop/cartesian plan — each is a deliberately-registered
    * verification yardstick with a scale-safe twin (see VERDICT r1 §6 and
    * the operator scaladocs). text_length_quantiles and the two
    * source-mixing samplers use a BROADCAST nested loop against
    * constant-size tables (quantile levels / the 1-row source-total min) —
    * bounded by design, not corpus-shaped. */
  private val cartesianWhitelist = Set(
    "ann_near_dup", "mm_feature_near_dup",
    "dedup_hashvec", // exact all-pairs oracle carrier, cap-guarded like ann_near_dup
    "text_length_quantiles", "sample_mix_sources", "sample_mix_temperature",
    "text_tfidf_topterms", // 1-row n_docs total as a broadcast cross join
    "search_tfidf_topk",   // same 1-row n_docs pattern
    "report_key_skew",     // 1-row key-count total, same pattern
    "report_type_drift",   // 1-row slice totals, same pattern
    "events_wau",          // 1-row max-day bound, same pattern
    "profile_fk_orphans",  // per-check 1-row x 1-row count join
    "graph_pagerank",      // 1-row dangling-mass total per iteration, same pattern
    "clf_quality_vocab",   // 1-row (n_pos, n_neg) label totals, same pattern
    "clf_quality_score",   // inherits clf_quality_vocab's totals join
    "search_bm25_topk",    // 1-row (n_docs, sum_dl) corpus stat, same pattern
    "stream_search_bm25_maintained", // same 1-row stat (base + delta rollup)
    "stream_search_bm25_compacted",  // same 1-row stat from the folded asset
    "sample_dsir",         // 1-row (rtot, ttot) distribution totals, same pattern
    "sketch_kmv_intersect") // group-pair self-join of the SKETCH table
                            // (rows = distinct groups, each a <=2 KB
                            // array) on grp < grp — bounded by group
                            // cardinality, never event-scale

  test("every registered query runs at sf0.001; no unexpected cartesians") {
    val sfDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      val hasCart = plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct")
      assert(!hasCart || cartesianWhitelist.contains(name),
        s"$name has an unexpected cartesian/BNLJ plan:\n$plan")
      // decontaminate can legitimately flag nothing in a 150-doc corpus;
      // its content is still oracle-checked at sf0.01
      if (name != "decontaminate")
        assert(df.count() > 0, s"$name returned no rows at sf0.001")
    }
  }
}

/** Golden recordings for the rows-only SGD queries: seed-42
  * (TransEQueries.evalParams) runs on /root/testdata/sf0.001 under the
  * shared test session. Re-record ONLY after an intentional training
  * change, by reading the values the failing assertions print, and note
  * the cause here.
  *
  * Re-record history:
  *  - round 5: testdata regeneration by the driver (triples input changed;
  *    trainer semantics did not — see ADVICE r5 #5).
  *  - round 6: intentional determinism-stack change — layout hash moved
  *    from MurmurHash3.productHash to StableHash.tripleHash and batch
  *    sampling from RDD.sample to StableHash-seeded Bernoulli
  *    (VERDICT r5 #4); bit patterns now pinned by HashStabilitySpec, so
  *    these values survive Scala/Spark upgrades.
  */
object ContractSpec {
  val goldenLossCurve: Array[Double] = Array(
    6543.773305943603, 4570.797071817592, 3926.1331117304344,
    3471.620678975045, 3183.6214276674136, 2984.2781779084403,
    2814.0067252705485, 2706.7947021967666, 2582.7102667927006,
    2375.129409471118, 2310.5790995535376, 2218.907858870316,
    2191.815646385491, 2087.9983815957653, 2099.2864532209387,
    2083.5837774076776, 1982.2563119402987, 1875.9400615038433,
    1878.190845625316, 1856.6747612331415, 1845.8855543884265,
    1794.2017632037973, 1803.340001407158, 1693.5299621249396,
    1750.7958321389121, 1769.3136024921653, 1706.9108279433526,
    1652.1825094938736, 1690.0797911365648, 1655.7406688348374)

  /** (mean_rank, mean_rank_head, mean_rank_tail, hits_at_10, n_ranks) */
  val goldenEval: (Double, Double, Double, Double, Long) =
    (584.3314606741573, 1068.0337078651685, 100.62921348314607,
      0.016853932584269662, 178L)

  /** Filtered-protocol eval (Bordes "filt.") of the SAME registry model
    * — recorded round 6 via tools/RecordGoldens. Head ranks improve
    * (each customer places many orders, so known-true head competitors
    * exist); tail metrics EQUAL the raw golden because placed_by has
    * exactly one tail per (order, label) key — the KG's semantics, not
    * an accident. */
  val goldenEvalFiltered: (Double, Double, Double, Double, Long) =
    (580.0337078651685, 1059.438202247191, 100.62921348314607,
      0.016853932584269662, 178L)

  /** L1-distance twin of the curves above (evalParams.copy(distance = L1),
    * same seed/data): pins the L1 kernel branches. Recorded round 6 via
    * tools/RecordGoldens. The curve plateaus (L1 sign gradients at lr=0.05
    * are noisy on this KG — the registry picked L2Squared for quality by
    * sweep); the gate checks DETERMINISM of the L1 path, not convergence. */
  val goldenLossCurveL1: Array[Double] = Array(
    7257.423542014672, 5734.6906128943665, 5502.261550517753,
    5155.090769485454, 5059.3153907801025, 5102.219660274219,
    5141.801566479262, 4911.787711355835, 5076.759289951995,
    5144.314123506076, 5024.1854466488585, 4896.035223664716,
    5107.808375422144, 4923.296851594001, 5130.740626993589,
    5101.352055606432, 5012.652420619968, 5063.315440121805,
    4879.884149241494, 5015.274135686399, 5083.13601318514,
    4964.958372727735, 5003.4126013028435, 4843.597743789665,
    5090.576436538249, 4997.684299987741, 4814.029248125618,
    5038.861130353063, 4878.559087521397, 4802.997655116487)

  val goldenEvalL1: (Double, Double, Double, Double, Long) =
    (711.9382022471909, 1324.808988764045, 99.06741573033707,
      0.0449438202247191, 178L)

  /** 3-epoch loss of the fb15k-shape bench KG (Fb15kShape.params, seed 42,
    * L1) — recorded round 6 via tools/RecordGoldens. Decreasing, as a
    * training-health sanity on the bench's own workload. */
  val goldenFb15kShapeLoss: Array[Double] = Array(
    297393.86030180234, 276980.9863471462, 259976.29279400213)
}
