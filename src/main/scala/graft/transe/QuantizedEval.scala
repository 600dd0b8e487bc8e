package graft.transe

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** DuckDB-replayable link-prediction ranks over a QUANTIZED checkpoint —
  * the bridge that puts the reference's eval protocol (`test.py:28-71`)
  * under a full hash oracle (VERDICT r8 #2).
  *
  * Training is genuinely un-replayable in SQL (partition-parallel float
  * SGD), but the RANKING over a checkpointed matrix is pure arithmetic.
  * The float spelling still isn't hashable — summation order moves ULPs —
  * so this surface fixes the domain: matrices are quantized entrywise to
  * `floor(x * 2^20)` Longs (the integer discipline the ANN family already
  * uses, `operators/IvfAnn.scala`), distances become exact int64 sums
  * (|q| ≤ ~2^21 after training's unit-norm discipline, so a k=32 L2²
  * sum stays ≤ ~2^47 — no overflow anywhere near int64), and the
  * strict-less rank counts are then bit-replayable by ANY engine.
  * DuckDB replays them from the staged parquet checkpoint with list
  * arithmetic; the driver hash-compares per-triple ranks.
  *
  * The quantized ranks are NOT a new metric: TransESpec gates that they
  * agree with the float eval ([[LinkPrediction.rankTriples]]) — rank
  * flips need two candidates within 2^-20 of each other, so MeanRank
  * moves by well under 1% on the gated KGs.
  *
  * Execution is the at-scale shape of [[LinkPrediction.rankTriplesPartitioned]]:
  * the quantized entity matrix stays a DISTRIBUTED (id, vec) table read
  * back from the checkpoint (never re-collected), the sampled test set
  * broadcasts with precomputed invariants, one treeAggregate merges the
  * 2·|test| counters. No shuffle of the matrix, no cartesian.
  */
object QuantizedEval {

  /** 2^20: fine enough that rank flips vs the float eval need two
    * candidates within a micro-unit of each other, coarse enough that a
    * k=50 L2² sum of ±2-ish values stays exactly representable. */
  val Shift = 20
  val SampleN = 64

  def quantize(m: Array[Array[Float]]): Array[Array[Long]] =
    m.map(_.map(x => math.floor(x.toDouble * (1L << Shift)).toLong))

  /** The staging dir of the most recent run in this JVM — Verify dumps
    * oracle SQL AFTER running the queries, so by then this points at the
    * checkpoint the registered query actually ranked. Fallback: the
    * driver's correctness SF. */
  @volatile private var lastDir: Option[String] = None
  @volatile private var lastDim: Int = 32
  @volatile private var lastL1: Boolean = false

  /** Write quantized (entity, label) matrices and the test sample as
    * parquet under an EXPLICIT dir — the staging core shared by the
    * registered eval family (via [[stage]]) and the continual-trainer
    * eval (VERDICT r12 #4), which stages into the continual stream's own
    * committed base. */
  private[graft] def stageAt(spark: SparkSession, dir: String,
      entQ: Array[Array[Long]], labQ: Array[Array[Long]],
      sample: Array[Triple]): Unit = {
    import spark.implicits._
    spark.sparkContext
      .parallelize(entQ.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toIndexedSeq)
      .toDF("id", "vec").write.mode("overwrite").parquet(s"$dir/entity")
    spark.sparkContext
      .parallelize(labQ.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toIndexedSeq)
      .toDF("id", "vec").coalesce(1).write.mode("overwrite").parquet(s"$dir/label")
    sample.toSeq.toDF("h", "l", "t")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/test")
  }

  /** Quantize + stage the checkpoint and the deterministic test sample;
    * returns (stagingDir, sample, labQ, entity DF read BACK from the
    * staged parquet — proving the matrix DuckDB sees is the matrix the
    * ranks came from). */
  private def stage(spark: SparkSession, model: TransEModel,
      test: Dataset[Triple]): (String, Array[Triple], Array[Array[Long]],
      org.apache.spark.sql.DataFrame) = {
    val sample: Array[Triple] =
      test.orderBy("h", "l", "t").limit(SampleN).collect()
    val (entQ, labQ) = (quantize(model.entity), quantize(model.label))
    // keyed by the checkpoint's content: a model from another fit or
    // code version is another asset, so stale matrices never reach the
    // oracle, and the dir outlives the run for the driver's DuckDB compare
    def rows(m: Array[Array[Long]]) = m.map(java.util.Arrays.hashCode).mkString(",")
    val dir = graft.Assets.staged("evalq", Nil,
        s"${rows(entQ)}|${rows(labQ)}|${sample.mkString(",")}") { d =>
      stageAt(spark, d.toString, entQ, labQ, sample)
    }.toString
    lastDir = Some(dir)
    lastDim = model.params.dim
    lastL1 = model.params.distance == L1
    (dir, sample, labQ, spark.read.parquet(s"$dir/entity"))
  }

  private[graft] def toRankDf(spark: SparkSession,
      ranks: Seq[(Triple, Long, Long)]): DataFrame = {
    import spark.implicits._
    ranks.map { case (tr, rh, rt) => (tr.h.toLong, tr.l.toLong, tr.t.toLong, rh, rt) }
      .sortBy { case (h, l, t, _, _) => (h, l, t) }
      .toDF("h", "l", "t", "rank_head", "rank_tail")
  }

  /** Rank the sampled test triples over the quantized checkpoint.
    * Output: one row per sampled triple, (h, l, t, rank_head, rank_tail)
    * all BIGINT, ordered by (h, l, t) — a per-triple surface hashes much
    * harder than one summary row. */
  def run(spark: SparkSession, model: TransEModel,
      test: Dataset[Triple]): DataFrame = {
    val (_, sample, labQ, entities) = stage(spark, model, test)
    toRankDf(spark,
      rankQuantized(entities, labQ, sample, l1 = model.params.distance == L1))
  }

  /** FILTERED-protocol quantized ranks (Bordes "filt." over the quantized
    * checkpoint): known-true competitors are excluded from each count.
    * Same correction discipline as [[LinkPrediction.rankTriplesFiltered]]
    * — the raw distributed scan stays untouched and the handful of known
    * competitors per triple are re-scored exactly and subtracted — except
    * every distance is exact int64, so DuckDB replays the whole protocol
    * (raw count minus an anti-join against the relationally re-derived
    * encoded KG) to the bit. */
  def runFiltered(spark: SparkSession, model: TransEModel,
      test: Dataset[Triple], known: Dataset[Triple]): DataFrame = {
    import spark.implicits._
    val (_, sample, labQ, entities) = stage(spark, model, test)
    val l1 = model.params.distance == L1
    val raw = rankQuantized(entities, labQ, sample, l1)

    // per sampled triple: known heads sharing (l, t), known tails sharing
    // (h, l) — broadcast the 64-row sample against the KG, collect the
    // test-sized lists
    val sampleDf = sample.toSeq.toDF("h", "l", "t")
    val knownDf = known.toDF().select(
      col("h").as("kh"), col("l").as("kl"), col("t").as("kt"))
    val headF: Map[(Int, Int, Int), Seq[Int]] = knownDf
      .join(broadcast(sampleDf), col("kl") === col("l") && col("kt") === col("t"))
      .groupBy("h", "l", "t").agg(collect_set(col("kh")).as("f"))
      .as[(Int, Int, Int, Seq[Int])].collect()
      .map { case (h, l, t, f) => (h, l, t) -> f }.toMap
    val tailF: Map[(Int, Int, Int), Seq[Int]] = knownDf
      .join(broadcast(sampleDf), col("kh") === col("h") && col("kl") === col("l"))
      .groupBy("h", "l", "t").agg(collect_set(col("kt")).as("f"))
      .as[(Int, Int, Int, Seq[Int])].collect()
      .map { case (h, l, t, f) => (h, l, t) -> f }.toMap

    // competitor + true-h/t vectors, fetched by id (bounded by the lists)
    val needed = (sample.flatMap(tr => Seq(tr.h, tr.t)) ++
      headF.values.flatten ++ tailF.values.flatten).distinct.map(_.toLong)
    val vecs: Map[Long, Array[Long]] = entities
      .join(broadcast(needed.toSeq.toDF("id")), "id")
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Long])].collect().toMap

    def term(d: Long): Long = if (l1) math.abs(d) else d * d
    val corrected = raw.map { case (tr, rh, rt) =>
      val l = labQ(tr.l)
      val h = vecs(tr.h.toLong)
      val t = vecs(tr.t.toLong)
      val k = l.length
      var dTrue = 0L
      var i = 0
      while (i < k) { dTrue += term(h(i) + l(i) - t(i)); i += 1 }
      def d(e: Array[Long], head: Boolean): Long = {
        var s = 0L; var i = 0
        while (i < k) {
          s += (if (head) term(e(i) + l(i) - t(i)) else term(h(i) + l(i) - e(i)))
          i += 1
        }
        s
      }
      val key = (tr.h, tr.l, tr.t)
      val subH = headF.getOrElse(key, Nil)
        .count(e => d(vecs(e.toLong), head = true) < dTrue)
      val subT = tailF.getOrElse(key, Nil)
        .count(e => d(vecs(e.toLong), head = false) < dTrue)
      (tr, rh - subH, rt - subT)
    }
    toRankDf(spark, corrected)
  }

  /** LINK-PREDICTION SERVING over the quantized checkpoint: for the
    * first `nQueries` distinct (h, l) pairs of the staged test sample
    * (sorted — the deterministic query workload), the top-`k` tail
    * SUGGESTIONS under the exact int64 distance, EXCLUDING every tail
    * already known for that (h, l) in `known` (the filtered protocol
    * turned into a recommender: suggestions are NOVEL candidate links,
    * which is the actual product surface of a trained KG embedding —
    * `README.md:13-15`'s h + l ≈ t used generatively instead of for
    * ranking a held-out answer).
    *
    * Execution is the eval family's fused scan, not a join: entities
    * stream once per partition against the broadcast query block
    * (nQueries query vectors + their known-tail exclusion sets), each
    * partition keeps a bounded per-query top-k, and only
    * nQueries x k x partitions candidate rows leave the scan — the
    * final exact top-k is a window over that tiny table. Integer
    * distances + (dist, id) total order make the cut deterministic, so
    * DuckDB replays it hash-exactly from the staged checkpoint. */
  def suggest(spark: SparkSession, model: TransEModel,
      test: Dataset[Triple], known: Dataset[Triple],
      nQueries: Int = 10, k: Int = 5): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val (_, sample, labQ, entities) = stage(spark, model, test)
    val l1 = model.params.distance == L1

    val pairs: Seq[(Int, Int)] =
      sample.map(tr => (tr.h, tr.l)).distinct.sorted.take(nQueries).toSeq
    // h vectors for the query block (bounded: nQueries ids)
    val hIds = pairs.map(_._1.toLong).distinct
    val hv: Map[Long, Array[Long]] = entities
      .join(broadcast(hIds.toDF("id")), "id")
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Long])].collect().toMap
    // per-query known-tail exclusion sets (bounded by (h, l) fanout)
    val pairsDf = pairs.toDF("h", "l")
    val knownTails: Map[(Int, Int), Set[Int]] = known.toDF()
      .join(broadcast(pairsDf), Seq("h", "l"))
      .groupBy("h", "l").agg(collect_set(col("t")).as("ts"))
      .as[(Int, Int, Seq[Int])].collect()
      .map { case (h, l, ts) => (h, l) -> ts.toSet }.toMap
    // query block: (h, l, qv = h + l, exclusion set)
    val queries: Array[(Int, Int, Array[Long], Set[Int])] = pairs.map {
      case (h, l) =>
        val q = hv(h.toLong).clone()
        val lv = labQ(l)
        var i = 0
        while (i < q.length) { q(i) += lv(i); i += 1 }
        (h, l, q, knownTails.getOrElse((h, l), Set.empty))
    }.toArray
    val bc = spark.sparkContext.broadcast(queries)

    // fused scan: per partition, per query, a bounded insertion top-k
    val partial = entities.select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = bc.value
        val nq = qs.length
        val heapD = Array.fill(nq)(Array.fill(k)(Long.MaxValue))
        val heapT = Array.fill(nq)(Array.fill(k)(Long.MaxValue))
        it.foreach { case (id, vec) =>
          var qi = 0
          while (qi < nq) {
            val (_, _, qv, excl) = qs(qi)
            if (!excl.contains(id.toInt)) {
              var d = 0L
              var i = 0
              while (i < qv.length) {
                val x = qv(i) - vec(i)
                d += (if (l1) math.abs(x) else x * x)
                i += 1
              }
              // bounded insertion under the (dist, id) total order
              val ds = heapD(qi); val ts = heapT(qi)
              if (d < ds(k - 1) || (d == ds(k - 1) && id < ts(k - 1))) {
                var p = k - 1
                while (p > 0 && (d < ds(p - 1) ||
                    (d == ds(p - 1) && id < ts(p - 1)))) {
                  ds(p) = ds(p - 1); ts(p) = ts(p - 1); p -= 1
                }
                ds(p) = d; ts(p) = id
              }
            }
            qi += 1
          }
        }
        (0 until nq).iterator.flatMap { qi =>
          val (h, l, _, _) = qs(qi)
          (0 until k).iterator
            .filter(i => heapT(qi)(i) != Long.MaxValue)
            .map(i => (h.toLong, l.toLong, heapT(qi)(i), heapD(qi)(i)))
        }
      }
      .toDF("h", "l", "t_suggest", "dist")
    // exact global top-k over the nQueries x k x partitions candidates
    partial
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("h", "l")
          .orderBy(col("dist"), col("t_suggest"))))
      .filter(col("rank") <= k)
      .select(col("h"), col("l"), col("rank").cast("long").as("rank"),
        col("t_suggest"), col("dist"))
      .orderBy("h", "l", "rank")
  }

  /** DuckDB replay of [[suggest]]: the staged checkpoint scored by the
    * brute-force spelling (cross join + anti join + window) — the
    * readable semantic contract for the fused scan. None until a
    * quantized query ran in this JVM (see [[oracleSqlOpt]]). */
  def oracleSqlSuggestOpt(kgSql: String, nQueries: Int = 10,
      k: Int = 5): Option[String] = lastDir.map { dir =>
    val rng = s"range(1, ${lastDim + 1})"
    def sq(e: String) = if (lastL1) s"abs($e)" else s"($e) * ($e)"
    s"""WITH ent AS (SELECT id, vec FROM '$dir/entity/*.parquet'),
       |lab AS (SELECT id, vec FROM '$dir/label/*.parquet'),
       |test AS (SELECT h, l, t FROM '$dir/test/*.parquet'),
       |kg AS (SELECT * FROM ($kgSql)),
       |qp AS (SELECT DISTINCT h, l FROM test ORDER BY h, l LIMIT $nQueries),
       |q AS (
       |  SELECT qp.h, qp.l,
       |    list_transform($rng, i -> eh.vec[i] + lv.vec[i]) AS qv
       |  FROM qp JOIN ent eh ON qp.h = eh.id JOIN lab lv ON qp.l = lv.id
       |), scored AS (
       |  SELECT q.h, q.l, e.id AS t_suggest,
       |    list_sum(list_transform($rng, i -> ${sq("q.qv[i] - e.vec[i]")})) AS dist
       |  FROM q CROSS JOIN ent e
       |  ANTI JOIN kg ON kg.h = q.h AND kg.l = q.l AND kg.t = e.id
       |), ranked AS (
       |  SELECT h, l, t_suggest, dist,
       |    ROW_NUMBER() OVER (PARTITION BY h, l
       |      ORDER BY dist, t_suggest) AS rank
       |  FROM scored
       |)
       |SELECT CAST(h AS BIGINT) AS h, CAST(l AS BIGINT) AS l,
       |  CAST(rank AS BIGINT) AS rank,
       |  CAST(t_suggest AS BIGINT) AS t_suggest, CAST(dist AS BIGINT) AS dist
       |FROM ranked WHERE rank <= $k ORDER BY h, l, rank""".stripMargin
  }

  /** Strict-less rank counts in exact Long arithmetic over a distributed
    * (id, vec BIGINT[]) matrix — [[LinkPrediction.rankTriplesPartitioned]]
    * with the float kernel swapped for int64. Early exit stays exact:
    * every term is >= 0 so partial sums are monotone. */
  def rankQuantized(entities: DataFrame, labQ: Array[Array[Long]],
      triples: Array[Triple], l1: Boolean): Seq[(Triple, Long, Long)] = {
    val spark = entities.sparkSession
    import spark.implicits._
    require(triples.nonEmpty, "empty test sample")
    val m = triples.length

    val neededDf = triples.flatMap(tr => Seq(tr.h.toLong, tr.t.toLong))
      .distinct.toSeq.toDF("id")
    val fetched: Map[Long, Array[Long]] = entities
      .join(broadcast(neededDf), "id")
      .select(col("id").cast("long"), col("vec"))
      .as[(Long, Array[Long])].collect().toMap

    // invariants per triple: u = l - t (head scan: d(e + u)), v = h + l
    // (tail scan: d(v - e)); the true distance d(h + l - t) is shared by
    // both directions
    val us = new Array[Array[Long]](m)
    val vs = new Array[Array[Long]](m)
    val dTrue = new Array[Long](m)
    var j = 0
    while (j < m) {
      val tr = triples(j)
      val l = labQ(tr.l)
      val h = fetched(tr.h.toLong)
      val t = fetched(tr.t.toLong)
      val k = l.length
      val u = new Array[Long](k)
      val v = new Array[Long](k)
      var s = 0L
      var i = 0
      while (i < k) {
        u(i) = l(i) - t(i)
        v(i) = h(i) + l(i)
        val d = h(i) + l(i) - t(i)
        s += (if (l1) math.abs(d) else d * d)
        i += 1
      }
      us(j) = u; vs(j) = v; dTrue(j) = s
      j += 1
    }
    val bc = spark.sparkContext.broadcast((us, vs, dTrue))

    val (lessH, lessT) = entities.select(col("vec"))
      .as[Array[Long]].rdd
      .treeAggregate((new Array[Long](m), new Array[Long](m)))(
        seqOp = { case ((lh, lt), e) =>
          val (bu, bv, bd) = bc.value
          var p = 0
          while (p < m) {
            val uu = bu(p); val vv = bv(p); val th = bd(p)
            val kk = uu.length
            var sH = 0L; var sT = 0L
            var i = 0
            if (l1) {
              while (i < kk && (sH < th || sT < th)) {
                val x = e(i)
                sH += math.abs(x + uu(i))
                sT += math.abs(vv(i) - x)
                i += 1
              }
            } else {
              while (i < kk && (sH < th || sT < th)) {
                val x = e(i)
                val a = x + uu(i); sH += a * a
                val b = vv(i) - x; sT += b * b
                i += 1
              }
            }
            if (sH < th) lh(p) += 1
            if (sT < th) lt(p) += 1
            p += 1
          }
          (lh, lt)
        },
        combOp = { case ((a1, a2), (b1, b2)) =>
          var p = 0
          while (p < m) { a1(p) += b1(p); a2(p) += b2(p); p += 1 }
          (a1, a2)
        })
    bc.destroy()
    (0 until m).map(p => (triples(p), lessH(p) + 1, lessT(p) + 1))
  }

  /** The DuckDB replay: identical integer strict-less counts from the
    * staged checkpoint. `vec[i]` is 1-based list indexing; the lambda
    * sums are exact (BIGINT in, int128 accumulation in DuckDB — compared
    * against values that fit in int64 anyway).
    *
    * None until a quantized query has run IN THIS JVM: the SQL embeds the
    * staging dir of the checkpoint the query actually ranked, so a
    * filtered Verify run that skipped the quantized queries must OMIT
    * these oracles rather than point DuckDB at a stale or nonexistent
    * checkpoint from some earlier run (ADVICE r9 #3). */
  def oracleSqlOpt: Option[String] = lastDir.map(oracleSqlAt)

  private def oracleSqlAt(dir: String): String =
    oracleSqlFor(dir, lastDim, lastL1)

  /** The raw-rank replay for an EXPLICIT (dir, dim, distance) — usable
    * by any caller that staged a quantized checkpoint via [[stageAt]]
    * without going through the registered eval family's volatiles. */
  private[graft] def oracleSqlFor(dir: String, dim: Int, l1: Boolean): String = {
    val k = dim
    val rng = s"range(1, ${k + 1})"
    def sq(e: String) = if (l1) s"abs($e)" else s"($e) * ($e)"
    s"""WITH ent AS (SELECT id, vec FROM '$dir/entity/*.parquet'),
       |lab AS (SELECT id, vec FROM '$dir/label/*.parquet'),
       |test AS (SELECT h, l, t FROM '$dir/test/*.parquet'),
       |q AS (
       |  SELECT test.h, test.l, test.t,
       |    list_transform($rng, i -> lv.vec[i] - et.vec[i]) AS uv,
       |    list_transform($rng, i -> eh.vec[i] + lv.vec[i]) AS qv,
       |    list_sum(list_transform($rng,
       |      i -> ${sq("eh.vec[i] + lv.vec[i] - et.vec[i]")})) AS dtrue
       |  FROM test
       |  JOIN ent eh ON test.h = eh.id
       |  JOIN lab lv ON test.l = lv.id
       |  JOIN ent et ON test.t = et.id),
       |counted AS (
       |  SELECT q.h, q.l, q.t,
       |    SUM(CASE WHEN list_sum(list_transform($rng,
       |          i -> ${sq("e.vec[i] + q.uv[i]")})) < q.dtrue
       |        THEN 1 ELSE 0 END) AS less_head,
       |    SUM(CASE WHEN list_sum(list_transform($rng,
       |          i -> ${sq("q.qv[i] - e.vec[i]")})) < q.dtrue
       |        THEN 1 ELSE 0 END) AS less_tail
       |  FROM q CROSS JOIN ent e
       |  GROUP BY q.h, q.l, q.t)
       |SELECT CAST(h AS BIGINT) AS h, CAST(l AS BIGINT) AS l,
       |  CAST(t AS BIGINT) AS t,
       |  CAST(1 + less_head AS BIGINT) AS rank_head,
       |  CAST(1 + less_tail AS BIGINT) AS rank_tail
       |FROM counted ORDER BY h, l, t""".stripMargin
  }

  /** The filtered-protocol replay: identical to [[oracleSql]] plus an
    * anti-join against the relationally re-derived encoded KG (`kgSql`,
    * the same spelling the hash-exact kg_encode oracle uses — so the ids
    * provably match the staged matrix's). A candidate only counts when
    * it scores strictly less AND its triple is not a known true one.
    * None until a quantized query ran in this JVM — see [[oracleSqlOpt]]. */
  def oracleSqlFilteredOpt(kgSql: String): Option[String] =
    lastDir.map(oracleSqlFilteredAt(_, kgSql))

  private def oracleSqlFilteredAt(dir: String, kgSql: String): String = {
    val k = lastDim
    val rng = s"range(1, ${k + 1})"
    def sq(e: String) = if (lastL1) s"abs($e)" else s"($e) * ($e)"
    s"""WITH ent AS (SELECT id, vec FROM '$dir/entity/*.parquet'),
       |lab AS (SELECT id, vec FROM '$dir/label/*.parquet'),
       |test AS (SELECT h, l, t FROM '$dir/test/*.parquet'),
       |kg AS (SELECT * FROM ($kgSql)),
       |q AS (
       |  SELECT test.h, test.l, test.t,
       |    list_transform($rng, i -> lv.vec[i] - et.vec[i]) AS uv,
       |    list_transform($rng, i -> eh.vec[i] + lv.vec[i]) AS qv,
       |    list_sum(list_transform($rng,
       |      i -> ${sq("eh.vec[i] + lv.vec[i] - et.vec[i]")})) AS dtrue
       |  FROM test
       |  JOIN ent eh ON test.h = eh.id
       |  JOIN lab lv ON test.l = lv.id
       |  JOIN ent et ON test.t = et.id),
       |counted AS (
       |  SELECT q.h, q.l, q.t,
       |    SUM(CASE WHEN list_sum(list_transform($rng,
       |          i -> ${sq("e.vec[i] + q.uv[i]")})) < q.dtrue
       |        AND NOT EXISTS (SELECT 1 FROM kg
       |          WHERE kg.h = e.id AND kg.l = q.l AND kg.t = q.t)
       |        THEN 1 ELSE 0 END) AS less_head,
       |    SUM(CASE WHEN list_sum(list_transform($rng,
       |          i -> ${sq("q.qv[i] - e.vec[i]")})) < q.dtrue
       |        AND NOT EXISTS (SELECT 1 FROM kg
       |          WHERE kg.h = q.h AND kg.l = q.l AND kg.t = e.id)
       |        THEN 1 ELSE 0 END) AS less_tail
       |  FROM q CROSS JOIN ent e
       |  GROUP BY q.h, q.l, q.t)
       |SELECT CAST(h AS BIGINT) AS h, CAST(l AS BIGINT) AS l,
       |  CAST(t AS BIGINT) AS t,
       |  CAST(1 + less_head AS BIGINT) AS rank_head,
       |  CAST(1 + less_tail AS BIGINT) AS rank_tail
       |FROM counted ORDER BY h, l, t""".stripMargin
  }
}
