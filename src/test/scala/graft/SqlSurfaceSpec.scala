package graft

import graft.functions.VectorFunctions

/** The SQL surface: registered native functions + temp views make the
  * engine usable from pure SQL, not just the Scala API. */
class SqlSurfaceSpec extends SparkSpec {

  test("GraftExtensions installs vector SQL functions on a fresh session") {
    import org.apache.spark.sql.SparkSession
    // build a NEW SparkSession (same context) with the extensions applied
    // at construction — the spark.sql.extensions deployment route
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[8]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val v = s2.sql(
        """SELECT vector_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                     array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c""".stripMargin)
        .head().getDouble(0)
      assert(math.abs(v - 1.0) < 1e-12)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("vector functions are callable from spark.sql") {
    VectorFunctions.ensureRegistered(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("embeddings_v")
    val rows = spark.sql(
      """SELECT a.vec_id AS va, b.vec_id AS vb,
        |  vector_cosine(a.embedding, b.embedding) AS cos,
        |  vector_dot(a.embedding, b.embedding) AS dot,
        |  vector_l1(a.embedding, b.embedding) AS l1,
        |  vector_l2sq(a.embedding, b.embedding) AS l2
        |FROM embeddings_v a JOIN embeddings_v b
        |  ON a.vec_id = 0 AND b.vec_id IN (0, 1)
        |ORDER BY vb""".stripMargin).collect()
    assert(rows.length == 2)
    val self = rows.head
    assert(math.abs(self.getAs[Double]("cos") - 1.0) < 1e-9)
    assert(self.getAs[Double]("l1") == 0.0 && self.getAs[Double]("l2") == 0.0)
    val other = rows(1)
    assert(other.getAs[Double]("cos") < 1.0 && other.getAs[Double]("l2") > 0.0)
  }

  test("ensureRegistered keeps present functions and fills in missing ones") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def registered = VectorFunctions.builders.map { case (name, _) =>
      val id = FunctionIdentifier(name)
      (name, registry.lookupFunction(id), registry.lookupFunctionBuilder(id))
    }
    VectorFunctions.ensureRegistered(spark)
    val first = registered
    VectorFunctions.ensureRegistered(spark)
    first.zip(registered).foreach { case ((name, info1, b1), (_, info2, b2)) =>
      assert(info1.isDefined && b1.isDefined, s"$name does not resolve")
      assert(info1.get eq info2.get, s"$name was registered again")
      assert(b1.get eq b2.get, s"$name builder changed")
    }
    // a session whose registry lacks a name gets it back
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("vector_dot"))
    VectorFunctions.ensureRegistered(bare)
    assert(bare.sql("SELECT vector_dot(array(CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT)))").head().getDouble(0) == 6.0)
  }

  test("vector function rejects wrong argument types with a clear error") {
    VectorFunctions.ensureRegistered(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("documents_v")
    val e = intercept[Exception] {
      spark.sql("SELECT vector_cosine(text, text) FROM documents_v").collect()
    }
    assert(e.getMessage.contains("ARRAY<FLOAT>"),
      s"error should name the expected type: ${e.getMessage}")
  }

  test("topk_pairs aggregate is callable from spark.sql") {
    VectorFunctions.ensureRegistered(spark)
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    val rows = spark.sql(
      """SELECT o_orderstatus, topk_pairs(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |    o_orderkey, 2) AS top
        |FROM orders_v GROUP BY o_orderstatus""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top = r.getSeq[org.apache.spark.sql.Row](1)
      assert(top.length <= 2)
      // strictly ordered (ord desc, id asc), so no duplicate entries
      top.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a.getLong(0) > b.getLong(0) ||
            (a.getLong(0) == b.getLong(0) && a.getLong(1) < b.getLong(1)))
        case _ =>
      }
    }
  }

  test("topk_pairs: bad arity and non-constant k fail with arity errors, foldable k works") {
    VectorFunctions.ensureRegistered(spark)
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    // 2-argument call: a named arity error, not IndexOutOfBoundsException
    val e2 = intercept[Exception] {
      spark.sql("SELECT topk_pairs(o_orderkey, o_custkey) FROM orders_v").collect()
    }
    assert(e2.getMessage.contains("3 argument"), s"got: ${e2.getMessage}")
    // non-constant k (a column) is rejected by name
    val eCol = intercept[Exception] {
      spark.sql(
        """SELECT topk_pairs(o_orderkey, o_custkey, CAST(o_orderkey AS INT))
          |FROM orders_v""".stripMargin).collect()
    }
    assert(eCol.getMessage.contains("constant integer"), s"got: ${eCol.getMessage}")
    // foldable-but-non-literal k (1 + 1) resolves at plan time
    val rows = spark.sql(
      """SELECT o_orderstatus, topk_pairs(o_orderkey, o_custkey, 1 + 1) AS top
        |FROM orders_v GROUP BY o_orderstatus""".stripMargin).collect()
    assert(rows.nonEmpty && rows.forall(_.getSeq[org.apache.spark.sql.Row](1).length <= 2))
  }

  test("hdr_quantile: bucket math invariants over the full long range") {
    import graft.functions.HdrHist
    val rnd = new scala.util.Random(11)
    val samples = (0L to 70L) ++ Seq(Long.MaxValue, Long.MaxValue - 1) ++
      (1 to 2000).map(_ => math.abs(rnd.nextLong()) max 0L)
    samples.foreach { x =>
      val b = HdrHist.bucketOf(x)
      assert(b >= 0 && b < HdrHist.NBuckets, s"x=$x b=$b")
      val lb = HdrHist.lowerBound(b)
      assert(lb <= x, s"x=$x lb=$lb")
      // relative error bound: bucket width <= 2^-K of the lower bound
      if (x >= 16) assert(x - lb <= (lb >> HdrHist.K), s"x=$x lb=$lb")
      // monotone: the NEXT bucket's lower bound exceeds x
      if (b + 1 < HdrHist.NBuckets)
        assert(HdrHist.lowerBound(b + 1) > x, s"x=$x b=$b")
    }
    // negatives clamp to bucket 0
    assert(HdrHist.bucketOf(-5L) == 0)
  }

  test("hdr_quantile matches a driver-side exact-histogram replay; merge-safe") {
    VectorFunctions.ensureRegistered(spark)
    val docs = Tables.documents(spark, sf)
    // many partitions -> partial buffers MUST merge correctly
    val got = graft.operators.Sketches.hdrQuantileHist(docs.repartition(13))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val vals = docs.select("lang", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    import graft.functions.HdrHist
    vals.foreach { case (lang, xs) =>
      val bs = xs.map(HdrHist.bucketOf).sorted
      def q(p: Double) =
        HdrHist.lowerBound(bs(math.ceil(p * bs.length).toLong.toInt - 1))
      assert(got(lang) == ((xs.length.toLong, q(0.5), q(0.9), q(0.99))),
        s"$lang: got ${got(lang)}")
    }
  }

  test("hdr_quantile: arity and non-constant q fail by name; foldable q works") {
    VectorFunctions.ensureRegistered(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_v")
    val e1 = intercept[Exception] {
      spark.sql("SELECT hdr_quantile(n_chars) FROM docs_v").collect()
    }
    assert(e1.getMessage.contains("2 argument"), s"got: ${e1.getMessage}")
    val eCol = intercept[Exception] {
      spark.sql(
        "SELECT hdr_quantile(n_chars, CAST(n_chars AS DOUBLE)) FROM docs_v")
        .collect()
    }
    assert(eCol.getMessage.contains("constant numeric"), s"got: ${eCol.getMessage}")
    val rows = spark.sql(
      "SELECT hdr_quantile(CAST(n_chars AS BIGINT), 0.25 + 0.25) FROM docs_v")
      .collect()
    assert(rows.length == 1 && rows.head.getLong(0) > 0)
  }

  test("kmv_sketch matches a driver-side bottom-k replay; merge-safe") {
    VectorFunctions.ensureRegistered(spark)
    val events = graft.operators.Sketches.withUserDay(Tables.events(spark, sf))
    // many partitions -> partial TreeSet buffers MUST union-clip correctly
    val got = events.repartition(13).groupBy("event_type")
      .agg(org.apache.spark.sql.functions.call_function("kmv_sketch",
        org.apache.spark.sql.functions.col("user_day"),
        org.apache.spark.sql.functions.lit(graft.operators.Sketches.KmvK)).as("arr"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // independent replay: md5 hex chars [1,13] as a 52-bit long, distinct,
    // sorted ascending, first k — pins the hash LAYOUT, not just agreement
    val md = java.security.MessageDigest.getInstance("MD5")
    def h52(s: String): Long = {
      md.reset()
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16)
    }
    val exp = events.select("event_type", "user_day").collect()
      .map(r => r.getString(0) -> h52(r.getString(1)))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted.take(graft.operators.Sketches.KmvK))
      .toMap
    exp.foreach { case (t, e) =>
      assert(got(t).toSeq == e.toSeq, s"$t: sketch mismatch")
      // every retained hash fits 52 bits (what keeps the oracle's integer
      // estimator overflow-free)
      assert(e.forall(h => h >= 0 && h < graft.operators.Sketches.KmvSpace))
    }
  }

  test("kmv estimator: exact below k, within tolerance above k") {
    import spark.implicits._
    val k = graft.operators.Sketches.KmvK
    // group "small" has 50 distinct values (< k: exact), "big" has 8000
    val df = ((1 to 50).map(i => ("small", s"s$i")) ++
      (1 to 8000).map(i => ("big", s"b$i"))).toDF("event_type", "user_day")
    val got = graft.operators.Sketches.kmvDistinct(df)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("small") == ((50L, 50L)))
    val (est, exact) = got("big")
    assert(exact == 8000L)
    // k=256 -> RSE ~ 1/sqrt(k-2) ~ 6.3%; 4 sigma
    assert(math.abs(est - 8000L) < 8000 * 0.25, s"est $est vs 8000")
  }

  test("kmv intersect: disjoint groups estimate 0, identical groups estimate full") {
    import spark.implicits._
    val df = ((1 to 2000).map(i => ("a", s"x$i")) ++
      (1 to 2000).map(i => ("b", s"x$i")) ++        // b == a exactly
      (1 to 2000).map(i => ("c", s"y$i"))).toDF("event_type", "user_day")
    val got = graft.operators.Sketches.kmvIntersect(df)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // identical sets: clipped samples coincide -> estimate == exact == 2000
    // up to estimator scaling noise; exact yardstick must be exact
    assert(got(("a", "b"))._2 == 2000L)
    assert(math.abs(got(("a", "b"))._1 - 2000L) < 500, s"got ${got(("a", "b"))}")
    // disjoint sets: zero common hashes -> estimate exactly 0
    assert(got(("a", "c")) == ((0L, 0L)))
    assert(got(("b", "c")) == ((0L, 0L)))
  }

  test("kmv_sketch: arity and non-constant k fail by name; foldable k works") {
    VectorFunctions.ensureRegistered(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kmv_v")
    val e1 = intercept[Exception] {
      spark.sql("SELECT kmv_sketch(lang) FROM docs_kmv_v").collect()
    }
    assert(e1.getMessage.contains("2 argument"), s"got: ${e1.getMessage}")
    val eCol = intercept[Exception] {
      spark.sql("SELECT kmv_sketch(lang, n_chars) FROM docs_kmv_v").collect()
    }
    assert(eCol.getMessage.contains("constant integer"), s"got: ${eCol.getMessage}")
    val rows = spark.sql(
      "SELECT size(kmv_sketch(CAST(doc_id AS STRING), 2 + 6)) FROM docs_kmv_v")
      .collect()
    assert(rows.length == 1 && rows.head.getInt(0) == 8)
  }

  test("a constant argument whose plan-time eval fails names it and keeps the cause") {
    VectorFunctions.ensureRegistered(spark)
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    val ansi = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true") // so CAST('x' AS INT) throws
    try {
      Seq(
        "topk_pairs(o_orderkey, o_custkey, CAST('x' AS INT))" -> "(k) must be a constant integer",
        "hdr_quantile(o_orderkey, CAST('x' AS DOUBLE))" -> "(q) must be a constant numeric",
        "kmv_sketch(o_orderkey, CAST('x' AS INT))" -> "(k) must be a constant integer",
        "gram_lower(o_orderkey, CAST('x' AS INT))" -> "(d) must be a constant integer"
      ).foreach { case (call, says) =>
        val e = intercept[Exception](spark.sql(s"SELECT $call FROM orders_v").collect())
        val iae = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case x: IllegalArgumentException => x }
        assert(iae.exists(_.getMessage.contains(says)), s"$call: $e")
        assert(iae.exists(_.getCause != null), s"$call: no eval failure as the cause")
      }
    } finally ansi match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("Dedup.hash64Col equals the JVM md5Hash64 (incl. negative/high-bit values)") {
    // the engine-portable shingle key rests on conv(md5_hex16, 16, -10)
    // being the signed two's-complement read of the first 8 md5 bytes —
    // assert column, JVM, and sign behavior agree on a spread of strings
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val samples = (0 until 64).map(i => s"shingle sample $i") ++
      Seq("", " ", "unicode é中文", "a b c d e")
    val got = samples.toDF("s")
      .select(col("s"), graft.operators.Dedup.hash64Col(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    samples.foreach { s =>
      assert(got(s) == graft.operators.Dedup.md5Hash64(md, s),
        s"hash64Col vs md5Hash64 diverge on '$s'")
    }
    assert(got.values.exists(_ < 0L), "expected some high-bit (negative) hashes")
  }

  test("a full pipeline query is expressible in one SQL statement") {
    VectorFunctions.ensureRegistered(spark)
    Tables.embeddings(spark, sf).createOrReplaceTempView("embeddings_v")
    // near-dup pairs, pure SQL over the registered expression
    val n = spark.sql(
      """SELECT a.vec_id, b.vec_id
        |FROM embeddings_v a JOIN embeddings_v b ON a.vec_id < b.vec_id
        |WHERE vector_cosine(a.embedding, b.embedding) >= 0.45""".stripMargin)
      .count()
    val viaApi = graft.operators.SimilaritySearch
      .cosineNearDupExact(Tables.embeddings(spark, sf), 0.45).count()
    assert(n == viaApi)
  }
}
