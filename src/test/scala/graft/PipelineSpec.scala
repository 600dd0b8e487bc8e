package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.PipelineQueries

class PipelineSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)
  private def embs = Tables.embeddings(spark, sf)

  test("every pipeline query runs and returns rows on sf0.001") {
    // decontaminate may legitimately find nothing on the 50-doc fixture
    // (no 8-gram overlap between the tiny eval slice and the rest)
    val mayBeEmpty = Set("decontaminate")
    PipelineQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("fuzzyPairs: finds crafted typos at the right distance, none beyond 2") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "the table has rows"),
      (2L, "the tabel has rows"),   // transposition typo: 2 substitutions in plain Levenshtein
      (3L, "the tble has rows"),    // deletion typo: tble~table d=1; tble~tabel d=3 (absent)
      (4L, "completely different wording")).toDF("doc_id", "text")
    val pairs = FuzzyVocab.fuzzyPairs(crafted).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs(("tabel", "table")) == 2L)
    assert(pairs(("table", "tble")) == 1L)
    assert(pairs.get(("tabel", "tble")).isEmpty)
    assert(pairs.get(("has", "rows")).isEmpty)
    assert(pairs.values.forall(d => d >= 1 && d <= 2))
  }

  test("fuzzyPairs: deletion-neighborhood candidates are COMPLETE vs brute force") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // seeded random vocab with engineered near-collisions
    val rnd = new scala.util.Random(7)
    val toks = (1 to 60).map(_ => (1 to (2 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString).distinct
    val crafted = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // exercise minLen = 2 explicitly: the short-token ''/1-char variant
    // buckets are what makes dist-2 candidates complete for 2-3 char
    // tokens, so completeness must hold even below the hot-key-avoiding
    // default of 4
    val got = FuzzyVocab.fuzzyPairs(crafted, minLen = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = (for {
      a <- toks; b <- toks if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("perGroupSample: exact-k per group, nested across k, stable across runs") {
    import spark.implicits._
    val crafted = (1L to 40L).map(i => (i, s"g${i % 3}")).toDF("doc_id", "source")
    val k10 = Sampling.perGroupSample(crafted, "source", k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exactly min(k, |group|) rows per group: groups have 14/13/13 members
    assert(k10.groupBy(_._1).view.mapValues(_.length).toMap ==
      Map("g0" -> 10, "g1" -> 10, "g2" -> 10))
    // rn is 1..k within each group
    k10.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 10L)) }
    // coordinated: the k=5 sample is a prefix of the k=10 sample
    val k5 = Sampling.perGroupSample(crafted, "source", k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(k5 == k10.filter(_._2 <= 5).toSet)
    // deterministic under re-execution and re-partitioning
    val again = Sampling.perGroupSample(crafted.repartition(7), "source", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == k10.toSet)
    // a small group yields all its members
    val tiny = Sampling.perGroupSample(crafted.filter($"doc_id" <= 4), "source", k = 10)
    assert(tiny.count() == 4)
  }

  test("trainCorpus: manifest accounts for every cleaned doc once; bins = ceil") {
    val pairs = PipelineQueries.queries("dedup_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b")
    val m = CorpusPipeline.trainCorpus(docs, pairs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the funnel's 3_dedup stage is exactly the cleaned-doc universe
    val dedupCount = CorpusPipeline.funnel(docs).collect()
      .find(_.getString(0) == "3_dedup").get.getLong(1)
    assert(m.values.map(_._1).sum == dedupCount,
      s"splits ${m.values.map(_._1).sum} != cleaned $dedupCount")
    // bin accounting is exact ceil at the 2048 budget
    m.values.foreach { case (_, toks, bins) =>
      assert(bins == (toks + 2047L) / 2048L)
    }
    assert(m.keySet == Set("train", "val", "test"))
    // train dominates under the 80/10/10 draw
    assert(m("train")._1 > m("val")._1 && m("train")._1 > m("test")._1)
  }

  test("winsorize: clip bounds hold; interior values untouched; tails clipped") {
    val out = Sketches.winsorizedPrices(Tables.orders(spark, sf)).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.foreach { case (cents, lo, hi, clipped) =>
      assert(lo <= hi)
      assert(clipped >= lo && clipped <= hi)
      if (cents >= lo && cents <= hi) assert(clipped == cents)
      if (cents < lo) assert(clipped == lo)
      if (cents > hi) assert(clipped == hi)
    }
    // the cutoffs actually bite somewhere (p99 of a spread distribution)
    assert(out.exists { case (c, _, hi, cl) => c > hi && cl == hi })
  }

  test("oovRate: hand corpus — rare tokens below minCount count as OOV occurrences") {
    import spark.implicits._
    // "common" appears 6x (in vocab at minCount=5); "rare" 2x (OOV);
    // slice B is pure common
    val crafted = Seq(
      (1L, "common common common rare", "web", "en"),
      (2L, "common common common rare", "web", "en"),
      (3L, "common common", "book", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val out = VocabBuild.oovRate(crafted, minCount = 5).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out(("web", "en")) == ((8L, 2L, 250000L)))   // 2 of 8 occurrences OOV
    assert(out(("book", "en")) == ((2L, 0L, 0L)))
  }

  test("groupedSplit: near-dup clusters never straddle splits; singletons match plain split") {
    import spark.implicits._
    val docsDf = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairsDf = Seq((1L, 2L), (2L, 3L), (10L, 11L), (50L, 60L))
      .toDF("doc_a", "doc_b")
    val split = DedupComponents.groupedSplit(docsDf, pairsDf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.size == 200)
    // every paired cluster lands on one side
    assert(split(1L) == split(2L) && split(2L) == split(3L))
    assert(split(10L) == split(11L))
    assert(split(50L) == split(60L))
    // unpaired docs draw exactly as the plain per-doc split would
    // (hashUnit replicated inline — it is private to the operators package)
    val u = conv(substring(md5(concat(lit("gsplit:"), $"doc_id".cast("string"))), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)
    val plain = docsDf.filter(!$"doc_id".isin(1L, 2L, 3L, 10L, 11L, 50L, 60L))
      .select($"doc_id",
        when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    plain.foreach { case (id, s) => assert(split(id) == s, s"doc $id diverged") }
    // all three splits are populated at n=200
    assert(split.values.toSet == Set("train", "val", "test"))
  }

  test("ewmaDaily: hand-built series — gap days weighted as zeros, spike flagged") {
    import spark.implicits._
    // user 1: 5 events on day d, silence (gap) on d+1..d+2, burst of 9 on d+3
    val d = 19740L
    val evs = ((1 to 5).map(i => (d * 86400L * 1000000L + i, 1L)) ++
        (1 to 9).map(i => ((d + 3) * 86400L * 1000000L + i, 1L)))
      .toDF("us", "user_id").select(timestamp_micros($"us").as("ts"), $"user_id")
    val out = EventAnalytics.ewmaDaily(evs).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // gap fill materialized the silent days
    assert(out.keySet == Set(d, d + 1, d + 2, d + 3))
    // hand baselines: past-only weights 2^12 (yesterday), 2^11, ...
    assert(out(d) == ((5L, 0L, 1L)))            // burst from silence: 5*8191 > 0 + 16382
    assert(out(d + 1) == ((0L, 5L * 4096L, 0L)))
    assert(out(d + 2) == ((0L, 5L * 2048L, 0L)))
    // day d+3: baseline 5*2^10; 9*8191 = 73719 > 2*5120 + 16382 = 26622 -> spike
    assert(out(d + 3) == ((9L, 5L * 1024L, 1L)))
    // a steady series never flags: constant 5/day for 20 days
    val steady = (0 until 20).flatMap(k =>
      (1 to 5).map(i => ((d + k) * 86400L * 1000000L + i, 2L)))
      .toDF("us", "user_id").select(timestamp_micros($"us").as("ts"), $"user_id")
    val flags = EventAnalytics.ewmaDaily(steady).collect().map(_.getLong(4))
    assert(flags.drop(1).forall(_ == 0L), "steady series must not spike after day 0")
  }

  test("pointInTimeFeatures: strictly-prior frames — the label row never sees itself") {
    import spark.implicits._
    val base = 19740L * 86400L * 1000000L
    // user 1: view@t1, view@t2, purchase@t3, purchase@t4; user 2: purchase only
    val evs = Seq(
      (10L, 1L, "view", base + 1000000L, 2.00),
      (11L, 1L, "view", base + 3000000L, 3.00),
      (12L, 1L, "purchase", base + 10000000L, 5.00),
      (13L, 1L, "purchase", base + 12000000L, 7.00),
      (20L, 2L, "purchase", base + 1000000L, 9.00))
      .toDF("event_id", "user_id", "event_type", "us", "value")
      .select($"event_id", $"user_id", $"event_type",
        timestamp_micros($"us").as("ts"), $"value")
    val out = EventAnalytics.pointInTimeFeatures(evs).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    // purchase 12: 2 prior events, both views, 200+300 cents, 7s after view 11
    assert(out(12L) == ((2L, 2L, 500L, 7L)))
    // purchase 13: 3 prior (incl. purchase 12), 2 views, 1000 cents, 2s gap
    assert(out(13L) == ((3L, 2L, 1000L, 2L)))
    // user 2's first-ever event: empty history, sentinel gap
    assert(out(20L) == ((0L, 0L, 0L, -1L)))
    assert(out.size == 3) // views are not label rows
  }

  test("activeUsers7d: sliding distinct equals brute force on a hand series") {
    import spark.implicits._
    def at(day: Long, u: Long, i: Int) = (day * 86400L * 1000000L + i, u)
    // user 1 active days 0,1,9; user 2 active days 1,8; user 3 active day 9
    val d0 = 19700L
    val evs = Seq(at(d0, 1L, 1), at(d0, 1L, 2), at(d0 + 1, 1L, 1), at(d0 + 9, 1L, 1),
        at(d0 + 1, 2L, 1), at(d0 + 8, 2L, 1), at(d0 + 9, 3L, 1))
      .toDF("us", "user_id").select(timestamp_micros($"us").as("ts"), $"user_id")
    val got = EventAnalytics.activeUsers7d(evs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val active = Map(1L -> Set(d0, d0 + 1, d0 + 9), 2L -> Set(d0 + 1, d0 + 8),
      3L -> Set(d0 + 9))
    (d0 to d0 + 9).foreach { end =>
      val want = active.count { case (_, days) =>
        days.exists(d => d > end - 7 && d <= end) }
      assert(got.getOrElse(end, 0L) == want.toLong, s"window ending $end")
    }
    // no window-end beyond the last observed day
    assert(got.keys.max == d0 + 9)
  }

  test("fkOrphans: orphans counted exactly; null fks excluded by contract") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), Some(8L), None)
      .toDF("fk")
    val out = Profiling.fkOrphans(Seq(
      Profiling.FkCheck("c_fk", child, "fk", parent, "pk"))).collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "c_fk")
    assert(out.head.getLong(1) == 5L)   // all child rows counted
    assert(out.head.getLong(2) == 2L)   // 9 and 8 are orphans; NULL is not
  }

  test("typeDrift: hand-built mix shift yields exact integer shares and scores") {
    import spark.implicits._
    // day 19737 is before the 19738 boundary, 19739 after; mix flips 8:2 -> 2:8
    def rows(day: Long, tpe: String, n: Int) =
      (1 to n).map(i => (day * 86400L * 1000000L + i, tpe))
    val crafted = (rows(19737L, "x", 8) ++ rows(19737L, "y", 2) ++
        rows(19739L, "x", 2) ++ rows(19739L, "y", 8))
      .toDF("us", "event_type")
      .select(timestamp_micros($"us").as("ts"), $"event_type")
    val out = EventAnalytics.typeDrift(crafted).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out("x") == ((8L, 2L, 800000L, 200000L, -600000L,
      600000L * 600000L / 1000001L)))
    assert(out("y") == ((2L, 8L, 200000L, 800000L, 600000L,
      600000L * 600000L / 1000001L)))
    // a type with identical shares scores zero
    val flat = (rows(19737L, "x", 5) ++ rows(19739L, "x", 5)).toDF("us", "event_type")
      .select(timestamp_micros($"us").as("ts"), $"event_type")
    val z = EventAnalytics.typeDrift(flat).collect().head
    assert(z.getLong(5) == 0L && z.getLong(6) == 0L)
  }

  test("search: conjunctive AND semantics and integer tf-idf ranking on a hand corpus") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana"),
      (3L, "apple apple apple banana cherry"),
      (4L, "durian only here")).toDF("doc_id", "text")
    // AND query: only docs with every term
    val hits = Search.keywordSearch(crafted, Seq("apple", "cherry"))
      .collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 3L))
    // ranking: n_docs=4; df(apple)=3 -> idf 4 div 3 = 1; df(durian)=1 -> idf 4
    // doc3 scores tf=3 * 1 = 3; doc1/doc2 score 1; doc4 scores 4 on durian
    val ranked = Search.tfidfSearch(crafted, Seq("apple", "durian"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ranked.toSeq == Seq((4L, 4L), (3L, 3L), (1L, 1L), (2L, 1L)))
    // k truncates deterministically with doc_id tiebreak
    val top2 = Search.tfidfSearch(crafted, Seq("apple", "durian"), k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(4L, 3L, 1L))
  }

  test("phrase search: exact adjacency, overlaps counted, punctuation breaks") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "alpha beta gamma"),          // 1 match at position 0
      (2L, "alpha beta alpha beta"),     // 2 matches
      (3L, "beta alpha"),                // reversed — no match
      (4L, "alpha, beta"),               // comma token between — no match
      (5L, "alpha beta beta alpha beta") // 2 matches (positions 0, 3)
    ).toDF("doc_id", "text")
    val got = Search.phraseSearch(crafted, Seq("alpha", "beta")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 5L -> 2L), s"got $got")
    // overlapping occurrences each count; repeated-term phrases work
    val rep = Seq((1L, "x x x x")).toDF("doc_id", "text")
    val got2 = Search.phraseSearch(rep, Seq("x", "x")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 3L), s"got $got2")
    // a 3-token phrase spanning a punctuation token matches exactly
    val punct = Seq((1L, "run ! stop"), (2L, "run stop")).toDF("doc_id", "text")
    val got3 = Search.phraseSearch(punct, Seq("run", "!", "stop")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(1L -> 1L), s"got $got3")
  }

  test("search: staged postings probe equals the direct single-scan spelling") {
    // VERDICT r12 #3: the registered search queries probe the standing
    // token-bucketed postings asset; the direct spellings remain the
    // semantic contract. Row-set equality on the real fixture pins the
    // staged plans to the contract for all four query shapes.
    val docs = Tables.documents(spark, sf)
    val terms = PipelineQueries.searchTerms
    val phrase = PipelineQueries.phraseTerms
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.toList: Seq[Any]).toSet
    assert(rows(Search.keywordSearchStaged(spark, sf, terms)) ==
      rows(Search.keywordSearch(docs, terms)), "keyword staged != direct")
    assert(rows(Search.tfidfSearchStaged(spark, sf, terms)) ==
      rows(Search.tfidfSearch(docs, terms)), "tfidf staged != direct")
    assert(rows(Search.bm25SearchStaged(spark, sf, terms)) ==
      rows(Search.bm25Search(docs, terms)), "bm25 staged != direct")
    assert(rows(Search.phraseSearchStaged(spark, sf, phrase)) ==
      rows(Search.phraseSearch(docs, phrase)), "phrase staged != direct")
  }

  test("search: driver-local bucket ids equal the build's xxhash64 expression") {
    // bucketsOf computes bucket ids locally (XxHash64Function, seed 42 —
    // the interpreter behind Spark's xxhash64 expression) so probes pay
    // no per-query Spark job; this pins local == expression over a
    // corpus-shaped vocabulary, so an upstream hash-behavior change
    // would fail HERE instead of silently emptying every probe.
    import spark.implicits._
    val vocab = Tables.documents(spark, sf)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("tok"))
      .distinct().limit(500)
      .as[String].collect().toSeq ++
      Seq("", "a", "Ω≠ascii", "tab\ttok", "0042", "naïve")
    val viaExpr = vocab.toDF("tok")
      .select(col("tok"),
        pmod(xxhash64(col("tok")), lit(Search.NBuckets.toLong)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    vocab.foreach { t =>
      val local = Search.bucketsOf(Seq(t))
      assert(local == Seq(viaExpr(t)),
        s"bucket drift for term '$t': local $local vs expression ${viaExpr(t)}")
    }
  }

  test("bm25: exact fixed-point ladder on a hand corpus; saturation + length norm") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "apple banana cherry"),                       // dl=3, tf(apple)=1
      (2L, "apple apple apple apple apple apple"),       // dl=6, tf=6 (saturates)
      (3L, "apple banana cherry date elder fig grape"),  // dl=7, tf=1 (length-penalized)
      (4L, "durian only")).toDF("doc_id", "text")
    // pure-Scala replay of the EXACT ladder (the contract both engines run)
    val sumDl = 3L + 6L + 7L + 2L; val n = 4L
    val avgdlMilli = 1000L * sumDl / n
    def tf1k(tf: Long, dl: Long) =
      22000L * tf * avgdlMilli /
        (10L * avgdlMilli * tf + 3L * avgdlMilli + 9000L * dl)
    def w(tf: Long, dl: Long, df: Long) =
      tf1k(tf, dl) * (2L * n - 2L * df + 1L) / (2L * df + 1L)
    val got = Search.bm25Search(crafted, Seq("apple", "durian"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = Map(
      1L -> w(1, 3, 3), 2L -> w(6, 6, 3), 3L -> w(1, 7, 3), 4L -> w(1, 2, 1))
    assert(got.toMap == want, s"got ${got.toMap}, want $want")
    // semantics: tf saturates (doc2 ≪ 6× doc1), rare term + short doc wins
    assert(want(2L) < 6 * want(1L), "tf saturation missing")
    assert(want(1L) > want(3L), "length normalization missing")
    assert(got.head._1 == 4L, "rare-term doc should rank first")
  }

  test("bigram fluency: exact add-one ladder on a hand corpus; gibberish scores the floor") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "a b a b"),   // bigrams (a,b)x2 (b,a)x1
      (2L, "c d"),       // (c,d)x1
      (3L, "x")          // no bigram -> absent
    ).toDF("doc_id", "text")
    // corpus: c12(a,b)=2 (b,a)=1 (c,d)=1; c1: a=2 b=1 c=1; V=5 {a,b,c,d,x}
    val got = BigramLm.fluency(crafted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pAB = 1000000L * 3 / (2 + 5)   // 428571
    val pBA = 1000000L * 2 / (1 + 5)   // 333333
    val pCD = 1000000L * 2 / (1 + 5)
    assert(got == Map(
      1L -> ((3L, (2 * pAB + pBA) / 3)),
      2L -> ((1L, pCD))))
    // cross-doc signal: text whose transitions recur corpus-wide scores
    // above text of the same tokens in never-seen orders
    val corpus = (1 to 20).map(i => (i.toLong, "the quick fox jumps high")) ++
      Seq((99L, "fox the high jumps quick"))
    val scored = BigramLm.fluency(corpus.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scored(1L) > 4 * scored(99L),
      s"templated ${scored(1L)} should dwarf shuffled ${scored(99L)}")
  }

  test("dsir: target-like docs outrank off-domain docs; tallies exact") {
    import spark.implicits._
    // target domain (src1) speaks alpha/beta; the raw pool speaks zeta
    val crafted = (
      (1 to 5).map(i => (i.toLong, "alpha beta alpha beta", "src1")) ++
      (11 to 18).map(i => (i.toLong, "zeta zeta zeta zeta", "srcZ")) ++
      Seq(
        (100L, "alpha beta alpha", "srcZ"),  // target-like candidate
        (101L, "zeta zeta zeta", "srcZ"))    // off-domain candidate
    ).toDF("doc_id", "text", "source")
    val got = ImportanceSampling.dsirTopK(crafted, "src1", k = 15)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(100L)._1 == 3L && got(101L)._1 == 3L, "n_grams miscounted")
    assert(got(100L)._2 > 3 * got(101L)._2,
      s"target-like ${got(100L)._2} should dominate off-domain ${got(101L)._2}")
    // the src1 docs themselves score at the top of the ranking
    val ranked = ImportanceSampling.dsirTopK(crafted, "src1", k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(ranked == Set(1L, 2L, 3L, 4L, 5L), s"top-5 should be the target slice: $ranked")
  }

  test("sentence stats: hand-checked counts; punctuation-only doc absent") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "Hello world. This is fine! Is it? trailing no punct"),
      (2L, "..."),                    // no sentence -> absent
      (3L, "One sentence only.\n"),   // trailing newline still terminal
      (4L, "no punctuation at all")   // one non-terminal sentence
    ).toDF("doc_id", "text")
    val got = TextAnalysis.sentenceStats(crafted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      // 4 sentences, 10 words, 3 terminal
      1L -> ((4L, 1000L * 10 / 4, 1000000L * 3 / 4)),
      3L -> ((1L, 3000L, 1000000L)),
      4L -> ((1L, 4000L, 0L))))
  }

  test("embedding drift: zero on identical slices, detects a planted shift") {
    import spark.implicits._
    // label 0: arrival slice identical to the standing slice -> exact 0;
    // label 1: arrivals shifted +0.5 in dim 0 -> drift ~ 0.5 * 2^20
    def v(x0: Double): Array[Float] =
      (x0 +: Seq.fill(63)(0.25)).map(_.toFloat).toArray
    val emb = Seq(
      (1L, v(0.1), 0), (2L, v(0.3), 0),   // ref, label 0
      (7L, v(0.1), 0), (17L, v(0.3), 0),  // arr, label 0 — same mean
      (3L, v(0.1), 1), (4L, v(0.3), 1),   // ref, label 1
      (27L, v(0.6), 1), (37L, v(0.8), 1)  // arr, label 1 — dim0 +0.5
    ).toDF("vec_id", "embedding", "label")
    val got = CorpusStats.embeddingDrift(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(0L) == ((2L, 2L, 0L)), s"identical slices must drift 0: $got")
    val (nR, nA, d) = got(1L)
    assert(nR == 2 && nA == 2)
    val expected = (0.5 * (1L << 20)).toLong
    assert(math.abs(d - expected) <= 2,
      s"planted +0.5 dim-0 shift: drift $d vs ~$expected")
  }

  test("ivf recall: monotone in nProbe; probing all cells IS exact") {
    // the tuning loop report_ann_recall serves, proven as a property:
    // probes are the nProbe NEAREST cells, so candidates(nProbe=8) ⊇
    // candidates(nProbe=4), and the top-k of a candidate SUPERSET can
    // only gain exact-top-k members (ranking is by true cosine — an
    // exact top-k member present among candidates always makes the cut).
    // Hence per-query recall is monotone, and nProbe = nCells ranks
    // every non-self vector — recall exactly 1.
    val emb = Tables.embeddings(spark, sf)
    val qids = (0L until 20L)
    val truth = SimilaritySearch
      .bruteForceTopK(emb, qids, k = 5, excludeQueries = false)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(nProbe: Int): Map[Long, Int] = {
      val got = IvfAnn.topK(emb, nCells = 16, nProbe = nProbe)
        .filter(col("query_id").isin(qids: _*))
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      qids.map(q => q -> got.count(p => p._1 == q && truth((q, p._2)))).toMap
    }
    val r4 = recallOf(4)
    val r8 = recallOf(8)
    val r16 = recallOf(16)
    info(s"mean hits@5 of 5: nProbe=4 ${r4.values.sum / 20.0}, " +
      s"8 ${r8.values.sum / 20.0}, 16 ${r16.values.sum / 20.0}")
    qids.foreach { q =>
      assert(r4(q) <= r8(q) && r8(q) <= r16(q),
        s"recall not monotone in nProbe for query $q: " +
          s"${r4(q)}/${r8(q)}/${r16(q)}")
    }
    assert(qids.forall(q => r16(q) == 5),
      s"nProbe = nCells must recover the exact top-5: $r16")
  }

  test("ann recall report: per-method floors hold at the bench configs") {
    // VERDICT r11 #5: the ANN family is hash-oracled for DETERMINISM;
    // this is the missing recall observability plus its floor. The floor
    // is a REGRESSION gate, not a quality target: the synthetic
    // embeddings are near-orthogonal background + planted near-dups, so
    // bucketed methods at the registered bench configs genuinely recover
    // only part of the exact top-5 (measured r12, sf0.001 and sf0.01
    // alike: ivf ~0.59 mean, ivfpq ~0.20, lsh ~0.11 — tightening nProbe/
    // bands is exactly the tuning loop this report serves). A
    // candidate-generation breakage (wrong planes, empty probes, broken
    // ADC) zeroes a method's mean and fails its floor immediately.
    // VERDICT r12 #1: the report now carries TWO slices — `background`
    // (the raw fixture, whose exact top-5 are best-of-random vectors at
    // cosine 0.26-0.49: intrinsically hostile to bucketed methods, floors
    // are regression gates only) and `planted` (five deterministic
    // perturbed copies of each query at cosine 0.92-0.999 — the regime a
    // curation user operates in, where the floors are QUALITY gates: a
    // method that can't recover a 0.95-cosine neighbor is misconfigured).
    val r = SimilaritySearch.annRecallReport(
        Tables.embeddings(spark, sf), (0L until 20L))
      .groupBy("method", "slice").agg(avg("recall_ppm").as("mean_ppm"))
      .collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    info(s"mean recall_ppm by (method, slice): $r")
    assert(r.keySet == (for {
      m <- Set("lsh", "ivf", "ivfpq"); s <- Set("background", "planted")
    } yield (m, s)))
    assert(r(("ivf", "background")) >= 450000, s"ivf background recall regressed: $r")
    assert(r(("ivfpq", "background")) >= 120000, s"ivfpq background recall regressed: $r")
    assert(r(("lsh", "background")) >= 60000, s"lsh background recall regressed: $r")
    // measured 1.0 for all three methods at both sf0.001 and sf0.01
    // (r13); 0.9 floors leave headroom for fixture regeneration only
    assert(r(("ivf", "planted")) >= 900000, s"ivf planted recall below target: $r")
    assert(r(("ivfpq", "planted")) >= 900000, s"ivfpq planted recall below target: $r")
    assert(r(("lsh", "planted")) >= 900000, s"lsh planted recall below target: $r")
    assert(r.values.forall(v => v >= 0 && v <= 1000000))
  }

  test("ann probe restriction: restricted method rows are bit-identical") {
    // r14: the recall report runs each method probe-restricted (indexes
    // build on the full slice, only the routing/ranking is confined to
    // the probe set). The claim the report rides on is ROW identity: a
    // restricted run's rows for the kept queries equal the unrestricted
    // run's, because per-query candidate sets and ranks never depend on
    // other queries.
    import graft.operators.{IvfAnn, SimilaritySearch}
    val emb = Tables.embeddings(spark, sf)
    val ids = (0L until 20L)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lshFull = rows(SimilaritySearch
      .randomHyperplaneAnn(emb, bitsPerTable = 12)
      .filter(org.apache.spark.sql.functions.col("query_id").isin(ids: _*)))
    val lshRestricted = rows(SimilaritySearch
      .randomHyperplaneAnn(emb, bitsPerTable = 12, restrictQueries = Some(ids)))
    assert(lshRestricted == lshFull,
      "restricted LSH rows diverge from the unrestricted pipeline")
    val ivfFull = rows(IvfAnn.topK(emb)
      .filter(org.apache.spark.sql.functions.col("query_id").isin(ids: _*)))
    val ivfRestricted = rows(IvfAnn.topK(emb, restrictQueries = Some(ids)))
    assert(ivfRestricted == ivfFull,
      "restricted IVF rows diverge from the unrestricted pipeline")
    CacheScope.releaseAll()
  }

  test("ann recall report: staged index/truth rows identical to the live build") {
    // r15 (VERDICT r14 next #1): the background slice probes committed
    // LSH-bucket / IVF-assignment / PQ-code assets instead of rebuilding
    // all three indexes per run. The staging claim is ROW identity: every
    // staged table is the same deterministic integer artifact the live
    // build computes, so the report's output is bit-identical.
    val ids = (0L until 20L)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Long)] =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val live = rows(SimilaritySearch.annRecallReport(
      Tables.embeddings(spark, sf), ids))
    val staged = rows(SimilaritySearch.annRecallReportStaged(spark, sf, ids))
    assert(staged == live,
      "staged recall report rows diverge from the live build")
    CacheScope.releaseAll()
  }

  test("verify behavioral checks: reject a rising loss curve, accept the dumped one") {
    // r14 (VERDICT r13 #6): the fit family's no_oracle rows carry an
    // executable trajectory check in Verify — pin both verdicts: a
    // fabricated NON-decreasing curve fails, a fabricated golden-shaped
    // curve passes.
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_behav").toString
    def dump(losses: Seq[Double]): Unit =
      losses.zipWithIndex
        .map { case (l, e) => (e.toLong, l, 10L, 3L, 100L) }
        .toDF("epoch", "hinge_loss", "n_entities", "n_labels", "n_train")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/transe_fit")
    dump(Seq.tabulate(30)(i => 1000.0 + i * 50.0)) // rising: must fail
    val bad = Verify.behavioralChecks(spark, out, Some(Set("transe_fit"))).toMap
    assert(!bad("transe_fit")._1, s"rising curve passed: ${bad("transe_fit")}")
    dump(Seq.tabulate(30)(i => 6500.0 * math.pow(0.95, i))) // decreasing
    val good = Verify.behavioralChecks(spark, out, Some(Set("transe_fit"))).toMap
    assert(good("transe_fit")._1, s"decreasing curve failed: ${good("transe_fit")}")
  }

  test("verify exit status: non-zero exactly when a behavioral check failed") {
    val pass = "transe_fit" -> (true, "ok")
    val fail = "transe_eval" -> (false, "rows=0")
    assert(Verify.exitStatus(Nil) == 0)
    assert(Verify.exitStatus(Seq(pass)) == 0)
    assert(Verify.exitStatus(Seq(pass, fail)) != 0)
    assert(Verify.exitStatus(Seq(fail)) != 0)
  }

  test("bloom skip: real file skipping, zero false negatives, fail-open admission") {
    import graft.operators.BloomSkip
    val keys = BloomSkip.workload(spark, sf)
    assert(keys.length == 5)
    // hygiene (ADVICE r12 #4): if a previous JVM died between the
    // stray-file copy below and its finally block, the leftover would
    // skew every admitted/total count in this run — clear it up front
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      BloomSkip.stagedDir(spark, sf), "data", "zz_unindexed.parquet"))
    // each key lives in ONE date-clustered file: <= 5 admitted of 16
    val (scan, admitted, total) = BloomSkip.lookupScan(spark, sf, keys)
    info(s"admitted $admitted of $total files for ${keys.length} keys")
    assert(total == 16 && admitted < total, s"no skipping: $admitted/$total")
    // the admitted set still answers exactly (novelty of the index is
    // invisible): one row per key, matching the raw table
    val got = scan.select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == keys.sorted, s"bloom route lost rows: ${got.toSeq}")
    // zero false negatives across a wider sample
    val sample = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 101 === 7).select("o_orderkey")
      .orderBy("o_orderkey").limit(12)
      .collect().map(_.getLong(0)).toSeq
    val (scan2, _, _) = BloomSkip.lookupScan(spark, sf, sample)
    val got2 = scan2.select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(got2.toSeq == sample.sorted,
      s"false negative: wanted ${sample.sorted}, got ${got2.toSeq}")

    // admission is manifest-driven, not a bitmap census (VERDICT r11 #2):
    // the build wrote one manifest row per indexed file, and the lookup's
    // fail-open path collects only files MISSING from it
    val dir = BloomSkip.stagedDir(spark, sf)
    assert(spark.read.parquet(s"$dir/manifest").count() == total,
      "manifest must carry exactly one row per indexed file")
    // a file that lands out-of-band AFTER the index build must be
    // admitted fail-open (and, carrying none of the looked-up keys,
    // contribute no rows)
    val stray = java.nio.file.Paths.get(dir, "data", "zz_unindexed.parquet")
    // schema-identical empty slice of the staged layout — admitted
    // fail-open, contributes no rows, can't skew the exact-answer check
    spark.read.parquet(s"$dir/data").where(lit(false))
      .coalesce(1).write.mode("overwrite").parquet(stray.toString + ".tmp")
    val part = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(stray.toString + ".tmp"))
        .iterator().asScala.find(_.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.copy(part, stray)
    try {
      val (scan3, admitted3, total3) = BloomSkip.lookupScan(spark, sf, keys)
      assert(total3 == total + 1 && admitted3 == admitted + 1,
        s"stray file must be admitted fail-open: $admitted3/$total3")
      assert(scan3.select("o_orderkey").collect().map(_.getLong(0)).sorted
        .toSeq == keys.sorted, "stray admission changed the answer")
    } finally {
      java.nio.file.Files.deleteIfExists(stray)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(stray.toString + ".tmp"))
    }
  }

  test("scrubDupSpans: removes exactly the covered positions, reassembles in order") {
    import spark.implicits._
    // two docs share the 4-gram "a b c d"; doc 3 is untouched
    val crafted = Seq(
      (1L, "a b c d x y z"),
      (2L, "p q a b c d r"),
      (3L, "unique words only here")).toDF("doc_id", "text")
    val out = TextAnalysis.scrubDupSpans(crafted, k = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((7L, 3L, md5Of("x y z"))), s"doc1: ${out(1L)}")
    assert(out(2L) == ((7L, 3L, md5Of("p q r"))), s"doc2: ${out(2L)}")
    assert(out(3L) == ((4L, 4L, md5Of("unique words only here"))), s"doc3: ${out(3L)}")

    // consistency with the coverage metric on the real corpus:
    // n_kept = n_toks - covered_positions for every doc
    val cov = TextAnalysis.dupSpanCoverage(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    TextAnalysis.scrubDupSpans(docs).collect().foreach { r =>
      val (nToks, covered) = cov(r.getLong(0))
      assert(r.getLong(1) == nToks && r.getLong(2) == nToks - covered,
        s"doc ${r.getLong(0)}: kept ${r.getLong(2)} != $nToks - $covered")
    }
  }

  test("embeddings loader normalizes a double-widened element type") {
    // stage a list<double> copy of the sf0.001 embeddings (pyarrow's
    // default for plain Python floats — the drift class the events ts
    // already exhibited) and require the loader to hand back
    // array<float> with identical values
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wide_emb")
    val src = Tables.embeddings(spark, sf)
    src.selectExpr("vec_id", "cast(embedding as array<double>) as embedding", "label")
      .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
    val widened = Tables.embeddings(spark, dir.toString)
    assert(widened.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, true) ||
      widened.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, false),
      s"got ${widened.schema("embedding").dataType}")
    val a = src.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    widened.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().foreach { case (id, v) =>
        assert(java.util.Arrays.equals(v, a(id)), s"vec $id diverged")
      }
  }

  test("profileColumns: null and distinct counts on a crafted table") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None),
      (Some(2L), Some("b")), (None, Some("a")))
      .toDF("num", "str")
    val got = operators.Profiling.profileColumns(df, Seq("num", "str"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("num") == ((4L, 1L, 2L)), s"num profile: ${got("num")}")
    assert(got("str") == ((4L, 1L, 2L)), s"str profile: ${got("str")}")
  }

  test("keySkew: counts, exact ppm shares, deterministic tie order") {
    import spark.implicits._
    val df = Seq(7L, 7L, 7L, 5L, 5L, 9L).toDF("k")
    val got = operators.Profiling.keySkew(df, "k", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (7L, 3L, 500000L), (5L, 2L, 333333L), (9L, 1L, 166666L)), got.toSeq)
  }

  test("partition overwrite: dynamic replaces only touched partitions, static wipes") {
    import spark.implicits._
    import java.nio.file.Files
    def stage(mode: String): (Long, Long) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
      import s.implicits._
      val dir = Files.createTempDirectory(s"graft_ow_$mode").toString
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "pt")
        .write.mode("overwrite").partitionBy("pt").parquet(dir)
      // incremental batch touches ONLY partition A
      Seq((9L, "A")).toDF("id", "pt")
        .write.mode("overwrite").partitionBy("pt").parquet(dir)
      val back = s.read.parquet(dir)
      (back.filter(col("pt") === "A").count(), back.filter(col("pt") === "B").count())
    }
    assert(stage("dynamic") == ((1L, 1L)),
      "dynamic mode must keep the untouched partition")
    assert(stage("static") == ((1L, 0L)),
      "static mode wipes the whole table — the footgun the query pins down")
  }

  test("upsert: updates replace, deletes remove, inserts add — keys consistent") {
    import spark.implicits._
    val merged = queries.PipelineQueries.upsertOrders(spark, sf)
    val snap = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val nSnap = snap.count()
    val nDel = snap.filter(col("o_orderkey") % 17 === 3 && col("o_orderkey") % 13 =!= 0).count()
    val nIns = snap.filter(col("o_orderkey") % 19 === 1).count()
    assert(merged.count() == nSnap - nDel + nIns)
    // updated keys carry the new payload, and only them
    val mergedPrio = merged.filter(col("o_orderpriority") === "MERGED")
      .select("o_orderkey").as[Long].collect().toSet
    val updateKeys = snap.filter(col("o_orderkey") % 13 === 0)
      .select("o_orderkey").as[Long].collect().toSet
    assert(mergedPrio == updateKeys)
    // deleted keys are gone; inserted keys are present
    assert(merged.filter(col("o_orderkey") % 17 === 3 &&
      col("o_orderkey") % 13 =!= 0 && col("o_orderkey") < 1000000000000L).count() == 0)
    assert(merged.filter(col("o_orderkey") >= 1000000000000L).count() == nIns)
  }

  test("dedup_exact: groups cover all docs; representative is min id") {
    val out = Dedup.exact(docs).collect()
    val totalCopies = out.map(_.getAs[Long]("n_copies")).sum
    assert(totalCopies == docs.count())
  }

  test("tfidfTopTerms: hand-computed scores and dense-id tie-breaks") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "apple apple banana"),
      (2L, "apple cherry"),
      (3L, "cherry cherry cherry date")).toDF("doc_id", "text")
    // vocab ids (freq DESC, token ASC): cherry(4)->0, apple(3)->1,
    // banana(1)->2, date(1)->3; df: apple 2, banana 1, cherry 2, date 1;
    // idf surrogate N DIV df with N=3: apple 1, banana 3, cherry 1, date 3
    val out = VocabBuild.tfidfTopTerms(fixture, k = 2, minCount = 1L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rn")) ->
        (r.getAs[String]("token"), r.getAs[Long]("score"))).toMap
    assert(out((1L, 1L)) == (("banana", 3L)))   // 1*3 beats apple 2*1
    assert(out((1L, 2L)) == (("apple", 2L)))
    assert(out((2L, 1L)) == (("cherry", 1L)))   // tie 1==1: id 0 < id 1
    assert(out((2L, 2L)) == (("apple", 1L)))
    assert(out((3L, 1L)) == (("cherry", 3L)))   // tie 3==3: id 0 < id 3
    assert(out((3L, 2L)) == (("date", 3L)))
  }

  test("paragraphDedup: shared chunks removed, order kept, full-dup doc empties") {
    import spark.implicits._
    def md5hexOf(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val uniqA = (1 to 10).map(i => s"a$i").mkString(" ")
    val uniqB = (1 to 10).map(i => s"b$i").mkString(" ")
    val fixture = Seq(
      (1L, s"$shared tail1 x y"),      // dup head + 3-word unique tail
      (2L, s"$shared $uniqA"),         // dup head + full unique chunk
      (3L, shared),                    // nothing survives
      (4L, s"$uniqB two extra words"), // nothing removed
      (5L, s"$uniqA $shared $uniqB")   // doc 2 shares uniqA -> removed too
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_pars"), r.getAs[Long]("n_dup_pars"),
         r.getAs[String]("kept_md5"))).toMap

    assert(out(1L) == ((2L, 1L, md5hexOf("tail1 x y"))))
    assert(out(2L) == ((2L, 2L, md5hexOf(""))))   // head AND uniqA both shared (doc 5)
    assert(out(3L) == ((1L, 1L, md5hexOf(""))))
    // doc 4's chunk0 is exactly uniqB — shared with doc 5's chunk2, so
    // BOTH are removed: positional chunking catches aligned reuse only
    assert(out(4L) == ((2L, 1L, md5hexOf("two extra words"))))
    assert(out(5L) == ((3L, 3L, md5hexOf(""))))
    val chars = Dedup.paragraphDedup(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("kept_chars")).toMap
    assert(chars(3L) == 0L && chars(5L) == 0L)
    assert(chars(1L) == "tail1 x y".length.toLong)
  }

  test("minhash LSH finds the same pairs as exact n-gram Jaccard") {
    val exact = Dedup.ngramJaccard(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH ${lsh.size} pairs vs exact ${exact.size}")
    assert(exact.nonEmpty, "no planted near-dup pairs found")
  }

  test("ngram Jaccard: prefix candidates are complete and measurably fewer") {
    import spark.implicits._
    val tau = 0.5
    // the operator's hashed shingle index over distinct texts
    val reps = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
    val sh = Dedup.shingles(reps.select("doc_id", "text"), 5)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct().persist()
    val dfTab = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val pp = Dedup.prefixCandidates(sh, dfTab, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive inverted-index candidates: every pair sharing ANY shingle
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val naiveDf = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
    val naive = naiveDf.select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact Jaccard >= tau over the naive candidates
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val truth = naiveDf.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .filter(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")) >= tau)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    sh.unpersist()
    // candidate-COMPLETE: no true pair escapes the prefix filter
    assert(truth.subsetOf(pp), s"missed true pairs: ${truth -- pp}")
    // sound w.r.t. the naive superset, strictly smaller even on this
    // tiny corpus (where most shared-shingle pairs ARE the planted
    // near-dups, so there is little slack to cut)
    assert(pp.subsetOf(naive))
    assert(pp.size < naive.size,
      s"prefix filter cut nothing: ${naive.size} -> ${pp.size}")

    // the measured win (VERDICT r7 #2's discipline), on the fixture the
    // filter exists for: 50 docs sharing one hot boilerplate shingle,
    // each otherwise unique. Naive pairs every pair through the hot
    // shingle — C(50,2) = 1225 candidates; df-ordered prefixes push the
    // hot shingle to the BACK of every doc's order, so the prefix join
    // generates zero
    val boiler = (1L to 50L).flatMap(d =>
      (0L until 9L).map(u => (d, d * 100L + u)) :+ (d, 777777L))
      .toDF("doc_id", "sh")
    val bdf = boiler.groupBy("sh").agg(count(lit(1)).as("df"))
    val bNaive = boiler.select(col("doc_id").as("doc_a"), col("sh"))
      .join(boiler.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b")).select("doc_a", "doc_b")
      .distinct().count()
    val bPp = Dedup.prefixCandidates(boiler, bdf, tau).count()
    assert(bNaive == 1225L, s"fixture shape drifted: $bNaive")
    assert(bPp == 0L,
      s"hot-shingle fixture: expected 0 prefix candidates, got $bPp of $bNaive")

    // boundary cases on a crafted index: J exactly tau (subset, 5-in-10)
    // must survive BOTH the prefix and length filters; ratio just under
    // tau (4-in-10) must be cut by the length filter
    val crafted = (
      (1L to 5L).map(s => (10L, s)) ++ (1L to 10L).map(s => (11L, s)) ++
        (1L to 4L).map(s => (12L, s)) ++ (101L to 110L).map(s => (13L, s)))
      .toDF("doc_id", "sh")
    val cdf = crafted.groupBy("sh").agg(count(lit(1)).as("df"))
    val cpairs = Dedup.prefixCandidates(crafted, cdf, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cpairs.contains((10L, 11L)), s"boundary J=tau pair dropped: $cpairs")
    assert(!cpairs.contains((11L, 12L)), "length filter must cut 4-vs-10")
    assert(!cpairs.exists(p => p._1 == 13L || p._2 == 13L), "disjoint doc paired")
  }

  test("per-doc shingle helper agrees with the relational shingles()") {
    import spark.implicits._
    def compare(df: org.apache.spark.sql.DataFrame): Unit = {
      val relational = Dedup.shingles(df, 5).groupBy("doc_id").count()
        .as[(Long, Long)].collect().toMap
      val perDoc = df.select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().map { case (id, t) => id -> Dedup.distinctShingleCount(t, 5).toLong }
        .toMap
      assert(relational == perDoc)
    }
    compare(docs)
    // non-space whitespace: Spark/DuckDB trim() strip spaces ONLY, so the
    // JVM helper must not use String.trim (which also strips \t and \n)
    compare(Seq(
      (1L, "\tfoo bar baz qux quux corge"),
      (2L, "  doubly  spaced   words in here  "),
      (3L, "\nnewline start words in this doc"),
      (4L, "trailing tab words in this doc\t")).toDF("doc_id", "text"))
  }

  test("simhash: identical docs get identical signatures; pairs verified") {
    val sig1 = Dedup.simhash64(Iterator("a", "b", "c"))
    val sig2 = Dedup.simhash64(Iterator("a", "b", "c"))
    assert(sig1 == sig2)
    val pairs = Dedup.simhashPairs(docs).collect()
    pairs.foreach(r => assert(r.getAs[Long]("hamming") <= 6))
  }

  test("simhash near-dups overlap heavily with jaccard near-dups") {
    val jac = Dedup.ngramJaccard(docs, tau = 0.8).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, maxHamming = 6).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both detect the planted clones; simhash on distinct unigrams is
    // blunter, so require majority overlap rather than equality
    val overlap = (jac & sim).size.toDouble / math.max(jac.size, 1)
    assert(overlap > 0.5, s"simhash found ${sim.size}, jaccard ${jac.size}, overlap $overlap")
  }

  test("ann_topk: ranks are 1..k per query, neighbors never queries") {
    val out = SimilaritySearch.bruteForceTopK(embs, (0L until 20L), k = 10)
    val rows = out.collect()
    assert(rows.length == 20 * 10)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 20)
    byQuery.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 10L))
      rs.foreach(r => assert(r.getAs[Long]("neighbor_id") >= 20L))
    }
  }

  test("ann_topk agrees with a naive driver-side computation") {
    import spark.implicits._
    val all = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val out = SimilaritySearch.bruteForceTopK(embs, Seq(0L, 1L), k = 5).collect()
    Seq(0L, 1L).foreach { q =>
      val expected = all.filter { case (id, _) => id != 0L && id != 1L }
        .map { case (id, v) => (id, transe.Kernels.cosine(all(q), v)) }
        .toSeq.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      val got = out.filter(_.getAs[Long]("query_id") == q)
        .sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      assert(got == expected, s"query $q: $got vs $expected")
    }
  }

  test("ivf ann: recall@5 vs brute force is high on clustered embeddings") {
    import spark.implicits._
    val ivf = IvfAnn.topK(embs, nCells = 8, nProbe = 3, k = 5).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    // brute-force ground truth per query (driver-side, corpus is small)
    val all = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    var hit = 0; var total = 0
    all.take(50).foreach { case (q, qv) =>
      val truth = all.filter(_._1 != q)
        .map { case (id, v) => (id, transe.Kernels.cosine(qv, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      val got = ivf.getOrElse(q, Set.empty)
      hit += (truth & got).size; total += truth.size
    }
    val recall = hit.toDouble / total
    assert(recall > 0.5, s"IVF recall@5 = $recall")
  }

  test("lsh ann returns plausible neighbors (bucket-local)") {
    val out = SimilaritySearch.randomHyperplaneAnn(embs, bitsPerTable = 12, k = 3)
    assert(out.count() > 0)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  /** Clustered corpus where LSH is the right tool: bases + perturbed
    * copies at cosine ~0.95 over near-orthogonal background. */
  private def clusteredVecs(nBases: Int = 50, copies: Int = 3, dim: Int = 32) = {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val rows = (0 until nBases).flatMap { b =>
      val base = Array.fill(dim)(r.nextGaussian().toFloat)
      (0 until copies).map { c =>
        val v = base.map(x => x + (r.nextGaussian() * 0.22).toFloat)
        ((b * copies + c).toLong, v)
      }
    }
    rows.toDF("vec_id", "embedding")
  }

  test("lsh near-dup: recall >= 0.9 vs exact on clustered vectors; subset of exact") {
    val vecs = clusteredVecs()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilaritySearch.cosineNearDupExact(vecs, tau = 0.9)
      .select("vec_a", "vec_b"))
    val lsh = pairs(SimilaritySearch.cosineNearDupLsh(vecs, tau = 0.9)
      .select("vec_a", "vec_b"))
    assert(exact.size >= 50, s"expected planted pairs, got ${exact.size}")
    assert(lsh.subsetOf(exact), "LSH verify must be exact (no false positives)")
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall (${lsh.size}/${exact.size})")
  }

  test("lsh ann top-k recalls planted cluster-mates on clustered vectors") {
    val vecs = clusteredVecs()
    val out = SimilaritySearch.randomHyperplaneAnn(vecs, k = 2)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    // every vector's cluster-mates (same base, ids grouped in 3s)
    var hit = 0; var total = 0
    (0L until 150L).foreach { id =>
      val mates = ((id / 3) * 3 until (id / 3) * 3 + 3).filter(_ != id).toSet
      hit += (out.getOrElse(id, Set.empty) & mates).size
      total += 2
    }
    val recall = hit.toDouble / total
    assert(recall >= 0.9, s"top-k cluster-mate recall $recall")
  }

  test("hll distinct estimate lands within 5% of exact per group") {
    val out = Sketches.hllDistinct(Tables.events(spark, sf), "event_type", "user_id")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val exact = r.getAs[Long]("n_exact"); val est = r.getAs[Long]("n_est")
      assert(math.abs(est - exact) <= math.max(1L, (exact * 0.05).toLong),
        s"${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("hll TypedImperativeAggregate equals the register-table spelling") {
    val events = Tables.events(spark, sf)
    val agg = Sketches.hllDistinctAgg(events, "event_type", "user_id").collect()
    val rel = Sketches.hllDistinct(events, "event_type", "user_id").collect()
    assert(agg.nonEmpty)
    assert(agg.map(_.toString).sameElements(rel.map(_.toString)),
      "buffer-merged sketch must land on the identical estimates")
  }

  test("cms heavy hitters: estimates never undercount; top token is the true max") {
    import spark.implicits._
    val out = Sketches.cmsTopK(docs).collect()
    assert(out.length > 0)
    out.foreach { r =>
      assert(r.getAs[Long]("est_count") >= r.getAs[Long]("exact_count"),
        s"CMS undercounted ${r.getString(0)}")
    }
    // the true most frequent token must surface at the top of the sketch
    val trueTop = docs.select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .filter(col("t") =!= "").select(lower(col("t")).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t").asc)
      .as[(String, Long)].first()._1
    assert(out.head.getString(0) == trueTop ||
      out.take(3).map(_.getString(0)).contains(trueTop),
      s"true top token $trueTop missing from sketch top-3")
  }

  test("pii scrub: counts and redacts planted emails/ips/phones") {
    import spark.implicits._
    val planted = Seq(
      (1L, "contact alice@example.com or bob.smith+x@sub.domain.org today"),
      (2L, "server at 192.168.1.100 responded"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "clean text with no pii at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(planted).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 2)
    assert(out(2L).getAs[Long]("n_ips") == 1)
    assert(out(3L).getAs[Long]("n_phones") == 1)
    assert(out(4L).getAs[Long]("n_emails") == 0 &&
      out(4L).getAs[Long]("n_ips") == 0 && out(4L).getAs[Long]("n_phones") == 0)
    // redaction check via the md5 the operator emits
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L).getAs[String]("redacted_md5") ==
      md5hex("contact <EMAIL> or <EMAIL> today"))
    assert(out(2L).getAs[String]("redacted_md5") ==
      md5hex("server at <IP> responded"))
    assert(out(3L).getAs[String]("redacted_md5") ==
      md5hex("call <PHONE> now"))
    assert(out(4L).getAs[String]("redacted_md5") ==
      md5hex("clean text with no pii at all"))
  }

  test("hash sampling is deterministic, rate-accurate, and splits partition the corpus") {
    val n = docs.count()
    val s1 = Sampling.sampleDocs(docs).collect().map(_.getLong(0)).toSeq
    val s2 = Sampling.sampleDocs(docs).collect().map(_.getLong(0)).toSeq
    assert(s1 == s2, "hash sample must be identical across runs")
    assert(math.abs(s1.size.toDouble / n - 0.1) < 0.06,
      s"sample rate ${s1.size}/$n far from 0.1")
    val splits = Sampling.trainValTestSplit(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    assert(splits.values.sum == n, "splits must partition the corpus")
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
  }

  test("sequence packing: contiguous-fill bins match the prefix-sum formula") {
    import spark.implicits._
    val out = SequencePacking.packDocs(docs, budgetTokens = 256L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // recompute the formula driver-side from the same token counts
    var running = 0L
    out.foreach { case (id, t, bin) =>
      assert(bin == running / 256L, s"doc $id: bin $bin vs ${running / 256L}")
      running += t
    }
    // bins are nondecreasing in doc order and start at 0
    assert(out.head._3 == 0L)
    assert(out.sliding(2).forall { case Array(a, b) => a._3 <= b._3 })
    // docs partition across bins; every bin's span is contiguous
    val binIds = out.map(_._3).distinct
    assert(binIds.sameElements(binIds.sorted))
  }

  test("decontaminate: flags only train docs, counts real shared grams") {
    import spark.implicits._
    val flagged = Decontaminate.flagContaminated(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_shared_grams")).toMap
    // flagged ids must come from the TRAIN side of the deterministic split
    val evalIds = docs.select("doc_id").as[Long].collect()
      .filter { id =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"evalset:$id".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) / 4294967296.0 < 0.05
      }.toSet
    assert(flagged.keySet.intersect(evalIds).isEmpty,
      "eval docs must never be flagged as contaminated train docs")
    // planted contamination is caught: a train doc sharing an 8-gram
    // with an eval doc must be flagged
    val evalText = docs.filter(col("doc_id").isin(evalIds.toSeq: _*))
      .select("text").as[String].head()
    val grams = evalText.split("\\s+")
    assume(grams.length >= 8)
    val planted = Seq((999999L, grams.take(8).mkString(" ") + " zzz unique tail"))
      .toDF("doc_id", "text")
    val flagged2 = Decontaminate.flagContaminated(docs.select("doc_id", "text")
        .union(planted)).collect()
      .map(r => r.getLong(0)).toSet
    assert(flagged2.contains(999999L), "planted 8-gram overlap must be flagged")
  }

  test("clean-corpus pipeline: monotone funnel, deduped output, sample consistency") {
    val funnel = CorpusPipeline.funnel(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    assert(funnel("1_input") == docs.count())
    assert(funnel("2_quality") <= funnel("1_input"))
    assert(funnel("3_dedup") <= funnel("2_quality"))
    assert(funnel("4_sample") <= funnel("3_dedup"))
    assert(funnel("4_sample") > 0, "pipeline must keep some documents")
    val out = CorpusPipeline.cleanCorpus(docs).collect()
    assert(out.length == funnel("4_sample"),
      "cleanCorpus output must equal the funnel's final stage")
    val md5s = out.map(_.getString(1))
    assert(md5s.distinct.length == md5s.length, "output content must be deduped")
  }

  test("lsh plane values match the DuckDB md5 replay (golden values)") {
    // goldens computed by running OracleSql.planeValSql in DuckDB itself —
    // pins the cross-engine determinism contract of the bucketing
    assert(SimilaritySearch.planeValue(42L, 0, 0, 0) == 1282987667L)
    assert(SimilaritySearch.planeValue(42L, 7, 11, 63) == -150009517L)
    assert(SimilaritySearch.planeValue(7L, 3, 5, 17) == -528906644L)
  }

  test("mm near-dup lsh is a subset of the exact twin") {
    val assets = Multimodal.assetTable(docs)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Multimodal.featureNearDup(assets))
    val lsh = pairs(Multimodal.featureNearDupLsh(assets))
    assert(lsh.subsetOf(exact))
    assert(lsh.nonEmpty, "centered LSH should recall most near-dup pairs")
  }

  test("multimodal decode: deterministic, schema stable, no driver collect") {
    val assets = Multimodal.assetTable(docs)
    val f1 = Multimodal.decodeFeatures(assets).collect()
    val f2 = Multimodal.decodeFeatures(assets).collect()
    assert(f1.map(_.toString).toSeq == f2.map(_.toString).toSeq)
    f1.foreach { r =>
      (0 until 8).foreach { j =>
        val v = r.getAs[Double](s"f$j")
        assert(v >= 0.0 && v <= 1.0, s"feature f$j out of range: $v")
      }
      assert(r.getAs[Long]("width") >= 64 && r.getAs[Long]("width") < 1088)
    }
    val frames = Multimodal.sampleFrameFeatures(assets).collect()
    assert(frames.length > f1.length) // multiple frames per asset
  }

  test("text quality: ratios in [0,1], tokens positive") {
    val q = TextAnalysis.qualityScore(docs).collect()
    q.foreach { r =>
      assert(r.getAs[Double]("stopword_ratio") >= 0.0)
      assert(r.getAs[Double]("quality_score") >= 0.0 &&
        r.getAs[Double]("quality_score") <= 1.0)
      assert(r.getAs[Long]("n_words") > 0)
    }
  }

  test("lang id detects en for english-stopword text") {
    val out = TextAnalysis.langId(docs).collect()
    val en = out.count(_.getAs[String]("detected_lang") == "en")
    assert(en > out.length / 2, s"only $en/${out.length} detected en")
  }

  test("stratified sample: caps strata near target, deterministic, subset") {
    import spark.implicits._
    val target = 10L
    val out = Sampling.stratifiedSample(docs, "lang", target).collect()
    val perLang = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    perLang.foreach { case (lang, n) =>
      // binomial spread: allow 4 sigma around min(target, n_stratum)
      val expect = math.min(target, totals(lang)).toDouble
      assert(math.abs(n - expect) <= 4 * math.sqrt(expect) + 1,
        s"$lang: sampled $n vs expected ~$expect of ${totals(lang)}")
    }
    // a stratum smaller than target is taken whole (rate clamps to >= 1)
    totals.filter(_._2 <= target).keys.foreach { lang =>
      assert(perLang.getOrElse(lang, 0) == totals(lang).toInt) }
    // determinism: same rows on rerun
    val again = Sampling.stratifiedSample(docs, "lang", target).collect()
    assert(out.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("length quantiles equal driver-side exact discrete quantiles") {
    import spark.implicits._
    val out = CorpusStats.lengthQuantiles(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("q")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars_q"))).toMap
    val byLang = docs.select("lang", "n_chars").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted)
    for ((lang, vals) <- byLang; q <- Seq(25L, 50L, 75L, 90L, 99L)) {
      val n = vals.length
      val rank = math.ceil(q * n / 100.0).toInt.max(1)
      val (nDocs, got) = out((lang, q))
      assert(nDocs == n)
      assert(got == vals(rank - 1),
        s"$lang q$q: got $got want ${vals(rank - 1)} (n=$n)")
    }
  }

  test("winnowing fingerprints: near-identical docs share fingerprints") {
    val fps = TextAnalysis.winnowingFingerprints(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("fingerprint")).toSet }
    // take a planted near-dup pair from jaccard and check sketch overlap
    val pair = Dedup.ngramJaccard(docs, tau = 0.8).select("doc_a", "doc_b").head()
    val (a, b) = (pair.getLong(0), pair.getLong(1))
    val overlap = (fps(a) & fps(b)).size.toDouble / math.min(fps(a).size, fps(b).size)
    assert(overlap > 0.5, s"winnowing overlap $overlap for near-dup pair ($a,$b)")
  }

  test("source mixing: smallest source kept whole; expected token mass ~capped") {
    val out = Sampling.mixSources(docs).collect()
    val byDoc = docs.select("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").trim.split("\\s+").length.toLong))
    val totals = byDoc.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val tMin = totals.values.min
    val minSources = totals.filter(_._2 == tMin).keySet
    val keptBySource = out.groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("n_tokens")).sum).toMap
    // the smallest source's rate is 1.0 — every one of its docs survives
    minSources.foreach { s =>
      assert(keptBySource(s) == totals(s), s"min source $s lost docs")
    }
    // kept token mass never exceeds the source's own total, and every
    // source keeps SOMETHING on this fixture (rates are all >= 0.7)
    keptBySource.foreach { case (s, kept) =>
      assert(kept <= totals(s) && kept > 0, s"source $s kept $kept of ${totals(s)}")
    }
    // deterministic: a second run selects the identical doc set
    val again = Sampling.mixSources(docs).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == out.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("vocab build: dense frequency-ordered ids, threshold respected") {
    val rows = operators.VocabBuild.vocab(Tables.documents(spark, sf), minCount = 2)
      .collect()
    val ids = rows.map(_.getAs[Long]("token_id"))
    assert(ids.sorted.sameElements(0L until rows.length), "ids must be dense 0..V-1")
    val byId = rows.sortBy(_.getAs[Long]("token_id"))
    val freqs = byId.map(_.getAs[Long]("freq"))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b },
      "frequency must be non-increasing in id order")
    assert(freqs.forall(_ >= 2), "threshold must drop rare tokens")
    // deterministic tiebreak: equal-freq runs are token-ascending
    byId.sliding(2).foreach {
      case Array(a, b) if a.getAs[Long]("freq") == b.getAs[Long]("freq") =>
        assert(a.getAs[String]("token") < b.getAs[String]("token"))
      case _ =>
    }
  }

  test("connected components: multi-hop path merges; matches driver union-find") {
    import spark.implicits._
    // a 5-node path (needs label propagation across 4 hops), a triangle,
    // and an isolated pair — exercises convergence beyond one round
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)).toDF("doc_a", "doc_b")
    val want = Set(
      (1L, 1L, 5L), (2L, 1L, 5L), (3L, 1L, 5L), (4L, 1L, 5L), (5L, 1L, 5L),
      (20L, 20L, 3L), (21L, 20L, 3L), (22L, 20L, 3L),
      (30L, 30L, 2L), (31L, 30L, 2L))
    // hybrid default (local union-find) AND the distributed fixpoint
    Seq(100000, 0).foreach { thr =>
      val got = DedupComponents.components(pairs, localThreshold = thr)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("component_id"), r.getAs[Long]("component_size"))).toSet
      assert(got == want, s"localThreshold=$thr")
    }

    // real near-dup pairs: endpoints of every pair land in one component,
    // and the component id is the minimum member (the representative)
    val realPairs = Dedup.minhashLsh(docs).select("doc_a", "doc_b")
    val comp = DedupComponents.components(realPairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id")).toMap
    realPairs.collect().foreach { r =>
      assert(comp(r.getLong(0)) == comp(r.getLong(1)),
        s"pair (${r.getLong(0)},${r.getLong(1)}) split across components")
    }
    comp.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"component $cid is not its min member")
    }
  }

  test("retention keeps exactly the highest-quality member per cluster") {
    val pairs = Dedup.minhashLsh(docs).select("doc_a", "doc_b")
    val out = DedupComponents.retention(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // one row per document, every cluster keeps exactly one member
    assert(out.length == docs.count())
    out.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid kept != 1 member")
      val kept = members.find(_._4).get
      // kept = max quality, ties to min doc_id
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept == best, s"cluster $cid kept $kept, best is $best")
    }
    // docs in no pair are singletons and kept
    val paired = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    out.filter(r => !paired.contains(r._1)).foreach { r =>
      assert(r._4 && r._2 == r._1, s"singleton ${r._1} not kept as own cluster")
    }
  }

  test("cosineNearDupLsh leaves no cached bucket tables after its action") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    SimilaritySearch.cosineNearDupLsh(embs, tau = 0.9).collect()
    // the unpersist hook fires from an async listener callback — poll
    def leaked = sc.getPersistentRDDs.keySet -- before
    val deadline = System.currentTimeMillis + 30000
    while (System.currentTimeMillis < deadline && leaked.nonEmpty) Thread.sleep(100)
    assert(leaked.isEmpty, s"bucket cache left persisted: rdd ids $leaked")
  }

  test("large-star/small-star components equal min-label on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      // sparse random graph: ~n edges over n nodes — mixed cliques,
      // trees, and isolated pairs emerge naturally
      val n = 60 + trial * 40
      val pairs = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("doc_a", "doc_b")
      // localThreshold = 0: compare the ACTUAL distributed strategies —
      // the hybrid default would route both through local union-find
      val minLabel = DedupComponents.components(pairs, localThreshold = 0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val star = DedupComponents
        .components(pairs, strategy = DedupComponents.LargeSmallStar,
          localThreshold = 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(star == minLabel, s"strategies diverge on trial $trial")
      // and the hybrid's driver-local union-find must equal them exactly
      val local = DedupComponents.components(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(local == minLabel, s"local union-find diverges on trial $trial")
    }
  }

  test("large-star/small-star converges in O(log n) rounds on a 1000-node path") {
    import spark.implicits._
    // the min-label worst case: a path of diameter 999 would need 999
    // propagation rounds; the star algorithm's guarantee is logarithmic
    val n = 1000
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (out, rounds) = DedupComponents.componentsStar(pairs)
    val bound = 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt
    assert(rounds <= bound, s"path-$n took $rounds rounds (bound $bound)")
    val got = out.collect()
    assert(got.length == n)
    assert(got.forall(r => r.getLong(1) == 0L && r.getLong(2) == n.toLong),
      "every path node must label to component 0 of size 1000")
  }

  test("int8 quantization: codes bounded, max element saturates, reconstruction tight") {
    import spark.implicits._
    val raw = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val out = Quantization.int8(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == raw.size * 64)
    out.groupBy(_._1).foreach { case (id, rows) =>
      val v = raw(id).map(_.toDouble)
      val maxabs = v.map(math.abs).max
      assert(rows.forall(r => math.abs(r._3) <= 127), s"vec $id code out of range")
      // the max-|x| element must quantize to +-127 (symmetric saturation)
      assert(rows.exists(r => math.abs(r._3) == 127), s"vec $id never saturates")
      rows.foreach { case (_, i, q, scaleQ) =>
        assert(scaleQ == math.floor(maxabs * 1048576.0).toLong)
        // round-half-up error bound: |x - q*s/127| <= s/254 (+ float slack)
        val err = math.abs(v(i.toInt) - q * maxabs / 127.0)
        assert(err <= maxabs / 254.0 + 1e-9, s"vec $id dim $i err $err")
      }
    }
  }

  test("PQ codes: m codes per vector, in range, deterministic across runs") {
    val m = 8; val nCells = 16
    val a = Quantization.pqCodes(embs, m, nCells).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = embs.count()
    assert(a.length == n * m)
    assert(a.forall(r => r._2 >= 0 && r._2 < m && r._3 >= 0 && r._3 < nCells))
    // every subspace uses more than one code on the 500-vec fixture (a
    // collapsed codebook would quantize everything to one cell)
    a.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).distinct.length > 1, s"subspace $s collapsed")
    }
    val b = Quantization.pqCodes(embs, m, nCells).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sameElements(b), "PQ encoding not deterministic")
  }

  test("PQ ADC top-k: scores match a driver-side recomputation exactly") {
    import spark.implicits._
    val qids = Seq(0L, 1L, 2L)
    val k = 10
    val out = Quantization.pqTopK(embs, qids, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // ranks complete 1..k per query, distances non-decreasing
    qids.foreach { q =>
      val rows = out.filter(_._1 == q).sortBy(_._2)
      assert(rows.map(_._2).sameElements(1L to k.toLong), s"query $q ranks")
      assert(rows.sliding(2).forall(p => p(0)._4 <= p(1)._4), s"query $q order")
    }
    // recompute the full ADC ranking for query 0 from scratch on the
    // driver: same codebooks (deterministic), same integer LUT math
    val raw = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val m = 8; val nCells = 16; val sub = 64 / m
    def quant(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    val cbs = (0 until m).map { s =>
      val sliced = embs.select(col("vec_id"),
        slice(col("embedding"), s * sub + 1, sub).as("embedding"))
      IvfAnn.trainCentroids(sliced, nCells, 2)
    }
    val codes = raw.map { case (id, v) =>
      val q = quant(v)
      id -> (0 until m).map { s =>
        val sl = q.slice(s * sub, (s + 1) * sub)
        cbs(s).zipWithIndex.map { case (c, ci) =>
          (c.zip(sl).map { case (a, b) => val z = a - b; z * z }.sum, ci)
        }.minBy { case (d, ci) => (d, ci) }._2
      }.toArray
    }.toMap
    val q0 = quant(raw.find(_._1 == 0L).get._2)
    val lut = (0 until m).map { s =>
      cbs(s).map(c => c.zipWithIndex.map { case (cv, i) =>
        val z = q0(s * sub + i) - cv; z * z }.sum)
    }
    val expected = raw.filter(_._1 != 0L).map { case (id, _) =>
      (id, (0 until m).map(s => lut(s)(codes(id)(s))).sum)
    }.sortBy { case (id, d) => (d, id) }.take(k)
    val got = out.filter(_._1 == 0L).sortBy(_._2).map(r => (r._3, r._4))
    assert(got.sameElements(expected),
      s"ADC mismatch:\n got ${got.toSeq}\n want ${expected.toSeq}")
  }

  test("PQ / IVF-PQ: recall@10 vs exact integer L2 clears the quality floor") {
    import spark.implicits._
    val qids = (0L until 20L).toSeq
    val k = 10
    def topSets(rows: Array[org.apache.spark.sql.Row]) = rows
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val pq = topSets(Quantization.pqTopK(embs, qids, k = k).collect())
    val ivfpq = topSets(Quantization.ivfPqTopK(embs, qids, k = k).collect())
    // ground truth: exact squared L2 on the SAME quantized integers ADC
    // approximates (PQ's metric is L2, not cosine)
    val all = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, v.map(x => math.floor(x.toDouble * 1048576.0).toLong)) }
    def recallOf(got: Map[Long, Set[Long]]): Double = {
      var hit = 0; var total = 0
      qids.foreach { q =>
        val qv = all.find(_._1 == q).get._2
        val truth = all.filter(_._1 != q).map { case (id, v) =>
          (id, v.zip(qv).map { case (a, b) => val z = a - b; z * z }.sum)
        }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
        hit += (truth & got.getOrElse(q, Set.empty)).size; total += truth.size
      }
      hit.toDouble / total
    }
    val pqRecall = recallOf(pq)
    val ivfpqRecall = recallOf(ivfpq)
    val refined = recallOf(topSets(
      Quantization.pqTopK(embs, qids, k = k, refine = 100).collect()))
    val ivfpqRefined = recallOf(topSets(
      Quantization.ivfPqTopK(embs, qids, k = k, refine = 100).collect()))
    info(s"raw ADC: PQ recall@10 = $pqRecall, IVF-PQ = $ivfpqRecall")
    info(s"refined(100): PQ recall@10 = $refined, IVF-PQ = $ivfpqRefined")
    // floors calibrated on the fixture (synthetic 64-dim embeddings are a
    // hard, high-intrinsic-dimension case for 8x4-bit codes — measured
    // raw ADC ~0.22): raw ADC must stay a usable shortlist builder, and
    // the refine stage (the production spelling, 100 exact scores per
    // query instead of |corpus|) must buy the recall back
    assert(pqRecall >= 0.15, s"PQ raw ADC recall@10 = $pqRecall")
    assert(ivfpqRecall >= 0.15, s"IVF-PQ raw ADC recall@10 = $ivfpqRecall")
    assert(refined >= 0.7, s"PQ refined recall@10 = $refined")
    assert(ivfpqRefined >= 0.5, s"IVF-PQ refined recall@10 = $ivfpqRefined")
  }

  test("IVF-PQ top-k: candidates confined to probed cells; ADC agrees with PQ path") {
    import spark.implicits._
    val qids = Seq(0L, 1L, 2L)
    val nProbe = 4
    val out = Quantization.ivfPqTopK(embs, qids, nProbe = nProbe, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    qids.foreach { q =>
      val rows = out.filter(_._1 == q).sortBy(_._2)
      assert(rows.map(_._2).sameElements(1L to rows.length.toLong))
      assert(rows.sliding(2).forall(p => p.length < 2 || p(0)._4 <= p(1)._4))
    }
    // every neighbor must live in one of its query's nProbe nearest cells
    val coarse = IvfAnn.trainCentroids(embs, nCells = 16)
    val cellOf = IvfAnn.assign(embs, coarse).select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    val raw = embs.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def quant(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    val probedCells: Map[Long, Set[Int]] = raw.map { case (qid, v) =>
      val q = quant(v)
      val ds = coarse.zipWithIndex.map { case (c, i) =>
        (c.zip(q).map { case (a, b) => val z = a - b; z * z }.sum, i)
      }
      qid -> ds.sortBy { case (d, i) => (d, i) }.take(nProbe).map(_._2).toSet
    }
    out.foreach { case (q, _, n, _) =>
      assert(probedCells(q).contains(cellOf(n)),
        s"neighbor $n of query $q outside its probed cells")
    }
    // the ADC distance of a returned (query, neighbor) pair equals the
    // full-PQ path's distance for the same pair (same codebooks, same
    // LUT math — IVF only prunes candidates, never changes scores)
    val pq = Quantization.pqTopK(embs, qids, k = 50).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    val overlap = out.filter(r => pq.contains((r._1, r._3)))
    assert(overlap.nonEmpty, "no overlap between IVF-PQ and PQ top-50")
    overlap.foreach { r =>
      assert(pq((r._1, r._3)) == r._4,
        s"ADC distance diverges for ${(r._1, r._3)}")
    }
  }

  test("kmeans clusters: assignment is the argmin cell; sizes conserve") {
    import spark.implicits._
    val out = IvfAnn.clusters(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = embs.count()
    assert(out.length == n)
    assert(out.map(_._4).sum == out.groupBy(_._2).map { case (_, rows) =>
      rows.length.toLong * rows.length }.sum, "sizes inconsistent")
    out.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.forall(_._4 == rows.length), s"cluster $cid size mismatch")
    }
    // dist_qsq is the exact integer distance to the assigned centroid:
    // recompute driver-side from the same deterministic training
    val cents = IvfAnn.trainCentroids(embs, nCells = 16)
    val raw = embs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    out.take(50).foreach { case (id, cid, dq, _) =>
      val q = raw(id).map(x => math.floor(x * 1048576.0).toLong)
      val dists = cents.map(c => c.zip(q).map { case (a, b) =>
        val z = a - b; z * z }.sum)
      val best = dists.zipWithIndex.minBy { case (d, i) => (d, i) }
      assert(cid == best._2.toLong, s"vec $id assigned $cid, argmin ${best._2}")
      assert(dq == best._1, s"vec $id dist $dq, recomputed ${best._1}")
    }
  }

  test("token budget report: cells conserve docs and tokens; shares sum to ~1M ppm") {
    val out = CorpusStats.tokenBudgetReport(docs).collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val tokTotal = out.map(_.getAs[Long]("n_tokens")).sum
    val wsTotal = TextAnalysis.tokenCounts(docs).collect()
      .map(_.getAs[Long]("n_ws_tokens")).sum
    assert(tokTotal == wsTotal, s"token totals diverge: $tokTotal vs $wsTotal")
    val shares = out.map(_.getAs[Long]("token_share_ppm"))
    assert(shares.forall(s => s >= 0 && s <= 1000000))
    // integer division floors each cell: sum in (1M - cells, 1M]
    val sum = shares.sum
    assert(sum <= 1000000 && sum > 1000000 - out.length,
      s"shares sum $sum over ${out.length} cells")
    assert(out.forall(r => r.getAs[Long]("quality_decile") >= 0
      && r.getAs[Long]("quality_decile") <= 9))
  }

  test("temperature mixing: membership matches driver recompute; smallest source kept fully") {
    val rows = docs.select("doc_id", "source", "text").collect()
    def nTok(t: String): Long = t.trim.split("\\s+").length.toLong
    val totals = rows.groupBy(_.getAs[String]("source"))
      .map { case (s, rs) => s -> rs.map(r => nTok(r.getAs[String]("text"))).sum }
    val tMin = totals.values.min
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long): Double = {
      val hex = md.digest(s"mixt:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val expected = rows.filter { r =>
      val ts = totals(r.getAs[String]("source"))
      u(r.getAs[Long]("doc_id")) * math.sqrt(ts.toDouble) < math.sqrt(tMin.toDouble)
    }.map(_.getAs[Long]("doc_id")).toSet
    val got = Sampling.mixSourcesTemperature(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"got ${got.size} vs expected ${expected.size}")
    val smallest = totals.minBy(_._2)._1
    val smallIds = rows.filter(_.getAs[String]("source") == smallest)
      .map(_.getAs[Long]("doc_id")).toSet
    assert(smallIds.subsetOf(got), "smallest source must keep every doc (rate = 1)")
    // sqrt-temperature keeps at least as much of every source as equal-mass mixing
    val mixBySource = Sampling.mixSources(docs).select("source").collect()
      .groupBy(_.getString(0)).map { case (s, rs) => s -> rs.length }
    val tempBySource = Sampling.mixSourcesTemperature(docs).select("source").collect()
      .groupBy(_.getString(0)).map { case (s, rs) => s -> rs.length }
    assert(tempBySource.values.sum >= mixBySource.values.sum,
      "alpha=1/2 must retain at least the alpha=0 equal-mass total")
  }

  test("filter reasons: counts match a driver-side recomputation") {
    val texts = docs.select("text").collect().map(_.getString(0))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val stop = TextAnalysis.enStopwords.toSet
    var (r0, r1, r2, r3, r4, r5) = (0L, 0L, 0L, 0L, 0L, 0L)
    var (r6, r7, r8) = (0L, 0L, 0L)
    texts.foreach { t =>
      val words = t.trim.split("\\s+")
      val n = words.length
      val meanLen = round6(t.length.toDouble / n)
      val stopRatio = round6(words.count(w =>
        stop(w.toLowerCase(java.util.Locale.ROOT))).toDouble / n)
      val alpha = round6("[A-Za-z]+".r.findAllIn(t).size.toDouble / n)
      // sentence ladder (r12): the sentenceStats regexes, recomputed here
      val sents = "[^.!?]+[.!?]*".r
        .findAllIn(t.toLowerCase(java.util.Locale.ROOT)).toSeq
        .filter(s => "[a-z0-9]".r.findFirstIn(s).isDefined)
      val nSent = sents.length
      val meanMilli: Option[Long] = if (nSent == 0) None else Some(
        1000L * sents.map(s =>
          "[a-z]+|[0-9]+".r.findAllIn(s).size.toLong).sum / nSent)
      val termPpm: Option[Long] = if (nSent == 0) None else Some(
        1000000L * sents.count(s =>
          "[.!?]\\s*$".r.findFirstIn(s).isDefined) / nSent)
      val f1 = n < 10; val f2 = n > 1000
      val f3 = meanLen < 2.0 || meanLen > 12.0
      val f4 = stopRatio < 0.05; val f5 = alpha < 0.8
      val f6 = nSent < 3
      val f7 = meanMilli.exists(m => m < 3000 || m > 40000)
      val f8 = termPpm.exists(_ < 500000)
      if (f1) r1 += 1; if (f2) r2 += 1; if (f3) r3 += 1
      if (f4) r4 += 1; if (f5) r5 += 1
      if (f6) r6 += 1; if (f7) r7 += 1; if (f8) r8 += 1
      if (!(f1 || f2 || f3 || f4 || f5 || f6 || f7 || f8)) r0 += 1
    }
    val out = TextAnalysis.filterReasons(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_docs")).toMap
    assert(out == Map(
      "r0_pass_all" -> r0, "r1_too_few_words" -> r1, "r2_too_many_words" -> r2,
      "r3_word_len_outlier" -> r3, "r4_low_stopword" -> r4, "r5_low_alpha" -> r5,
      "r6_too_few_sentences" -> r6, "r7_sentence_len_outlier" -> r7,
      "r8_low_terminal_punct" -> r8))
  }

  test("curriculum: stage follows decile; deciles agree with token-budget report; order replays") {
    val out = Sampling.curriculumAssign(docs).collect()
    // stage is the documented pure function of the decile
    out.foreach { r =>
      val d = r.getAs[Long]("quality_decile"); val s = r.getAs[Long]("stage")
      assert(d >= 0 && d <= 9)
      assert(s == (9 - d) * 5 / 10, s"stage $s decile $d")
    }
    // per-decile doc counts equal the token-budget report's cells
    val fromCurriculum = out.groupBy(_.getAs[Long]("quality_decile"))
      .map { case (d, rs) => d -> rs.length.toLong }
    val fromReport = CorpusStats.tokenBudgetReport(docs).collect()
      .groupBy(_.getAs[Long]("quality_decile"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("n_docs")).sum }
    assert(fromCurriculum == fromReport)
    // order_ppm replays from the md5 spelling
    val md = java.security.MessageDigest.getInstance("MD5")
    out.take(20).foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val hex = md.digest(s"curriculum:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val expect = math.floor(
        java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 * 1000000).toLong
      assert(r.getAs[Long]("order_ppm") == expect)
    }
  }

  test("random projection: coordinates match driver recompute; JL distance ratios hold") {
    val out = RandomProjection.project(embs).collect()
    val raw = embs.select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    // exact recompute of every projected coordinate
    out.foreach { r =>
      val q = quant(raw(r.getAs[Long]("vec_id")))
      (0 until 16).foreach { j =>
        val expect = q.indices.map(i => RandomProjection.sign(j, i).toLong * q(i)).sum
        assert(r.getAs[Long](f"p$j%02d") == expect)
      }
    }
    // JL sanity — the guarantee is DISTANCE preservation, not rank:
    // E[||P(a-b)||^2] = outDims * ||a-b||^2 for +-1 signs, so the scaled
    // ratio concentrates near 1 (sd ~ sqrt(2/16) ~ 0.35). Rank recall on
    // this near-isotropic synthetic table is weak by nature (distances
    // concentrate), so it is NOT the right gate here.
    val ids = out.map(_.getAs[Long]("vec_id"))
    val proj = out.map(r => (0 until 16).map(j => r.getAs[Long](f"p$j%02d")).toArray)
    val qvecs = ids.map(id => quant(raw(id)))
    def l2(a: Array[Long], b: Array[Long]): Double =
      a.indices.map(i => { val d = (a(i) - b(i)).toDouble; d * d }).sum
    val rnd = new scala.util.Random(7)
    val ratios = (0 until 200).map { _ =>
      val a = rnd.nextInt(ids.length); val b = rnd.nextInt(ids.length)
      if (a == b || l2(qvecs(a), qvecs(b)) == 0) 1.0
      else l2(proj(a), proj(b)) / (16.0 * l2(qvecs(a), qvecs(b)))
    }.sorted
    val median = ratios(ratios.length / 2)
    assert(median > 0.6 && median < 1.6, s"median distance ratio $median")
    val inBand = ratios.count(r => r > 0.3 && r < 3.0).toDouble / ratios.length
    assert(inBand > 0.9, s"only $inBand of pair distances within [0.3x, 3x]")
  }

  test("dup-span coverage matches a driver-side recomputation") {
    import spark.implicits._
    val k = 8
    val out = TextAnalysis.dupSpanCoverage(docs, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val raw = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    // recompute from scratch: positional k-grams on raw strings (no
    // hashing — a 64-bit md5 collision would have to appear in a 50-doc
    // fixture to diverge)
    val grams: Array[(Long, Int, String)] = raw.flatMap { case (id, text) =>
      val w = text.trim.split("\\s+")
      val hi = math.max(w.length - k, 0)
      (0 to hi).map(i => (id, i, w.slice(i, math.min(i + k, w.length)).mkString(" ")))
    }
    val dup = grams.groupBy(_._3).filter(_._2.map(_._1).distinct.length >= 2).keySet
    raw.foreach { case (id, text) =>
      val n = text.trim.split("\\s+").length
      val cov = grams.filter(g => g._1 == id && dup(g._3))
        .flatMap(g => g._2 until math.min(g._2 + k, n)).distinct.length
      val (nToks, covered, ppm) = out(id)
      assert(nToks == n, s"doc $id n_toks")
      assert(covered == cov, s"doc $id covered: got $covered want $cov")
      assert(ppm == cov.toLong * 1000000 / n, s"doc $id ppm")
    }
    // the fixture's planted near-dups must register as covered spans
    assert(out.values.exists(_._2 > 0), "no duplicated spans found at all")
  }

  test("bigram coverage matches a driver-side recomputation; totals conserve") {
    val out = TextAnalysis.bigramCoverage(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_frequent"))).toMap
    // every doc appears, even bigram-less ones
    assert(out.size == docs.count())
    // driver-side replay on the raw text
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def bgs(t: String): Seq[String] = {
      val ws = t.trim.split("\\s+").toSeq
      if (ws.length < 2) Nil else ws.zip(ws.tail).map { case (a, b) => s"$a $b" }
    }
    val corpusCounts = texts.values.toSeq.flatMap(bgs)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    texts.foreach { case (id, t) =>
      val b = bgs(t)
      val want = (b.size.toLong, b.count(g => corpusCounts(g) >= 3L).toLong)
      assert(out(id) == want, s"doc $id: got ${out(id)}, want $want")
    }
    // the signal separates docs: some fully-covered, coverage varies
    assert(out.values.exists { case (n, f) => n > 0 && f < n } ||
      out.values.forall { case (n, f) => f == n },
      "coverage degenerate")
  }

  test("semantic dedup: pairs are exact-verified (precision 1), clusters consistent") {
    // precision is 1 by construction (candidates are exact-verified at
    // tau), so every semantic pair must appear in the all-pairs exact set
    val semantic = SemanticDedup.pairs(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SimilaritySearch.cosineNearDupExact(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semantic.nonEmpty, "no semantic near-dup pairs on the fixture")
    assert(semantic.subsetOf(exact),
      s"pairs failing the exact verify: ${semantic -- exact}")
    // testdata near-dups are tight clusters; the coarse quantizer should
    // co-locate most of them (recall vs all-pairs at the same tau)
    val recall = semantic.size.toDouble / exact.size
    info(s"multi-probe recall vs all-pairs: ${semantic.size}/${exact.size}")
    assert(recall >= 0.5, s"within-cell recall $recall too low (" +
      s"${semantic.size}/${exact.size}) — quantizer scattering near-dups")

    val comp = SemanticDedup.clusters(embs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id")).toMap
    semantic.foreach { case (a, b) =>
      assert(comp(a) == comp(b), s"pair ($a,$b) split across components")
    }
    comp.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"component $cid is not its min member")
    }
  }

  test("incremental dedup: staged parquet index produces flagBatch's exact output") {
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val direct = IncrementalDedup.flagBatch(corpus, batch)
      .collect().map(_.toString).sorted
    val staged = IncrementalDedup.flagBatchStaged(spark, sf, corpus, batch)
      .collect().map(_.toString).sorted
    assert(staged.sameElements(direct),
      "parquet-backed index diverged from the in-memory build")
  }

  test("incremental dedup: verdicts agree with exact hashes and full-corpus jaccard") {
    import spark.implicits._
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val out = IncrementalDedup.flagBatch(corpus, batch).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("dup_exact_of")),
          Option(r.getAs[java.lang.Long]("near_of")),
          r.getAs[String]("verdict"))).toMap

    // one row per batch doc, no extras
    assert(out.keySet == batch.select("doc_id").as[Long].collect().toSet)

    // exact verdicts: precisely the batch docs whose text exists in corpus,
    // matched to the min corpus doc id with that text
    val corpusByText = corpus.select("text", "doc_id").as[(String, Long)]
      .collect().groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).min }
    batch.select("doc_id", "text").as[(Long, String)].collect().foreach {
      case (id, text) =>
        val (exactOf, _, verdict) = out(id)
        corpusByText.get(text) match {
          case Some(minId) =>
            assert(verdict == "exact" && exactOf.contains(minId),
              s"doc $id: expected exact dup of $minId, got $verdict/$exactOf")
          case None =>
            assert(exactOf.isEmpty && verdict != "exact",
              s"doc $id: spurious exact match $exactOf")
        }
    }

    // near verdicts agree with the full-corpus jaccard pair set restricted
    // to batch x corpus (uncapped on testdata, so universes coincide)
    val fullPairs = Dedup.ngramJaccard(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a % 10 == 7 && b % 10 != 7 }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    out.foreach { case (id, (_, nearOf, verdict)) =>
      (fullPairs.get(id), nearOf) match {
        case (Some(cands), Some(n)) => assert(cands.contains(n),
          s"doc $id: near_of $n not among full-corpus matches $cands")
        case (None, Some(n)) => fail(s"doc $id: spurious near match $n")
        case (Some(c), None) => fail(s"doc $id: missed near matches $c")
        case (None, None) => assert(verdict == "keep" || verdict == "exact")
      }
    }
  }

  test("repetition metrics match a driver-side count; edge cases exact") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "spam spam spam spam spam"),      // one word repeated
      (2L, "a b a b a b a b"),               // dominant bigram "a b"
      (3L, "all words here are unique ok"),  // no repetition
      (4L, "solo"),                          // 1 word: no bigrams/trigrams
      (5L, "two words"))                     // 2 words: 1 bigram, no trigrams
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.repetition(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    def driverTop(text: String, n: Int): (Long, Long) = {
      val ws = text.trim.split("\\s+")
      if (ws.length < n) (0L, 0L)
      else {
        val grams = ws.sliding(n).map(_.mkString(" ")).toSeq
        (grams.length.toLong, grams.groupBy(identity).values.map(_.size).max.toLong)
      }
    }
    fixture.collect().foreach { r =>
      val (id, text) = (r.getAs[Long]("doc_id"), r.getAs[String]("text"))
      val (n2, top2) = driverTop(text, 2)
      val (n3, top3) = driverTop(text, 3)
      val row = out(id)
      assert(row.getAs[Long]("n_bigrams") == n2, s"doc $id n_bigrams")
      assert(row.getAs[Long]("top_bigram_count") == top2, s"doc $id top_bigram_count")
      assert(row.getAs[Long]("n_trigrams") == n3, s"doc $id n_trigrams")
      assert(row.getAs[Long]("top_trigram_count") == top3, s"doc $id top_trigram_count")
    }
    // the planted extremes
    assert(out(1L).getAs[Double]("dup_word_ratio") == 0.8)   // 4 of 5 dup
    assert(out(1L).getAs[Double]("top_bigram_ratio") == 1.0) // "spam spam" everywhere
    assert(out(3L).getAs[Double]("dup_word_ratio") == 0.0)
    assert(out(4L).getAs[Double]("top_bigram_ratio") == 0.0) // guard: 0 bigrams
    // repetitious docs rank above clean ones on the fixture corpus too
    val real = TextAnalysis.repetition(docs)
    assert(real.count() == docs.count())
  }

  test("chunk_overlap: chunk rule edge cases (short, exact, one-over)") {
    import spark.implicits._
    val c = 4; val st = 3
    val fix = Seq(
      1L -> "a b",                   // len 2 < C  -> 1 chunk
      2L -> "a b c d",               // len == C   -> 1 chunk
      3L -> "a b c d e",             // len C+1    -> 2 chunks, last short
      4L -> "a b c d e f g h i j"    // len 10     -> 1 + ceil(6/3) = 3
    ).toDF("doc_id", "text")
    val got = operators.Chunking.chunkDocs(fix, chunkTokens = c, stride = st)
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 2L, "a b"),
      (2L, 0L, 4L, "a b c d"),
      (3L, 0L, 4L, "a b c d"), (3L, 1L, 2L, "d e"),
      (4L, 0L, 4L, "a b c d"), (4L, 1L, 4L, "d e f g"),
      (4L, 2L, 4L, "g h i j")), got.mkString("\n"))
  }

  test("chunk_overlap: full coverage, bounded size, overlap stitches on sf docs") {
    val out = operators.Chunking.chunkDocs(docs).persist()
    // every chunk within bounds; chunk 0 exists per doc
    assert(out.where(org.apache.spark.sql.functions.col("n_tokens") > 64).count() == 0)
    assert(out.where("chunk_idx = 0").count() == docs.count())
    // coverage: last chunk of each doc ends exactly at the doc's token count
    import org.apache.spark.sql.functions._
    val last = out.groupBy("doc_id")
      .agg(max(col("chunk_idx")).as("mi"),
        max(col("chunk_idx") * 48 + col("n_tokens")).as("end"))
    val toks = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
    assert(last.join(toks, "doc_id").where(col("end") =!= col("n")).count() == 0)
    out.unpersist()
  }

  test("chunk_overlap: plan has no shuffle before the presentation sort") {
    val plan = operators.Chunking.chunkDocs(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must be a narrow per-row transform:\n$plan")
  }

  test("cohort retention: hand-built event log") {
    import spark.implicits._
    val day = 86400L
    def ts(d: Long, sec: Long = 0L) =
      new java.sql.Timestamp((d * day + sec) * 1000L)
    // u1 first day0, active day0+day2; u2 first day0 only; u3 first day2
    val fix = Seq(
      (1L, ts(0)), (1L, ts(0, 3600)), (1L, ts(2)),
      (2L, ts(0)),
      (3L, ts(2)), (3L, ts(2, 60))
    ).toDF("user_id", "ts")
    val got = operators.EventAnalytics.cohortRetention(fix)
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 0L, 2L), (0L, 2L, 1L), (2L, 0L, 1L)),
      got.mkString(","))
  }

  test("cohort retention: one wide shuffle on sf events; offsets start at 0") {
    val df = operators.EventAnalytics.cohortRetention(Tables.events(spark, sf))
    // exactly two exchanges: the per-user set build and the tiny cells agg
    val nEx = df.queryExecution.executedPlan.toString
      .split("Exchange").length - 1
    assert(nEx <= 2, s"expected <=2 exchanges, got $nEx")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getLong(0))
    byCohort.foreach { case (cd, rs) =>
      assert(rs.exists(_.getLong(1) == 0L), s"cohort $cd missing offset 0")
    }
    // day-0 cell of each cohort counts every user of that cohort: the
    // per-cohort max is at offset 0
    byCohort.foreach { case (cd, rs) =>
      val at0 = rs.find(_.getLong(1) == 0L).get.getLong(2)
      assert(rs.forall(_.getLong(2) <= at0), s"cohort $cd: offset-0 not max")
    }
  }

  test("versioned table: commit/pointer protocol, retention, rollback read") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_vt_spec")
    // empty table: no pointer yet
    assert(VersionedTable.currentVersion(base) == -1)
    val v0 = VersionedTable.commit(base, Seq((1L, "a"), (2L, "b")).toDF("k", "x"))
    val v1 = VersionedTable.commit(base, Seq((1L, "a2"), (3L, "c")).toDF("k", "x"))
    assert(v0 == 0 && v1 == 1 && VersionedTable.currentVersion(base) == 1)
    // time travel: the OLD version is still byte-readable (rollback =
    // re-reading it; a pointer rewrite would make it current)
    assert(VersionedTable.read(spark, base, 0).collect().map(_.getString(1)).sorted
      .toSeq == Seq("a", "b"))
    assert(VersionedTable.readCurrent(spark, base).count() == 2)
    // retention: keep only the newest 1 -> v0/v1 dirs vanish, v2 readable
    VersionedTable.commit(base, Seq((9L, "z")).toDF("k", "x"), retain = 1)
    assert(!java.nio.file.Files.exists(base.resolve("v=0")))
    assert(!java.nio.file.Files.exists(base.resolve("v=1")))
    intercept[IllegalArgumentException] { VersionedTable.read(spark, base, 0) }
    assert(VersionedTable.readCurrent(spark, base).count() == 1)
  }

  test("versioned table: the staged fixture's diff exercises all three ops") {
    val d = VersionedTable.diff(spark, sf).collect()
      .map(r => r.getString(1)).groupBy(identity).view.mapValues(_.length).toMap
    assert(d.keySet == Set("insert", "delete", "update"), s"ops seen: $d")
    // inserts carry the +1e12 keys; updates/deletes hit original keys
    val keys = VersionedTable.diff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(keys.filter(_._2 == "insert").forall(_._1 >= 1000000000000L))
    assert(keys.filter(_._2 != "insert").forall(_._1 < 1000000000000L))
  }

  test("pca: eigensolve is deterministic, orthonormal, descending, and solves C v = l v") {
    val emb = Tables.embeddings(spark, sf)
    import org.apache.spark.sql.functions._
    // exact integer inputs, straight from the oracled stage-1 surface
    graft.functions.VectorFunctions.ensureRegistered(spark)
    val row = emb.agg(call_function("gram_lower", col("embedding"), lit(Pca.D)).as("g"),
      count(lit(1)).as("n")).head()
    val packed = row.getSeq[Long](0).toArray
    val n = row.getLong(1)
    val sums = emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(sum(floor(col("x").cast("double") * 1048576.0)
        .cast("long")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sumArr = Array.tabulate(Pca.D)(i => sums.getOrElse(i, 0L))
    val (c1, e1) = Pca.eigensolve(packed, sumArr, n)
    val (c2, e2) = Pca.eigensolve(packed, sumArr, n)
    // bit-deterministic: pure function of the exact integer Gram
    assert(c1.flatten.toSeq == c2.flatten.toSeq && e1.toSeq == e2.toSeq)
    // eigenvalues strictly positive, descending
    (0 until Pca.K - 1).foreach(k =>
      assert(e1(k) >= e1(k + 1) && e1(k + 1) > 0, s"eigs ${e1.toSeq}"))
    // components orthonormal
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    c1.foreach(v => assert(math.abs(dot(v, v) - 1.0) < 1e-9))
    for (a <- 0 until Pca.K; b <- a + 1 until Pca.K)
      assert(math.abs(dot(c1(a), c1(b))) < 1e-7, s"comps $a,$b not orthogonal")
    // each (v, l) solves the ORIGINAL covariance: ||C v - l v|| small
    val cov = Array.ofDim[Double](Pca.D, Pca.D)
    var p = 0
    for (i <- 0 until Pca.D; j <- 0 to i) {
      val v = (packed(p).toDouble - sumArr(i).toDouble * sumArr(j) / n) / n
      cov(i)(j) = v; cov(j)(i) = v; p += 1
    }
    (0 until Pca.K).foreach { k =>
      val v = c1(k)
      val resid = (0 until Pca.D).map { i =>
        val cv = (0 until Pca.D).map(j => cov(i)(j) * v(j)).sum
        val r = cv - e1(k) * v(i); r * r
      }.sum
      // tolerance reflects power-iteration convergence on a clustered
      // (near-isotropic) spectrum — orthonormality above is the tight
      // structural gate, the residual is the convergence gate
      assert(math.sqrt(resid) < 5e-3 * math.max(1.0, e1(k)),
        s"component $k residual ${math.sqrt(resid)} vs eig ${e1(k)}")
    }
  }

  test("pca: projected variance is descending and matches the eigenvalues") {
    val proj = Pca.project(Tables.embeddings(spark, sf)).collect()
    val m = proj.length
    val vars = (0 until Pca.K).map { k =>
      val xs = proj.map(_.getLong(k + 1).toDouble / 1048576.0 / 1048576.0)
      val mean = xs.sum / m
      xs.map(x => (x - mean) * (x - mean)).sum / m
    }
    (0 until Pca.K - 1).foreach(k =>
      assert(vars(k) >= vars(k + 1) * 0.999, s"variance not descending: $vars"))
    assert(vars.head > 0)
  }

  test("quality classifier: discriminates a corpus with real lexical signal") {
    import spark.implicits._
    // the sf testdata's 31-token vocabulary is HOMOGENEOUS across docs, so
    // token votes are flat there (documented); build a corpus where high-
    // and low-quality docs draw from distinct token pools, as real web
    // text does. Quality deciles come from doc LENGTH + stopwords (the
    // teacher), and each band also has its own content vocabulary.
    val good = "the quick analysis of the data is presented in this chapter and it shows the trend"
    val bad = "click here buy now cheap deal offer"
    val docs = ((1 to 60).map(i => (i.toLong, s"$good result$i method$i", "en", "s", 0L)) ++
      (61 to 120).map(i => (i.toLong, s"$bad spam$i promo$i", "en", "s", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vocab = QualityClassifier.clfVocab(docs).collect()
      .map(r => r.getString(0) -> r.getInt(5)).toMap
    // content words of each band carry that band's vote
    assert(vocab("analysis") == 1 && vocab("chapter") == 1, s"got $vocab")
    assert(vocab("click") == -1 && vocab("cheap") == -1, s"got $vocab")
    val scored = QualityClassifier.clfScore(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // every good doc keeps, every spam doc drops: full separation on
    // lexically-separable data
    (1 to 60).foreach(i => assert(scored(i.toLong), s"doc $i dropped"))
    (61 to 120).foreach(i => assert(!scored(i.toLong), s"doc $i kept"))
  }

  test("gap fill: hand-built sparse log densifies to zero-filled spans") {
    import spark.implicits._
    val day = 86400L
    def ts(d: Long, sec: Long = 0L) =
      new java.sql.Timestamp((d * day + sec) * 1000L)
    // u1 active day0 (x2) and day3 -> days 1,2 must appear as zeros;
    // u2 active only day5 -> a single row, no padding
    val fix = Seq(
      (1L, ts(0)), (1L, ts(0, 60)), (1L, ts(3)),
      (2L, ts(5))
    ).toDF("user_id", "ts")
    val got = operators.EventAnalytics.gapFillDaily(fix)
      .orderBy("user_id", "day_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, 0L, 2L), (1L, 1L, 0L), (1L, 2L, 0L), (1L, 3L, 1L),
      (2L, 5L, 1L)), got.mkString(","))
  }

  test("gap fill: sf events — spans dense, zeros only inside a user's span") {
    val df = operators.EventAnalytics.gapFillDaily(Tables.events(spark, sf))
    val byUser = df.groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("day_id").as("d0"), max("day_id").as("d1"),
        sum(when(col("n_events") === 0, 1).otherwise(0)).as("zeros"))
      .collect()
    byUser.foreach { r =>
      // densified: exactly one row per day of the closed span
      assert(r.getLong(1) == r.getLong(3) - r.getLong(2) + 1,
        s"user ${r.getLong(0)} span not dense: $r")
    }
    // endpoints are never zero rows by construction (min/max come from
    // observed activity)
    val endpoints = df.groupBy("user_id").agg(min("day_id").as("day_id"))
      .join(df, Seq("user_id", "day_id")).filter(col("n_events") === 0).count()
    assert(endpoints == 0L)
  }

  test("funnel: hand-built chains — ordering and window both enforced") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val fix = Seq(
      // u1 full conversion inside 1h: view@0, click@10, purchase@20
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      // u2 click BEFORE first view -> depth 1 (order matters)
      (2L, "click", ts(0)), (2L, "view", ts(10)),
      // u3 purchase outside the 1h anchor window -> depth 2
      (3L, "view", ts(0)), (3L, "click", ts(30)), (3L, "purchase", ts(4000)),
      // u4 never views -> depth 0
      (4L, "purchase", ts(0))
    ).toDF("user_id", "event_type", "ts")
    val got = operators.EventAnalytics.funnelSteps(fix)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "view", 3L), (2L, "click", 2L),
      (3L, "purchase", 1L)), got.mkString(","))
  }

  test("neighbor similarity: exact jaccard on a hand graph, hub capped") {
    import spark.implicits._
    // s1,s2 share {p1,p2} of union {p1,p2,p3,p4}: J = 2/4
    // hub part p9 touches everything but exceeds the fanout cap -> ignored
    val edges = Seq(
      ("s1", "p1"), ("s1", "p2"), ("s1", "p3"),
      ("s2", "p1"), ("s2", "p2"), ("s2", "p4"),
      ("s3", "p4"),
      ("s1", "p9"), ("s2", "p9"), ("s3", "p9"), ("s4", "p9")
    ).toDF("src", "dst")
    val got = operators.GraphAnalytics.neighborSimilarity(edges, topK = 5,
        maxFanout = 3)
      .collect().map(r => ((r.getString(0), r.getString(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    assert(got(("s1", "s2")) == (2L, 2L * 1000000L / 4L))
    // J(s2,s3) = 1 / (3 + 1 - 1) = 1/3
    assert(got(("s2", "s3")) == (1L, 1000000L / 3L))
    // s4 only touched the dropped hub -> absent entirely
    assert(!got.keys.exists { case (a, b) => a == "s4" || b == "s4" })
    // symmetric orientation present
    assert(got.contains(("s2", "s1")))
  }

  test("priority sample: exactly k rows, weight-biased, deterministic") {
    val docs = Tables.documents(spark, sf)
    val got = Sampling.prioritySample(docs, k = 50)
    assert(got.count() == 50)
    // weighted by n_chars: the sampled docs' mean length must exceed the
    // corpus mean (w/u ordering favors heavy rows at any fixed u draw)
    val sampleMean = got.join(docs, "doc_id").agg(avg("n_chars")).head.getDouble(0)
    val corpusMean = docs.agg(avg("n_chars")).head.getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample not length-biased: $sampleMean <= $corpusMean")
    // content-keyed: a rerun draws the identical set
    val again = Sampling.prioritySample(docs, k = 50)
    assert(got.select("doc_id").except(again.select("doc_id")).count() == 0)
  }

  test("source-lang lift: marginals conserved, ppm exact on a hand table") {
    import spark.implicits._
    // 2x2 with known association: n=100, source a = 60 (50 en / 10 de),
    // source b = 40 (10 en / 30 de)
    val docs = (
      (1 to 50).map(i => (i.toLong, "t", "en", "a", 1L)) ++
      (51 to 60).map(i => (i.toLong, "t", "de", "a", 1L)) ++
      (61 to 70).map(i => (i.toLong, "t", "en", "b", 1L)) ++
      (71 to 100).map(i => (i.toLong, "t", "de", "b", 1L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.CorpusStats.sourceLangLift(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // lift(a,en) = 50*100*1e6 / (60*60) = 1388888 (floor)
    assert(got(("a", "en")) == (50L, 50L * 100L * 1000000L / (60L * 60L)))
    assert(got(("b", "de")) == (30L, 30L * 100L * 1000000L / (40L * 40L)))
    // cell counts conserve the corpus
    assert(got.values.map(_._1).sum == 100L)
  }

  test("quality classifier: vocab is MinDf-thresholded and self-describing") {
    import spark.implicits._
    val docs = ((1 to 10).map(i => (i.toLong,
      "the the the is is it for on with as at by this that and or of to in a good text here now",
      "en", "s", 0L)) :+ (11L, "rare_token_once the is it for on with as at by", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val v = QualityClassifier.clfVocab(docs)
    // a token in fewer than MinDf labeled docs never enters the model
    assert(v.filter(col("tok") === "rare_token_once").count() == 0)
    // totals ride on every row and are consistent
    val rows = v.select("n_pos", "n_neg").distinct().collect()
    assert(rows.length == 1)
  }
}
