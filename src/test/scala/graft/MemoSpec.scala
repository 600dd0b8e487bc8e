package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.queries.{GraphQueries, PipelineQueries, TransEQueries}

/** The in-JVM memo tier ([[Assets.memo]]) across sessions: a frame-holding
  * entry is bound to the session that asks for it, a frame-free one
  * serves every session, and a replaced entry releases its frames. */
class MemoSpec extends SparkSpec {

  private def builds(kind: String): Long =
    Assets.snapshot.getOrElse(kind, Assets.Stats()).builds

  /** Every memoized frame kind, requested from `s`: (kind, frames). */
  private def frameKinds(s: SparkSession): Seq[(String, Seq[Dataset[_]])] = {
    val (enc, ents, labs, _, _) = TransEQueries.encodedKg(s, sf)
    val (oldEnts, oldLabs) = TransEQueries.standingDicts(s, sf)
    Seq(
      "kgEdges" -> Seq(GraphQueries.kgEdges(s, sf)),
      "kgDegreeLayout" -> Seq(GraphQueries.kgDegreeLayout(s, sf)),
      "kgUndirectedLayout" -> Seq(GraphQueries.kgUndirectedLayout(s, sf)),
      "kgCanonicalEdges" -> Seq(GraphQueries.kgCanonicalEdges(s, sf)),
      "kgComponentPairs" -> Seq(GraphQueries.kgComponentPairs(s, sf)),
      "kgPairLayout" -> Seq(GraphQueries.kgPairLayout(s, sf)),
      "coPartEdges" -> Seq(GraphQueries.coPartEdges(s, sf)),
      "coPartOrientedLayout" -> Seq(GraphQueries.coPartOrientedLayout(s, sf)),
      "coPartDoubledLayout" -> Seq(GraphQueries.coPartDoubledLayout(s, sf)),
      "kgEncoded" -> Seq(enc, ents, labs),
      "kgStandingDicts" -> Seq(oldEnts, oldLabs),
      "kgArrivals" -> Seq(TransEQueries.arrivingSlice(s, sf)),
      "kgFit" -> Seq(TransEQueries.memoFit(s, sf, partitioned = false)._2,
        TransEQueries.memoFit(s, sf, partitioned = true)._2),
      "minhashPairs" -> Seq(PipelineQueries.minhashPairs(s, sf)),
      "dupSpanTally" -> Seq(PipelineQueries.dupSpanTally(s, sf)),
      "clfEnriched" -> Seq(PipelineQueries.clfEnriched(s, sf)))
  }

  /** Every frame-free kind, requested from `s`. */
  private def freeKinds(s: SparkSession): Seq[String] = {
    PipelineQueries.bpeMerges(s, sf)
    streaming.EventStreams.oooLatenessBounds(s, sf, slices = 6)
    Tables.orders(s, sf)
    operators.ModelStaging.memo(Tables.embeddings(s, sf).select("vec_id"), "memo-spec")(
      Array(1L, 2L))
    Seq("bpeMerges", "oooBounds", "tableSchema", "modelLoaded")
  }

  test("every memoized frame requested from a new session is bound to that session") {
    frameKinds(spark)
    val s2 = spark.newSession()
    val wrong = for {
      (kind, frames) <- frameKinds(s2)
      f <- frames
      if !(f.sparkSession eq s2)
    } yield kind
    assert(wrong.isEmpty, s"bound to another session: ${wrong.distinct.mkString(", ")}")
  }

  test("a frame-free entry serves every session without a rebuild") {
    val kinds = freeKinds(spark)
    val before = kinds.map(builds)
    freeKinds(spark.newSession())
    assert(kinds.map(builds) == before, kinds)
  }

  test("a table's schema entry does not depend on an events read in the session") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_sf")
    val region = dir.resolve("region.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/region.parquet"), region)
    try {
      val (plain, withEvents) = (spark.newSession(), spark.newSession())
      Tables.events(withEvents, sf) // turns nanosAsLong on for that session only
      val before = builds("tableSchema")
      Tables.region(plain, dir.toString)
      Tables.region(withEvents, dir.toString)
      assert(builds("tableSchema") == before + 1)
    } finally {
      java.nio.file.Files.delete(region)
      java.nio.file.Files.delete(dir)
    }
  }

  test("a fit replaced for another session releases its held-out split") {
    val (_, oldTest) = TransEQueries.fitted(spark, sf)
    assert(oldTest.storageLevel != StorageLevel.NONE)
    TransEQueries.fitted(spark.newSession(), sf)
    assert(oldTest.storageLevel == StorageLevel.NONE)
  }
}
