package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.operators.ModelStaging

class ModelStagingSpec extends SparkSpec {

  /** Calls `memo` twice on `df` under a tag unique to this run (a commit
    * from an earlier run must not hide the first build); returns the
    * number of builds and the model asset counters' change. */
  private def twice(df: DataFrame): (Int, Assets.Stats) = {
    val tag = s"spec:${System.nanoTime()}"
    val before = Assets.snapshot.getOrElse("model", Assets.Stats())
    var builds = 0
    (1 to 2).foreach { _ =>
      val got = ModelStaging.memo(df, tag) { builds += 1; Array(1L, 2L, 3L) }
      assert(got.toSeq == Seq(1L, 2L, 3L))
    }
    val after = Assets.snapshot.getOrElse("model", Assets.Stats())
    (builds, Assets.Stats(after.hits - before.hits, after.builds - before.builds))
  }

  test("memo: a file-backed frame builds once and hits on the second call") {
    val (builds, moved) = twice(Tables.embeddings(spark, sf).select("vec_id"))
    assert(builds == 1)
    assert(moved.builds == 1 && moved.hits == 1, moved)
  }

  test("memo: an in-memory frame trains fresh on every call") {
    val (builds, moved) = twice(spark.range(10).toDF("x"))
    assert(builds == 2)
    assert(moved.builds == 0 && moved.hits == 0, moved)
  }

  test("memo: a fixture path containing a space memoizes without throwing") {
    val dir = Files.createTempDirectory("graft model staging").resolve("with space")
    spark.range(5).toDF("x").write.parquet(dir.toString)
    val (builds, moved) = twice(spark.read.parquet(dir.toString))
    assert(builds == 1)
    assert(moved.builds == 1 && moved.hits == 1, moved)
  }
}
