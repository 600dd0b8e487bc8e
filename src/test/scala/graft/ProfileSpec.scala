package graft

import scala.collection.mutable

class ProfileSpec extends SparkSpec {

  test("Profile runs registered batch and stream queries and attributes their jobs") {
    val lines = mutable.ArrayBuffer.empty[String]
    tools.Profile.run(spark, sf, Seq("q1_agg", "stream_sessionize"), runs = 1,
      plan = false)(lines += _)
    lines.foreach(l => info(l))
    // the lines of one query's run: its header up to the next header
    def run(q: String): Seq[String] =
      lines.dropWhile(!_.startsWith(s"[profile] $q run 1:")).toSeq match {
        case h +: rest => h +: rest.takeWhile(!_.matches("\\[profile\\] \\S+ run .*"))
        case _ => fail(s"no run of $q in:\n${lines.mkString("\n")}")
      }
    def jobs(q: String) = run(q).filter(_.startsWith("[profile]   job "))
    val site = "(\\w+\\.scala):\\d+".r
    def sites(q: String) = jobs(q).flatMap(l => site.findFirstMatchIn(l).map(_.group(1)))

    assert(jobs("q1_agg").nonEmpty)
    // AQE's query-stage jobs carry the action's site, not a pool thread's
    assert(sites("q1_agg").length == jobs("q1_agg").length,
      jobs("q1_agg").mkString("\n"))
    assert(sites("q1_agg").contains("Profile.scala"))

    val stream = run("stream_sessionize")
    assert(stream.count(_.startsWith("[profile]   batch ")) >= 2, stream.mkString("\n"))
    assert(jobs("stream_sessionize").exists(l =>
      l.endsWith("[stream]") && l.contains("EventStreams.scala:")),
      stream.mkString("\n"))
    // the replay's source dir is a staged asset: its kind is counted
    assert(stream.exists(l => l.startsWith("[profile]   assets:") &&
      l.contains("events hits=")), stream.mkString("\n"))
  }

  test("a repeat q1_agg build reads its table schema from the memo tier: no inference job") {
    val lines = mutable.ArrayBuffer.empty[String]
    tools.Profile.run(spark, sf, Seq("q1_agg"), runs = 2, plan = false)(lines += _)
    val second = lines.dropWhile(!_.startsWith("[profile] q1_agg run 2:")).toSeq
    assert(second.nonEmpty, lines.mkString("\n"))
    assert(second.exists(_.startsWith("[profile]   job ")), second.mkString("\n"))
    assert(!second.exists(l => l.startsWith("[profile]   job ") &&
      l.contains("parquet at Tables.scala")), second.mkString("\n"))
  }

  test("JobProbe counts exactly the jobs of a one-action body") {
    val p = metrics.JobProbe.measure(spark)(spark.range(100).collect())
    assert(p.result.length == 100)
    assert(p.jobs == 1, p.jobRows.mkString("\n"))
    assert(p.jobRows.map(_.callSite) == Seq(p.jobRows.head.callSite))
    assert(p.jobRows.head.callSite.contains("ProfileSpec.scala"))
    assert(p.jobRows.head.engineFrames.head.startsWith("ProfileSpec.scala:"),
      p.jobRows.head.engineFrames)
  }
}
