package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.StreamRun

/** The stream run seam ([[StreamRun.drain]]): the confs a run carries,
  * the caller's confs on every exit path, and the process starts a
  * replay's checkpoint I/O costs. */
class StreamRunSpec extends SparkSpec {

  private val PartsKey = "spark.sql.shuffle.partitions"

  private def deleteTree(root: Path): Unit = {
    val w = Files.walk(root)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally w.close()
  }

  /** A two-file parquet source dir under a fresh temp root, passed with
    * the root to `body`; the root is removed afterwards. */
  private def withSource(body: (Path, DataFrame) => Unit): Unit = {
    val root = Files.createTempDirectory("graft_streamrun")
    try {
      val src = root.resolve("src")
      (0 until 2).foreach { i =>
        spark.range(i * 10L, i * 10L + 10).coalesce(1)
          .write.mode("append").parquet(src.toString)
      }
      val stream = spark.readStream.schema(spark.read.parquet(src.toString).schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString)
      body(root, stream)
    } finally deleteTree(root)
  }

  /** Runs `body` with the caller's confs set to values the seam never
    * uses, and checks that they read the same afterwards, whether `body`
    * returned or threw. */
  private def callerConfsKept(body: => Unit): Unit = {
    val prev = Seq(PartsKey, StreamRun.ManagerKey).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(PartsKey, "7")
    spark.conf.unset(StreamRun.ManagerKey)
    try {
      body
      assert(spark.conf.get(PartsKey) == "7")
      assert(spark.conf.getOption(StreamRun.ManagerKey).isEmpty,
        spark.conf.getOption(StreamRun.ManagerKey))
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a drained run carries the FS-based checkpoint manager; the caller's confs are kept") {
    withSource { (root, stream) =>
      callerConfsKept {
        // a micro-batch's session is the running query's clone of the
        // session conf (`StreamingQuery.sparkSession` is the caller's)
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
        val q = StreamRun.drain(spark, stream.writeStream
          .option("checkpointLocation", root.resolve("chk").toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val conf = batch.sparkSession.conf
            seen.add((conf.get(StreamRun.ManagerKey), conf.get(PartsKey), batch.count()))
            ()
          }, shufflePartitions = Some("3"))
        assert(seen.asScala.toSeq == Seq.fill(2)((StreamRun.FsManager, "3", 10L)),
          "every micro-batch runs under the seam's confs, one batch per file")
        assert(!q.isActive && q.exception.isEmpty)
        assert(StreamRun.lastMicroBatchCount.get() == 2L)
      }
    }
  }

  test("a start() that throws leaves the caller's confs as they were") {
    withSource { (_, stream) =>
      callerConfsKept {
        // a memory sink without a query name fails inside start()
        intercept[Exception](StreamRun.drain(spark, stream.writeStream.format("memory"),
          shufflePartitions = Some("3")))
      }
    }
  }

  test("a batch that throws surfaces from drain and leaves the caller's confs as they were") {
    withSource { (root, stream) =>
      callerConfsKept {
        val e = intercept[StreamingQueryException](StreamRun.drain(spark, stream.writeStream
          .option("checkpointLocation", root.resolve("chk").toString)
          .foreachBatch { (_: DataFrame, _: Long) =>
            throw new IllegalStateException("batch failed on purpose")
          }, shufflePartitions = Some("3")))
        assert(e.getMessage.contains("batch failed on purpose"), e.getMessage)
      }
    }
  }

  test("a replay forks no readlink from the checkpoint file manager") {
    // JFR in-process, no JVM flag: every process start with its stack.
    // Spark's default manager on file: paths forked ~200 readlink
    // processes per stream_dedup replay from its checkpoint renames.
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft_streamrun", ".jfr")
    try {
      rec.start()
      try {
        // a known fork proves the recording sees process starts at all
        new ProcessBuilder("true").start().waitFor()
        SparkEntry.queries("stream_dedup")(spark, sf).collect()
      } finally rec.stop()
      rec.dump(dump)
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      def underManager(e: jdk.jfr.consumer.RecordedEvent): Boolean =
        Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.contains("CheckpointFileManager")))
      val readlinks = starts.filter(underManager)
        .count(_.getString("command").split(' ').head.endsWith("readlink"))
      info(s"process starts in one stream_dedup replay: ${starts.length}, " +
        s"readlink under a CheckpointFileManager frame: $readlinks")
      assert(starts.exists(_.getString("command") == "true"), "JFR saw no process start")
      assert(readlinks == 0, s"$readlinks readlink forks from checkpoint renames")
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
