package graft.streaming

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one place a stream query in `streaming/` starts, runs to the end
  * of its input and stops. Every replay and every `foreachBatch` run
  * hands its configured writer (sink, output mode, checkpoint location,
  * batch body) to [[drain]]; the staged `foreachBatch` runs over parquet
  * files build theirs with [[eachFile]]. [[drain]] owns the rest:
  *
  *  - **Session confs.** Set before `start()`, because the query clones
  *    the session conf there, and restored on every path: after the run,
  *    after a `start()` that throws and after a batch that throws. The
  *    checkpoint file manager is always set; the shuffle partitions only
  *    when the caller passes them (the replays' state layout,
  *    [[EventStreams]]' `StateParts`).
  *  - **One stop order.** Every file and bus source here knows where its
  *    input ends, so the query runs under `Trigger.AvailableNow` and ends
  *    by itself; `awaitTermination()` waits for that. `stop()` runs only
  *    when the query is still active after an interrupt: stopping a live
  *    query cancels its job group twice and logs "Failed to cancel job
  *    group" each time.
  *  - **Progress.** The finished query's `recentProgress` fills
  *    [[lastStateRowsPeak]], [[lastStateRowsFinal]] and
  *    [[lastMicroBatchCount]].
  *  - **Failures.** A batch that throws fails the query, and
  *    `awaitTermination()` rethrows it as a `StreamingQueryException`.
  *
  * **The checkpoint file manager.** On `file:` paths Spark defaults to
  * `FileContextBasedCheckpointFileManager`. Without the native Hadoop
  * library, its `RawLocalFileSystem` forks a `readlink` process for every
  * checkpoint rename and a `chmod` process for every file it creates, and
  * each state-store commit waits for those forks. On sf0.1 replays of
  * `stream_dedup`, `stream_asof` and `stream_sessionize` (`local[4]`, JFR
  * `jdk.ProcessStart`), that was 260 process starts per replay (197 of
  * them `readlink`) and a median state commit of 415 ms per micro-batch.
  * `FileSystemBasedCheckpointFileManager` renames through
  * `FileSystem.rename` and forks no `readlink`: 62 process starts per
  * replay, state commit 31 ms (the phase table is at
  * [[EventStreams]]' `StateParts`). Spark 4.1's checkpoint checksums
  * stay on. This manager detects an existing destination by check-then-rename,
  * which is not atomic against a second writer. Every checkpoint drained
  * here has one writer: Spark's per-query temp dir; a dir inside a staged
  * asset, which [[graft.Assets.staged]] builds under an in-JVM lock and a
  * file lock; or an app's `--out` dir, which one process owns (Spark
  * requires one writer per checkpoint anyway).
  */
object StreamRun {

  private[graft] val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private[graft] val FsManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Peak stateful-operator row count of the last drained run (-1 if the
    * query was stateless): lets StreamingSpec assert that a state-store
    * configuration actually carried state. */
  private[graft] val lastStateRowsPeak = new AtomicLong(-1L)

  /** Stateful-operator row count after the last micro-batch of the last
    * drained run (-1 if stateless). On the staged replays the final
    * sentinel pushes the watermark past every real row, so working
    * eviction leaves ~0 rows here while a broken watermark leaves the
    * whole corpus: the invariant the peak cannot see on a short replay
    * where everything legitimately buffers before the flush. */
  private[graft] val lastStateRowsFinal = new AtomicLong(-1L)

  /** Micro-batches with input rows in the last drained run: a
    * deterministic function of the staged replay (files + sentinels), so
    * a gate on it catches trigger or staging drift that seconds cannot. */
  private[graft] val lastMicroBatchCount = new AtomicLong(-1L)

  /** Start `writer`'s query, run it until its input is consumed and
    * return the terminated query. `shufflePartitions`, when given, is the
    * run's state-partition count. */
  def drain(spark: SparkSession, writer: DataStreamWriter[_],
      shufflePartitions: Option[String] = None): StreamingQuery = {
    val confs = (ManagerKey -> FsManager) +:
      shufflePartitions.map("spark.sql.shuffle.partitions" -> _).toSeq
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally if (q.isActive) { q.stop(); q.awaitTermination() }
      val progress = q.recentProgress
      val rows = progress.flatMap(_.stateOperators).map(_.numRowsTotal)
      lastStateRowsPeak.set(if (rows.isEmpty) -1L else rows.max)
      val fin = progress.lastOption.toSeq.flatMap(_.stateOperators).map(_.numRowsTotal)
      lastStateRowsFinal.set(if (fin.isEmpty) -1L else fin.sum)
      lastMicroBatchCount.set(progress.count(_.numInputRows > 0).toLong)
      q
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** [[drain]] the parquet files under `src` through `body`, one
    * micro-batch per file in modification-time order, checkpointed at
    * `chk`: the staged `foreachBatch` runs' shared source. */
  def eachFile(spark: SparkSession, schema: StructType, src: Path, chk: Path)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    drain(spark, spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(src.toString).writeStream.option("checkpointLocation", chk.toString)
      .foreachBatch(body))
}
