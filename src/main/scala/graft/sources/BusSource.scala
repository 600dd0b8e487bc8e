package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A real OFFSET-TRACKED streaming connector (DataSource V2
  * MicroBatchStream) — the Kafka-shaped capability the file-replay
  * harness cannot exercise: offsets are logical row positions, each
  * trigger admits `batchRows` more (SupportsAdmissionControl, the
  * Kafka/rate-source pattern), the engine persists them in its offset
  * log, and a restarted query RESUMES from the committed offset through
  * [[BusMicroBatchStream.deserializeOffset]] — exactly-once across
  * restarts, proven in BusSourceSpec with a file sink.
  *
  * The payload is a seeded synthetic event bus with BOUNDED OUT-OF-ORDER
  * event time: within each block of [[BusSource.Block]] consecutive rows,
  * arrival order is a fixed permutation (pos * 7919 mod Block — a
  * bijection, 7919 prime > Block) of event-time order, so event times
  * arrive scrambled with lateness bounded by one block span while blocks
  * themselves advance — the disorder shape a partitioned bus delivers.
  * Every field is PURE INTEGER arithmetic on the row index, so DuckDB
  * replays the whole stream relationally (`range(n)`) and aggregation
  * queries over the bus carry full hash oracles ([[BusSource.oracleCte]]).
  *
  * The final two rows (one per trigger, enforced by the admission
  * control) are far-future watermark sentinels (user_id -1) — the staged
  * replay's flush discipline, generated here by the source itself.
  *
  * Row schema matches the events table, so every transform behind the
  * [[graft.streaming.EventStreams.EventSource]] seam runs on the bus
  * unchanged — that is the seam's claim made executable.
  */
object BusSource {
  val Block = 1000
  val Mult = 7919L // prime, > Block => (pos * Mult) % Block is a bijection
  /** Default lane (source-partition) count. Lanes are the Kafka-shaped
    * unit of offset tracking: global row i lives on lane i % lanes, and
    * the committed offset is a PER-LANE position vector. Must divide
    * [[Block]] so the skewed serving order (see [[frontier]]) never
    * interleaves permutation blocks — the lateness bound stays one block
    * span and every downstream watermark keeps covering it. */
  val DefaultLanes = 4

  /** Rows of lane l in a stream of `realRows`: ids i ≡ l (mod lanes). */
  def laneRows(realRows: Long, lanes: Int, l: Int): Long =
    if (realRows <= l) 0L else (realRows - l - 1) / lanes + 1

  /** The deterministic skewed serving frontier: per-lane positions after
    * T total rows served. Serving order is block-by-block (all of block g
    * before any of block g+1 — so cross-lane skew NEVER widens event-time
    * disorder past one block span), and within a block the HIGHEST lane
    * drains first: a mid-block restart therefore recovers lanes at
    * genuinely different positions, which is the Kafka-shaped recovery
    * case the offset vector exists for. */
  def frontier(t: Long, realRows: Long, lanes: Int): Array[Long] = {
    require(Block % lanes == 0, s"lanes=$lanes must divide Block=$Block")
    val pos = new Array[Long](lanes)
    val chunk = Block / lanes
    var remaining = math.min(t, realRows)
    var g = 0L
    while (remaining > 0) {
      var l = lanes - 1
      while (l >= 0 && remaining > 0) {
        val cap = math.max(0L,
          math.min(laneRows(realRows, lanes, l) - g * chunk, chunk.toLong))
        val take = math.min(cap, remaining)
        pos(l) += take
        remaining -= take
        l -= 1
      }
      g += 1
    }
    pos
  }
  val Epoch0Micros = 1704067200000000L // 2024-01-01T00:00:00Z
  val StepMicros = 1000000L // one event-time second per row
  val NTypes = 4
  val Types: Array[String] = Array("view", "click", "purchase", "error")

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** Event-time micros of row i: block-local permutation of the global
    * second grid. Rows >= realRows are the two far-future sentinels. */
  def tsMicros(i: Long, realRows: Long): Long =
    if (i >= realRows)
      Epoch0Micros + (realRows + 10L * Block + (i - realRows) * Block) * StepMicros
    else {
      val block = i / Block
      val pos = i % Block
      Epoch0Micros + (block * Block + (pos * Mult) % Block) * StepMicros
    }

  def userId(i: Long, realRows: Long, nUsers: Int): Long =
    if (i >= realRows) -1L else i % nUsers

  def eventType(i: Long, realRows: Long): String =
    if (i >= realRows) "__sentinel__" else Types((i % NTypes).toInt)

  def value(i: Long): Double = ((i * 37L) % 10000L) / 100.0

  /** DuckDB spelling of the REAL rows (sentinels excluded) — the oracle
    * prefix every bus query builds on. Column names match the events
    * schema. */
  def oracleCte(realRows: Long, nUsers: Int): String =
    s"""bus AS (
       |  SELECT i AS event_id,
       |    $Epoch0Micros + ((i // $Block) * $Block
       |      + ((i % $Block) * $Mult) % $Block) * $StepMicros AS ts_micros,
       |    i % $nUsers AS user_id,
       |    CASE (i % $NTypes) WHEN 0 THEN 'view' WHEN 1 THEN 'click'
       |      WHEN 2 THEN 'purchase' ELSE 'error' END AS event_type,
       |    ((i * 37) % 10000) / 100.0 AS value
       |  FROM range(0, $realRows) t(i)
       |)""".stripMargin
}

/** `spark.readStream.format(classOf[BusSource].getName)` entry point.
  * Options: rows (real rows), users, batchrows (admission per trigger),
  * lanes (source partitions — the Kafka-shaped unit of offset tracking
  * AND reader parallelism; must divide [[BusSource.Block]]). */
class BusSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BusSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BusTable(properties.asScala.toMap)
}

final class BusTable(props: Map[String, String]) extends Table with SupportsRead {
  private def longOpt(k: String, d: Long) = props.get(k).map(_.toLong).getOrElse(d)
  override def name(): String = "graft_bus"
  override def schema(): StructType = BusSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BusSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new BusMicroBatchStream(
            realRows = longOpt("rows", 100000L),
            nUsers = longOpt("users", 64L).toInt,
            batchRows = longOpt("batchrows", 25000L),
            lanes = longOpt("lanes", BusSource.DefaultLanes.toLong).toInt)
      }
    }
}

/** The committed offset is a PER-LANE position vector plus a sentinel
  * counter — the Kafka shape ({topicPartition -> offset}), serialized as
  * `p0,p1,...,pk|sent`. Base-class equality compares the json, so two
  * offsets are equal iff every lane position and the sentinel count
  * agree. */
final class BusOffset(val lanePos: Array[Long], val sent: Int) extends Offset {
  def served: Long = lanePos.sum
  override def json(): String = lanePos.mkString(",") + "|" + sent
}

object BusOffset {
  def zero(lanes: Int): BusOffset = new BusOffset(new Array[Long](lanes), 0)

  /** Parse a committed offset, failing DESCRIPTIVELY on foreign shapes.
    * A checkpoint written by an older scalar-offset build (`"12345"`) or
    * with a different lane count must name the expected
    * `p0,...,pk|sent` format instead of dying with a MatchError —
    * that's the difference between "reconfigure your lanes" and a
    * stack-trace hunt at restart time (ADVICE r10). `expectedLanes < 0`
    * skips the lane-count check (shape-only validation). */
  def parse(json: String, expectedLanes: Int = -1): BusOffset = {
    val parts = json.trim.split('|')
    if (parts.length != 2)
      throw new IllegalArgumentException(
        s"BusOffset: expected 'p0,...,pk|sent' (per-lane positions + " +
          s"sentinel count), got '$json' — a scalar offset from an old " +
          "checkpoint is not resumable; clear the checkpoint directory")
    val vec =
      try parts(0).split(',').map(_.trim.toLong)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"BusOffset: non-numeric lane position in '${parts(0)}' — " +
            "expected 'p0,...,pk|sent'")
      }
    val sent =
      try parts(1).trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"BusOffset: non-numeric sentinel count '${parts(1)}' — " +
            "expected 'p0,...,pk|sent'")
      }
    if (expectedLanes >= 0 && vec.length != expectedLanes)
      throw new IllegalArgumentException(
        s"BusOffset: checkpoint has ${vec.length} lanes but the source " +
          s"is configured with $expectedLanes — lane count cannot change " +
          "across restart; clear the checkpoint or restore lanes=" +
          vec.length)
    new BusOffset(vec, sent)
  }
}

/** Admission control serves `batchRows` more rows per trigger along the
  * deterministic skewed frontier ([[BusSource.frontier]] — block-ordered,
  * highest lane drains first within a block, so lanes genuinely sit at
  * DIFFERENT positions at every mid-block boundary), then exactly ONE
  * sentinel row per trigger (each sentinel must be its own micro-batch:
  * the watermark a batch observes comes from the PREVIOUS batch, so
  * sentinel 2's batch is what flushes state under sentinel 1's far-future
  * watermark). Each batch plans ONE InputPartition PER LANE with
  * unserved rows — a skewed backlog drains in parallel exactly like
  * Kafka partitions, and a restart resumes every lane from its own
  * committed position. The bus is finite, so everything is available
  * from the start: under `Trigger.AvailableNow` the engine keeps asking
  * with the default read limit, and the batches are the same as under
  * the default trigger. */
final class BusMicroBatchStream(realRows: Long, nUsers: Int, batchRows: Long,
    lanes: Int) extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(BusSource.Block % lanes == 0,
    s"lanes=$lanes must divide Block=${BusSource.Block} (the lateness bound)")

  override def initialOffset(): Offset = BusOffset.zero(lanes)
  override def deserializeOffset(json: String): Offset =
    BusOffset.parse(json, expectedLanes = lanes)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchRows)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "BusMicroBatchStream implements SupportsAdmissionControl; the " +
        "engine must call latestOffset(start, limit)")

  private def dataOffset(tEnd: Long, sent: Int): BusOffset =
    new BusOffset(BusSource.frontier(tEnd, realRows, lanes), sent)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[BusOffset]
    val t = s.served
    // honor the ENGINE-SUPPLIED limit (the SupportsAdmissionControl
    // contract): ignoring it in favor of the captured batchRows would
    // under-admit. Sentinels still go one per trigger regardless of the
    // cap (they are watermark advancement, not data).
    limit match {
      case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable =>
        // "everything available now" (Trigger.Once) includes the
        // self-generated sentinels: stopping at realRows would strand them
        dataOffset(realRows, 2)
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        if (t < realRows)
          dataOffset(math.min(saturatingAdd(t, rl.maxRows()), realRows), s.sent)
        else dataOffset(realRows, math.min(s.sent + 1, 2))
      case _ =>
        if (t < realRows)
          dataOffset(math.min(t + batchRows, realRows), s.sent)
        else dataOffset(realRows, math.min(s.sent + 1, 2))
    }
  }

  private def saturatingAdd(a: Long, b: Long): Long =
    if (a > Long.MaxValue - b) Long.MaxValue else a + b

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BusOffset]
    val e = end.asInstanceOf[BusOffset]
    // one partition per lane with unserved rows: a skewed frontier (lanes
    // at different positions after a mid-block stop) yields >= 2 CONCURRENT
    // tasks, each resuming its own lane — never a single serialized range
    val laneParts: Seq[InputPartition] = (0 until lanes).flatMap { l =>
      if (s.lanePos(l) < e.lanePos(l))
        Some(BusLanePartition(l, lanes, s.lanePos(l), e.lanePos(l),
          realRows, nUsers))
      else None
    }
    val sentinelParts: Seq[InputPartition] =
      if (e.sent > s.sent)
        Seq(BusSentinelPartition(realRows + s.sent, realRows + e.sent, realRows))
      else Nil
    (laneParts ++ sentinelParts).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        partition match {
          case lp: BusLanePartition =>
            new BusRangeReader(lp.lane + lp.from * lp.lanes,
              lp.lane + lp.to * lp.lanes, lp.lanes.toLong, lp.realRows, lp.nUsers)
          case sp: BusSentinelPartition =>
            new BusRangeReader(sp.start, sp.end, 1L, sp.realRows, 64)
        }
    }
}

/** Lane-local positions [from, to) of lane `lane`: global row ids
  * lane + j*lanes — exactly the Kafka (partition, offset-range) block. */
final case class BusLanePartition(lane: Int, lanes: Int, from: Long, to: Long,
    realRows: Long, nUsers: Int) extends InputPartition

final case class BusSentinelPartition(start: Long, end: Long,
    realRows: Long) extends InputPartition

/** Strided global-id reader: ids start, start+step, ... (< end). */
final class BusRangeReader(start: Long, end: Long, step: Long,
    realRows: Long, nUsers: Int) extends PartitionReader[InternalRow] {
  private var i = start - step
  private val props = UTF8String.fromString("{}")
  override def next(): Boolean = { i += step; i < end }
  override def get(): InternalRow = new GenericInternalRow(Array[Any](
    i,
    BusSource.tsMicros(i, realRows),
    BusSource.userId(i, realRows, nUsers),
    UTF8String.fromString(BusSource.eventType(i, realRows)),
    BusSource.value(i),
    props))
  override def close(): Unit = ()
}
