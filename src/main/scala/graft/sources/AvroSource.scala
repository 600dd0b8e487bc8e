package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/** Avro source/sink built from scratch on the avro CORE library — the one
  * mainstream landing format with no reader in the Spark distribution
  * shipped here (the `spark-avro` datasource module is an external
  * artifact; only `avro-1.12.x` core is on the classpath). Row-major and
  * self-describing: the writer embeds the schema in every container file,
  * the reader maps it back to Spark types — like ORC, an explicit read
  * schema is a CHECK, not a parse instruction.
  *
  * Reader: a DataSource V2 `TableProvider` (the [[BusSource]] pattern,
  * batch-side) — one `InputPartition` per container file (Avro splits on
  * sync markers only within a file; file granularity is the natural unit
  * at 128 MB-ish files), each `PartitionReader` streaming GenericRecords
  * straight into `InternalRow`s. COLUMN PRUNING pushes down as a pruned
  * avro reader schema (round 10): Avro is row-major so a narrow read
  * saves zero IO, but the schema resolver then SKIPS non-required fields
  * at decode time (no string/array materialization) — the per-field
  * deserialization CPU, which IS the row-major scan cost, tracks the
  * projection. Plan-asserted in SourcesSpec.
  *
  * Writer: distributed `foreachPartition` — each task encodes its
  * partition into `part-NNNNN.avro` with deflate compression. This is the
  * fixture/staging sink (local filesystem; the staged twins commit
  * through [[graft.Assets]]); a production table write would layer the
  * [[graft.operators.VersionedTable]] commit protocol on top, exactly as
  * the parquet sinks do.
  *
  * Supported types (both directions): LONG, INT, STRING, DOUBLE, FLOAT,
  * BOOLEAN, BYTES, plus the LOGICAL types a landing format meets first
  * (round 10, VERDICT r9 #3): TIMESTAMP as long + timestamp-micros (the
  * events table's `ts`), DATE as int + date, DECIMAL(p,s) as bytes +
  * decimal — plus ARRAY(T) and nested STRUCT records, mapped recursively
  * (the embeddings table's array<float>; event payloads with typed
  * sub-objects), plus string-keyed MAP(T) (avro maps are string-keyed by
  * spec — the tag/property-bag shape), each optionally nullable via
  * UNION(null, T). READ-side interop for foreign producers (the writer
  * emits only the Spark-type subset): ENUM as string, FIXED as binary
  * (or decimal when annotated), non-nullable and multi-branch UNIONs
  * ([int,long] widens to bigint, [float,double] to double, anything
  * else becomes a one-of memberN struct — the de-facto public
  * convention), unrecognized logical annotations fall back to the
  * underlying type per the Avro spec, and any container codec the avro
  * core dispatches (deflate/snappy/null are writable too, round 11).
  * The memberN mapping is BIDIRECTIONAL since r12: the sink writes a
  * memberN one-of struct back as a true multi-branch Avro UNION
  * (nullable wrap flattened per the no-nested-unions rule), so a
  * foreign union survives a read-transform-write cycle as a union, not
  * as a graft-private record shape.
  */
object AvroSource {

  // ------------------------------------------------------- schema mapping
  /** Non-null Avro schema of a Spark type (nullability wraps at the use
    * site — field level or array-element level — as UNION(null, T)).
    * `path` uniquifies nested record names (Avro requires distinct names
    * per schema document). */
  private def avroTypeOf(dt: DataType, path: String): Schema = dt match {
    case LongType    => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case StringType  => Schema.create(Schema.Type.STRING)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    // logical types: annotated primitives, readable by any avro
    // consumer (spec §Logical Types) — micros matches Spark's own
    // internal timestamp/date representation, so the reader is a
    // passthrough
    case TimestampType => org.apache.avro.LogicalTypes.timestampMicros()
      .addToSchema(Schema.create(Schema.Type.LONG))
    case DateType => org.apache.avro.LogicalTypes.date()
      .addToSchema(Schema.create(Schema.Type.INT))
    case d: DecimalType => org.apache.avro.LogicalTypes
      .decimal(d.precision, d.scale)
      .addToSchema(Schema.create(Schema.Type.BYTES))
    // arrays recurse (the embeddings table's array<float> is the
    // landing-format case); element nullability via UNION like fields
    case ArrayType(et, containsNull) =>
      val elem = avroTypeOf(et, s"${path}_elem")
      Schema.createArray(if (containsNull) nullableUnion(elem) else elem)
    // nested records: the remaining landing-format shape (event payloads
    // with typed sub-objects); names path-derived for uniqueness. A
    // memberN one-of struct writes as a true Avro UNION — the inverse of
    // the read-side mapping, so foreign unions ROUND-TRIP through the
    // sink (r12; the numeric widenings [int,long]->bigint stay one-way,
    // the data is preserved at the wider type)
    case st: StructType => oneOfBranches(st) match {
      case Some(branches) =>
        Schema.createUnion(branches.zipWithIndex.map { case (b, i) =>
          avroTypeOf(b, s"${path}_member$i")
        }.asJava)
      case None => toAvroSchema(st, path)
    }
    // maps: avro maps are string-keyed by spec — exactly the Spark
    // map<string, T> that tag/property bags land as
    case MapType(StringType, vt, valueContainsNull) =>
      val value = avroTypeOf(vt, s"${path}_value")
      Schema.createMap(
        if (valueContainsNull) nullableUnion(value) else value)
    case MapType(kt, _, _) => throw new IllegalArgumentException(
      s"avro sink: map keys must be STRING (avro spec), got $kt")
    case other => throw new IllegalArgumentException(
      s"avro sink: unsupported Spark type $other")
  }

  /** The one-of convention (shared with [[toSparkType]]'s union read
    * mapping): a struct whose fields are exactly member0..memberN in
    * order, N >= 1, is the Spark carrier of a multi-branch Avro union. */
  private[sources] def oneOfBranches(st: StructType): Option[Seq[DataType]] =
    if (st.length >= 2 && st.fields.zipWithIndex.forall {
        case (f, i) => f.name == s"member$i" })
      Some(st.fields.map(_.dataType).toSeq)
    else None

  /** Nullable wrap at the use site; FLATTENS when the base is already a
    * union (Avro forbids nested unions — a nullable one-of field is
    * UNION(null, b0, b1, ...), not UNION(null, UNION(...))). */
  private def nullableUnion(base: Schema): Schema =
    if (base.getType == Schema.Type.UNION)
      Schema.createUnion(
        (Schema.create(Schema.Type.NULL) +: base.getTypes.asScala.toSeq).asJava)
    else Schema.createUnion(Schema.create(Schema.Type.NULL), base)

  def toAvroSchema(schema: StructType, name: String = "row"): Schema = {
    var fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foreach { f =>
      val base = try avroTypeOf(f.dataType, s"${name}_${f.name}") catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"${e.getMessage} for field ${f.name}")
      }
      fields =
        if (f.nullable)
          fields.name(f.name).`type`(nullableUnion(base)).withDefault(null)
        else fields.name(f.name).`type`(base).noDefault()
    }
    fields.endRecord()
  }

  def toSparkType(s: Schema): (DataType, Boolean) = (s.getType, s.getLogicalType) match {
    case (Schema.Type.LONG, _: org.apache.avro.LogicalTypes.TimestampMicros) =>
      (TimestampType, false)
    case (Schema.Type.INT, _: org.apache.avro.LogicalTypes.Date) =>
      (DateType, false)
    case (Schema.Type.BYTES, d: org.apache.avro.LogicalTypes.Decimal) =>
      (DecimalType(d.getPrecision, d.getScale), false)
    case (Schema.Type.FIXED, d: org.apache.avro.LogicalTypes.Decimal) =>
      (DecimalType(d.getPrecision, d.getScale), false)
    // Any OTHER logical annotation (timestamp-millis, uuid,
    // local-timestamp-*, time-*, duration, …): the Avro spec says readers
    // that don't recognize a logical type must IGNORE it and use the
    // underlying type — rejecting the file would block exactly the
    // foreign-producer interop ENUM/FIXED exist for (ADVICE r10). Fall
    // through to the primitive cases below.
    case (Schema.Type.LONG, _)    => (LongType, false)
    case (Schema.Type.INT, _)     => (IntegerType, false)
    case (Schema.Type.STRING, _)  => (StringType, false)
    case (Schema.Type.DOUBLE, _)  => (DoubleType, false)
    case (Schema.Type.FLOAT, _)   => (FloatType, false)
    case (Schema.Type.BOOLEAN, _) => (BooleanType, false)
    case (Schema.Type.BYTES, _)   => (BinaryType, false)
    case (Schema.Type.ARRAY, _) =>
      val (elemDt, elemNullable) = toSparkType(s.getElementType)
      (ArrayType(elemDt, elemNullable), false)
    case (Schema.Type.RECORD, _) => (toStructType(s), false)
    // READ-side interop for shapes our writer never emits: foreign
    // producers use ENUM for closed string sets and FIXED for
    // constant-width blobs (and decimal above) — map them to the Spark
    // types any consumer expects; the writer keeps emitting the plain
    // Spark-type subset
    case (Schema.Type.ENUM, _)  => (StringType, false)
    case (Schema.Type.FIXED, _) => (BinaryType, false)
    case (Schema.Type.MAP, _) =>
      val (valueDt, valueNullable) = toSparkType(s.getValueType)
      (MapType(StringType, valueDt, valueNullable), false)
    case (Schema.Type.UNION, _) =>
      // READ-side union mapping beyond UNION(null, T) — the next shape a
      // foreign producer emits (r10 #5). Follows the de-facto public
      // convention (spark-avro): numeric widenings collapse to the wider
      // type; anything else becomes a struct with one nullable memberN
      // field per non-null branch, exactly one of which is set per row.
      val branches = s.getTypes.asScala
      val hasNull = branches.exists(_.getType == Schema.Type.NULL)
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(nonNull.nonEmpty, s"avro source: union of only null: $s")
      val kinds = nonNull.map(_.getType).toSet
      val dt: DataType =
        if (nonNull.size == 1) toSparkType(nonNull.head)._1
        else if (kinds == Set(Schema.Type.INT, Schema.Type.LONG)) LongType
        else if (kinds == Set(Schema.Type.FLOAT, Schema.Type.DOUBLE)) DoubleType
        else StructType(nonNull.zipWithIndex.map { case (b, i) =>
          StructField(s"member$i", toSparkType(b)._1, nullable = true)
        }.toSeq)
      (dt, hasNull)
    case (t, _) => throw new IllegalArgumentException(
      s"avro source: unsupported avro type $t")
  }

  def toStructType(record: Schema): StructType = {
    require(record.getType == Schema.Type.RECORD,
      s"avro source: top-level schema must be a record, got ${record.getType}")
    StructType(record.getFields.asScala.map { f =>
      val (dt, nullable) = toSparkType(f.schema())
      StructField(f.name(), dt, nullable)
    }.toSeq)
  }

  private[sources] def listAvroFiles(dir: String): Seq[File] = {
    val d = new File(dir)
    require(d.isDirectory, s"avro source: $dir is not a directory")
    d.listFiles().toSeq.filter(f => f.isFile && f.getName.endsWith(".avro"))
      .sortBy(_.getName)
  }

  /** MERGED schema of every container file in the directory — Avro is
    * self-describing like ORC, and a directory accumulated over a
    * producer's lifetime holds several schema GENERATIONS (the parquet
    * `mergeSchema` stance, applied to avro): additive evolution unions
    * the fields in first-seen order, a field absent from any generation
    * becomes NULLABLE (old files null-fill it at decode), and a TYPE
    * conflict on a shared name fails loudly — silent coercion would
    * corrupt, exactly the drift class ADVICE r9 #2 banned. Header-only
    * reads: the planning cost is one footer-sized read per file, same
    * as parquet's. */
  def readSchema(dir: String): StructType = {
    val files = listAvroFiles(dir)
    require(files.nonEmpty, s"avro source: no .avro files in $dir")
    val fileSchemas = files.map { f =>
      val r = new DataFileReader[GenericRecord](f,
        new GenericDatumReader[GenericRecord]())
      try (f.getName, toStructType(r.getSchema)) finally r.close()
    }
    mergeGenerations(fileSchemas)
  }

  /** First-seen field order; type conflicts loud; absence → nullable. */
  private[sources] def mergeGenerations(
      fileSchemas: Seq[(String, StructType)]): StructType = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    fileSchemas.foreach { case (name, st) =>
      st.fields.foreach { f =>
        order.get(f.name) match {
          case None => order += f.name -> f
          case Some(prev) =>
            require(prev.dataType == f.dataType,
              s"avro source: field ${f.name} is ${prev.dataType} in one " +
                s"generation and ${f.dataType} in $name — type conflict, " +
                "refusing to merge")
            if (f.nullable && !prev.nullable)
              order += f.name -> prev.copy(nullable = true)
        }
      }
    }
    StructType(order.values.toSeq.map { f =>
      // a field missing from ANY generation must be nullable: the old
      // files null-fill it
      if (fileSchemas.forall(_._2.fieldNames.contains(f.name))) f
      else f.copy(nullable = true)
    })
  }

  // ----------------------------------------------------------------- sink
  /** Distributed write of `df` as Avro container files under `dir`
    * (overwrite). Values are encoded generically from Row fields; the
    * Spark-to-Avro field order is the DataFrame schema's. */
  def write(df: DataFrame, dir: String): Unit = write(df, dir, "deflate")

  /** As [[write]] with an explicit container codec: "deflate" (default),
    * "snappy" (snappy-java rides on the Spark classpath), or "null"
    * (uncompressed). Reading needs nothing — `DataFileReader` dispatches
    * on the codec name in the container header. */
  def write(df: DataFrame, dir: String, codec: String): Unit = {
    val schema = df.schema
    // one-of invariant validated UP FRONT (ADVICE r12 #3): a memberN
    // struct row with 0 or 2+ members set used to abort a TASK deep in
    // the write — a data-dependent failure that leaves a half-written
    // dir. One column-pruned pass over just the union columns (cheap
    // relative to the full-row write pass) fails fast with row counts
    // per offending column instead. Trade-offs, deliberately: the
    // upstream lineage executes once more (only the SOURCE scan prunes;
    // callers with an expensive lineage should persist before the sink,
    // the usual Spark contract), and a NON-deterministic upstream could
    // pass validation yet produce a violating row in the write pass —
    // which the task-level require below still catches (the same
    // re-evaluation hazard task retries always had for such inputs).
    val oneOfCols = schema.fields.collect {
      case f if f.dataType.isInstanceOf[StructType] &&
        oneOfBranches(f.dataType.asInstanceOf[StructType]).isDefined => f
    }
    if (oneOfCols.nonEmpty) {
      import org.apache.spark.sql.functions.{col, count, lit, when}
      val checks = oneOfCols.map { f =>
        val st = f.dataType.asInstanceOf[StructType]
        val nSet = st.fields.map(m =>
          when(col(f.name).getField(m.name).isNotNull, 1).otherwise(0))
          .reduce(_ + _)
        count(when(col(f.name).isNotNull && nSet =!= 1, lit(1)))
      }
      val bad = df.agg(checks.head, checks.drop(1): _*).collect().head
      oneOfCols.zipWithIndex.foreach { case (f, i) =>
        require(bad.getLong(i) == 0L,
          s"avro sink: one-of column '${f.name}' has ${bad.getLong(i)} " +
            "row(s) with 0 or 2+ memberN fields set — a memberN-named " +
            "struct is the union carrier convention and must have exactly " +
            "one member per row")
      }
    }
    val avroJson = toAvroSchema(schema).toString // Schema isn't Serializable
    val d = Paths.get(dir)
    if (Files.exists(d)) { // overwrite: clear previous parts
      val s = Files.list(d)
      try s.iterator().asScala.toList.foreach(p => Files.deleteIfExists(p))
      finally s.close()
    }
    Files.createDirectories(d)
    df.rdd.mapPartitionsWithIndex { (idx, it) =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      // task-commit protocol (ADVICE r9 #4): encode into an attempt-
      // suffixed temp file and atomically rename on task success, so a
      // retried or speculative attempt can never leave a truncated
      // container under the final name
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val finalFile = new File(dir, f"part-$idx%05d.avro")
      val tmpFile = new File(dir, f"part-$idx%05d.avro.$attempt.tmp")
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSchema))
      w.setCodec(codec match {
        case "deflate" => org.apache.avro.file.CodecFactory.deflateCodec(6)
        case "snappy"  => org.apache.avro.file.CodecFactory.snappyCodec()
        case "null"    => org.apache.avro.file.CodecFactory.nullCodec()
        case other => throw new IllegalArgumentException(
          s"avro sink: unknown codec '$other' (deflate|snappy|null)")
      })
      w.create(avroSchema, tmpFile)
      var n = 0L
      try {
        it.foreach { row =>
          val rec = new GenericData.Record(avroSchema)
          var i = 0
          while (i < schema.length) {
            rec.put(i,
              if (row.isNullAt(i)) null
              else fromExternal(row.get(i), schema.fields(i).dataType,
                avroSchema.getFields.get(i).schema()))
            i += 1
          }
          w.append(rec)
          n += 1
        }
        w.close()
        Files.move(tmpFile.toPath, finalFile.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally { w.close(); Files.deleteIfExists(tmpFile.toPath) }
      Iterator.single(n)
    }.collect() // materialize the write; per-task row counts back
  }

  /** External (Row-side) value → Avro generic value, recursive so array
    * elements and nested-record fields reuse the scalar paths. `s` is the
    * value's Avro schema (possibly a nullable UNION — resolved here)
    * because nested `GenericData.Record`s must be built against their
    * exact schema node. */
  private def fromExternal(v: Any, dt: DataType, s: Schema): AnyRef =
    if (v == null) null
    else {
      val nonNull =
        if (s.getType == Schema.Type.UNION)
          s.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toSeq
        else Seq(s)
      // multi-branch union: the value is a one-of struct — encode its
      // single set member as that branch's value (the generic writer
      // resolves the branch from the JVM value / record name)
      if (nonNull.size > 1) {
        val st = dt.asInstanceOf[StructType]
        val row = v.asInstanceOf[Row]
        val set = (0 until st.length).filter(i => !row.isNullAt(i))
        require(set.size == 1, "avro sink: one-of struct must have exactly " +
          s"one memberN field set per row, got ${set.size} — a memberN-named " +
          "struct is the union carrier convention")
        return fromExternal(row.get(set.head), st.fields(set.head).dataType,
          nonNull(set.head))
      }
      val base = nonNull.head
      dt match {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType |
             StringType => v.asInstanceOf[AnyRef] // already the boxed/jvm form
        case BinaryType => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
        case TimestampType =>
          // external Row timestamps are java.sql.Timestamp; micros from the
          // floored epoch-second + the full sub-second nanos field (getTime
          // already contains the millis of getNanos — don't double-count)
          val t = v.asInstanceOf[java.sql.Timestamp]
          java.lang.Long.valueOf(
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
        case DateType =>
          java.lang.Integer.valueOf(
            v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt)
        case d: DecimalType =>
          // avro decimal = two's-complement unscaled bytes at the SCHEMA's
          // scale; setScale pins it so a rescaled JVM BigDecimal can't
          // silently shift the decimal point
          java.nio.ByteBuffer.wrap(v.asInstanceOf[java.math.BigDecimal]
            .setScale(d.scale).unscaledValue().toByteArray)
        case ArrayType(et, _) =>
          val seq = v.asInstanceOf[scala.collection.Seq[Any]]
          val out = new java.util.ArrayList[AnyRef](seq.length)
          seq.foreach(e => out.add(fromExternal(e, et, base.getElementType)))
          out
        case MapType(_, vt, _) =>
          val m = v.asInstanceOf[scala.collection.Map[String, Any]]
          val out = new java.util.HashMap[String, AnyRef](m.size * 2)
          m.foreach { case (k, mv) =>
            out.put(k, if (mv == null) null
              else fromExternal(mv, vt, base.getValueType))
          }
          out
        case st: StructType =>
          val row = v.asInstanceOf[Row]
          val rec = new GenericData.Record(base)
          var i = 0
          while (i < st.length) {
            rec.put(i,
              if (row.isNullAt(i)) null
              else fromExternal(row.get(i), st.fields(i).dataType,
                base.getFields.get(i).schema()))
            i += 1
          }
          rec
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    }

  // ------------------------------------------------- staged documents twin
  /** Write-once staging of the documents table as Avro, keyed by
    * (source path, mtime) like the ORC/JSONL/CSV twins. */
  private[graft] def stagedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("avro", Seq(Paths.get(sfDir, "documents.parquet")), "") { dir =>
      write(Tables.documents(spark, sfDir), dir.toString)
    }.toString

  /** Write-once Avro staging of the EVENTS table with the logical-type
    * columns a landing format actually carries: `ts` as timestamp-micros
    * and `amount` as decimal(12,2) (VERDICT r9 #3 — the reference-shaped
    * event-data gap). Keyed by (source path, mtime) like the documents
    * twin. */
  private[graft] def stagedEventsDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("avro_ev", Seq(Paths.get(sfDir, "events.parquet")), "") { dir =>
      write(Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value").cast("decimal(12,2)").as("amount")),
        dir.toString)
    }.toString

  /** Logical-type round trip: events → Avro (timestamp-micros + decimal
    * bytes) → scan → aggregate. Any micros truncation moves the min/max
    * timestamps; any unscaled-bytes slip moves the EXACT decimal sum. */
  def eventsRoundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format(classOf[AvroSource].getName)
      .load(stagedEventsDir(spark, sfDir))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("amount")).cast("double").as("sum_amount"),
        min(unix_micros(col("ts"))).as("min_ts_us"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
      .orderBy("event_type")

  /** DuckDB replay straight off the raw events table — the Avro encode/
    * decode must be invisible to the answer. Decimal sums are exact in
    * both engines, so the double cast at the END cannot mask drift. */
  def eventsRoundTripAggSql: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_amount,
      |  MIN(CAST(epoch_us(ts) AS BIGINT)) AS min_ts_us,
      |  MAX(CAST(epoch_us(ts) AS BIGINT)) AS max_ts_us
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Write-once Avro staging of the EMBEDDINGS table — the ARRAY-typed
    * landing case (vec_id, embedding array<float>, label). */
  private[graft] def stagedEmbeddingsDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("avro_emb", Seq(Paths.get(sfDir, "embeddings.parquet")), "") { dir =>
      write(Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"), col("label")), dir.toString)
    }.toString

  /** Array round trip: embeddings → Avro ARRAY(float) → scan → per-label
    * aggregate with a QUANTIZED element checksum. floor(x·2^20) on a
    * float promoted to double is exact in both engines (×2^20 is an
    * exponent shift), so any element lost, reordered into another row,
    * or altered by even one ULP moves the int64 sum — a full hash oracle
    * over the float payload without float summation anywhere. */
  def embeddingsRoundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format(classOf[AvroSource].getName)
      .load(stagedEmbeddingsDir(spark, sfDir))
      .groupBy(col("label").cast("long").as("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(size(col("embedding")).cast("long")).as("n_elems"),
        sum(expr("aggregate(embedding, CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"))
          .as("q_sum"),
        min(col("vec_id")).as("min_id"),
        max(col("vec_id")).as("max_id"))
      .orderBy("label")

  def embeddingsRoundTripAggSql: String =
    """SELECT CAST(label AS BIGINT) AS label,
      |  COUNT(*) AS n_vecs,
      |  CAST(SUM(len(embedding)) AS BIGINT) AS n_elems,
      |  CAST(SUM(list_sum(list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)))) AS BIGINT) AS q_sum,
      |  MIN(vec_id) AS min_id,
      |  MAX(vec_id) AS max_id
      |FROM embeddings GROUP BY label ORDER BY label""".stripMargin

  /** Write-once Avro staging of events re-shaped with a NESTED payload
    * record — (event_id, ts, meta STRUCT(event_type, amount, user_id)) —
    * the typed sub-object shape real event buses land. */
  private[graft] def stagedNestedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("avro_nest", Seq(Paths.get(sfDir, "events.parquet")), "") { dir =>
      write(Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"),
          struct(col("event_type"),
            col("value").cast("decimal(12,2)").as("amount"),
            col("user_id")).as("meta")),
        dir.toString)
    }.toString

  /** Nested-record round trip: the aggregate reads every meta field back
    * THROUGH the struct (decimal-exact sums, micros max), so a field
    * transposed or lost inside the nested record moves the answer. */
  def nestedRoundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format(classOf[AvroSource].getName)
      .load(stagedNestedDir(spark, sfDir))
      .groupBy(col("meta.event_type").as("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("meta.amount")).cast("double").as("sum_amount"),
        countDistinct(col("meta.user_id")).as("n_users"),
        max(unix_micros(col("ts"))).as("max_ts_us"))
      .orderBy("event_type")

  def nestedRoundTripAggSql: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_amount,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  MAX(CAST(epoch_us(ts) AS BIGINT)) AS max_ts_us
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Write-once TWO-GENERATION staging of the documents table: old-
    * generation files (doc_id % 10 < 8) were written BEFORE the producer
    * added the `lang` column; new-generation files carry it. The split
    * is deterministic on doc_id so DuckDB replays which rows null-fill. */
  private[graft] def stagedEvolvedDir(spark: SparkSession, sfDir: String): String =
    graft.Assets.staged("avro_evo", Seq(Paths.get(sfDir, "documents.parquet")), "") { dir =>
      val docs = Tables.documents(spark, sfDir)
      val genDirs = Seq(
        ("g1", docs.filter(col("doc_id") % 10 < 8)
          .select("doc_id", "text", "source", "n_chars")),
        ("g2", docs.filter(col("doc_id") % 10 >= 8)
          .select("doc_id", "text", "lang", "source", "n_chars")))
      genDirs.foreach { case (gen, df) =>
        val tmp = dir.resolve(s"tmp_$gen")
        write(df, tmp.toString)
        val parts = Files.list(tmp)
        try parts.iterator().asScala.toList
          .filter(_.getFileName.toString.endsWith(".avro"))
          .foreach { p =>
            Files.move(p, dir.resolve(s"$gen-${p.getFileName}"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        finally parts.close()
        val rest = Files.list(tmp)
        try rest.forEach(p => { Files.deleteIfExists(p); () })
        finally rest.close()
        Files.deleteIfExists(tmp)
      }
    }.toString

  /** Evolved-directory read: both generations in ONE scan through the
    * merged schema — old rows null-fill `lang`, new rows carry it, and
    * the per-source aggregate checksums the lang payload so a transposed
    * or dropped column moves the answer. The deterministic doc_id split
    * lets DuckDB replay the null-fill exactly. */
  def evolvedReadAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format(classOf[AvroSource].getName)
      .load(stagedEvolvedDir(spark, sfDir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("lang")).as("n_lang"),
        sum(coalesce(conv(substring(md5(col("lang")), 1, 6), 16, 10)
          .cast("long"), lit(0L))).as("lang_sum"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("source")

  def evolvedReadAggSql: String = {
    val hash = graft.operators.OracleSql.hexVal("md5(lang)", 1, 6)
    s"""SELECT source,
       |  COUNT(*) AS n_docs,
       |  CAST(COUNT(CASE WHEN doc_id % 10 >= 8 THEN lang END) AS BIGINT) AS n_lang,
       |  CAST(SUM(CASE WHEN doc_id % 10 >= 8 THEN ($hash) ELSE 0 END) AS BIGINT) AS lang_sum,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** Round-trip proof with the same output contract (and oracle) as the
    * JSONL/CSV/ORC round trips: any encode/decode loss moves the
    * md5-derived content checksum. */
  def roundTripAgg(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.format(classOf[AvroSource].getName)
      .load(stagedDir(spark, sfDir))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("content_sum"))
      .orderBy("lang", "source")

  def roundTripAggSql: String = JsonLines.roundTripAggSql
}

/** `spark.read.format(classOf[AvroSource].getName).load(dir)` entry point. */
class AvroSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroSource.readSchema(options.get("path"))
  // a user-pinned read schema is allowed — and CHECKED per file by the
  // reader against the embedded schema (the ORC "schema as a check" stance)
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AvroTable(properties.get("path"), schema)
}

final class AvroTable(dir: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_avro($dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      // COLUMN PRUNING pushdown (round 10): Avro is row-major so a
      // narrower read saves zero IO, but the DESERIALIZATION cost is
      // per-field — the reader hands avro's schema resolver a pruned
      // expected schema, and skipped fields are decoder `skip()`s (no
      // string/array materialization) instead of materialized values.
      // Top-level fields only, kept in TABLE order so the positional
      // reader stays aligned with the file's filtered field order.
      private var required: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit = {
        val keep = requiredSchema.fieldNames.toSet
        required = StructType(tableSchema.fields.filter(f => keep.contains(f.name)))
      }
      override def build(): Scan = new Scan {
        private val req = required
        override def readSchema(): StructType = req
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            AvroSource.listAvroFiles(dir)
              .map(f => AvroInputPartition(f.getAbsolutePath)).toArray
          override def createReaderFactory(): PartitionReaderFactory =
            // a top-level case class: the factory ships to executors, so
            // it must not capture the (non-serializable) Scan/Batch outers
            AvroReaderFactory(tableSchema, req)
        }
      }
    }
}

final case class AvroInputPartition(path: String) extends InputPartition

final case class AvroReaderFactory(full: StructType, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new AvroPartitionReader(p.asInstanceOf[AvroInputPartition].path,
      full, required)
}

final class AvroPartitionReader(path: String, full: StructType,
    schema: StructType) extends PartitionReader[InternalRow] {
  private val datumReader = new GenericDatumReader[GenericRecord]()
  private val reader = new DataFileReader[GenericRecord](new File(path),
    datumReader)
  // Per-file schema resolution, validated once (ADVICE r9 #2: type drift
  // must fail LOUDLY here, not as an opaque ClassCastException deep in
  // row access). ADDITIVE EVOLUTION is allowed (the parquet
  // SchemaEvolution stance, applied to avro): a field the table schema
  // carries but this (older-generation) file lacks decodes as null when
  // the schema marks it nullable. Under the DIRECTORY-merged schema that
  // is every cross-generation absence by construction (mergeGenerations
  // nullifies them), so — exactly like parquet mergeSchema — a RENAME
  // reads as drop+add with null halves on both sides; that is the
  // documented additive-evolution stance, not a detected error. The
  // non-nullable missing-field guard below is live only for a CALLER-
  // SUPPLIED read schema carrying non-nullable expectations, where it
  // fails loudly instead of minting nulls the caller promised cannot
  // exist. Shared fields must match on TYPE exactly. Fields the file
  // has beyond the read schema are skipped by the resolver (pruning).
  private val (outIdxToExp: Array[Int], expSchemas: Array[Schema]) = {
    val fileFields = reader.getSchema.getFields.asScala.toSeq
    val fileTypes = fileFields.map { f =>
      f.name() -> AvroSource.toSparkType(f.schema())._1
    }.toMap
    schema.fields.foreach { f =>
      fileTypes.get(f.name) match {
        case Some(dt) => require(dt == f.dataType,
          s"avro file $path field ${f.name}: type $dt != expected " +
            s"${f.dataType} — type drift, refusing to decode")
        case None => require(f.nullable,
          s"avro file $path is missing non-nullable field ${f.name} " +
            s"(file has ${fileFields.map(_.name()).mkString(", ")}) — " +
            "name drift, not additive evolution")
      }
    }
    val keep = schema.fieldNames.toSet
    // expected record = the file's own fields ∩ required names, in FILE
    // order (same name/namespace, so avro's resolver matches
    // structurally and decoder-skips the rest)
    val expected = fileFields.filter(f => keep.contains(f.name()))
    if (expected.size != fileFields.size) {
      val w = reader.getSchema
      datumReader.setExpected(Schema.createRecord(w.getName, w.getDoc,
        w.getNamespace, false,
        expected.map(f => new Schema.Field(f.name(), f.schema(), f.doc(),
          f.defaultVal())).asJava))
    }
    // output position j -> position in the expected record (-1 = absent
    // from this file generation, null-fill); decoder also needs the
    // writer's avro schema per field to resolve UNION branches and widen
    // [int,long]/[float,double] (type direction alone cannot tell a
    // union-struct from a record)
    val posOf = expected.map(_.name()).zipWithIndex.toMap
    (schema.fields.map(f => posOf.getOrElse(f.name, -1)),
      expected.map(_.schema()).toArray)
  }
  private var rec: GenericRecord = _
  override def next(): Boolean = {
    if (reader.hasNext) { rec = reader.next(rec); true } else false
  }
  override def get(): InternalRow = {
    val arr = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val e = outIdxToExp(i)
      arr(i) =
        if (e < 0) null // field added after this file generation
        else fromAvroValue(rec.get(e), schema.fields(i).dataType,
          expSchemas(e))
      i += 1
    }
    new GenericInternalRow(arr)
  }
  private def fromAvroValue(v: AnyRef, dt: DataType, s: Schema): Any =
    if (v == null) null
    else if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      if (nonNull.size == 1) fromAvroValue(v, dt, nonNull.head)
      else dt match {
        // numeric-widening unions collapsed at schema time
        case LongType => v.asInstanceOf[Number].longValue()
        case DoubleType => v.asInstanceOf[Number].doubleValue()
        // general union -> memberN struct: resolve the branch the writer
        // took for THIS value and set only that member
        case st: StructType =>
          val bi = GenericData.get().resolveUnion(s, v)
          val branch = branches(bi)
          val mi = nonNull.indexOf(branch)
          val out = new Array[Any](st.length)
          out(mi) = fromAvroValue(v, st.fields(mi).dataType, branch)
          new GenericInternalRow(out)
        case other => throw new IllegalStateException(
          s"avro source: union $s mapped to unexpected Spark type $other")
      }
    }
    else dt match {
      case StringType => v match {
        case u: org.apache.avro.util.Utf8 =>
          UTF8String.fromBytes(util.Arrays.copyOf(u.getBytes, u.getByteLength))
        case s => UTF8String.fromString(s.toString)
      }
      case BinaryType => v match {
        case b: java.nio.ByteBuffer =>
          val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
        case f: org.apache.avro.generic.GenericFixed => f.bytes()
        case a: Array[Byte] => a
      }
      case d: DecimalType =>
        val bytes = v match {
          case b: java.nio.ByteBuffer =>
            val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
          case f: org.apache.avro.generic.GenericFixed => f.bytes()
          case a: Array[Byte] => a
        }
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(bytes), d.scale), d.precision, d.scale)
      case ArrayType(et, _) =>
        val coll = v.asInstanceOf[java.util.Collection[AnyRef]]
        val out = new Array[Any](coll.size())
        val it = coll.iterator()
        var i = 0
        while (it.hasNext) {
          out(i) = fromAvroValue(it.next(), et, s.getElementType); i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case st: StructType =>
        val rec = v.asInstanceOf[GenericRecord]
        val out = new Array[Any](st.length)
        var i = 0
        while (i < st.length) {
          out(i) = fromAvroValue(rec.get(i), st.fields(i).dataType,
            s.getFields.get(i).schema())
          i += 1
        }
        new GenericInternalRow(out)
      case MapType(_, vt, _) =>
        val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
        val keys = new Array[Any](m.size())
        val vals = new Array[Any](m.size())
        val it = m.entrySet().iterator()
        var i = 0
        while (it.hasNext) {
          val e = it.next()
          keys(i) = fromAvroValue(e.getKey, StringType,
            Schema.create(Schema.Type.STRING))
          vals(i) = fromAvroValue(e.getValue, vt, s.getValueType)
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
      // numeric/boolean primitives pass through boxed; timestamp-micros
      // and date arrive as the Long/Int Spark's internal rows use anyway
      case _ => v
    }
  override def close(): Unit = reader.close()
}
