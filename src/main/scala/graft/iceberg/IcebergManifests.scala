package graft.iceberg

import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Transport form of one manifest entry (one data file). Bounds are
  * keyed by Iceberg field id, encoded per spec Appendix D. */
final case class ManifestEntry(
    status: Int, // 0=EXISTING 1=ADDED 2=DELETED
    snapshotId: Long,
    sequenceNumber: Long,
    filePath: String,
    fileFormat: String,
    partitionValues: Map[String, String], // canonical strings by partition field name
    recordCount: Long,
    fileSizeBytes: Long,
    valueCounts: Map[Int, Long],
    nullCounts: Map[Int, Long],
    lowerBounds: Map[Int, Array[Byte]],
    upperBounds: Map[Int, Array[Byte]],
    /** 0=data, 1=position deletes, 2=equality deletes (iceberg v2) */
    content: Int = 0,
    /** field ids an equality-delete file matches on (content=2 only) */
    equalityIds: Seq[Int] = Seq.empty)

object ManifestEntry {
  val StatusExisting = 0
  val StatusAdded = 1
  val StatusDeleted = 2
  val ContentData = 0
  val ContentPositionDeletes = 1
  val ContentEqualityDeletes = 2

  /** The replay rule for two entries of one file path: true when `a`
    * supersedes `b` — the higher sequence number wins; on a tie the
    * delete wins. Every reconcile (snapshot, rollup, manifest rewrite)
    * elects with it. */
  def supersedes(a: ManifestEntry, b: ManifestEntry): Boolean =
    if (a.sequenceNumber != b.sequenceNumber) a.sequenceNumber > b.sequenceNumber
    else a.status == StatusDeleted
}

/** Transport form of one manifest-list entry (one manifest file). */
final case class ManifestFileInfo(
    manifestPath: String,
    manifestLength: Long,
    sequenceNumber: Long,
    minSequenceNumber: Long,
    addedSnapshotId: Long,
    addedFilesCount: Int,
    existingFilesCount: Int,
    deletedFilesCount: Int,
    addedRowsCount: Long,
    existingRowsCount: Long,
    deletedRowsCount: Long,
    /** 0 = data manifest, 1 = delete manifest (iceberg v2) */
    content: Int = 0,
    /** the partition spec this manifest's entries were written under —
      * carried so spec-evolved tables keep decoding/pruning old-spec
      * manifests by THEIR spec, not the current default */
    partitionSpecId: Int = 0)

/**
 * Avro codec for Iceberg v2 manifests and manifest lists, written from
 * the public spec (field ids carried as the `field-id` Avro property;
 * int-keyed stat maps as key/value record arrays). The reference goes
 * through Iceberg's `ManifestFiles`/`DataFiles` builders (ref
 * `core/.../iceberg/IcebergDataFileUpdatesSync.java:96-110`); here the
 * wire format is produced directly with the Avro library.
 */
object IcebergManifests {

  // ------------------------------------------------------ schema builders

  private def field(name: String, schema: Schema, id: Int, nullable: Boolean = false): Schema.Field = {
    val s = if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), schema) else schema
    val f = new Schema.Field(name, s, null,
      if (nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    f.addProp("field-id", id: Integer)
    f
  }

  private def primitive(t: Schema.Type): Schema = Schema.create(t)

  /** array<record{key,value}> with the iceberg `map` logical-type marker. */
  private def kvMap(recName: String, keyId: Int, valueId: Int, valueType: Schema.Type): Schema = {
    val rec = Schema.createRecord(recName, null, null, false, Seq(
      field("key", primitive(Schema.Type.INT), keyId),
      field("value", primitive(valueType), valueId)).asJava)
    val arr = Schema.createArray(rec)
    arr.addProp("logicalType", "map")
    arr
  }

  /** Spark type → avro schema for a partition struct member. */
  private def partitionAvroType(dt: DataType): Schema = dt match {
    case IntegerType | ShortType | ByteType => primitive(Schema.Type.INT)
    case LongType => primitive(Schema.Type.LONG)
    case DateType =>
      org.apache.avro.LogicalTypes.date().addToSchema(primitive(Schema.Type.INT))
    case TimestampType | TimestampNTZType =>
      org.apache.avro.LogicalTypes.timestampMicros().addToSchema(primitive(Schema.Type.LONG))
    case DoubleType => primitive(Schema.Type.DOUBLE)
    case FloatType => primitive(Schema.Type.FLOAT)
    case _ => primitive(Schema.Type.STRING) // strings + everything else hive-serialized
  }

  /** Partition fields as (name, sourceSparkType, partitionFieldId). */
  def entrySchema(partitionFields: Seq[(String, DataType, Int)]): Schema = {
    val partRec = Schema.createRecord("r102", null, null, false,
      partitionFields.map { case (name, dt, id) =>
        field(name, partitionAvroType(dt), id, nullable = true)
      }.asJava)
    val dataFile = Schema.createRecord("r2", null, null, false, Seq(
      field("content", primitive(Schema.Type.INT), 134),
      field("file_path", primitive(Schema.Type.STRING), 100),
      field("file_format", primitive(Schema.Type.STRING), 101),
      field("partition", partRec, 102),
      field("record_count", primitive(Schema.Type.LONG), 103),
      field("file_size_in_bytes", primitive(Schema.Type.LONG), 104),
      field("value_counts", kvMap("k119_v120", 119, 120, Schema.Type.LONG), 109, nullable = true),
      field("null_value_counts", kvMap("k121_v122", 121, 122, Schema.Type.LONG), 110, nullable = true),
      field("lower_bounds", kvMap("k126_v127", 126, 127, Schema.Type.BYTES), 125, nullable = true),
      field("upper_bounds", kvMap("k129_v130", 129, 130, Schema.Type.BYTES), 128, nullable = true),
      field("equality_ids", {
        val a = Schema.createArray(primitive(Schema.Type.INT))
        a.addProp("element-id", 136: Integer)
        a
      }, 135, nullable = true)).asJava)
    Schema.createRecord("manifest_entry", null, null, false, Seq(
      field("status", primitive(Schema.Type.INT), 0),
      field("snapshot_id", primitive(Schema.Type.LONG), 1, nullable = true),
      field("sequence_number", primitive(Schema.Type.LONG), 3, nullable = true),
      field("file_sequence_number", primitive(Schema.Type.LONG), 4, nullable = true),
      field("data_file", dataFile, 2)).asJava)
  }

  val manifestListSchema: Schema =
    Schema.createRecord("manifest_file", null, null, false, Seq(
      field("manifest_path", primitive(Schema.Type.STRING), 500),
      field("manifest_length", primitive(Schema.Type.LONG), 501),
      field("partition_spec_id", primitive(Schema.Type.INT), 502),
      field("content", primitive(Schema.Type.INT), 517),
      field("sequence_number", primitive(Schema.Type.LONG), 515),
      field("min_sequence_number", primitive(Schema.Type.LONG), 516),
      field("added_snapshot_id", primitive(Schema.Type.LONG), 503),
      field("added_files_count", primitive(Schema.Type.INT), 504),
      field("existing_files_count", primitive(Schema.Type.INT), 505),
      field("deleted_files_count", primitive(Schema.Type.INT), 506),
      field("added_rows_count", primitive(Schema.Type.LONG), 512),
      field("existing_rows_count", primitive(Schema.Type.LONG), 513),
      field("deleted_rows_count", primitive(Schema.Type.LONG), 514)).asJava)

  // --------------------------------------------------------------- write

  private def kvRecords(schema: Schema, m: Map[Int, AnyRef]): GenericData.Array[GenericRecord] = {
    val elem = schema.getElementType
    val arr = new GenericData.Array[GenericRecord](m.size, schema)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(elem)
      r.put("key", k)
      r.put("value", v)
      arr.add(r)
    }
    arr
  }

  private def unionBranch(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION) s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  /** Hive partition strings → avro physical values. Date/timestamp
    * partition values arrive as hive dir strings (`2020-01-01`,
    * `2020-01-01 12:34:56`) and must land as epoch-days / epoch-micros
    * per the iceberg spec; numeric strings pass through so canonical
    * (already-encoded) values also round-trip. */
  private def partitionAvroValue(avroType: Schema, canonical: String): AnyRef = {
    val t = unionBranch(avroType)
    val logical = t.getLogicalType
    (t.getType, logical) match {
      case (Schema.Type.INT, _: org.apache.avro.LogicalTypes.Date) =>
        val days =
          if (canonical.contains("-")) java.time.LocalDate.parse(canonical).toEpochDay
          else canonical.toLong
        Integer.valueOf(days.toInt)
      case (Schema.Type.LONG, _: org.apache.avro.LogicalTypes.TimestampMicros) =>
        val micros =
          if (canonical.contains("-")) hiveTimestampToMicros(canonical)
          else canonical.toLong
        java.lang.Long.valueOf(micros)
      case (Schema.Type.INT, _) => Integer.valueOf(canonical.toInt)
      case (Schema.Type.LONG, _) => java.lang.Long.valueOf(canonical.toLong)
      case (Schema.Type.DOUBLE, _) => java.lang.Double.valueOf(canonical.toDouble)
      case (Schema.Type.FLOAT, _) => java.lang.Float.valueOf(canonical.toFloat)
      case _ => canonical
    }
  }

  private def hiveTimestampToMicros(s: String): Long = {
    val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    val i = ldt.atZone(java.time.ZoneOffset.UTC).toInstant
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
  }

  /** Inverse of [[partitionAvroValue]]: avro physical partition values →
    * hive dir strings, so manifest-level `partitionIn` predicates match
    * what users (and paths) say. */
  private def partitionValueString(fieldSchema: Schema, v: AnyRef): String = {
    val t = unionBranch(fieldSchema)
    (t.getType, t.getLogicalType) match {
      case (Schema.Type.INT, _: org.apache.avro.LogicalTypes.Date) =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()).toString
      case (Schema.Type.LONG, _: org.apache.avro.LogicalTypes.TimestampMicros) =>
        val micros = v.asInstanceOf[Number].longValue()
        val i = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        val ldt = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
        val base = s"${ldt.toLocalDate} ${ldt.toLocalTime.withNano(0)}"
        if (ldt.getNano == 0) base else f"$base.${ldt.getNano / 1000}%06d"
      case _ => v.toString
    }
  }

  /** Write one manifest file; returns its byte length. */
  def writeManifest(
      conf: Configuration,
      path: Path,
      schema: Schema,
      entries: Seq[ManifestEntry],
      headers: Map[String, String] = Map.empty): Long = {
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    val dataFileSchema = unionBranch(schema.getField("data_file").schema())
    val partSchema = unionBranch(dataFileSchema.getField("partition").schema())
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    // iceberg ManifestReader requires these header properties (plus
    // schema/partition-spec/partition-spec-id supplied by the caller)
    writer.setMeta("format-version", "2")
    writer.setMeta("content", "data")
    headers.foreach { case (k, v) => writer.setMeta(k, v) }
    writer.create(schema, out)
    try {
      entries.foreach { e =>
        val rec = new GenericData.Record(schema)
        rec.put("status", e.status)
        rec.put("snapshot_id", e.snapshotId)
        rec.put("sequence_number", e.sequenceNumber)
        rec.put("file_sequence_number", e.sequenceNumber)
        val df = new GenericData.Record(dataFileSchema)
        df.put("content", e.content)
        df.put("file_path", e.filePath)
        df.put("file_format", e.fileFormat.toUpperCase)
        val part = new GenericData.Record(partSchema)
        partSchema.getFields.asScala.foreach { pf =>
          e.partitionValues.get(pf.name()) match {
            case Some(v) if v != null => part.put(pf.name(), partitionAvroValue(pf.schema(), v))
            case _ => part.put(pf.name(), null)
          }
        }
        df.put("partition", part)
        df.put("record_count", e.recordCount)
        df.put("file_size_in_bytes", e.fileSizeBytes)
        df.put("value_counts", kvRecords(
          unionBranch(dataFileSchema.getField("value_counts").schema()),
          e.valueCounts.view.mapValues(java.lang.Long.valueOf(_): AnyRef).toMap))
        df.put("null_value_counts", kvRecords(
          unionBranch(dataFileSchema.getField("null_value_counts").schema()),
          e.nullCounts.view.mapValues(java.lang.Long.valueOf(_): AnyRef).toMap))
        df.put("lower_bounds", kvRecords(
          unionBranch(dataFileSchema.getField("lower_bounds").schema()),
          e.lowerBounds.view.mapValues(ByteBuffer.wrap(_): AnyRef).toMap))
        df.put("upper_bounds", kvRecords(
          unionBranch(dataFileSchema.getField("upper_bounds").schema()),
          e.upperBounds.view.mapValues(ByteBuffer.wrap(_): AnyRef).toMap))
        if (e.equalityIds.nonEmpty) {
          val arrSchema = unionBranch(dataFileSchema.getField("equality_ids").schema())
          val arr = new GenericData.Array[Integer](e.equalityIds.size, arrSchema)
          e.equalityIds.foreach(id => arr.add(Integer.valueOf(id)))
          df.put("equality_ids", arr)
        }
        rec.put("data_file", df)
        writer.append(rec)
      }
    } finally writer.close()
    fs.getFileStatus(path).getLen
  }

  def writeManifestList(
      conf: Configuration,
      path: Path,
      manifests: Seq[ManifestFileInfo]): Unit = {
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestListSchema))
    writer.setMeta("format-version", "2")
    writer.create(manifestListSchema, out)
    try manifests.foreach { m =>
      val rec = new GenericData.Record(manifestListSchema)
      rec.put("manifest_path", m.manifestPath)
      rec.put("manifest_length", m.manifestLength)
      rec.put("partition_spec_id", m.partitionSpecId)
      rec.put("content", m.content)
      rec.put("sequence_number", m.sequenceNumber)
      rec.put("min_sequence_number", m.minSequenceNumber)
      rec.put("added_snapshot_id", m.addedSnapshotId)
      rec.put("added_files_count", m.addedFilesCount)
      rec.put("existing_files_count", m.existingFilesCount)
      rec.put("deleted_files_count", m.deletedFilesCount)
      rec.put("added_rows_count", m.addedRowsCount)
      rec.put("existing_rows_count", m.existingRowsCount)
      rec.put("deleted_rows_count", m.deletedRowsCount)
      writer.append(rec)
    } finally writer.close()
  }

  // ---------------------------------------------------------------- read

  private def readAvro(conf: Configuration, path: Path): Seq[GenericRecord] = {
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    val stream = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try stream.iterator().asScala.toVector finally { stream.close(); in.close() }
  }

  private def kvToMap(v: AnyRef): Map[Int, AnyRef] = v match {
    case null => Map.empty
    case arr: java.util.Collection[_] =>
      arr.asScala.map { r0 =>
        val r = r0.asInstanceOf[GenericRecord]
        r.get("key").asInstanceOf[Number].intValue() -> r.get("value")
      }.toMap
    case _ => Map.empty
  }

  private def bytesOf(v: AnyRef): Array[Byte] = v match {
    case b: ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case a: Array[Byte] => a
  }

  /** Field access tolerant of format-v1 files: absent fields (v2's
    * sequence numbers) and renamed ones (v1 `added_data_files_count` vs
    * v2 `added_files_count`) resolve to the first present name. */
  private def opt(rec: GenericRecord, names: String*): AnyRef =
    names.iterator
      .map(n => if (rec.getSchema.getField(n) == null) null else rec.get(n))
      .find(_ != null).orNull

  private def longOf(rec: GenericRecord, default: Long, names: String*): Long =
    Option(opt(rec, names: _*)).map(_.asInstanceOf[Number].longValue()).getOrElse(default)

  /** Always-on read counter (a few ns): lets specs PIN that a metadata
    * answer (e.g. a rollup-based row estimate) opened zero manifests. */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong()

  def readManifest(conf: Configuration, path: Path): Seq[ManifestEntry] = {
    manifestReads.incrementAndGet()
    readAvro(conf, path).map { rec =>
      val df = rec.get("data_file").asInstanceOf[GenericRecord]
      val part = df.get("partition").asInstanceOf[GenericRecord]
      val partValues = part.getSchema.getFields.asScala.map { f =>
        val v = part.get(f.name())
        f.name() -> (if (v == null) null else partitionValueString(f.schema(), v))
      }.toMap
      ManifestEntry(
        status = rec.get("status").asInstanceOf[Number].intValue(),
        snapshotId = longOf(rec, 0L, "snapshot_id"),
        // v1 manifests carry no sequence numbers: every entry is seq 0
        // and reconciliation falls back to deleted-wins
        sequenceNumber = longOf(rec, 0L, "sequence_number"),
        filePath = df.get("file_path").toString,
        fileFormat = df.get("file_format").toString.toLowerCase,
        partitionValues = partValues,
        recordCount = df.get("record_count").asInstanceOf[Number].longValue(),
        fileSizeBytes = df.get("file_size_in_bytes").asInstanceOf[Number].longValue(),
        valueCounts = kvToMap(opt(df, "value_counts")).view.mapValues(_.asInstanceOf[Number].longValue()).toMap,
        nullCounts = kvToMap(opt(df, "null_value_counts")).view.mapValues(_.asInstanceOf[Number].longValue()).toMap,
        lowerBounds = kvToMap(opt(df, "lower_bounds")).view.mapValues(bytesOf).toMap,
        upperBounds = kvToMap(opt(df, "upper_bounds")).view.mapValues(bytesOf).toMap,
        // v1 data files carry no content field: always data
        content = longOf(df, 0L, "content").toInt,
        equalityIds = opt(df, "equality_ids") match {
          case null => Seq.empty
          case c: java.util.Collection[_] =>
            c.asScala.map(_.asInstanceOf[Number].intValue()).toSeq
          case _ => Seq.empty
        })
    }
  }

  def readManifestList(conf: Configuration, path: Path): Seq[ManifestFileInfo] =
    readAvro(conf, path).map { rec =>
      ManifestFileInfo(
        manifestPath = rec.get("manifest_path").toString,
        manifestLength = rec.get("manifest_length").asInstanceOf[Number].longValue(),
        sequenceNumber = longOf(rec, 0L, "sequence_number"),
        minSequenceNumber = longOf(rec, 0L, "min_sequence_number"),
        addedSnapshotId = longOf(rec, 0L, "added_snapshot_id"),
        addedFilesCount = longOf(rec, 0L, "added_files_count", "added_data_files_count").toInt,
        existingFilesCount = longOf(rec, 0L, "existing_files_count", "existing_data_files_count").toInt,
        deletedFilesCount = longOf(rec, 0L, "deleted_files_count", "deleted_data_files_count").toInt,
        addedRowsCount = longOf(rec, 0L, "added_rows_count"),
        existingRowsCount = longOf(rec, 0L, "existing_rows_count"),
        deletedRowsCount = longOf(rec, 0L, "deleted_rows_count"),
        content = longOf(rec, 0L, "content").toInt,
        partitionSpecId = longOf(rec, 0L, "partition_spec_id").toInt)
    }
}
