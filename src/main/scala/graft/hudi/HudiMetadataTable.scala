package graft.hudi

import java.nio.charset.StandardCharsets

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.jdk.CollectionConverters._

/** One replayed record_index record in the distributed merge —
  * `seq` orders records globally (log-file index << 32 | record index)
  * so "later block wins" resolves on executors. */
final case class RecordIndexReplayRow(
    key: String, seq: Long, deleted: Boolean,
    partitionPath: String, fileId: String)

/** One record-index entry to write: record key → (partition, file group),
  * or a tombstone. */
final case class RecordIndexEntry(
    key: String, partitionPath: String, fileId: String, deleted: Boolean = false)

/**
 * The Hudi metadata table's `files` partition, in Hudi's documented
 * layout: a merge-on-read table rooted at `<table>/.hoodie/metadata`
 * with its own `.hoodie` timeline of deltacommits (one per data-table
 * commit, SAME instant times — the Hudi convention), a `files/`
 * partition holding one log file per commit, and records in the
 * HoodieMetadataRecord shape (key = partition path, `filesystemMetadata`
 * map of file name → {size, isDeleted}; the `__all_partitions__` key
 * lists partition paths). Native readers learn file listings from this
 * table instead of listing the filesystem (ref
 * `core/.../hudi/BaseFileUpdatesExtractor.java:240-262`,
 * `HudiTargetClient.java:569-575` delegate to Hudi's
 * HoodieBackedTableMetadataWriter).
 *
 * Documented delta vs. Hudi's own writer: records land as AVRO data
 * blocks in the log files (the log-format block type this engine
 * writes natively); Hudi's writer compacts them into HFILE base files
 * and HFILE log blocks for point lookups. The partition layout, record
 * schema, timeline, and merge semantics (later block wins per file
 * name, isDeleted tombstones) match.
 *
 * The `column_stats` partition follows the same discipline: one log
 * file per stats-bearing commit, HoodieMetadataRecord type=3 records
 * keyed by Hudi's concatenated index-ID scheme
 * (ColumnIndexID(column) + PartitionIndexID(partition) +
 * FileIndexID(file), each the base64 of the seed-0 XXHash64 of the
 * name — [[graft.util.XxHash64.indexId]]), each record carrying
 * (fileName, columnName, min/max, nullCount, valueCount, totalSize)
 * so native readers can skip files from the index (ref
 * `core/.../hudi/BaseFileUpdatesExtractor.java:240-262` builds
 * HoodieColumnRangeMetadata per write stat; `HudiTargetClient.java:569-575`
 * flushes them through Hudi's metadata writer). Min/max travel in real
 * Hudi's per-type avro value-wrapper union (see [[ColStatsSchema]]),
 * so native readers decode typed bounds; logs written by earlier
 * versions of this engine (plain-string min/max) still decode via
 * their embedded block schema.
 */
object HudiMetadataTable {

  val MetadataDir = ".hoodie/metadata"
  val FilesPartition = "files"
  val ColumnStatsPartition = "column_stats"
  val RecordIndexPartition = "record_index"
  val AllPartitionsKey = "__all_partitions__"
  /** HoodieMetadataRecord.type for filesystem metadata records. */
  val TypeFilesystemMetadata = 2
  /** HoodieMetadataRecord.type for column-stats records. */
  val TypeColumnStats = 3
  /** HoodieMetadataRecord.type for record-index records. */
  val TypeRecordIndex = 5
  private val FilesFileId = "files-0000"
  private val ColStatsFileId = "col-stats-0000"

  /** HoodieMetadataRecord trimmed to the record-index fields — the
    * public `HoodieMetadata.avsc` HoodieRecordIndexInfo shape (record
    * key → file group location; ref Hudi RFC-37 / release 0.14 record
    * level index). This engine writes `fileIdEncoding = 1` (raw fileId
    * string) and decodes encoding 0 (UUID packed in high/low bits +
    * fileIndex) for logs written by real Hudi. A record with null
    * `recordIndexMetadata` is a key tombstone. */
  val RecordIndexSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"HoodieMetadataRecord",
      |"namespace":"org.apache.hudi.avro.model","fields":[
      |{"name":"key","type":"string"},
      |{"name":"type","type":"int"},
      |{"name":"recordIndexMetadata","type":["null",
      |{"type":"record","name":"HoodieRecordIndexInfo","fields":[
      |{"name":"partitionName","type":["null","string"],"default":null},
      |{"name":"fileIdHighBits","type":["null","long"],"default":null},
      |{"name":"fileIdLowBits","type":["null","long"],"default":null},
      |{"name":"fileIndex","type":["null","int"],"default":null},
      |{"name":"fileId","type":["null","string"],"default":null},
      |{"name":"instantTime","type":["null","long"],"default":null},
      |{"name":"fileIdEncoding","type":"int","default":0}]}],
      |"default":null}]}""".stripMargin)

  /** Record key → index file group ordinal. This engine's mapping is
    * the seed-0 XXHash64 of the key's UTF-8 bytes mod `numGroups`
    * (real Hudi hashes with its own HashID scheme; the mapping only
    * has to be consistent between this engine's writes and reads — the
    * replay merges ALL groups, so lookups never depend on it). */
  def recordIndexGroup(key: String, numGroups: Int): Int =
    math.floorMod(
      graft.util.XxHash64.hash(key.getBytes(StandardCharsets.UTF_8)), numGroups.toLong).toInt

  def recordIndexFileId(group: Int): String = f"record-index-$group%04d"

  /** HoodieMetadataRecord avro schema (the public Hudi shape, trimmed
    * to the files-partition fields). */
  val RecordSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"HoodieMetadataRecord",
      |"namespace":"org.apache.hudi.avro.model","fields":[
      |{"name":"key","type":"string"},
      |{"name":"type","type":"int"},
      |{"name":"filesystemMetadata","type":["null",{"type":"map","values":
      |{"type":"record","name":"HoodieMetadataFileInfo","fields":[
      |{"name":"size","type":"long"},
      |{"name":"isDeleted","type":"boolean"}]}}],"default":null}]}""".stripMargin)

  /** HoodieMetadataRecord trimmed to the column_stats fields, with
    * min/max as real Hudi's PER-TYPE avro value-wrapper union (the
    * public `HoodieMetadata.avsc` shape — BooleanWrapper..TimestampMicrosWrapper,
    * DecimalWrapper bytes at precision 30 / scale 15; the reference
    * consumes exactly this through `HoodieAvroUtils.unwrapAvroValueWrapper`,
    * ref `core/.../hudi/HudiFileStatsExtractor.java:62-72,196-210`), so
    * a native Hudi reader decodes typed bounds rather than this
    * engine's canonical strings. */
  val ColStatsSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"HoodieMetadataRecord",
      |"namespace":"org.apache.hudi.avro.model","fields":[
      |{"name":"key","type":"string"},
      |{"name":"type","type":"int"},
      |{"name":"ColumnStatsMetadata","type":["null",
      |{"type":"record","name":"HoodieMetadataColumnStats","fields":[
      |{"name":"fileName","type":"string"},
      |{"name":"columnName","type":"string"},
      |{"name":"minValue","type":["null",
      |{"type":"record","name":"BooleanWrapper","fields":[{"name":"value","type":"boolean"}]},
      |{"type":"record","name":"IntWrapper","fields":[{"name":"value","type":"int"}]},
      |{"type":"record","name":"LongWrapper","fields":[{"name":"value","type":"long"}]},
      |{"type":"record","name":"FloatWrapper","fields":[{"name":"value","type":"float"}]},
      |{"type":"record","name":"DoubleWrapper","fields":[{"name":"value","type":"double"}]},
      |{"type":"record","name":"BytesWrapper","fields":[{"name":"value","type":"bytes"}]},
      |{"type":"record","name":"StringWrapper","fields":[{"name":"value","type":"string"}]},
      |{"type":"record","name":"DateWrapper","fields":[{"name":"value","type":"int"}]},
      |{"type":"record","name":"DecimalWrapper","fields":[{"name":"value","type":
      |{"type":"bytes","logicalType":"decimal","precision":30,"scale":15}}]},
      |{"type":"record","name":"TimeMicrosWrapper","fields":[{"name":"value","type":
      |{"type":"long","logicalType":"time-micros"}}]},
      |{"type":"record","name":"TimestampMicrosWrapper","fields":[{"name":"value","type":"long"}]}
      |],"default":null},
      |{"name":"maxValue","type":["null","BooleanWrapper","IntWrapper","LongWrapper",
      |"FloatWrapper","DoubleWrapper","BytesWrapper","StringWrapper","DateWrapper",
      |"DecimalWrapper","TimeMicrosWrapper","TimestampMicrosWrapper"],"default":null},
      |{"name":"valueCount","type":"long"},
      |{"name":"nullCount","type":"long"},
      |{"name":"totalSize","type":"long"},
      |{"name":"isDeleted","type":"boolean"}]}],"default":null}]}""".stripMargin)

  /** Hudi's DecimalWrapper fixed scale (`HudiFileStatsExtractor.java:72`). */
  val DecimalWrapperScale = 15

  private def wrapperSchema(name: String): Schema = {
    val union = ColStatsSchema.getField("ColumnStatsMetadata").schema()
      .getTypes.get(1).getField("minValue").schema()
    union.getTypes.asScala.find(_.getName == name).get
  }

  /** Canonical stat string → the typed Hudi wrapper record for the
    * column's Spark type (write side of the union above). Unknown /
    * absent types fall back to StringWrapper — still decodable, just
    * not type-faithful. */
  def wrapStatValue(
      canonical: String, dt: Option[org.apache.spark.sql.types.DataType]): GenericRecord = {
    import org.apache.spark.sql.types._
    def rec(name: String, v: AnyRef): GenericRecord = {
      val r = new GenericData.Record(wrapperSchema(name))
      r.put("value", v)
      r
    }
    def typed: GenericRecord = dt match {
      case Some(BooleanType) => rec("BooleanWrapper", java.lang.Boolean.valueOf(canonical))
      case Some(ByteType | ShortType | IntegerType) =>
        rec("IntWrapper", java.lang.Integer.valueOf(canonical.trim))
      case Some(LongType) => rec("LongWrapper", java.lang.Long.valueOf(canonical.trim))
      case Some(FloatType) => rec("FloatWrapper", java.lang.Float.valueOf(canonical))
      case Some(DoubleType) => rec("DoubleWrapper", java.lang.Double.valueOf(canonical))
      case Some(BinaryType) => rec("BytesWrapper",
        java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(canonical)))
      case Some(DateType) => rec("DateWrapper", java.lang.Integer.valueOf(canonical.trim))
      case Some(TimestampType | TimestampNTZType) =>
        rec("TimestampMicrosWrapper", java.lang.Long.valueOf(canonical.trim))
      case Some(_: DecimalType) =>
        val unscaled = new java.math.BigDecimal(canonical)
          .setScale(DecimalWrapperScale, java.math.RoundingMode.HALF_UP)
          .unscaledValue().toByteArray
        rec("DecimalWrapper", java.nio.ByteBuffer.wrap(unscaled))
      case _ => rec("StringWrapper", canonical)
    }
    // a canonical value that doesn't parse for its declared type (e.g.
    // stats captured from a foreign file with an unexpected physical
    // type) degrades to StringWrapper rather than failing the commit
    try typed catch {
      case scala.util.control.NonFatal(_) => rec("StringWrapper", canonical)
    }
  }

  /** Typed wrapper (or legacy plain string) → canonical stat string
    * (read side; the inverse of [[wrapStatValue]]). */
  def unwrapStatValue(v: AnyRef): String = v match {
    case null => null
    case s: CharSequence => s.toString // legacy canonical-string logs
    case r: GenericRecord =>
      val value = r.get("value")
      r.getSchema.getName match {
        case "BytesWrapper" =>
          val bb = value.asInstanceOf[java.nio.ByteBuffer].duplicate()
          val bytes = new Array[Byte](bb.remaining()); bb.get(bytes)
          java.util.Base64.getEncoder.encodeToString(bytes)
        case "DecimalWrapper" =>
          val bb = value.asInstanceOf[java.nio.ByteBuffer].duplicate()
          val bytes = new Array[Byte](bb.remaining()); bb.get(bytes)
          new java.math.BigDecimal(
            new java.math.BigInteger(bytes), DecimalWrapperScale)
            .stripTrailingZeros().toPlainString
        case "StringWrapper" => value.toString
        case _ => value.toString // Boolean/Int/Long/Float/Double/Date/Time/Timestamp
      }
    case other => other.toString
  }

  /** Hudi's column-stats record key: concatenated base64 XXHash64 index
    * IDs of column, partition (`.` for the empty partition), and file. */
  def columnStatsKey(column: String, partitionPath: String, fileName: String): String =
    graft.util.XxHash64.indexId(column) +
      graft.util.XxHash64.indexId(if (partitionPath.isEmpty) "." else partitionPath) +
      graft.util.XxHash64.indexId(fileName)

  private def root(tablePath: String) = new Path(tablePath, MetadataDir)
  private def filesDir(tablePath: String) = new Path(root(tablePath), FilesPartition)
  private def colStatsDir(tablePath: String) = new Path(root(tablePath), ColumnStatsPartition)
  private def recordIndexDir(tablePath: String) = new Path(root(tablePath), RecordIndexPartition)

  /**
   * Record one data-table commit in the metadata table: `adds` and
   * `removes` are (partitionPath → file names with sizes / names).
   * Appends one log file to the `files` partition and completes a
   * deltacommit at the data commit's instant time on the metadata
   * table's own timeline. Idempotent per instant (put-if-absent
   * timeline commit arbitrates).
   */
  def update(
      fs: FileSystem,
      conf: Configuration,
      tablePath: String,
      instant: String,
      adds: Map[String, Seq[(String, Long)]],
      removes: Map[String, Seq[String]] = Map.empty,
      /** (partitionPath, fileName, stat rows) per stats-bearing file —
        * lands in the `column_stats` partition (see class doc). */
      colStats: Seq[(String, String, Seq[graft.model.ColumnStatRow])] = Seq.empty,
      /** Column name → Spark type, so min/max encode as real Hudi's
        * typed wrapper records; columns missing here fall back to
        * StringWrapper. */
      colTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      /** record-index entries (key → location / tombstone) — land in
        * the `record_index` partition, written DISTRIBUTED (one log per
        * index file group, from executors). */
      recordIndex: Option[RecordIndexUpdate] = None): Unit = {
    val timeline = new HudiTimeline(root(tablePath).toString, conf)
    if (!timeline.exists)
      timeline.writeProperties(Map(
        "hoodie.table.name" -> "metadata",
        "hoodie.table.type" -> "MERGE_ON_READ",
        "hoodie.table.version" -> "6",
        "hoodie.table.partition.fields" -> "",
        "hoodie.populate.meta.fields" -> "false"))
    val touched = (adds.keySet ++ removes.keySet).toSeq.sorted
    if (touched.isEmpty && recordIndex.isEmpty) return
    val records: Seq[GenericRecord] = if (touched.isEmpty) Seq.empty else touched.map { pp =>
      val rec = new GenericData.Record(RecordSchema)
      rec.put("key", if (pp.isEmpty) "." else pp)
      rec.put("type", TypeFilesystemMetadata)
      val infoSchema = RecordSchema.getField("filesystemMetadata")
        .schema().getTypes.get(1).getValueType
      val m = new java.util.HashMap[String, AnyRef]()
      adds.getOrElse(pp, Seq.empty).foreach { case (name, size) =>
        val info = new GenericData.Record(infoSchema)
        info.put("size", java.lang.Long.valueOf(size))
        info.put("isDeleted", java.lang.Boolean.FALSE)
        m.put(name, info)
      }
      removes.getOrElse(pp, Seq.empty).foreach { name =>
        val info = new GenericData.Record(infoSchema)
        info.put("size", java.lang.Long.valueOf(0L))
        info.put("isDeleted", java.lang.Boolean.TRUE)
        m.put(name, info)
      }
      rec.put("filesystemMetadata", m)
      rec
    } :+ {
      // partition-list record: every partition path this table has seen
      val rec = new GenericData.Record(RecordSchema)
      rec.put("key", AllPartitionsKey)
      rec.put("type", TypeFilesystemMetadata)
      val infoSchema = RecordSchema.getField("filesystemMetadata")
        .schema().getTypes.get(1).getValueType
      val m = new java.util.HashMap[String, AnyRef]()
      touched.foreach { pp =>
        val info = new GenericData.Record(infoSchema)
        info.put("size", java.lang.Long.valueOf(0L))
        info.put("isDeleted", java.lang.Boolean.FALSE)
        m.put(if (pp.isEmpty) "." else pp, info)
      }
      rec.put("filesystemMetadata", m)
      rec
    }
    val filesLog =
      if (touched.isEmpty) None
      else writeLogFile(fs, filesDir(tablePath), FilesFileId, instant,
        RecordSchema, records.iterator) match {
        case None => return // a racer already recorded this instant
        case some => some
      }
    val statRecords: Seq[GenericRecord] = colStats.flatMap { case (pp, fileName, cols) =>
      cols.map { c =>
        val rec = new GenericData.Record(ColStatsSchema)
        rec.put("key", columnStatsKey(c.column, pp, fileName))
        rec.put("type", TypeColumnStats)
        val csSchema = ColStatsSchema.getField("ColumnStatsMetadata")
          .schema().getTypes.get(1)
        val cs = new GenericData.Record(csSchema)
        cs.put("fileName", fileName)
        cs.put("columnName", c.column)
        cs.put("minValue",
          c.minValue.map(v => wrapStatValue(v, colTypes.get(c.column))).orNull)
        cs.put("maxValue",
          c.maxValue.map(v => wrapStatValue(v, colTypes.get(c.column))).orNull)
        cs.put("valueCount", java.lang.Long.valueOf(c.numValues))
        cs.put("nullCount", java.lang.Long.valueOf(c.numNulls))
        cs.put("totalSize", java.lang.Long.valueOf(c.totalSize))
        cs.put("isDeleted", java.lang.Boolean.FALSE)
        rec.put("ColumnStatsMetadata", cs)
        rec
      }
    }
    val statsLog =
      if (statRecords.isEmpty) None
      else writeLogFile(fs, colStatsDir(tablePath), ColStatsFileId, instant,
        ColStatsSchema, statRecords.iterator)
    // record-index logs: repartitioned by index file group, each group's
    // log written by ITS executor task — the index is row-scale (one
    // record per table row), so entries never collect to the driver
    val riStats: Seq[(String, String, Long)] = recordIndex match {
      case None => Seq.empty
      case Some(ri) =>
        import ri.spark.implicits._
        val riDir = recordIndexDir(tablePath).toString
        val nGroups = ri.numGroups
        val sconf = new graft.util.SerializableHadoopConf(conf)
        ri.entries
          .groupByKey(e => recordIndexGroup(e.key, nGroups))
          .flatMapGroups { (g, it) =>
            val dir = new Path(riDir)
            val lfs = dir.getFileSystem(sconf.value)
            val recs = it.map { e =>
              val rec = new GenericData.Record(RecordIndexSchema)
              rec.put("key", e.key)
              rec.put("type", TypeRecordIndex)
              if (!e.deleted) {
                val infoSchema = RecordIndexSchema.getField("recordIndexMetadata")
                  .schema().getTypes.get(1)
                val info = new GenericData.Record(infoSchema)
                info.put("partitionName", e.partitionPath)
                info.put("fileId", e.fileId)
                info.put("fileIdEncoding", java.lang.Integer.valueOf(1))
                rec.put("recordIndexMetadata", info)
              }
              rec
            }
            writeLogFile(lfs, dir, recordIndexFileId(g), instant,
              RecordIndexSchema, recs) match {
              case Some(p) =>
                Iterator((recordIndexFileId(g), p.getName, lfs.getFileStatus(p).getLen))
              case None => Iterator.empty
            }
          }
          .collect().toSeq
    }
    val prev = timeline.completedInstants().lastOption.map(_.time).getOrElse("null")
    def stat(fileId: String, partition: String, p: Path, n: Long) = HudiWriteStat(
      fileId = fileId,
      path = s"$partition/${p.getName}",
      prevCommit = prev,
      numWrites = n,
      fileSizeInBytes = fs.getFileStatus(p).getLen)
    val riWriteStats =
      if (riStats.isEmpty) Map.empty[String, Seq[HudiWriteStat]]
      else Map(RecordIndexPartition -> riStats.map { case (fid, name, size) =>
        HudiWriteStat(fileId = fid, path = s"$RecordIndexPartition/$name",
          prevCommit = prev, numWrites = 0L, fileSizeInBytes = size)
      })
    val filesWriteStats = filesLog.map(p => FilesPartition ->
      Seq(stat(FilesFileId, FilesPartition, p, records.size.toLong))).toMap
    if (filesWriteStats.isEmpty && statsLog.isEmpty && riWriteStats.isEmpty) return
    val meta = HudiCommitMetadata(
      partitionToWriteStats =
        filesWriteStats ++
          statsLog.map(p => ColumnStatsPartition ->
            Seq(stat(ColStatsFileId, ColumnStatsPartition, p, statRecords.size.toLong))).toMap ++
          riWriteStats,
      partitionToReplaceFileIds = Map.empty,
      extraMetadata = Map.empty,
      operationType = "UPSERT")
    // lost race = another writer recorded this instant already: fine
    timeline.commit(HudiInstant(instant, "deltacommit"), meta)
  }

  /** Record-index update payload: `entries` is a row-scale distributed
    * dataset of key locations / tombstones. */
  final case class RecordIndexUpdate(
      spark: org.apache.spark.sql.SparkSession,
      entries: org.apache.spark.sql.Dataset[RecordIndexEntry],
      numGroups: Int)

  /** Append one AVRO-block log file to a metadata partition; None when
    * a racer already wrote this instant's log (idempotent per instant:
    * same records, keep theirs — invisible anyway until the
    * deltacommit completes). */
  private def writeLogFile(
      fs: FileSystem, dir: Path, fileId: String, instant: String,
      schema: Schema, records: Iterator[GenericRecord]): Option[Path] = {
    val block = HudiLogFormat.LogBlock(
      HudiLogFormat.AvroDataBlock,
      Map(
        HudiLogFormat.HeaderInstantTime -> instant,
        HudiLogFormat.HeaderSchema -> schema.toString),
      HudiLogFormat.encodeAvroBlock(schema, records))
    fs.mkdirs(dir)
    val version = 1 + fs.listStatus(dir) // next log version
      .count(st => HudiLogFormat.isLogPath(st.getPath.getName))
    val logPath = new Path(dir, HudiLogFormat.logFileName(fileId, instant, version))
    try { HudiLogFormat.write(fs, logPath, Seq(block)); Some(logPath) }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => None
      case _: java.nio.file.FileAlreadyExistsException => None
      case _: java.io.IOException if fs.exists(logPath) => None
    }
  }

  /** True when the table carries a metadata table with a files partition. */
  def exists(fs: FileSystem, tablePath: String): Boolean =
    fs.exists(filesDir(tablePath))

  /** True when the metadata table carries a column_stats partition. */
  def hasColumnStats(fs: FileSystem, tablePath: String): Boolean =
    fs.exists(colStatsDir(tablePath))

  /** True when the metadata table carries a record_index partition. */
  def hasRecordIndex(fs: FileSystem, tablePath: String): Boolean =
    fs.exists(recordIndexDir(tablePath))

  /**
   * Distributed record_index replay: one task per index log decodes its
   * blocks on the executors, "last record wins per key, tombstones
   * drop" resolves with one metadata-scale shuffle. It stays a Spark
   * job while every other metadata replay folds on the driver: the
   * index is row-scale, and callers join it, never collect it. Returns
   * (key, partitionPath, fileId) for every live key, or None when the
   * partition is absent/empty.
   */
  def readRecordIndexDF(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Option[org.apache.spark.sql.DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root(tablePath).getFileSystem(conf)
    if (!hasRecordIndex(fs, tablePath)) return None
    val timeline = new HudiTimeline(root(tablePath).toString, conf)
    val completed = timeline.completedInstants().map(_.time).toSet
    val logs = fs.listStatus(recordIndexDir(tablePath)).toSeq
      .map(_.getPath)
      .filter(p => HudiLogFormat.isLogPath(p.getName))
      .sortBy(_.getName)
    if (logs.isEmpty || completed.isEmpty) return None
    val sconf = new graft.util.SerializableHadoopConf(conf)
    val visibleB = spark.sparkContext.broadcast(completed)
    import spark.implicits._
    val rows = spark.createDataset(logs.map(_.toString).zipWithIndex)
      .repartition(math.min(logs.size, spark.sparkContext.defaultParallelism))
      .flatMap { case (pathStr, fileSeq) =>
        val p = new Path(pathStr)
        val lfs = p.getFileSystem(sconf.value)
        decodeRecordIndexLog(lfs, p, visibleB.value).zipWithIndex.map {
          case ((key, loc), recSeq) =>
            RecordIndexReplayRow(
              key,
              seq = fileSeq.toLong << 32 | recSeq.toLong,
              deleted = loc.isEmpty,
              partitionPath = loc.map(_._1).getOrElse(""),
              fileId = loc.map(_._2).getOrElse(""))
        }
      }
    val merged = rows.groupByKey(_.key)
      .reduceGroups((a, b) => if (a.seq >= b.seq) a else b)
      .map(_._2).filter(r => !r.deleted)
    Some(merged.toDF().select("key", "partitionPath", "fileId"))
  }

  /** Decode one record_index log: (key, Some((partition, fileId)) or
    * tombstone) in block order, restricted to completed instants.
    * Decodes both fileId encodings: 1 = raw string (this engine's
    * writes), 0 = UUID packed in high/low bits + fileIndex (real Hudi). */
  private[hudi] def decodeRecordIndexLog(
      fs: FileSystem, p: Path, visible: Set[String]):
      Seq[(String, Option[(String, String)])] =
    HudiLogFormat.readBlocks(fs, p)
      .filter(b => b.blockType == HudiLogFormat.AvroDataBlock &&
        b.headers.get(HudiLogFormat.HeaderInstantTime).exists(visible.contains))
      .flatMap { b =>
        val schema = new Schema.Parser().parse(b.headers(HudiLogFormat.HeaderSchema))
        HudiLogFormat.decodeAvroBlock(b.content, schema).map { rec =>
          val key = rec.get("key").toString
          val loc = Option(rec.get("recordIndexMetadata")).map { riAny =>
            val ri = riAny.asInstanceOf[GenericRecord]
            val part = Option(ri.get("partitionName")).map(_.toString).getOrElse("")
            val enc = Option(ri.get("fileIdEncoding")).map(_.asInstanceOf[Int]).getOrElse(0)
            val fileId =
              if (enc == 1 || ri.get("fileId") != null)
                Option(ri.get("fileId")).map(_.toString).getOrElse("")
              else {
                val hi = ri.get("fileIdHighBits").asInstanceOf[java.lang.Long]
                val lo = ri.get("fileIdLowBits").asInstanceOf[java.lang.Long]
                val idx = Option(ri.get("fileIndex")).map(_.asInstanceOf[Int]).getOrElse(-1)
                val base = new java.util.UUID(hi, lo).toString
                if (idx >= 0) s"$base-$idx" else base
              }
            (part, fileId)
          }
          (key, loc)
        }
      }

  /**
   * Record-index coverage fence: the set of data-table instants whose
   * metadata deltacommit carried record_index write stats — read from
   * the metadata timeline alone (no log opens). Routing may trust the
   * index only when every data WRITE instant after the first covered
   * instant (the index build) is in this set; an uncovered structural
   * instant (rollback/restore, or a write committed while the index
   * wasn't maintained) means stale file ids could hide live keys, so
   * callers must fall back to range pruning.
   */
  def recordIndexCoverage(conf: Configuration, tablePath: String): Set[String] = {
    val timeline = new HudiTimeline(root(tablePath).toString, conf)
    if (!timeline.exists) return Set.empty
    timeline.completedInstants().filter { i =>
      scala.util.Try(timeline.readCommitMetadata(i))
        .toOption.exists(_.partitionToWriteStats.contains(RecordIndexPartition))
    }.map(_.time).toSet
  }

  /**
   * Replay the column_stats partition: merged stat rows per
   * (fileName, columnName) — later blocks win, isDeleted drops — the
   * skipping index a native reader derives instead of footer scans.
   */
  def readColumnStats(
      fs: FileSystem, conf: Configuration,
      tablePath: String,
      /** Restrict the replay to these data-commit instants (the block
        * header instant — metadata deltacommits share the data commit's
        * time). None = all completed instants, i.e. current state. */
      wantedInstants: Option[Set[String]] = None): Seq[(String, graft.model.ColumnStatRow)] = {
    if (!hasColumnStats(fs, tablePath)) return Seq.empty
    val timeline = new HudiTimeline(root(tablePath).toString, conf)
    val completed = timeline.completedInstants().map(_.time).toSet
    val visible = wantedInstants.map(_.intersect(completed)).getOrElse(completed)
    val logs = fs.listStatus(colStatsDir(tablePath)).toSeq
      .map(_.getPath)
      .filter(p => HudiLogFormat.isLogPath(p.getName))
      .sortBy(_.getName)
    val state = scala.collection.mutable.LinkedHashMap[(String, String), Option[graft.model.ColumnStatRow]]()
    logs.foreach { p =>
      decodeColStatsLog(fs, p, visible).foreach { case (key, row) => state(key) = row }
    }
    state.toSeq.collect { case ((fileName, _), Some(row)) => fileName -> row }
  }

  /** Decode one column_stats log file: ((fileName, column), row-or-
    * tombstone) in block order, restricted to `visible` instants — the
    * per-file step of [[readColumnStats]]. */
  private[hudi] def decodeColStatsLog(
      fs: FileSystem, p: Path, visible: Set[String]):
      Seq[((String, String), Option[graft.model.ColumnStatRow])] =
    HudiLogFormat.readBlocks(fs, p)
      .filter(b => b.blockType == HudiLogFormat.AvroDataBlock &&
        b.headers.get(HudiLogFormat.HeaderInstantTime).exists(visible.contains))
      .flatMap { b =>
        val schema = new Schema.Parser().parse(b.headers(HudiLogFormat.HeaderSchema))
        HudiLogFormat.decodeAvroBlock(b.content, schema).flatMap { rec =>
          Option(rec.get("ColumnStatsMetadata")).map { csAny =>
            val cs = csAny.asInstanceOf[GenericRecord]
            val fileName = cs.get("fileName").toString
            val column = cs.get("columnName").toString
            val deleted = cs.get("isDeleted").asInstanceOf[Boolean]
            ((fileName, column),
              if (deleted) None
              else Some(graft.model.ColumnStatRow(
                column = column,
                minValue = Option(cs.get("minValue")).map(unwrapStatValue),
                maxValue = Option(cs.get("maxValue")).map(unwrapStatValue),
                numNulls = cs.get("nullCount").asInstanceOf[Long],
                numValues = cs.get("valueCount").asInstanceOf[Long],
                totalSize = cs.get("totalSize").asInstanceOf[Long])))
          }
        }
      }

  /**
   * Replay the files partition: merged file listing per partition path
   * (later blocks win per file name; isDeleted entries drop out) —
   * what a native reader derives instead of listing the filesystem.
   */
  def readFiles(fs: FileSystem, conf: Configuration, tablePath: String): Map[String, Map[String, Long]] = {
    if (!exists(fs, tablePath)) return Map.empty
    val timeline = new HudiTimeline(root(tablePath).toString, conf)
    val completed = timeline.completedInstants().map(_.time).toSet
    val logs = fs.listStatus(filesDir(tablePath)).toSeq
      .map(_.getPath)
      .filter(p => HudiLogFormat.isLogPath(p.getName))
      .sortBy(_.getName)
    val state = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, Option[Long]]]()
    logs.foreach { p =>
      HudiLogFormat.readBlocks(fs, p)
        .filter(b => b.blockType == HudiLogFormat.AvroDataBlock &&
          // uncommitted (crashed) log files are invisible, like any MOR read
          b.headers.get(HudiLogFormat.HeaderInstantTime).exists(completed.contains))
        .foreach { b =>
          val schema = new Schema.Parser().parse(b.headers(HudiLogFormat.HeaderSchema))
          HudiLogFormat.decodeAvroBlock(b.content, schema).foreach { rec =>
            val key = rec.get("key").toString
            if (key != AllPartitionsKey) {
              val part = state.getOrElseUpdate(key, scala.collection.mutable.Map.empty)
              Option(rec.get("filesystemMetadata")).foreach {
                case m: java.util.Map[_, _] =>
                  m.asScala.foreach { case (name, info) =>
                    val i = info.asInstanceOf[GenericRecord]
                    val deleted = i.get("isDeleted").asInstanceOf[Boolean]
                    part(name.toString) =
                      if (deleted) None else Some(i.get("size").asInstanceOf[Long])
                  }
                case _ =>
              }
            }
          }
        }
    }
    state.map { case (pp, files) =>
      pp -> files.collect { case (n, Some(size)) => n -> size }.toMap
    }.filter(_._2.nonEmpty).toMap
  }
}
