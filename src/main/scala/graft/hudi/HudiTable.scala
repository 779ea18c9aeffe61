package graft.hudi

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.AvroSchemaConverters
import graft.stats.ParquetFooterStats
import graft.util.StagedWrites

/** One MOR log file attached to a file slice. */
final case class HudiLogFileRef(path: String, instant: String, version: Int, size: Long)

/** One live file slice: the group's base file plus its log files. */
final case class HudiFileSlice(
    partitionPath: String,
    fileId: String,
    baseInstant: String,
    basePath: String,
    baseSize: Long,
    logs: Seq[HudiLogFileRef])

/**
 * Native Hudi COW table — the third format plane (ref
 * `core/.../hudi/HudiDataFileExtractor.java:113-256` reads the timeline
 * through Hudi's FS view on the driver; here too the replay folds the
 * commit metadata on the driver, whatever the timeline's size).
 *
 * Snapshot semantics (COW): a file group is (partitionPath, fileId);
 * the live base file of a group is the one written by the latest
 * commit ≤ asOf, unless a replacecommit ≤ asOf replaced the group later
 * (clustering/insert-overwrite — ref `HudiDataFileExtractor.java:313-348`).
 * CLEAN/ROLLBACK/SAVEPOINT are no-ops for the COW read-optimized view
 * (ref `:244-250`).
 *
 * Schema travels in each commit's `extraMetadata` as an Avro schema
 * (Hudi convention), through [[graft.schema.AvroSchemaConverters]] —
 * the reference's Avro↔canonical hop (`core/.../avro/AvroSchemaConverter.java`).
 * Partition fields live in `hoodie.properties`.
 *
 * MERGE_ON_READ tables layer [[HudiLogFormat]] log files onto the same
 * file groups: `deltacommit` instants append AVRO_DATA blocks, snapshot
 * reads merge base + logs per record key ([[mergedRead]]), and
 * [[compactMor]] folds the logs back into base files.
 */
final class HudiTable private (spark: SparkSession, val timeline: HudiTimeline) {

  def tablePath: String = timeline.tablePath

  // ---------------------------------------------------------------- reads

  /** Completed data instants, time-ordered. */
  def instants: Seq[String] = timeline.completedInstants().map(_.time)

  /** Completed instants visible to a read as of `asOf` (None: all). */
  private[hudi] def instantsAt(asOf: Option[String]): Seq[String] =
    asOf.map(a => instants.filter(_ <= a)).getOrElse(instants)

  def latestInstant: String = instants.lastOption.getOrElse(
    throw new IllegalStateException(s"empty hudi table: $tablePath"))

  /** Latest completed instant whose UTC wall-clock time is <= tsMillis. */
  def instantForTimestamp(tsMillis: Long): String = {
    val c = instants.filter(i => HudiTimeline.parseInstant(i).toEpochMilli <= tsMillis)
    require(c.nonEmpty, s"no hudi instant at or before $tsMillis")
    c.last
  }

  def properties: Map[String, String] = timeline.readProperties()

  def partitionColumns: Seq[String] =
    properties.get("hoodie.table.partition.fields").filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(Seq.empty)

  /** Data layout: hive `k=v` dirs vs slash-delimited partition VALUES
    * (`DIR_HIERARCHY_PARTITION_VALUES`, ref
    * `api/.../storage/DataLayoutStrategy.java:29-33`). Our own writer
    * always stamps `hive_style_partitioning` into hoodie.properties;
    * when the key is ABSENT the table is foreign, and real Hudi's
    * table-config default for it is false (value-only) — so sniff one
    * committed partition path for a `field=` prefix (metadata-only, no
    * FS listing) and fall back to Hudi's value-only default. */
  def hiveStyleLayout: Boolean =
    if (!timeline.exists) true // our writer's default for NEW tables
    else properties.get("hoodie.datasource.write.hive_style_partitioning") match {
      case Some(v) => v != "false"
      case None =>
        val fields = partitionColumns
        if (fields.isEmpty) true // unpartitioned: layout is moot
        else sniffedPartitionPath match {
          case Some(pp) => pp.split('/').headOption.exists(_.startsWith(fields.head + "="))
          case None     => false // Hudi's HoodieTableConfig default: value-only
        }
    }

  /** One partition path from the newest completed commit that wrote any
    * files — the layout witness for [[hiveStyleLayout]]'s sniff. */
  private def sniffedPartitionPath: Option[String] =
    timeline.completedInstants().reverse.iterator
      .map(i => scala.util.Try(timeline.readCommitMetadata(i)).toOption)
      .collectFirst {
        case Some(m) if m.partitionToWriteStats.keys.exists(_.nonEmpty) =>
          m.partitionToWriteStats.keys.filter(_.nonEmpty).min
      }

  /** Table schema at an instant: Avro schema from the latest commit's
    * extraMetadata (Hudi's schema-evolution channel). */
  def schemaAt(asOf: Option[String] = None): StructType = {
    val completed = timeline.completedInstants()
    val upTo = asOf.map(a => completed.filter(_.time <= a)).getOrElse(completed)
    require(upTo.nonEmpty, s"no commit at or before ${asOf.getOrElse("?")} in $tablePath")
    // newest-to-oldest until a commit carries a schema
    upTo.reverse.iterator
      .map(i => timeline.readCommitMetadata(i).extraMetadata.get("schema"))
      .collectFirst { case Some(avroJson) => HudiTable.sparkSchemaOf(avroJson) }
      .getOrElse(throw new IllegalStateException(s"no schema in timeline of $tablePath"))
  }

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** The timeline replay: the given instants' commit metadata, parsed on
    * the driver through the memoized [[HudiTimeline.readCommitMetadata]],
    * in instant order — each write stat as an add (with its recorded
    * `numWrites`), each replaced file group as a replace. Every snapshot,
    * slice and change read folds over this one sequence. */
  private[hudi] def localActions(instantTimes: Seq[String]): Seq[HudiTable.LocalAction] = {
    if (instantTimes.isEmpty) return Seq.empty
    val byTime = timeline.completedInstants().map(i => i.time -> i).toMap
    instantTimes.sorted.flatMap { t =>
      val m = timeline.readCommitMetadata(byTime.getOrElse(t,
        throw new IllegalStateException(s"$t is not a completed instant of $tablePath")))
      val adds = m.partitionToWriteStats.toSeq.flatMap { case (pp, stats) =>
        stats.map(st => HudiTable.LocalAction(
          t, pp, st.fileId, st.path, st.fileSizeInBytes, isAdd = true, st.numWrites))
      }
      val reps = m.partitionToReplaceFileIds.toSeq.flatMap { case (pp, ids) =>
        ids.map(fid => HudiTable.LocalAction(t, pp, fid, null, 0L, isAdd = false, 0L))
      }
      adds ++ reps
    }
  }

  /** Live base files of a replay: per (partitionPath, fileId) the newest
    * action wins, and the group is live iff that action is a write; log
    * files never compete for the base slot. Sorted by (partitionPath,
    * fileId). */
  private def liveBases(acts: Seq[HudiTable.LocalAction]): Seq[HudiTable.LocalAction] = {
    val state = scala.collection.mutable.HashMap[(String, String), HudiTable.LocalAction]()
    acts.foreach { a =>
      if (a.path == null || !a.path.contains(".log.")) {
        val k = (a.partitionPath, a.fileId)
        if (state.get(k).forall(_.instant <= a.instant)) state(k) = a
      }
    }
    state.valuesIterator.filter(_.isAdd).toSeq.sortBy(a => (a.partitionPath, a.fileId))
  }

  private def sliceSchema: StructType = StructType(Seq(
    StructField("instant", StringType), StructField("partitionPath", StringType),
    StructField("fileId", StringType), StructField("path", StringType),
    StructField("size", LongType)))

  /**
   * Live base files at `asOf` as a local relation (collecting it runs
   * no job). A created-but-never-committed table (hoodie.properties
   * present, zero completed instants — the concurrent-bootstrap window)
   * is an EMPTY table: a racing reader sees no live slices.
   */
  def fileSlicesDF(asOf: Option[String] = None): DataFrame = {
    val rows = liveBases(localActions(instantsAt(asOf))).map(a =>
      org.apache.spark.sql.Row(a.instant, a.partitionPath, a.fileId, a.path, a.size))
    spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, sliceSchema)
  }

  // ------------------------------------------------------- merge-on-read

  def tableType: String =
    properties.getOrElse("hoodie.table.type", "COPY_ON_WRITE")
  def isMor: Boolean = tableType == "MERGE_ON_READ"

  /** `hoodie.table.recordkey.fields` — the merge key MOR requires. */
  def recordKeyField: Option[String] =
    properties.get("hoodie.table.recordkey.fields").filter(_.nonEmpty)

  /**
   * Metadata-only type widening, Hudi's schema-evolution channel: the
   * widened schema rides a zero-write `commit` instant's extraMetadata
   * (Avro resolution makes int→long / float→double legal promotions for
   * every reader of the old files; decimal grows precision at the same
   * scale). Existing data files keep their narrower physical type — the
   * scan widens values at read time. Later appends may carry either
   * width (SchemaMerge keeps the declared wide type).
   *
   * Refused for the record-key field (keygen + both record-level
   * indexes pin the key's serialized form) and partition columns (the
   * uniform cross-format posture — see DeltaTable.widenColumn).
   */
  def widenColumn(name: String, to: DataType): String = {
    val schema = schemaAt(None)
    require(!recordKeyField.contains(name),
      s"cannot widen record key field $name of $tablePath: the key's " +
        "serialized form is pinned by keygen and the record-level index")
    require(!partitionColumns.contains(name),
      s"cannot widen partition column $name of $tablePath")
    // dot-path walk — nested struct fields / array elements / map values
    // widen too (Avro resolution is recursive, so readers of old files
    // resolve the nested promotion the same as a top-level one)
    val widened = graft.model.SchemaMerge.widenAt(schema, name, to, tablePath)()
    val meta = HudiCommitMetadata(
      partitionToWriteStats = Map.empty,
      partitionToReplaceFileIds = Map.empty,
      extraMetadata = Map("schema" -> AvroSchemaConverters.toAvro(widened).toString),
      operationType = "ALTER_SCHEMA")
    var attempt = 0
    var committed: Option[String] = None
    while (committed.isEmpty) {
      attempt += 1
      val instant = timeline.nextInstantTime()
      val won =
        try timeline.commit(HudiInstant(instant, "commit"), meta)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      if (won) committed = Some(instant)
      else {
        graft.model.ConcurrentSyncException.check(attempt < 10,
          s"concurrent commit contention at $tablePath: 10 attempts lost the race")
        Thread.sleep(scala.util.Random.nextInt(20 * attempt) + 1L)
      }
    }
    committed.get
  }

  /** DESCRIBE DETAIL: one row of table-level facts from the timeline +
    * latest file slices — no raw filesystem listing. */
  def detail(): DataFrame = {
    import spark.implicits._
    val slices = fileSlicesDF(None).agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.coalesce(
        col("size"), org.apache.spark.sql.functions.lit(0L)))).head
    Seq((
      "hudi", properties.getOrElse("hoodie.table.name", ""), tablePath, tableType,
      properties.getOrElse("hoodie.table.partition.fields", ""),
      slices.getLong(0), if (slices.isNullAt(1)) 0L else slices.getLong(1),
      properties, instants.lastOption.getOrElse("")
    )).toDF("format", "name", "location", "tableType", "partitionFields",
      "numFiles", "sizeInBytes", "properties", "latestInstant")
  }

  /** Live file slices with their attached log files: a log belongs to
    * the slice whose base instant its name carries (Hudi file-slice
    * rule), so logs of a replaced/compacted group never leak forward. */
  def fileSlices(asOf: Option[String] = None): Seq[HudiFileSlice] = {
    val acts = localActions(instantsAt(asOf))
    val logs: Map[(String, String, String), Seq[HudiLogFileRef]] =
      if (!isMor) Map.empty
      else acts
        .collect {
          case HudiTable.LocalAction(inst, pp, _, path, size, true, _)
              if path != null && path.contains(".log.") =>
            HudiLogFormat.parseLogFileName(new Path(path).getName).map {
              case (fid, baseInstant, ver) =>
                (pp, fid, baseInstant) -> HudiLogFileRef(path, inst, ver, size)
            }
        }
        .flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    liveBases(acts).map { b =>
      HudiFileSlice(b.partitionPath, b.fileId, b.instant, b.path, b.size,
        logs.getOrElse((b.partitionPath, b.fileId, b.instant), Seq.empty)
          .sortBy(l => (l.instant, l.version)))
    }
  }

  /** True when any live slice carries log files (snapshot ≠ RO view). */
  def hasLogFiles(asOf: Option[String] = None): Boolean =
    isMor && fileSlices(asOf).exists(_.logs.nonEmpty)

  /** Number of live file slices — sizes the streaming source's
    * initial-snapshot chunking. */
  def snapshotFileCount(asOf: Option[String] = None): Int = fileSlices(asOf).size

  /** Deterministic slice `chunk` of `totalChunks` over the snapshot's
    * live file groups (modulo over the sorted slice list): the streaming
    * source's initial-snapshot admission control. A MOR group's base and
    * log files stay in the same chunk, so the per-key merge is complete
    * within each chunk. */
  def snapshotChunkDF(asOf: Option[String], chunk: Int, totalChunks: Int): DataFrame = {
    require(totalChunks > 0 && chunk >= 0 && chunk < totalChunks,
      s"bad snapshot chunk $chunk/$totalChunks")
    val slices = fileSlices(asOf).sortBy(s => (s.partitionPath, s.fileId))
    val mine = slices.zipWithIndex.collect { case (s, i) if i % totalChunks == chunk => s }
    mergedRead(mine, asOf)
  }

  /** The read-optimized view: base files only, log mutations invisible —
    * what the reference syncs for MOR sources (ref
    * `HudiDataFileExtractor.java` getLatestBaseFiles). */
  def readOptimizedDF(asOf: Option[String] = None): DataFrame = {
    val files = fileSlicesDF(asOf).select("path", "partitionPath", "size").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
    readFiles(files, asOf)
  }

  /**
   * MOR snapshot read of the given slices: base rows and log records
   * union under a per-key window — latest (instant, log version, record
   * index) wins; `_hoodie_is_deleted` tombstones drop out (public Hudi
   * delete convention). Log decode runs on executors, one task per log
   * batch; the only shuffle is the per-key window over the MUTATED file
   * groups — untouched groups take the plain columnar path.
   *
   * Duplicate-key contract: record keys are assumed UNIQUE across base
   * files (what this engine's writers enforce, and Hudi's own global
   * uniqueness invariant). A foreign table that violates it gets
   * undefined duplicate resolution — the whole-window shape keeps an
   * arbitrary one per key (row_number tie), while the routed shape
   * below keeps every log-untouched duplicate — so snapshot row counts
   * on such tables can differ between the two shapes.
   */
  private[hudi] def mergedRead(slices: Seq[HudiFileSlice], asOf: Option[String]): DataFrame = {
    val schema = schemaAt(asOf)
    val (withLogs, plain) = slices.partition(_.logs.nonEmpty)
    val plainDF = readFiles(plain.map(s => (s.basePath, s.partitionPath, s.baseSize)), asOf)
    if (withLogs.isEmpty) return plainDF
    val key = recordKeyField.getOrElse(throw new IllegalStateException(
      s"MOR table $tablePath has no hoodie.table.recordkey.fields"))
    val keyName = key
    val keyDt = schema(key).dataType
    val ordCols = Seq(
      StructField("__inst", StringType), StructField("__ver", IntegerType),
      StructField("__idx", LongType), StructField("__del", BooleanType))
    val ordSchema = StructType(schema.fields ++ ordCols)
    // base rows: priority = the slice's base instant
    val instDF = spark.createDataFrame(withLogs.map(s =>
      (HudiTable.metaPathForm(absoluteOf(s.basePath)), s.baseInstant))).toDF("__graft_file", "__inst")
    val base = readFiles(
        withLogs.map(s => (s.basePath, s.partitionPath, s.baseSize)), asOf,
        withRowPositions = true)
      .join(broadcast(instDF), Seq("__graft_file"))
      .withColumn("__ver", lit(-1))
      .withColumn("__idx", lit(0L))
      .withColumn("__del", lit(false))
      .select(ordSchema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
    // log rows: executor-side block decode
    val conf = new graft.util.SerializableHadoopConf(hconf)
    val descs = withLogs.flatMap(s => s.logs.map(l => (absoluteOf(l.path), l.instant, l.version)))
    val rowsRdd = spark.sparkContext
      .parallelize(descs, math.max(1, math.min(descs.size, spark.sparkContext.defaultParallelism * 2)))
      .flatMap { case (p, inst, ver) =>
        val path = new Path(p)
        val fsys = path.getFileSystem(conf.value)
        HudiLogFormat.effectiveBlocks(fsys, path).iterator
          .flatMap { b =>
            if (b.blockType == HudiLogFormat.DeleteBlock) {
              // foreign-writer delete block: each tombstoned key becomes
              // a delete row ranked like any log mutation
              HudiLogFormat.decodeDeleteBlock(b.content, p)
                .iterator.zipWithIndex.map { case ((rk, _), i) =>
                  org.apache.spark.sql.Row.fromSeq(
                    schema.fields.map(f =>
                      if (f.name == keyName) HudiLogFormat.keyFromString(rk, keyDt)
                      else null).toSeq ++ Seq(inst, ver, i.toLong, true))
                }
            } else {
            val avroSchema = new org.apache.avro.Schema.Parser()
              .parse(b.headers(HudiLogFormat.HeaderSchema))
            HudiLogFormat.decodeAvroBlock(b.content, avroSchema)
              .iterator.zipWithIndex.map { case (rec, i) =>
                val del = Option(rec.getSchema.getField("_hoodie_is_deleted"))
                  .flatMap(_ => Option(rec.get("_hoodie_is_deleted")))
                  .contains(java.lang.Boolean.TRUE)
                org.apache.spark.sql.Row.fromSeq(
                  HudiLogFormat.fromAvroRecord(rec, schema).toSeq ++
                    Seq(inst, ver, i.toLong, del))
              }
            }
          }
      }
    val logDF = spark.createDataFrame(rowsRdd, ordSchema)
    // Route ONLY log-touched keys through the merge window: a key not
    // in any log block has exactly one live base row (Hudi keys live in
    // one file group; this engine's writers enforce uniqueness, and a
    // foreign base file with duplicate keys had no defined merge order
    // before either — row_number tied), which the window would keep
    // unchanged — so cold base rows bypass the shuffle entirely via a
    // broadcast anti-join on the mutation-sized key set, and merge cost
    // becomes proportional to the mutations, not to the base files they
    // landed in (guide §2.3/§2.4 — the 100 TB posture, the same routing
    // idea as the key-indexed MERGE). The decision is METADATA-only
    // (timeline byte counts, zero extra jobs): route when the log bytes
    // are a clear minority of the mutated groups' base bytes (the shape
    // where skipping the base shuffle beats scanning base twice) AND
    // the key set provably fits a broadcast (log bytes bound the
    // projected key bytes from above, compared against
    // autoBroadcastJoinThreshold semantics). Mutation-heavy tables —
    // like the local fixtures, where ~half the keys carry mutations —
    // keep the former whole-window shape, which shuffles but never
    // collects.
    val logBytes = withLogs.iterator.flatMap(_.logs).map(_.size).sum
    val baseBytes = withLogs.iterator.map(_.baseSize).sum
    // sessionState.conf parses byte-string values ('10MB') that a
    // vanilla session reports, and returns -1 when the user disabled
    // auto-broadcast — which must disable the routed path too, not
    // fall back to a silent 10MB budget
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    val routed = logBytes * 4 <= baseBytes && budget > 0 && logBytes <= budget
    // per-key winner via max_by over the (instant, log version, record
    // index) ordering struct — a HASH aggregate with map-side partial
    // merge, replacing the former sort window (same winner: struct
    // comparison is field-by-field, so max == first row under the
    // desc/desc/desc sort; instants are fixed-width numeric strings, so
    // lexicographic == chronological). The window paid a full sort of
    // every merged row after the shuffle and could not combine
    // map-side; ties (identical ordering tuple — only duplicate-key
    // foreign base rows) were arbitrary under row_number and stay
    // arbitrary under max_by (guide §2.3 aggregate before you shuffle,
    // §2.4)
    def mergeOf(baseRows: DataFrame, logRows: DataFrame): DataFrame =
      baseRows.unionByName(logRows)
        .groupBy(col(s"`$key`"))
        .agg(max_by(
          struct((schema.fieldNames.filterNot(_ == key).map(n => col(s"`$n`")) :+
            col("__del")).toSeq: _*),
          struct(col("__inst"), col("__ver"), col("__idx"))).as("__w"))
        .filter(!col("__w.__del"))
        .select(schema.fieldNames.map(n =>
          if (n == key) col(s"`$n`") else col(s"__w.`$n`").as(n)).toSeq: _*)
    val merged = if (routed) {
      // mutation-sized: one materialization (lazy — first action pays
      // the decode once) feeds both the key set and the merge union
      val logCk = logDF.localCheckpoint(eager = false)
      val logKeys = logCk.select(col(key)).distinct()
      val coldBase = base.join(broadcast(logKeys), Seq(key), "left_anti")
        .select(schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
      val hotBase = base.join(broadcast(logKeys), Seq(key), "left_semi")
      coldBase.unionByName(mergeOf(hotBase, logCk))
    } else mergeOf(base, logDF)
    plainDF.unionByName(merged)
  }

  /**
   * Change data feed for instants in (from, to]: a MOR table's log
   * blocks ARE the change stream — each deltacommit's AVRO_DATA records
   * come back as `upsert` rows (post-images) or `delete` tombstones
   * (`_hoodie_is_deleted`), and its new base files as `insert` rows.
   * COW commits feed their added files as `insert`s. Output carries
   * `_change_type` and `_commit_instant`.
   */
  def changeFeed(fromExclusive: String, toInclusive: String): DataFrame = {
    val range = instants.filter(t => t > fromExclusive && t <= toInclusive)
    require(range.nonEmpty, s"no instants in ($fromExclusive, $toInclusive] of $tablePath")
    val schema = schemaAt(Some(toInclusive))
    def finish(df: DataFrame, t: org.apache.spark.sql.Column, inst: String): DataFrame =
      df.withColumn("_change_type", t).withColumn("_commit_instant", lit(inst))
    val addsByInstant = localActions(range).filter(_.isAdd).groupBy(_.instant)
    val parts: Seq[DataFrame] = range.flatMap { inst =>
      val acts = addsByInstant.getOrElse(inst, Seq.empty).map(a => (a.path, a.partitionPath, a.size))
      val (logs, bases) = acts.partition(f => HudiLogFormat.isLogPath(f._1))
      val baseDF =
        if (bases.isEmpty) None
        else Some(finish(readFiles(bases, Some(toInclusive)), lit("insert"), inst))
      val logDF =
        if (logs.isEmpty) None
        else {
          val conf = new graft.util.SerializableHadoopConf(hconf)
          val cfKeyName = recordKeyField.orNull
          val cfKeyDt = recordKeyField.map(k => schema(k).dataType).getOrElse(StringType)
          val descs = logs.map(f => absoluteOf(f._1))
          val rows = spark.sparkContext
            .parallelize(descs, math.max(1, math.min(descs.size, spark.sparkContext.defaultParallelism * 2)))
            .flatMap { p =>
              val path = new Path(p)
              val fsys = path.getFileSystem(conf.value)
              HudiLogFormat.effectiveBlocks(fsys, path).iterator
                .flatMap { b =>
                  if (b.blockType == HudiLogFormat.DeleteBlock)
                    HudiLogFormat.decodeDeleteBlock(b.content, p).iterator.map {
                      case (rk, _) =>
                        org.apache.spark.sql.Row.fromSeq(
                          schema.fields.map(f =>
                            if (f.name == cfKeyName)
                              HudiLogFormat.keyFromString(rk, cfKeyDt)
                            else null).toSeq :+ true)
                    }
                  else {
                  val avroSchema = new org.apache.avro.Schema.Parser()
                    .parse(b.headers(HudiLogFormat.HeaderSchema))
                  HudiLogFormat.decodeAvroBlock(b.content, avroSchema).iterator.map { rec =>
                    val del = Option(rec.getSchema.getField("_hoodie_is_deleted"))
                      .flatMap(_ => Option(rec.get("_hoodie_is_deleted")))
                      .contains(java.lang.Boolean.TRUE)
                    org.apache.spark.sql.Row.fromSeq(
                      HudiLogFormat.fromAvroRecord(rec, schema).toSeq :+ del)
                  }
                  }
                }
            }
          val shape = StructType(schema.fields :+ StructField("__del", BooleanType))
          Some(finish(
            spark.createDataFrame(rows, shape),
            when(col("__del"), "delete").otherwise("upsert"), inst)
            .drop("__del"))
        }
      Seq(baseDF, logDF).flatten
    }
    // every instant in range may have added no files (e.g. an overwrite
    // of an empty frame): an empty feed, not an empty-reduce crash
    parts.reduceOption(_ unionByName _).getOrElse {
      val empty = StructType(schema.fields ++ Seq(
        StructField("_change_type", StringType), StructField("_commit_instant", StringType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  /**
   * MOR upsert: updates append AVRO_DATA log blocks to the file group
   * that owns each key (one new log file per mutated group per commit —
   * the object-store rollover pattern, written in parallel on the
   * executors); brand-new keys become new base files. One atomic
   * `deltacommit` covers both. Returns the instant time.
   */
  /**
   * The Bloom-index-shaped routing prune (what Hudi's record-key index
   * exists for): a slice whose base file's record-key range provably
   * excludes EVERY incoming key cannot own any of them, so the routing
   * scan skips it — at 100 TB the difference between reading the whole
   * table's key columns per upsert and reading the few file groups a
   * key batch actually touches. Ranges come from the col_stats index
   * (metadata-sized, broadcast); files without indexed key stats, and
   * key types whose canonical stat form isn't directly comparable,
   * stay candidates — pruning is only ever an optimization, never a
   * correctness dependency. Sound because every live key exists in
   * some BASE file (inserts always create base files; log blocks only
   * mutate keys already in their group's base).
   */
  private[hudi] def upsertCandidateSlices(
      df: DataFrame, key: String, keyDt: DataType): Seq[HudiFileSlice] = {
    // record-level index first: EXACT key→fileId routing (only true hit
    // file groups are touched — the difference between range-overlapping
    // candidates and actual hits at scale). The incoming batch's
    // distinct keys broadcast against the row-scale index; keys absent
    // from the index are pure inserts and need no candidate.
    if (recordIndexUsable()) {
      HudiMetadataTable.readRecordIndexDF(spark, tablePath) match {
        case Some(idx) =>
          val hitIds = idx.join(
              broadcast(df.select(col(s"`$key`").cast(StringType).as("key")).distinct()),
              Seq("key"))
            .select("fileId").distinct()
            .collect().map(_.getString(0)).toSet
          return fileSlices(None).filter(s => hitIds.contains(s.fileId))
        case None => ()
      }
    }
    val comparable = keyDt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           FloatType | DoubleType | _: DecimalType => true
      case _ => false
    }
    if (!comparable) return fileSlices(None)
    val slices = fileSlices(None)
    val ranges = HudiColStats.read(spark, tablePath, instants).toSeq.flatMap { case ((pp, fn), cols) =>
      cols.filter(_.column == key).flatMap(c =>
        for (lo <- c.minValue; hi <- c.maxValue) yield (pp, fn, lo, hi))
    }
    if (ranges.isEmpty) return slices
    // distributed per-file hit test: EXISTS an incoming key within
    // the file's [kmin, kmax] — incoming keys stay distributed, the
    // metadata-sized range table broadcasts
    val rdf = spark.createDataFrame(ranges)
      .toDF("__pp", "__fn", "__kmin", "__kmax")
    val kmin = HudiColStats.typedCanon(col("__kmin"), keyDt)
    val kmax = HudiColStats.typedCanon(col("__kmax"), keyDt)
    val hits = df.select(col(s"`$key`").as("__k")).distinct()
      .join(broadcast(rdf), col("__k") >= kmin && col("__k") <= kmax)
      .select(col("__pp"), col("__fn")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val covered = ranges.map(t => (t._1, t._2)).toSet
    slices.filter { s =>
      val id = (s.partitionPath, new Path(s.basePath).getName)
      !covered(id) || hits(id)
    }
  }

  /**
   * Executor-side null-record-key fence for keyed tables. Real Hudi
   * refuses null keys at write time (`HoodieKeyException` thrown during
   * key generation on the executor); without the fence every downstream
   * assumption breaks silently — the upsert routing join never matches
   * a null key (duplicate insert instead of update) and the merged
   * read's `Window.partitionBy(key)` collapses distinct null-key rows
   * into one. The fence rides the write scan itself (`coalesce(key,
   * raise_error)`) so a 100-TB batch pays zero extra passes: the first
   * null key aborts the job before the commit lands.
   */
  private def requireNonNullKeys(df: DataFrame): DataFrame =
    // first write of an un-keyed create: no hoodie.properties yet (a
    // keyed createMor pre-writes them, so its fence still engages)
    (if (timeline.exists) recordKeyField else None) match {
      case Some(key) if df.schema.fieldNames.contains(key) =>
        val dt = df.schema(df.schema.fieldIndex(key)).dataType
        df.withColumn(key, coalesce(col(s"`$key`"),
          raise_error(lit(s"null record key: column '$key' of keyed table " +
            s"$tablePath must be non-null (Hudi refuses null record keys " +
            "at write time: HoodieKeyException)")).cast(dt)))
      case _ => df
    }

  def upsert(dfIn: DataFrame, commitProps: Map[String, String] = Map.empty): String = {
    require(isMor, s"upsert needs a MERGE_ON_READ table: $tablePath is $tableType")
    val key = recordKeyField.getOrElse(throw new IllegalStateException(
      s"MOR table $tablePath has no hoodie.table.recordkey.fields"))
    val df0 = requireNonNullKeys(dfIn)
    val schema = schemaAt(None)
    // log blocks encode with the TABLE's Avro schema, so batch values
    // must carry the DECLARED widths: a narrow post-widen writer's
    // values up-cast losslessly here (a parquet base file may keep its
    // writer's narrower physical type — an Avro log block cannot), and
    // a batch WIDER than the declared column refuses, directing an
    // explicit widenColumn first
    val df = df0.select(df0.columns.map { c =>
      schema.fields.find(_.name == c) match {
        case Some(f)
            if df0.schema(c).dataType.catalogString != f.dataType.catalogString =>
          val bt = df0.schema(c).dataType
          if (graft.model.SchemaMerge.widens(bt, f.dataType))
            col(s"`$c`").cast(f.dataType).as(c)
          else throw new IllegalArgumentException(
            s"upsert batch column $c is ${bt.simpleString} but $tablePath " +
              s"declares ${f.dataType.simpleString}; widen the table first " +
              "(widenColumn) or align the batch")
        case _ => col(s"`$c`")
      }
    }.toIndexedSeq: _*)
    val hasTomb = df.schema.fieldNames.contains("_hoodie_is_deleted")
    val dataCols = schema.fieldNames.toSeq
    require(dataCols.forall(df.schema.fieldNames.contains),
      s"upsert frame must carry every table column of $tablePath")
    val slices = upsertCandidateSlices(df, key, schema(key).dataType)
    // key -> owning slice, resolved distributed (scan of base keys —
    // candidate slices only, see upsertCandidateSlices; every slice
    // pruned ⇒ a pure-insert batch with an empty routing side)
    val baseKeys =
      if (slices.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(Seq(
          schema(key).copy(name = key), StructField("__graft_file", StringType))))
      else readFiles(
          slices.map(s => (s.basePath, s.partitionPath, s.baseSize)), None,
          withRowPositions = true)
        .select(col(s"`$key`"), col("__graft_file"))
    val metaDF = spark.createDataFrame(slices.map(s =>
        (HudiTable.metaPathForm(absoluteOf(s.basePath)), s.partitionPath, s.fileId, s.baseInstant)))
      .toDF("__graft_file", "__pp", "__fid", "__binst")
    val routing = baseKeys.join(broadcast(metaDF), Seq("__graft_file"))
      .select(col(s"`$key`"), col("__pp"), col("__fid"), col("__binst"))
    val routed = df.join(routing, Seq(key), "left")
    val instant = timeline.nextInstantTime()
    val logSchema = StructType(dataCols.map(schema(_)) ++
      (if (hasTomb) Seq(StructField("_hoodie_is_deleted", BooleanType)) else Seq.empty))
    val avroJson = AvroSchemaConverters.toAvro(logSchema, "mor_record").toString
    val nextVer: Map[(String, String), Int] = slices.map(s =>
      (s.partitionPath, s.fileId) -> (s.logs.map(_.version).maxOption.getOrElse(0) + 1)).toMap
    val conf = new graft.util.SerializableHadoopConf(hconf)
    val tableRoot = tablePath
    val logColIdx: Seq[Int] = logSchema.fieldNames.map(n => routed.schema.fieldIndex(n)).toSeq
    val sparkLogSchema = logSchema
    val instantLocal = instant
    // one log file per mutated group, written on the executor that holds
    // the group's rows (parallel across groups, no driver funneling)
    import spark.implicits._
    val logStats: Seq[(String, String, String, Long, Long)] = routed
      .filter(col("__fid").isNotNull)
      .groupByKey(r => (r.getString(r.fieldIndex("__pp")),
        r.getString(r.fieldIndex("__fid")), r.getString(r.fieldIndex("__binst"))))
      .mapGroups { (k: (String, String, String), it: Iterator[org.apache.spark.sql.Row]) =>
        val (pp, fid, binst) = k
        val avroSchema = new org.apache.avro.Schema.Parser().parse(avroJson)
        val name = HudiLogFormat.logFileName(fid, binst, nextVer((pp, fid)))
        val rel = if (pp.isEmpty) name else s"$pp/$name"
        val path = new Path(tableRoot, rel)
        var count = 0L
        val records = it.map { r =>
          count += 1
          val slim = org.apache.spark.sql.Row.fromSeq(logColIdx.map(r.get))
          HudiLogFormat.toAvroRecord(slim, sparkLogSchema, avroSchema)
        }
        val content = HudiLogFormat.encodeAvroBlock(avroSchema, records)
        val block = HudiLogFormat.LogBlock(HudiLogFormat.AvroDataBlock,
          Map(HudiLogFormat.HeaderInstantTime -> instantLocal,
            HudiLogFormat.HeaderSchema -> avroJson), content)
        val size = HudiLogFormat.write(path.getFileSystem(conf.value), path, Seq(block))
        (pp, fid, rel, size, count)
      }.collect().toSeq
    // inserts (unmatched keys) become new base files; tombstones for
    // absent keys are no-ops
    var inserts = routed.filter(col("__fid").isNull)
    if (hasTomb) inserts = inserts.filter(!coalesce(col("_hoodie_is_deleted"), lit(false)))
    val insertDF = inserts.select(dataCols.map(n => col(s"`$n`")): _*)
    val (placedStats, placedColStats) = writeBaseFiles(insertDF, partitionColumns, instant)
    val logWriteStats = logStats.map { case (pp, fid, rel, size, count) =>
      pp -> HudiWriteStat(fileId = fid, path = rel,
        prevCommit = instants.lastOption.getOrElse("null"),
        numWrites = count, fileSizeInBytes = size)
    }
    if (logWriteStats.isEmpty && placedStats.isEmpty)
      // a no-op batch — empty frame, or tombstones aimed at keys the
      // table doesn't hold (real Hudi ignores those): commit nothing,
      // abandon the reserved instant (nothing was written under it),
      // and report the unchanged latest instant
      return instants.lastOption.getOrElse(
        throw new IllegalStateException(s"empty MOR table $tablePath"))
    val meta = HudiCommitMetadata(
      partitionToWriteStats = (logWriteStats ++ placedStats)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap,
      partitionToReplaceFileIds = Map.empty,
      extraMetadata = Map("schema" -> AvroSchemaConverters.toAvro(
        HudiTable.mergeSchemas(schema, StructType(dataCols.map(schema(_))), tablePath)).toString)
        ++ commitProps,
      operationType = "UPSERT")
    graft.model.ConcurrentSyncException.check(timeline.commit(HudiInstant(instant, "deltacommit"), meta),
      s"concurrent hudi commit at $instant of $tablePath")
    HudiColStats.write(spark, tablePath, instant, placedColStats)
    recordInMetadataTable(instant, logWriteStats ++ placedStats)
    instant
  }

  /** Row-level delete on MOR: tombstone records (`_hoodie_is_deleted`)
    * routed to the owning file groups via [[upsert]]; keys the table
    * doesn't hold are ignored. */
  def deleteKeys(keys: DataFrame): String = {
    require(isMor, s"deleteKeys needs a MERGE_ON_READ table: $tablePath is $tableType")
    val key = recordKeyField.get
    val schema = schemaAt(None)
    val tomb = keys.select(col(s"`$key`")).distinct()
      .select(schema.fields.map(f =>
        if (f.name == key) col(s"`$key`")
        else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
      .withColumn("_hoodie_is_deleted", lit(true))
    upsert(tomb)
  }

  /** Compaction: merge every log-carrying file group into fresh base
    * files (a `replacecommit`, like [[compact]]); the snapshot and the
    * read-optimized view coincide again afterwards — and the table is
    * metadata-syncable. */
  def compactMor(): Option[String] = {
    require(isMor, s"compactMor needs a MERGE_ON_READ table: $tablePath is $tableType")
    val withLogs = fileSlices(None).filter(_.logs.nonEmpty)
    if (withLogs.isEmpty) return None
    val df = mergedRead(withLogs, None)
    val arranged =
      if (partitionColumns.nonEmpty) df.repartition(partitionColumns.map(col): _*)
      else df.repartition(math.max(1, withLogs.size / 4))
    Some(write(arranged, Seq.empty, overwrite = false,
      replacing = withLogs.map(s => absoluteOf(s.basePath))))
  }

  /** Timeline history, newest first: one row per completed instant of
    * any action, with the operation type for data instants. */
  def history(): DataFrame = {
    import spark.implicits._
    timeline.allCompletedInstants().map { i =>
      val op =
        if (Set("commit", "replacecommit", "deltacommit").contains(i.action))
          scala.util.Try(timeline.readCommitMetadata(i).operationType).getOrElse("")
        else ""
      (i.time, i.action, op)
    }.toDF("instant", "action", "operation")
      .orderBy(col("instant").desc)
  }

  /** Live file slices of the current snapshot as a DataFrame, with the
    * attached MOR log-file count and bytes per slice. */
  def filesDF(): DataFrame = {
    import spark.implicits._
    fileSlices(None).map(s =>
      (s.partitionPath, s.fileId, s.baseInstant, s.basePath, s.baseSize,
        s.logs.size, s.logs.map(_.size).sum))
      .toDF("partition_path", "file_id", "base_instant", "base_path", "base_size",
        "log_files", "log_bytes")
  }

  def scan: HudiScanBuilder = new HudiScanBuilder(spark, this, None)
  def scanAsOf(instant: String): HudiScanBuilder = new HudiScanBuilder(spark, this, Some(instant))

  def toDF(asOf: Option[String] = None): DataFrame =
    (asOf match {
      case Some(i) => scanAsOf(i)
      case None    => scan
    }).toDF()

  /** Rows added by commits in (fromExclusive, toInclusive] — the
    * incremental change feed (ref `HudiDataFileExtractor.java:126-256`
    * per-instant add sets; COW inserts only here). */
  def changesAsDF(fromExclusive: String, toInclusive: String): DataFrame = {
    val range = instants.filter(t => t > fromExclusive && t <= toInclusive)
    require(range.nonEmpty, s"no instants in ($fromExclusive, $toInclusive] of $tablePath")
    val added = localActions(range).filter(_.isAdd).map(a => (a.path, a.partitionPath, a.size))
    require(added.forall(f => !HudiLogFormat.isLogPath(f._1)),
      s"instants ($fromExclusive, $toInclusive] of $tablePath append MOR log blocks, " +
        "which are row mutations, not added rows; run compactMor() and read the " +
        "compaction instant instead")
    readFiles(added, Some(toInclusive))
  }

  /** Base dir partition directories resolve against (source dir for
    * metadata-only converted tables). */
  private[hudi] def readBasePath: String =
    properties.getOrElse("graft.converted.from", tablePath)

  /** (path, partitionPath, size) triples → DataFrame through a
    * [[graft.sources.ManifestFileIndex]]: sizes and partition values
    * come from the timeline, no filesystem listing/stat-ing. */
  private[hudi] def readFiles(
      files: Seq[(String, String, Long)], asOf: Option[String],
      withRowPositions: Boolean = false): DataFrame = {
    val schema = schemaAt(asOf)
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // resolve the partition-field list ONCE — `partitionColumns` reads
    // hoodie.properties, and a 100k-file manifest must not re-read it
    // per file
    val partCols = partitionColumns
    val manifest = files.map { case (f, pp, size) =>
      graft.model.InternalDataFile(
        physicalPath = if (f.startsWith("/") || f.contains(":/")) f else new Path(tablePath, f).toString,
        fileSizeBytes = size,
        partitionValues = HudiTable.parsePartitionPath(pp, partCols))
    }
    // col_stats rows of the instants visible at `asOf`, loaded only for a
    // scan that carries a data filter
    lazy val stats = {
      val byFile = HudiColStats.read(spark, tablePath, instantsAt(asOf))
      manifest.iterator.zip(files.iterator).map { case (m, (f, pp, _)) =>
        m.physicalPath -> byFile.getOrElse((pp, f.substring(f.lastIndexOf('/') + 1)), Seq.empty)
      }.toMap
    }
    graft.sources.ManifestFileIndex.read(
      spark, readBasePath, manifest, schema, partCols,
      withRowPositions = withRowPositions, columnStats = f => stats.getOrElse(f.physicalPath, Seq.empty))
  }

  // ---------------------------------------------------------------- writes

  /** Append via a commit instant. Returns the instant time.
    * `commitProps` ride the commit's extraMetadata atomically
    * (streaming sink batch tracking; same channel as sync watermarks,
    * ref `HudiTargetClient.java:546-551`). */
  def append(df: DataFrame, partCols: Seq[String] = Seq.empty,
      commitProps: Map[String, String] = Map.empty): String =
    write(df, partCols, overwrite = false, commitProps = commitProps)

  /** Logical overwrite via a replacecommit: new file groups written, all
    * previously-live groups recorded as replaced (ref insert-overwrite
    * path `HudiDataFileExtractor.java:313-348`); old base files stay on
    * disk so time travel keeps working. */
  def overwrite(df: DataFrame, partCols: Seq[String] = Seq.empty,
      commitProps: Map[String, String] = Map.empty): String =
    write(df, partCols, overwrite = true, commitProps = commitProps)

  /** Read side of `commitProps`: latest value across completed
    * commits, newest-first. */
  def lastCommitProp(key: String): Option[String] =
    extraMetadataNewestFirst().flatMap(_._2.get(key)).nextOption()

  /** (instant, extraMetadata) newest-first over `among` — time-ordered
    * completed data instants, all of them by default. The one walk-back
    * behind commit props and statistics pointers; each caller keeps its
    * own selection rule. Lazy: a caller that stops early reads only the
    * instants it consumed. */
  private[graft] def extraMetadataNewestFirst(
      among: Seq[HudiInstant] = timeline.completedInstants())
      : Iterator[(HudiInstant, Map[String, String])] =
    among.reverseIterator.map(i => i -> timeline.readCommitMetadata(i).extraMetadata)

  /** A commit's statistics pointer: the native ANALYZE key, else the
    * sync-carried one — the newest of either wins on the table side. */
  private def statsPointer(em: Map[String, String]): Option[String] =
    em.get(HudiTable.StatsPathKey).orElse(em.get(graft.model.SyncCas.StatsPathProp))

  // ------------------------------------------------- statistics (ANALYZE)

  /**
   * ANALYZE for Hudi — the third format of the statistics plane (see
   * IcebergTable.writeStatistics / DeltaTable.writeStatistics): the
   * same portable one-pass HLL build, landed in a Puffin sidecar under
   * `.hoodie/.graft_stats/` and registered through a zero-write commit
   * instant's extraMetadata (`graft.stats.path` / `graft.stats.instant`
   * — the widenColumn channel, which is also where sync watermarks and
   * streaming batch ids ride). Re-analyze walks to the newest pointer;
   * the superseded owned sidecar is deleted. Blobs carry `graft.column`
   * for name-keyed resolution.
   */
  def writeStatistics(cols: Seq[String]): String = {
    require(cols.nonEmpty, s"writeStatistics on $tablePath needs at least one column")
    val schema = schemaAt(None)
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"no column $c in $tablePath"))
    // the sketch describes the table as of the newest completed instant
    // at scan time — that instant's numeric form is the truthful Puffin
    // snapshot anchor (the Iceberg writer anchors the analyzed snapshot
    // the same way; resolution stays by the `graft.column` property)
    val analyzedInstant = timeline.latestInstant().map(_.time.toLong).getOrElse(0L)
    val regsByCol = graft.functions.PortableHll.stackedRegisters(toDF(), cols)
    val blobs = cols.zipWithIndex.map { case (c, i) =>
      graft.util.StatsFiles.hllBlob(
        c, schema.fieldIndex(c) + 1, regsByCol.getOrElse(i, Seq.empty))
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val statsPath = new Path(tablePath,
      s".hoodie/.graft_stats/${java.util.UUID.randomUUID()}.stats")
    graft.iceberg.Puffin.write(statsPath.getFileSystem(conf), statsPath,
      analyzedInstant, analyzedInstant, blobs)
    val meta0 = HudiCommitMetadata(
      partitionToWriteStats = Map.empty,
      partitionToReplaceFileIds = Map.empty,
      extraMetadata = Map(
        "schema" -> AvroSchemaConverters.toAvro(schema).toString,
        HudiTable.StatsPathKey -> statsPath.toString),
      operationType = "ALTER_SCHEMA")
    var attempt = 0
    var committed: Option[String] = None
    try {
      while (committed.isEmpty) {
        attempt += 1
        val instant = timeline.nextInstantTime()
        // the registration instant rides its own metadata so freshness is
        // one walk-back read, not a timeline diff
        val meta = meta0.copy(extraMetadata =
          meta0.extraMetadata + (HudiTable.StatsInstantKey -> instant))
        val won =
          try timeline.commit(HudiInstant(instant, "commit"), meta)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        if (won) committed = Some(instant)
        else {
          graft.model.ConcurrentSyncException.check(attempt < 10,
            s"concurrent commit contention at $tablePath: 10 attempts lost the race")
          Thread.sleep(scala.util.Random.nextInt(20 * attempt) + 1L)
        }
      }
    } catch {
      // registration ultimately failed (contention exhausted, or any
      // transient commit error): the already-written sidecar has no
      // pointer and never will — delete it instead of orphaning it
      // under .hoodie/.graft_stats, then rethrow untouched
      case e: Throwable =>
        try statsPath.getFileSystem(conf).delete(statsPath, false)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    // the pointer THIS registration superseded is re-read AFTER winning
    // (the newest pointer on instants OLDER than ours, native OR
    // sync-carried — a previously-adopted carried copy is equally
    // unreachable once the native key out-resolves it): a competitor
    // registering during our retry window would make a pre-loop read
    // stale and its sidecar would orphan. And never delete what the
    // resolution walk reaches NOW — a competitor may already have
    // registered past us, making its (newer) file the live one.
    val superseded = extraMetadataNewestFirst(
        timeline.completedInstants().filter(i => committed.exists(i.time < _)))
      .flatMap(e => statsPointer(e._2))
      .nextOption()
    val liveNow = resolvedStatsRegistration.map(_._1)
    superseded.filter(p => p != statsPath.toString && !liveNow.contains(p))
      .foreach(p => graft.util.StatsFiles.deleteIfOwned(
        conf, tablePath, p, liveNow.toSet + statsPath.toString))
    statsPath.toString
  }

  /** The newest statistics registration whose sidecar still EXISTS, as
    * (pointer path, that commit's extraMetadata). Rollback/restore can
    * resurface a registration whose file a later re-analyze deleted
    * (replace-on-reanalyze) — and unlike Delta's restore, which
    * REWRITES the live configuration and can drop the dangling key,
    * Hudi history is immutable, so resolution SKIPS dangling pointers
    * instead: the walk-back continues to an older still-resolvable
    * registration, or to analyzed-never. */
  private def resolvedStatsRegistration: Option[(String, Map[String, String])] = {
    val fsys = new Path(tablePath).getFileSystem(hconf)
    extraMetadataNewestFirst()
      .flatMap { case (_, em) => statsPointer(em).map(p => (p, em)) }
      .find { case (p, _) => fsys.exists(new Path(p)) }
  }

  /** The persisted HLL register set of `column` + the blob's ndv,
    * resolved from the newest commit carrying the native ANALYZE
    * pointer or — on a sync target — the carried one (adopted at sync
    * time), skipping registrations whose sidecar no longer exists.
    * Resolution is by the blob's `graft.column` name. */
  def statisticsRegisters(column: String): (Seq[(Int, Int)], Double) = {
    val path = resolvedStatsRegistration.map(_._1)
      .getOrElse(throw new IllegalStateException(
        s"no statistics registered on $tablePath"))
    graft.util.StatsFiles.readRegisters(
      spark.sparkContext.hadoopConfiguration, path, column)
  }

  /** The instant the native ANALYZE registered at — fresh iff the
    * RESOLVED registration (dangling pointers skipped, so freshness and
    * the registers always describe the same sketch) is still the newest
    * completed commit-ish instant (false for sync-carried statistics,
    * which planners treat as stale and floor with the file slices'
    * exact current counts). */
  def statisticsFresh: Boolean =
    resolvedStatsRegistration.flatMap(_._2.get(HudiTable.StatsInstantKey)).exists { at =>
      timeline.completedInstants()
        .filter(i => Set("commit", "replacecommit", "deltacommit").contains(i.action))
        .lastOption.exists(_.time == at)
    }

  /**
   * Bin-packing small-file compaction — Hudi's clustering shape, a
   * `replacecommit` (operation CLUSTER) replacing the compacted file
   * groups with consolidated ones (ref REPLACE_COMMIT clustering diff,
   * `core/.../hudi/HudiDataFileExtractor.java:313-348`). Partitions
   * with ≥2 base files under `smallFileBytes` are rewritten into
   * ~`targetFileBytes` outputs; `sortBy` range-clusters the rewrite.
   * Returns the replacecommit instant, or None when nothing qualifies.
   */
  def compact(
      targetFileBytes: Long = 128L << 20,
      smallFileBytes: Long = 32L << 20,
      sortBy: Seq[String] = Seq.empty,
      /** Morton-interleave these columns for multi-dim skipping
        * (graft.util.ZOrder); takes precedence over sortBy. */
      zorderBy: Seq[String] = Seq.empty): Option[String] = {
    // MOR: only LOG-FREE groups bin-pack here — a group with logs must
    // go through compactMor (merge), never a base-only rewrite
    val withLogGroups: Set[(String, String)] =
      if (isMor) fileSlices(None).filter(_.logs.nonEmpty).map(s => (s.partitionPath, s.fileId)).toSet
      else Set.empty
    val rows = fileSlicesDF(None).select("path", "partitionPath", "size", "fileId").collect().toSeq
      .filter(r => !withLogGroups((r.getString(1), r.getString(3))))
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
    val smalls = rows.groupBy(_._2).values.flatMap { g =>
      val s = g.filter(_._3 < smallFileBytes)
      if (s.size >= 2) s else Seq.empty
    }.toSeq
    if (smalls.isEmpty) return None
    val df = readFiles(smalls, None)
    val n = math.max(1, math.ceil(smalls.map(_._3).sum.toDouble / targetFileBytes).toInt)
    val arranged =
      if (zorderBy.nonEmpty) graft.util.ZOrder.arrange(df, zorderBy, n)
      else if (sortBy.nonEmpty)
        df.repartitionByRange(n, sortBy.map(col): _*).sortWithinPartitions(sortBy.map(col): _*)
      else if (partitionColumns.nonEmpty) df.repartition(n, partitionColumns.map(col): _*)
      else df.repartition(n)
    Some(write(arranged, Seq.empty, overwrite = false,
      replacing = smalls.map(f => absoluteOf(f._1))))
  }

  /** Physically write `df` as Hudi-named base parquet files
    * (`<fileId>_<writeToken>_<instant>.parquet`), collect footer stats,
    * maintain the col_stats index (ref
    * `BaseFileUpdatesExtractor.java:234-262` — written before the
    * commit so a visible instant always has its index, and an orphan
    * from a failed commit is unreachable), and return the write stats
    * keyed by partition path. */
  private def writeBaseFiles(
      df: DataFrame, partCols: Seq[String], instant: String):
      (Seq[(String, HudiWriteStat)], Seq[(String, String, Seq[graft.model.ColumnStatRow])]) = {
    val placed = StagedWrites.writeAndPlace(df, tablePath, partCols, hiveStyleLayout)
    if (placed.isEmpty) return (Seq.empty, Seq.empty)
    val fs = new Path(tablePath).getFileSystem(hconf)
    val renamed = placed.map { p =>
      val src = new Path(p)
      val fileId = UUID.randomUUID().toString
      val dest = new Path(src.getParent, s"${fileId}_0-0-0_$instant.parquet")
      require(fs.rename(src, dest), s"failed to finalize $src")
      (fileId, dest.toString)
    }
    val idByPath = renamed.map(_.swap).toMap
    val allStats = ParquetFooterStats.collect(spark, renamed.map(_._2))
    // an empty frame can still surface as one 0-row part file — drop it
    // rather than commit a rowless base file
    val (empty, stats) = allStats.partition(_.recordCount == 0)
    empty.foreach(st => fs.delete(new Path(st.path), false))
    val base = new Path(tablePath).toUri.getPath.stripSuffix("/") + "/"
    val writeStats = stats.map { st =>
      val rel = new Path(st.path).toUri.getPath.stripPrefix(base)
      val partitionPath = rel.split("/").dropRight(1).mkString("/")
      partitionPath -> HudiWriteStat(
        fileId = idByPath(st.path),
        path = rel,
        prevCommit = instants.lastOption.getOrElse("null"),
        numWrites = st.recordCount,
        fileSizeInBytes = st.fileSizeBytes)
    }
    // col_stats rows are RETURNED, not written here: the optimistic
    // commit loop may rebase onto a fresh instant, and the index file is
    // keyed by the instant that actually wins (stats absence never
    // excludes files, so post-commit placement is always safe)
    val colStats = stats.map { st =>
      val rel = new Path(st.path).toUri.getPath.stripPrefix(base)
      (rel.split("/").dropRight(1).mkString("/"), new Path(st.path).getName, st.columns)
    }
    (writeStats, colStats)
  }

  private def write(
      dfIn: DataFrame,
      partSpecsIn: Seq[String],
      overwrite: Boolean,
      /** Base-file paths whose file groups this commit replaces. */
      replacing: Seq[String] = Seq.empty,
      commitProps: Map[String, String] = Map.empty): String = {
    // keyed tables (MOR, or COW created with recordkey fields) never
    // admit a null key — see requireNonNullKeys
    val df = requireNonNullKeys(dfIn)
    // same spec handling as the Delta/Iceberg write paths: parse
    // identity/transform specs, inherit the table's fields when the
    // caller passes none, and REJECT a mismatching explicit spec
    // (was: silently ignored on append)
    val defs = {
      val parsed = graft.model.PartitionTransform.parseAll(partSpecsIn)
      if (instants.isEmpty) parsed
      else if (parsed.isEmpty)
        // inherit from the RECORDED specs (written at create time) — a
        // name-pattern heuristic would misfire on identity columns that
        // happen to be called `<x>_month`
        properties.get(HudiTable.PartitionSpecsProp) match {
          case Some(specs) => graft.model.PartitionTransform.parseAll(
            specs.split(";").toSeq.filter(_.nonEmpty))
          case None => partitionColumns.map(graft.model.PartitionFieldDef(_, "identity"))
        }
      else {
        require(parsed.map(_.fieldName) == partitionColumns,
          s"partition spec $partSpecsIn != table fields $partitionColumns of $tablePath")
        parsed
      }
    }
    defs.foreach(d => require(d.isIdentity || d.isTime,
      s"partition transform '${d.transform}' is Iceberg-only; Hudi partition " +
        "specs support identity and year/month/day/hour"))
    val genDefs = defs.filterNot(_.isIdentity)
    val partCols = defs.map(_.fieldName)
    val dfWithGen = genDefs.foldLeft(df)((d, t) =>
      d.withColumn(t.fieldName, graft.model.PartitionTransform.valueExpr(t)))
    var instant = timeline.nextInstantTime()
    var (writeStats, colStats) = writeBaseFiles(dfWithGen, partCols, instant)
    // Optimistic-concurrency loop, same shape as the Delta/Iceberg
    // writers: Hudi commits are keyed by INSTANT TIME, so losing the
    // put-if-absent race means rebasing onto a fresh instant — the
    // staged base files are renamed (their names embed the commit
    // instant) and snapshot-dependent state (replace set, schema merge,
    // prevCommit) is re-derived against the racer's timeline.
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      val replacedRows: Seq[org.apache.spark.sql.Row] =
        if (overwrite && instants.nonEmpty)
          fileSlicesDF(None).select("partitionPath", "fileId", "path").collect().toSeq
        else if (replacing.nonEmpty && instants.nonEmpty) {
          val rs = replacing.map(HudiTable.normalize).toSet
          val live = fileSlicesDF(None).select("partitionPath", "fileId", "path").collect().toSeq
            .filter(r => rs.contains(HudiTable.normalize(absoluteOf(r.getString(2)))))
          require(live.size == replacing.size,
            s"compaction conflict at $tablePath: a concurrent commit replaced " +
              "file groups this clustering rewrote")
          live
        } else Seq.empty
      val replaceIds: Map[String, Seq[String]] = replacedRows
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
      // replaced file names, tombstoned in the metadata table's listing
      val replacedFiles: Map[String, Seq[String]] = replacedRows
        .groupBy(_.getString(0)).view
        .mapValues(_.map(r => new Path(r.getString(2)).getName).toSeq).toMap
      // createMor pre-writes MOR properties before the first commit —
      // never clobber an existing hoodie.properties
      if (instants.isEmpty && !timeline.exists)
        timeline.writeProperties(HudiTable.tableProperties(tablePath, partCols,
          if (genDefs.isEmpty) Map.empty
          else Map(HudiTable.PartitionSpecsProp -> defs.map(_.spec).mkString(";"))))
      // additive schema evolution, same contract as the Delta path: a
      // narrower append never drops existing columns, type changes are
      // legal only along the widening order (SchemaMerge.widens — the
      // merged wide schema persists in this commit's extraMetadata),
      // new columns join at the end
      val storedSchema =
        if (instants.isEmpty) dfWithGen.schema
        else HudiTable.mergeSchemas(schemaAt(None), dfWithGen.schema, tablePath)
      val meta = HudiCommitMetadata(
        partitionToWriteStats = writeStats.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap,
        partitionToReplaceFileIds = replaceIds,
        // partition fields (incl. materialized transforms) are part of the
        // Hudi table schema, matching the hive-style layout convention
        extraMetadata = Map("schema" -> AvroSchemaConverters.toAvro(storedSchema).toString)
          ++ commitProps,
        operationType =
          if (overwrite) "INSERT_OVERWRITE_TABLE"
          else if (replacing.nonEmpty) "CLUSTER"
          else "INSERT")
      // MOR data writes land as deltacommits (Hudi convention); replaces
      // (clustering/compaction/overwrite) stay replacecommits on both types
      val action =
        if (replaceIds.nonEmpty) "replacecommit"
        else if (isMor) "deltacommit"
        else "commit"
      // A FileAlreadyExists surfacing from the commit protocol means a
      // racer holds this instant token — semantically identical to
      // losing the completed-file put-if-absent: rebase, don't die.
      val won =
        try timeline.commit(HudiInstant(instant, action), meta)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      if (won) {
        // the index file is keyed by the instant that actually WON;
        // post-commit placement is safe (stats absence never excludes)
        HudiColStats.write(spark, tablePath, instant, colStats)
        recordInMetadataTable(instant, writeStats, replacedFiles, colStats)
        committed = true
      } else {
        graft.model.ConcurrentSyncException.check(attempt < 10,
          s"concurrent commit contention at $tablePath: 10 attempts lost the race")
        // jittered backoff de-synchronizes lockstep racers
        Thread.sleep(scala.util.Random.nextInt(20 * attempt) + 1L)
        val fresh = timeline.nextInstantTime()
        writeStats = rebaseStats(writeStats, instant, fresh)
        colStats = colStats.map { case (pp, name, cols) =>
          (pp, name.replace(s"_$instant.", s"_$fresh."), cols) }
        instant = fresh
      }
    }
    instant
  }

  /** Mirror a committed instant into the `.hoodie/metadata` files
    * partition (real-layout listing native readers consume instead of
    * an FS listing) and, when the commit carries footer stats, its
    * `column_stats` partition (the real-layout skipping index).
    * Managed-layout tables only: converted tables' files live outside
    * the root and keep timeline-driven listings. */
  private def recordInMetadataTable(
      instant: String,
      stats: Seq[(String, HudiWriteStat)],
      removes: Map[String, Seq[String]] = Map.empty,
      colStats: Seq[(String, String, Seq[graft.model.ColumnStatRow])] = Seq.empty): Unit = {
    if (properties.contains("graft.converted.from")) return
    val fs = new Path(tablePath).getFileSystem(hconf)
    val adds = stats.groupBy(_._1).map { case (pp, ws) =>
      pp -> ws.map(w => (new Path(w._2.path).getName, w._2.fileSizeInBytes))
    }
    // column types let min/max encode as Hudi's typed wrapper records
    val colTypes: Map[String, org.apache.spark.sql.types.DataType] =
      if (colStats.isEmpty) Map.empty
      else scala.util.Try(schemaAt(None).fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
    // record-index maintenance: when the index exists, re-map every key
    // of the commit's NEW base files (a read-back of just-written data).
    // Updates live in log files and never move a key between groups;
    // compaction/overwrite rewrites are fully covered by their new base
    // files, later-record-wins resolves moved keys; keys dropped by a
    // rewrite go stale pointing at dead file ids, which routing treats
    // as absent — sound either way.
    val riUpdate = recordIndexEntriesFor(stats)
    HudiMetadataTable.update(fs, hconf, tablePath, instant, adds, removes, colStats, colTypes,
      riUpdate)
  }

  /** Key→location entries for a commit's new base files (None when no
    * index exists, no record key is configured, or the commit wrote
    * only log files). */
  private def recordIndexEntriesFor(
      stats: Seq[(String, HudiWriteStat)]): Option[HudiMetadataTable.RecordIndexUpdate] = {
    val fs = new Path(tablePath).getFileSystem(hconf)
    if (!HudiMetadataTable.hasRecordIndex(fs, tablePath)) return None
    recordKeyField.flatMap { key =>
      val baseFiles = stats
        .filter { case (_, ws) => !HudiLogFormat.isLogPath(ws.path) }
        .map { case (pp, ws) => (absoluteOf(ws.path), pp, ws.fileId) }
      if (baseFiles.isEmpty) None
      else Some(recordIndexScan(key, baseFiles))
    }
  }

  /** Distributed (key, partition, fileId) extraction from base files:
    * one parquet read of `files` (path, partition, file GROUP id), key
    * column only. */
  private def recordIndexScan(
      key: String, files: Seq[(String, String, String)]): HudiMetadataTable.RecordIndexUpdate = {
    val byPath: Map[String, (String, String)] = files.map { case (p, pp, fid) =>
      HudiTable.normalize(p) -> (pp, fid)
    }.toMap
    val lookup = spark.sparkContext.broadcast(byPath)
    import spark.implicits._
    val entries = spark.read.parquet(files.map(_._1): _*)
      .select(col(s"`$key`").cast(StringType).as("__k"), input_file_name().as("__f"))
      .as[(String, String)]
      .map { case (k, f) =>
        // input_file_name() is URL-ENCODED ("part=a b" → "part=a%20b",
        // on-disk "pct%2525" → "pct%252525") while the lookup is keyed
        // by raw on-disk paths (Hadoop Path never percent-decodes) —
        // decode through java.net.URI or hostile partition values miss
        // (fuzz seeds 3 and 14 found this; pinned in HudiRecordIndexSpec)
        val (pp, fid) = lookup.value(HudiTable.decodeFileUri(f))
        RecordIndexEntry(k, pp, fid)
      }
    HudiMetadataTable.RecordIndexUpdate(spark, entries, recordIndexGroups)
  }

  private def recordIndexGroups: Int =
    properties.get("graft.record.index.groups").map(_.toInt).getOrElse(4)

  /**
   * Build the `record_index` metadata partition (Hudi's record-level
   * index, RFC-37): one full distributed scan of the live base files
   * maps every record key to its (partition, file group); entries land
   * sharded across index file groups, written from executors. From then
   * on every write commit maintains the index through its metadata
   * mirror, and [[upsertCandidateSlices]] routes keyed mutations by
   * EXACT key→fileId lookup instead of col_stats range
   * over-approximation. Managed-layout tables with a record key only.
   */
  def buildRecordIndex(numGroups: Int = 4): Unit = {
    require(!properties.contains("graft.converted.from"),
      s"record index needs a managed-layout table: $tablePath is converted")
    val key = recordKeyField.getOrElse(throw new IllegalStateException(
      s"record index needs hoodie.table.recordkey.fields on $tablePath"))
    timeline.writeProperties(timeline.readProperties() +
      ("graft.record.index.groups" -> numGroups.toString))
    val files = fileSlices(None).map(s =>
      (absoluteOf(s.basePath), s.partitionPath, s.fileId))
    val fs = new Path(tablePath).getFileSystem(hconf)
    // the build instant is fresh (now-based, above every data instant):
    // instants at or below it are covered by this full scan
    val instant = timeline.nextInstantTime()
    HudiMetadataTable.update(fs, hconf, tablePath, instant,
      Map.empty, Map.empty, Seq.empty, Map.empty,
      if (files.isEmpty)
        Some(HudiMetadataTable.RecordIndexUpdate(spark,
          spark.emptyDataset[RecordIndexEntry](
            org.apache.spark.sql.Encoders.product[RecordIndexEntry]), numGroups))
      else Some(recordIndexScan(key, files)))
    // the build adds NO data-timeline instant, so the fence memo (keyed
    // by the timeline) must drop its now-stale verdict explicitly
    HudiTable.fenceCache.keySet.removeIf(_._1 == tablePath)
  }

  /**
   * Coverage fence for the record index: usable only when every
   * completed instant after the build is either index-covered (its
   * metadata deltacommit carries record_index stats) or provably unable
   * to move a key between file groups (log-only deltacommits, cleans,
   * savepoints). Rollback/restore after the build — or any write that
   * slipped past maintenance — fails the fence and routing falls back
   * to col_stats ranges.
   */
  private[graft] def recordIndexUsable(): Boolean = {
    // memoized per (table, newest completed instant, instant count): the
    // fence's verdict only changes when the timeline does, so a hot
    // upsert loop pays ONE timeline listing per call (needed for the key
    // anyway) but re-reads the per-commit metadata JSONs only when
    // something actually committed. Every operation that can BREAK the
    // index (commit/rollback/restore) lands a completed instant and so
    // changes the key; operations that only IMPROVE coverage without a
    // data instant (buildRecordIndex) invalidate explicitly — and a
    // stale `false` from another process is merely conservative (the
    // col_stats fallback is always correct).
    val completed = timeline.allCompletedInstants()
    val key = (tablePath, completed.lastOption.map(_.time).getOrElse(""), completed.size)
    val cached = HudiTable.fenceCache.get(key)
    if (cached != null) return cached
    if (HudiTable.fenceCache.size > 1024) HudiTable.fenceCache.clear()
    val v = evalRecordIndexFence(completed)
    HudiTable.fenceCache.put(key, v)
    v
  }

  private def evalRecordIndexFence(completed: Seq[HudiInstant]): Boolean = {
    HudiTable.fenceEvaluations.incrementAndGet()
    val fs = new Path(tablePath).getFileSystem(hconf)
    if (!HudiMetadataTable.hasRecordIndex(fs, tablePath)) return false
    val covered = HudiMetadataTable.recordIndexCoverage(hconf, tablePath)
    if (covered.isEmpty) return false
    val build = covered.min
    // ALL instant kinds: a rollback/restore is exactly what must fail
    // the fence (it can revive a pre-compaction file layout the index
    // no longer describes)
    completed.filter(_.time > build).forall { i =>
      covered.contains(i.time) || (i.action match {
        case "commit" | "deltacommit" =>
          scala.util.Try(timeline.readCommitMetadata(i)).toOption.exists(
            _.partitionToWriteStats.valuesIterator.flatten
              .forall(ws => HudiLogFormat.isLogPath(ws.path)))
        case "clean" | "savepoint" => true
        case _ => false
      })
    }
  }

  /** Rebase staged base files onto a fresh commit instant after a lost
    * race: base-file names embed the instant (`<fileId>_<token>_<instant>
    * .parquet`), so each file is renamed and its write stat updated. */
  private def rebaseStats(
      stats: Seq[(String, HudiWriteStat)], from: String, to: String): Seq[(String, HudiWriteStat)] = {
    val fs = new Path(tablePath).getFileSystem(hconf)
    stats.map { case (pp, ws) =>
      val oldPath = new Path(absoluteOf(ws.path))
      val newName = oldPath.getName.replace(s"_$from.", s"_$to.")
      val newPath = new Path(oldPath.getParent, newName)
      require(fs.rename(oldPath, newPath),
        s"failed to rebase staged file $oldPath onto instant $to")
      pp -> ws.copy(
        path = ws.path.replace(s"_$from.", s"_$to."),
        prevCommit = instants.lastOption.getOrElse("null"))
    }
  }

  // ---------------------------------------------------------- maintenance

  /**
   * Roll back the latest completed data instant: delete the base files
   * it wrote (managed files only — externally-referenced files belong
   * to their source), revoke the instant from the timeline, and record
   * a `.rollback` instant listing the deleted files so the incremental
   * change feed can replay the removals (ref
   * `core/.../hudi/HudiDataFileExtractor.java:207-223`). Snapshot reads
   * need no special handling: the revoked instant simply no longer
   * replays. Returns the rollback instant time.
   */
  def rollback(): String = {
    val target = timeline.completedInstants().lastOption.getOrElse(
      throw new IllegalStateException(s"nothing to roll back on $tablePath"))
    require(!savepointedInstants.contains(target.time),
      s"cannot roll back ${target.time} of $tablePath: it is savepointed; " +
        "delete the savepoint first")
    val rollbackTime = timeline.nextInstantTime()
    val meta = rollbackOne(target)
    graft.model.ConcurrentSyncException.check(timeline.commitJson(HudiInstant(rollbackTime, "rollback"),
      HudiMaintenanceCodec.rollbackToJson(rollbackTime, meta)),
      s"concurrent hudi commit at $rollbackTime of $tablePath")
    recordInMetadataTable(rollbackTime, Seq.empty,
      removes = meta.partitionToDeleteFiles.map { case (pp, fs_) =>
        pp -> fs_.map(p => new Path(p).getName) })
    rollbackTime
  }

  /**
   * Savepoint the table at `atInstant` (default: the latest data
   * instant): a `.savepoint` timeline instant recording the files live
   * at that instant. Savepointed history is untouchable — rollback and
   * restore refuse to revoke it, archival keeps it on the active
   * timeline, and the incremental sync backlog ignores savepoints
   * entirely (ref `core/.../hudi/HudiClient.java:233-252`). Returns the
   * savepoint's instant time.
   */
  def savepoint(atInstant: Option[String] = None): String = {
    val at = atInstant.getOrElse(latestInstant)
    require(instants.contains(at), s"no data instant $at on $tablePath")
    val byPartition = fileSlices(Some(at))
      .flatMap(s => (s.basePath +: s.logs.map(_.path)).map(p => s.partitionPath -> absoluteOf(p)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val spTime = timeline.nextInstantTime()
    graft.model.ConcurrentSyncException.check(timeline.commitJson(HudiInstant(spTime, "savepoint"),
      HudiMaintenanceCodec.savepointToJson(HudiSavepointMetadata(at, byPartition))),
      s"concurrent hudi commit at $spTime of $tablePath")
    spTime
  }

  /** Active savepoints as (savepoint time, savepointed data instant). */
  def savepoints: Seq[(String, String)] =
    timeline.allCompletedInstants().filter(_.action == "savepoint")
      .map(i => i.time ->
        HudiMaintenanceCodec.savepointFromJson(timeline.readInstantJson(i)).savepointedAt)

  /** Data instants some active savepoint guards. */
  def savepointedInstants: Set[String] = savepoints.map(_._2).toSet

  /** Files (normalized URI paths) any active savepoint protects. */
  private def savepointedFiles: Set[String] =
    timeline.allCompletedInstants().filter(_.action == "savepoint")
      .flatMap(i => HudiMaintenanceCodec.savepointFromJson(timeline.readInstantJson(i)).files)
      .map(p => new Path(p).toUri.getPath).toSet

  /** Drop a savepoint, making its history rollback-eligible again. */
  def deleteSavepoint(savepointTime: String): Unit = {
    require(savepoints.exists(_._1 == savepointTime),
      s"no savepoint $savepointTime on $tablePath")
    timeline.deleteInstant(HudiInstant(savepointTime, "savepoint"))
  }

  /**
   * Restore the table to `toInstant`: roll back every data instant
   * after it (newest first), recorded as one `.restore` instant whose
   * metadata nests the per-commit rollback info — the change feed
   * flattens all of it into removals (ref
   * `core/.../hudi/HudiDataFileExtractor.java:224-243`).
   */
  def restoreTo(toInstant: String): String = {
    require(instants.contains(toInstant), s"no instant $toInstant on $tablePath")
    val doomed = instants.filter(_ > toInstant).reverse
      .map(t => timeline.completedInstants().find(_.time == t).get)
    val guarded = doomed.map(_.time).filter(savepointedInstants.contains)
    require(guarded.isEmpty,
      s"cannot restore $tablePath to $toInstant: instants ${guarded.mkString(", ")} " +
        "are savepointed; delete the savepoint(s) first")
    val restoreTime = timeline.nextInstantTime()
    val rollbacks = doomed.map(rollbackOne)
    graft.model.ConcurrentSyncException.check(timeline.commitJson(HudiInstant(restoreTime, "restore"),
      HudiMaintenanceCodec.restoreToJson(restoreTime,
        HudiRestoreMetadata(toInstant, doomed.map(_.time), rollbacks))),
      s"concurrent hudi commit at $restoreTime of $tablePath")
    recordInMetadataTable(restoreTime, Seq.empty,
      removes = rollbacks.flatMap(_.partitionToDeleteFiles.toSeq)
        .groupBy(_._1).map { case (pp, entries) =>
          pp -> entries.flatMap(_._2).map(p => new Path(p).getName) })
    restoreTime
  }

  /** Revoke one completed data instant; returns what was deleted. */
  private def rollbackOne(target: HudiInstant): HudiRollbackMetadata = {
    val meta = timeline.readCommitMetadata(target)
    val fs = new Path(tablePath).getFileSystem(hconf)
    val baseUriPath = new Path(tablePath).toUri.getPath.stripSuffix("/") + "/"
    val byPartition = meta.partitionToWriteStats.map { case (pp, stats) =>
      pp -> stats.map(ws => absoluteOf(ws.path))
    }
    // belt to the instant-level guards: never delete a file some active
    // savepoint recorded, whatever instant is being revoked
    val guardedFiles = savepointedFiles
    byPartition.valuesIterator.flatten.foreach { p =>
      val path = new Path(p)
      if (path.toUri.getPath.startsWith(baseUriPath) &&
          !guardedFiles.contains(path.toUri.getPath)) fs.delete(path, false)
    }
    timeline.deleteInstant(target)
    // the revoked instant's stats must not outlive it
    HudiColStats.delete(spark, tablePath, target.time)
    // ... including a statistics-sidecar registration it carried: with
    // the instant revoked the walk-back no longer reaches the pointer,
    // so the sidecar would orphan under .hoodie/.graft_stats forever.
    // Only files NO surviving instant resolves are deleted (an older
    // registration re-surfacing through the walk-back keeps its file),
    // and only owned ones (the shared ownership rule).
    val statsKeys = Seq(HudiTable.StatsPathKey,
      graft.model.SyncCas.StatsPathProp, graft.model.SyncCas.PartitionStatsPathProp)
    val revokedStats = statsKeys.flatMap(meta.extraMetadata.get)
    if (revokedStats.nonEmpty) {
      val surviving = statsKeys.flatMap(lastCommitProp).toSet
      revokedStats.filterNot(surviving).foreach(p =>
        graft.util.StatsFiles.deleteIfOwned(hconf, tablePath, p, surviving))
    }
    HudiRollbackMetadata(Seq(target.time), byPartition,
      Map(target.time -> target.action))
  }

  /** Expose archival for writer tables (the sync target archives
    * automatically, ref `HudiTargetClient.java:537-545`). */
  def archiveTimeline(): Int = {
    val props = properties
    timeline.archiveIfNeeded(
      props.get(HudiTable.MaxActiveInstantsProp).map(_.toInt)
        .getOrElse(HudiTable.DefaultMaxActiveInstants),
      props.get(HudiTable.MinActiveInstantsProp).map(_.toInt)
        .getOrElse(HudiTable.DefaultMinActiveInstants))
  }

  // ----------------------------------------------------------------- sync

  /** Root the data files live under (for cross-format sync targets). */
  def dataRoot: String = readBasePath

  /** Instants the incremental sync feed replays, time-ordered: data
    * commits plus rollback/restore (whose change sets are removals);
    * clean stays a feed no-op (ref `HudiDataFileExtractor.java:244-250`). */
  def syncInstants: Seq[String] = syncInstants(timeline.allCompletedInstants())

  /** [[syncInstants]] of an already listed [[HudiTimeline.allCompletedInstants]]. */
  def syncInstants(completed: Seq[HudiInstant]): Seq[String] =
    completed.filter(i => HudiTable.FeedActions(i.action)).map(_.time)

  /** Retention fence input: the earliest commit whose files the latest
    * clean still retains, if any clean has run (ref
    * `core/.../hudi/HudiClient.java:152-177`), found among `completed`
    * ([[HudiTimeline.allCompletedInstants]]). */
  def earliestCommitToRetain(completed: Seq[HudiInstant]): Option[String] =
    completed.filter(_.action == "clean").lastOption
      .map(i => HudiMaintenanceCodec.cleanFromJson(timeline.readInstantJson(i)))
      .map(_.earliestCommitToRetain).filter(_.nonEmpty)

  /** Extra metadata of the newest commit — where sync watermarks ride
    * (the reference persists sync state in commit extraMetadata, ref
    * `core/.../hudi/HudiTargetClient.java:367-402`). */
  def latestCommitExtraMetadata: Map[String, String] =
    timeline.latestInstant()
      .map(i => timeline.readCommitMetadata(i).extraMetadata)
      .getOrElse(Map.empty)

  /** Live base files of the current snapshot as (partitionPath,
    * [[absoluteOf]] path, its `Path`, size, recorded write count or -1)
    * from ONE replay, so each instant file is read once and each path
    * parsed once. Shared by [[snapshotDataFiles]] (the sync layer) and
    * [[planningFacts]] (the planner), so the two can never count rows
    * differently. */
  private def liveFilesWithCounts(): Seq[(String, String, Path, Long, Long)] = {
    val acts = localActions(instants)
    val base = new Path(tablePath)
    val parsed = scala.collection.mutable.HashMap[String, Path]()
    def parse(p: String): Path =
      parsed.getOrElseUpdate(p, if (isAbsolute(p)) new Path(p) else new Path(base, p))
    val counts = acts.iterator.filter(_.isAdd)
      .map(a => parse(a.path).toUri.getPath -> a.numWrites).toMap
    liveBases(acts).map { a =>
      val p = parse(a.path)
      (a.partitionPath, if (isAbsolute(a.path)) a.path else p.toString, p, a.size,
        counts.getOrElse(p.toUri.getPath, -1L))
    }
  }

  /** Planning-time (live rows, live bytes) of the current snapshot —
    * the stats-join planning path (StatsJoin.plannedSize) stays
    * metadata-sized: sizes ride the slice frame, record counts come
    * from the commit metadata's own write stats, and the per-file
    * column-stats index is never consulted (nor any InternalDataFile
    * materialized). None when the table is empty, a MOR table carries
    * un-compacted log mutations (the base-file counts would
    * under-state the snapshot), or any live file has no recorded
    * write count — unknown rows mean no planning fact. */
  def planningFacts(): Option[(Double, Double)] = {
    if (isMor && hasLogFiles(None)) return None
    val files = liveFilesWithCounts()
    if (files.isEmpty) return None
    var rows = 0.0
    var bytes = 0.0
    files.foreach { case (_, _, _, size, n) =>
      if (n < 0) return None
      rows += n.toDouble
      bytes += size.toDouble
    }
    Some((rows, bytes))
  }

  /** Current snapshot as canonical data-file descriptors. Column bounds
    * come from the col_stats index when this table carries one (ref
    * `HudiFileStatsExtractor.java:96-103`: metadata table preferred,
    * footers otherwise); an index-less table — e.g. written by an engine
    * that didn't maintain stats — yields empty `columnStats`, and the
    * sync layer translates what exists rather than re-reading footers. */
  def snapshotDataFiles(
      /** true → sync the READ-OPTIMIZED view of a MOR table: latest
        * base file per group, log files skipped (ref
        * `HudiDataFileExtractor.java:113-124` getLatestBaseFiles /
        * `website/docs/features-and-limitations.md:26-27`). The target
        * then diverges from the MOR snapshot by exactly the un-compacted
        * log mutations — the reference's documented MOR contract. The
        * default refuses instead: an RO sync silently drops row
        * mutations, so it must be an explicit opt-in. */
      readOptimized: Boolean = false): Seq[graft.model.InternalDataFile] = {
    require(readOptimized || !hasLogFiles(None),
      s"cannot metadata-sync $tablePath: MOR log files hold row mutations other " +
        "formats cannot express; run compactMor() first, or opt into the " +
        "read-optimized view (hudiSource(t, readOptimized = true)) whose target " +
        "lags the snapshot by the un-compacted log mutations")
    val files = liveFilesWithCounts()
    val statsByFile = HudiColStats.read(spark, tablePath, instants)
    val partCols = partitionColumns
    files.map { case (pp, abs, path, size, count) =>
      graft.model.InternalDataFile(
        physicalPath = abs,
        partitionValues = HudiTable.parsePartitionPath(pp, partCols),
        fileSizeBytes = size,
        recordCount = count,
        columnStats = statsByFile.getOrElse((pp, path.getName), Seq.empty),
        lastModified = 0L)
    }
  }

  /** One instant's adds + removed paths — the incremental replay unit
    * (ref `HudiDataFileExtractor.java:126-256`). Rollback and restore
    * instants contribute pure removals: the files their metadata
    * records as deleted (ref `:207-243`); other non-data actions are
    * no-ops (ref `:244-250`). */
  def changeSet(
      instant: String,
      /** true → read-optimized replay: log-block write stats drop out
        * of the feed (a log-only deltacommit becomes a no-op) and only
        * base files move — see [[snapshotDataFiles]]. */
      readOptimized: Boolean = false): (Seq[graft.model.InternalDataFile], Seq[String]) = {
    val inst = timeline.allCompletedInstants().find(_.time == instant)
      .getOrElse(throw new IllegalArgumentException(s"no instant $instant on $tablePath"))
    inst.action match {
      case "commit" | "replacecommit" | "deltacommit" => // data replay below
      case "rollback" =>
        val rb = HudiMaintenanceCodec.rollbackFromJson(timeline.readInstantJson(inst))
        // a rollback of a REPLACE (overwrite/clustering/compaction)
        // revives the replaced files — a removal-only replay would strip
        // the target bare; only a full file-set reconcile re-adds them
        if (!rb.removalOnlyReplayable)
          throw new graft.model.UnsyncableChangeException(
            s"cannot metadata-sync rollback $instant of $tablePath incrementally: " +
              s"it revokes ${rb.commitsRollback.mkString(",")} whose action is not a " +
              "pure-add commit, so files it replaced come back to life — " +
              "a full reconcile is required")
        return (Seq.empty, rb.deletedFiles.map(absoluteOf))
      case "restore" =>
        val rs = HudiMaintenanceCodec.restoreFromJson(timeline.readInstantJson(inst))
        if (!rs.rollbacks.forall(_.removalOnlyReplayable))
          throw new graft.model.UnsyncableChangeException(
            s"cannot metadata-sync restore $instant of $tablePath incrementally: " +
              "it revokes non-pure-add instants, so replaced files come back to " +
              "life — a full reconcile is required")
        return (Seq.empty, rs.deletedFiles.map(absoluteOf))
      case _ =>
        return (Seq.empty, Seq.empty)
    }
    val meta = timeline.readCommitMetadata(inst)
    if (!readOptimized && !meta.partitionToWriteStats.valuesIterator.flatten
        .forall(ws => !HudiLogFormat.isLogPath(ws.path)))
      throw new graft.model.UnsyncableChangeException(
        s"cannot metadata-sync instant $instant of $tablePath: it appends MOR log " +
          "blocks other formats cannot express; run compactMor() first, or opt " +
          "into the read-optimized view (hudiSource(t, readOptimized = true))")
    val partCols = partitionColumns
    val adds = meta.partitionToWriteStats.toSeq.flatMap { case (pp, statsAll) =>
      val stats = if (readOptimized) statsAll.filterNot(ws => HudiLogFormat.isLogPath(ws.path))
        else statsAll
      val vals = HudiTable.parsePartitionPath(pp, partCols) // once per partition
      stats.map(ws => graft.model.InternalDataFile(
        physicalPath = absoluteOf(ws.path),
        partitionValues = vals,
        fileSizeBytes = ws.fileSizeInBytes,
        recordCount = ws.numWrites,
        columnStats = Seq.empty,
        lastModified = 0L))
    }
    val removed: Seq[String] =
      if (meta.partitionToReplaceFileIds.isEmpty) Seq.empty
      else {
        val prior = instants.filter(_ < instant)
        if (prior.isEmpty) Seq.empty
        else {
          val replaced = meta.partitionToReplaceFileIds.toSeq.flatMap {
            case (pp, ids) => ids.map(id => (pp, id))
          }.toSet
          fileSlicesDF(Some(prior.last))
            .select("partitionPath", "fileId", "path").collect().toSeq
            .filter(r => replaced.contains((r.getString(0), r.getString(1))))
            .map(r => absoluteOf(r.getString(2)))
        }
      }
    (adds, removed)
  }

  /**
   * Metadata-only sync commit: register externally-produced files (and
   * replaced groups) without touching data — the Hudi TARGET side of
   * the reference's loop (ref `core/.../hudi/HudiTargetClient.java:196-402`).
   * File groups are keyed deterministically by the source file name so
   * a later remove of the same path resolves to the same group.
   */
  def syncCommit(
      schema: StructType,
      partitionColumns: Seq[String],
      sourceDataRoot: String,
      adds: Seq[graft.model.InternalDataFile],
      removePaths: Seq[String],
      syncProps: Map[String, String],
      /** Watermark CAS, validated under `lock` immediately before the
        * instant publish. Unlike the Delta/Iceberg targets (where the
        * version slot's put-if-absent makes the check airtight across
        * processes), two Hudi sync commits write DIFFERENT instant
        * filenames and cannot collide — validate→publish must run
        * under one mutual-exclusion scope, exactly real Hudi's
        * hoodie.write.lock.provider posture. */
      cas: Option[graft.model.SyncCas] = None,
      /** Lock scope for validate→publish→maintenance; the default
        * resolves BY SCHEME — file lock when the table lives on a local
        * POSIX filesystem (cross-process safe out of the box),
        * in-process monitor otherwise, so a remote-scheme direct caller
        * never gets a junk CWD-relative lock file silently (see
        * [[HudiLockProvider]]). */
      lock: HudiLockProvider = HudiLockProvider.Auto): String = {
    val instant = timeline.nextInstantTime()
    // partition specs may carry time transforms (`month(c)`); Hudi has
    // no transform concept, so the materialized field names become plain
    // partition-path segments with the canonical value strings
    val syncDefs = graft.model.PartitionTransform.parseAll(partitionColumns)
    val fieldNames = syncDefs.map(_.fieldName)
    if (!timeline.exists) {
      // record keys arriving through sync land in the native Hudi
      // convention (ref `HudiTargetClient.java` table-config wiring)
      val keyProps = syncProps.get("graft.record.key.fields")
        .map(ks => Map("hoodie.table.recordkey.fields" -> ks)).getOrElse(Map.empty)
      val specProps =
        if (syncDefs.forall(_.isIdentity)) Map.empty[String, String]
        else Map(HudiTable.PartitionSpecsProp -> syncDefs.map(_.spec).mkString(";"))
      timeline.writeProperties(HudiTable.tableProperties(
        tablePath, fieldNames,
        keyProps ++ specProps + ("graft.converted.from" -> sourceDataRoot)))
    }
    // a partition-field change (source spec evolution) is representable
    // only when this commit replaces EVERY live file of the old layout
    // (the full-sync shape after the source rewrote onto its new spec):
    // one hoodie.table.partition.fields property cannot parse two
    // layouts, so a mixed result refuses loudly instead of silently
    // misreading old-era paths
    val configuredFields = if (!timeline.exists) fieldNames
      else properties.get("hoodie.table.partition.fields")
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    if (timeline.exists && instants.nonEmpty && configuredFields != fieldNames) {
      val removeSet = removePaths.map(HudiTable.normalize).toSet
      val stale = fileSlices(None).map(s => HudiTable.normalize(absoluteOf(s.basePath)))
        .filterNot(removeSet.contains)
      require(stale.isEmpty,
        s"cannot sync a partition-field change (${configuredFields.mkString(",")} -> " +
          s"${fieldNames.mkString(",")}) onto hudi target $tablePath: ${stale.size} live " +
          "files keep the old layout; rewrite the source onto one spec and sync again")
      val props = timeline.readProperties()
      val specProps =
        if (syncDefs.forall(_.isIdentity)) props - HudiTable.PartitionSpecsProp
        else props + (HudiTable.PartitionSpecsProp -> syncDefs.map(_.spec).mkString(";"))
      timeline.writeProperties(specProps +
        ("hoodie.table.partition.fields" -> fieldNames.mkString(",")) +
        ("hoodie.table.keygenerator.class" -> HudiTable.keyGeneratorClass(
          syncDefs,
          props.get("hoodie.table.recordkey.fields")
            .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty))))
    }
    // honor the target table's configured layout (a pre-existing
    // non-hive target keeps its value-only partition paths)
    val hiveStyle = hiveStyleLayout
    val writeStats = adds.map { f =>
      val pp = HudiTable.buildPartitionPath(f.partitionValues, fieldNames, hiveStyle)
      pp -> HudiWriteStat(
        fileId = HudiTable.fileIdOf(f.physicalPath),
        // raw (decoded) path: hudi write-stat paths are plain strings
        // opened verbatim by the scan (see the iceberg syncCommit twin)
        path = new Path(f.physicalPath).toString,
        prevCommit = instants.lastOption.getOrElse("null"),
        numWrites = f.recordCount,
        fileSizeInBytes = f.fileSizeBytes)
    }
    val replaceIds: Map[String, Seq[String]] =
      if (removePaths.isEmpty || !timeline.exists || instants.isEmpty) Map.empty
      else {
        val removeSet = removePaths.map(HudiTable.normalize).toSet
        fileSlicesDF(None).select("partitionPath", "fileId", "path").collect().toSeq
          .filter(r => removeSet.contains(HudiTable.normalize(absoluteOf(r.getString(2)))))
          .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq).toMap
      }
    // the stored schema must DECLARE every partition field the
    // properties reference — materialized transform fields from the
    // source become string columns here, so a later sync FROM this
    // table sees a self-consistent (schema, partition-fields) pair
    val schemaWithPartFields = StructType(
      schema.fields.map(_.copy(metadata = Metadata.empty)) ++
        fieldNames.filterNot(schema.fieldNames.contains)
          .map(StructField(_, StringType, nullable = true)))
    // the source's column ranges ride into the target's col_stats index
    // (ref `BaseFileUpdatesExtractor.java:240-262` — the extracted stats
    // are attached to each write stat so the target table keeps the
    // skipping index its native readers expect)
    HudiColStats.write(spark, tablePath, instant, adds
      .filter(_.columnStats.nonEmpty)
      .map(f => (HudiTable.buildPartitionPath(f.partitionValues, fieldNames, hiveStyle),
        new Path(f.physicalPath).getName, f.columnStats)))
    // carried statistics pointers are ADOPTED under .hoodie/.graft_stats
    // (the Iceberg/Delta syncCommit twins do the same) so the source
    // deleting ITS file can never dangle this target's pointer
    val statsKeys = Seq(
      graft.model.SyncCas.StatsPathProp, graft.model.SyncCas.PartitionStatsPathProp)
    val adoptedTracked = statsKeys.flatMap(k => syncProps.get(k).flatMap(p =>
      graft.util.StatsFiles.adoptIntoTracked(
        spark.sparkContext.hadoopConfiguration, tablePath,
        ".hoodie/.graft_stats", new Path(p)).map { case (ap, created) =>
        (k, ap.toString, created) }))
    val adoptedStats = adoptedTracked.map(t => t._1 -> t._2)
    val effectiveSyncProps = (syncProps -- statsKeys) ++ adoptedStats
    // a re-sync after the source re-analyzed REPOINTS a key: the copy
    // that key no longer reaches is deleted post-publish, or the stats
    // dir grows one orphan per analyze+sync cycle. Only keys this sync
    // re-points count — a key absent from THIS commit still resolves
    // its old value through the walk-back, so that copy stays.
    val supersededStats = statsKeys.flatMap(k => adoptedStats.toMap.get(k)
      .flatMap(newPath => lastCommitProp(k).filter(_ != newPath)))
    val meta = HudiCommitMetadata(
      partitionToWriteStats = writeStats.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap,
      partitionToReplaceFileIds = replaceIds,
      extraMetadata = effectiveSyncProps +
        ("schema" -> AvroSchemaConverters.toAvro(schemaWithPartFields).toString),
      operationType = if (replaceIds.nonEmpty) "INSERT_OVERWRITE" else "INSERT")
    val action = if (replaceIds.nonEmpty) "replacecommit" else "commit"
    // validate→publish→maintenance is ONE exclusion region under the
    // configured lock provider: a competitor cannot slip a commit into
    // the validate→publish gap (cross-process too, when the provider
    // spans processes — the default file lock does on a shared POSIX
    // filesystem), and the post-publish CLEAN instant lands before the
    // lock releases so a removal-bearing sync never aborts AFTER its
    // data commit already published
    // a lost race (CAS validate OR instant slot) must not orphan copies
    // THIS call placed — unless the race winner registered the same
    // deterministic copy, in which case it is live now and stays
    // (the Delta twin applies the same rule)
    def dropCreatedAdoptions(): Unit = {
      val liveNow = statsKeys.flatMap(lastCommitProp).toSet
      adoptedTracked.collect { case (_, p, true) if !liveNow(p) => new Path(p) }
        .foreach(p => p.getFileSystem(
          spark.sparkContext.hadoopConfiguration).delete(p, false))
    }
    lock.withLock(tablePath) {
      try cas.foreach(_.validate(latestCommitExtraMetadata, s"hudi target $tablePath"))
      catch { case e: graft.model.ConcurrentSyncException =>
        dropCreatedAdoptions(); throw e }
      if (!timeline.commit(HudiInstant(instant, action), meta)) {
        dropCreatedAdoptions()
        // a lost instant-slot race IS a concurrent sync — typed so the
        // engine's re-plan loop classifies it structurally, never by
        // message text
        throw new graft.model.ConcurrentSyncException(
          s"concurrent sync detected on hudi target $tablePath: instant $instant " +
            "lost its timeline slot — re-plan and retry")
      }
      // post-commit maintenance, mirroring the reference target loop (ref
      // `HudiTargetClient.java:414-545`): a synthetic CLEAN instant
      // records the files this sync removed so native Hudi readers learn
      // of removals from the timeline
      if (removePaths.nonEmpty && replaceIds.nonEmpty) {
        val removedByPartition = removePaths
          .map(p => new Path(p).toUri.toString)
          .groupBy { p =>
            // recover the partition path from the removed file's dir
            // relative to the data root when possible, else flat
            val parent = new Path(p).getParent.toUri.getPath
            val root = new Path(sourceDataRoot).toUri.getPath.stripSuffix("/") + "/"
            if (parent.startsWith(root)) parent.stripPrefix(root).stripSuffix("/")
            else ""
          }
          .map { case (pp, ps) => pp -> ps.toSeq.sorted }
      // the fence must reflect what is still REPLAYABLE, and this clean
      // deletes no data files (the removed paths belong to the source's
      // history, which COW retains) — so every instant stays intact and
      // the fence sits at the oldest one. Advancing it to the current
      // instant would silently force every downstream incremental sync
      // to a full re-sync after each removal-bearing upstream sync.
        // the DATA commit is already published: a lost clean-instant slot
        // (a competitor under a narrower lock scope, or an unlocked
        // native writer taking the timestamp) must NOT abort the sync —
        // re-allocate the instant and retry locally until it lands
        var attempts = 0
        var landed = false
        while (!landed) {
          attempts += 1
          val cleanTime = timeline.nextInstantTime()
          landed = timeline.commitJson(HudiInstant(cleanTime, "clean"),
            HudiMaintenanceCodec.cleanToJson(cleanTime,
              HudiCleanMetadata(
                earliestCommitToRetain = instants.headOption.getOrElse(instant),
                partitionToDeleteFiles = removedByPartition)))
          if (!landed && attempts >= 16)
            // data is published and consistent; only the removal NOTICE
            // for native readers is missing — typed, so a retrying
            // caller re-plans instead of crashing
            throw new graft.model.ConcurrentSyncException(
              s"concurrent hudi commits on $tablePath: the post-publish clean " +
                s"instant lost its slot $attempts times (data instant $instant " +
                "IS published)")
        }
      }
    }
    supersededStats.foreach(p => graft.util.StatsFiles.deleteIfOwned(
      spark.sparkContext.hadoopConfiguration, tablePath, p,
      adoptedStats.map(_._2).toSet))
    // self-heal the check-then-delete window: a racing loser's lost-CAS
    // cleanup may have deleted an adopted copy before OUR commit of the
    // same deterministic path became visible to it (Delta twin's rule)
    adoptedTracked.foreach { case (k, p, _) =>
      val hp = new Path(p)
      if (!hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp))
        syncProps.get(k).foreach(srcp => graft.util.StatsFiles.adoptIntoTracked(
          spark.sparkContext.hadoopConfiguration, tablePath,
          ".hoodie/.graft_stats", new Path(srcp)))
    }
    archiveTimeline()
    instant
  }

  private def isAbsolute(p: String): Boolean = p.startsWith("/") || p.contains(":/")
  private def absoluteOf(p: String): String =
    if (isAbsolute(p)) p else new Path(tablePath, p).toString
}

object HudiTable {

  /** One action of the timeline replay: a write stat (`isAdd`, with
    * its recorded `numWrites`) or a replaced file group (`path` null). */
  private[hudi] final case class LocalAction(
      instant: String,
      partitionPath: String,
      fileId: String,
      path: String,
      size: Long,
      isAdd: Boolean,
      numWrites: Long)

  /** Per-table monitor making a sync commit's validate→publish atomic
    * WITHIN one JVM — the analog of real Hudi's InProcessLockProvider
    * (two Hudi sync commits write different instant filenames, so the
    * put-if-absent that arbitrates Delta/Iceberg version slots cannot
    * arbitrate here). Cross-process scope layers on top via
    * [[HudiLockProvider]] (file lock by default on local filesystems;
    * external service locks are the pluggable seam, as in real Hudi). */
  private val syncLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[hudi] def syncLock(tablePath: String): Object =
    syncLocks.computeIfAbsent(tablePath, _ => new Object)

  /** avro-JSON → Spark schema memo: the conversion is a pure function
    * of the string, and an incremental replay resolves the SAME schema
    * string once per replayed commit — parse it once per JVM instead.
    * Bounded; cleared wholesale when full. */
  private val schemaParseCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private[hudi] def sparkSchemaOf(avroJson: String): StructType = {
    if (schemaParseCache.size > 128) schemaParseCache.clear()
    schemaParseCache.computeIfAbsent(avroJson, j =>
      AvroSchemaConverters.fromAvro(new org.apache.avro.Schema.Parser().parse(j)))
  }

  /** recordIndexUsable memo — see the method's contract note. */
  private[hudi] val fenceCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), java.lang.Boolean]()
  /** Full fence evaluations (timeline JSON walks) — observable so a spec
    * can prove one walk per new instant, not one per routed upsert. */
  private[graft] val fenceEvaluations = new java.util.concurrent.atomic.AtomicLong(0)

  def forPath(spark: SparkSession, tablePath: String): HudiTable =
    new HudiTable(spark, new HudiTimeline(tablePath, spark.sparkContext.hadoopConfiguration))

  def create(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      partitionColumns: Seq[String] = Seq.empty,
      /** false → DIR_HIERARCHY_PARTITION_VALUES: slash-delimited
        * partition values, no `key=` prefixes (ref
        * `api/.../storage/DataLayoutStrategy.java:29-33`). */
      hiveStylePartitioning: Boolean = true): HudiTable = {
    val t = forPath(spark, tablePath)
    require(!t.timeline.exists, s"table already exists: $tablePath")
    if (!hiveStylePartitioning) {
      // pre-write the layout flag so the first append places its base
      // files (and keys its write stats) in the value-only layout
      val defs = graft.model.PartitionTransform.parseAll(partitionColumns)
      t.timeline.writeProperties(tableProperties(tablePath, defs.map(_.fieldName),
        Map("hoodie.datasource.write.hive_style_partitioning" -> "false") ++
          (if (defs.exists(!_.isIdentity))
            Map(PartitionSpecsProp -> defs.map(_.spec).mkString(";"))
          else Map.empty)))
    }
    t.append(df, partitionColumns)
    t
  }

  /**
   * Create a MERGE_ON_READ table: same layout as COW plus the table
   * type and the record-key field (the merge identity) in
   * hoodie.properties. MOR log records ride a flat Avro codec, so
   * nested column types stay on the COW path.
   */
  def createMor(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      recordKeyField: String,
      partitionColumns: Seq[String] = Seq.empty): HudiTable = {
    val t = forPath(spark, tablePath)
    require(!t.timeline.exists, s"table already exists: $tablePath")
    require(df.schema.fieldNames.contains(recordKeyField),
      s"record key column $recordKeyField missing from the frame")
    df.schema.fields.foreach(f => require(
      !f.dataType.isInstanceOf[StructType] &&
        !f.dataType.isInstanceOf[ArrayType] && !f.dataType.isInstanceOf[MapType],
      s"MOR log records support flat schemas only; ${f.name} is ${f.dataType.simpleString}"))
    val defs = graft.model.PartitionTransform.parseAll(partitionColumns)
    t.timeline.writeProperties(tableProperties(tablePath, defs.map(_.fieldName),
      Map(
        "hoodie.table.type" -> "MERGE_ON_READ",
        "hoodie.table.recordkey.fields" -> recordKeyField) ++
        (if (defs.exists(!_.isIdentity))
          Map(PartitionSpecsProp -> defs.map(_.spec).mkString(";"))
        else Map.empty)))
    t.append(df, partitionColumns)
    t
  }

  private[graft] def tableProperties(
      tablePath: String, partCols: Seq[String], extra: Map[String, String]): Map[String, String] = {
    // the keygen choice matrix real Hudi writers appending to this
    // table will honor (ref `core/.../hudi/HudiTableManager.java:123-152`):
    // transforms ride in via PartitionSpecsProp, record keys via the
    // native recordkey property — both land in `extra`
    val defs = extra.get(PartitionSpecsProp)
      .map(s => graft.model.PartitionTransform.parseAll(s.split(";").toSeq.filter(_.nonEmpty)))
      .getOrElse(partCols.map(graft.model.PartitionFieldDef(_, "identity")))
    val recordKeys = extra.get("hoodie.table.recordkey.fields")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    Map(
      "hoodie.table.name" -> new Path(tablePath).getName,
      "hoodie.table.type" -> "COPY_ON_WRITE",
      "hoodie.table.version" -> "6",
      "hoodie.timeline.layout.version" -> "1",
      "hoodie.table.base.file.format" -> "PARQUET",
      "hoodie.datasource.write.hive_style_partitioning" -> "true",
      "hoodie.table.keygenerator.class" -> keyGeneratorClass(defs, recordKeys),
      "hoodie.table.partition.fields" -> partCols.mkString(",")) ++ extra
  }

  /** Keygen class real Hudi writers select from the partition/record-key
    * shape (ref `core/.../hudi/HudiTableManager.java:123-152`): no
    * partition fields → Nonpartitioned; any time-based transform →
    * Timestamp (single field) or Custom (multiple); otherwise Complex
    * when either side is compound, Simple for the 1×1 case. */
  private[graft] def keyGeneratorClass(
      partDefs: Seq[graft.model.PartitionFieldDef], recordKeys: Seq[String]): String =
    if (partDefs.isEmpty) "org.apache.hudi.keygen.NonpartitionedKeyGenerator"
    else if (partDefs.exists(_.isTime))
      if (partDefs.size > 1) "org.apache.hudi.keygen.CustomKeyGenerator"
      else "org.apache.hudi.keygen.TimestampBasedKeyGenerator"
    else if (recordKeys.size > 1 || partDefs.size > 1)
      "org.apache.hudi.keygen.ComplexKeyGenerator"
    else "org.apache.hudi.keygen.SimpleKeyGenerator"

  /** Property recording the table's partition SPECS (incl. transforms)
    * so appends inherit them without name heuristics. */
  private[graft] val PartitionSpecsProp = "graft.partition.specs"

  /** extraMetadata key of the native ANALYZE's Puffin sidecar path. */
  val StatsPathKey = "graft.stats.path"
  /** extraMetadata key of the instant that ANALYZE registered at. */
  val StatsInstantKey = "graft.stats.instant"

  /** Actions the incremental sync feed replays (clean excluded — ref
    * `HudiDataFileExtractor.java:244-250` treats it as a no-op).
    * deltacommit IS fed: an insert-only deltacommit syncs like a
    * commit, and one that appends log blocks fails loudly in changeSet
    * (silently skipping it would desynchronize the target). */
  private[graft] val FeedActions = Set("commit", "replacecommit", "deltacommit", "rollback", "restore")

  /** Active-timeline archival caps (Hudi's `hoodie.keep.max.commits` /
    * `hoodie.keep.min.commits` defaults), overridable per table. */
  private[graft] val MaxActiveInstantsProp = "graft.timeline.max.active"
  private[graft] val MinActiveInstantsProp = "graft.timeline.min.active"
  private[graft] val DefaultMaxActiveInstants = 30
  private[graft] val DefaultMinActiveInstants = 20

  private[hudi] def mergeSchemas(
      existing: StructType, incoming: StructType, tablePath: String): StructType =
    graft.model.SchemaMerge.additive(existing, incoming, tablePath)

  /** Scheme-insensitive path form for set membership (file:/x vs /x). */
  private[graft] def normalize(p: String): String = new Path(p).toUri.getPath

  /** [[graft.util.PathCodec.decodeFileUri]] — input_file_name()'s
    * encoded URI back to [[normalize]]'s raw on-disk form. */
  private[graft] def decodeFileUri(f: String): String =
    graft.util.PathCodec.decodeFileUri(f)

  /** The string form the scan's `_metadata.file_path` reports. */
  /** The DECODED real path — the `__graft_file` join form (the scan
    * decodes `_metadata.file_path` at the source). */
  private[hudi] def metaPathForm(abs: String): String = new Path(abs).toString

  private[graft] val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  private def decodePathValue(v: String): String = {
    val d = graft.util.PathCodec.unescapePathName(v)
    if (d == HiveDefaultPartition) null else d
  }

  /** Hive `k=v` partition path → values. Kept for contexts with no
    * partition-field list (parquet-dir conversion), where hive keys are
    * the only way values are discoverable. */
  private[graft] def parsePartitionPath(pp: String): Map[String, String] =
    if (pp == null || pp.isEmpty) Map.empty
    else pp.split("/").flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> decodePathValue(v))
      case _ => None
    }).toMap

  /** Partition path → values for BOTH layouts, driven by the configured
    * field list: per field, a `field=` prefix is stripped when present
    * (hive style), otherwise the next slash segment IS the value —
    * and a single partition field consumes the whole remaining path
    * even if the value contains slashes (custom partition logic), the
    * reference's per-field walk (ref
    * `core/.../hudi/HudiPartitionValuesExtractor.java:47-118`). */
  private[graft] def parsePartitionPath(pp: String, partCols: Seq[String]): Map[String, String] = {
    if (pp == null || pp.isEmpty || partCols.isEmpty) return parsePartitionPath(pp)
    val out = Map.newBuilder[String, String]
    var remaining = pp
    var i = 0
    while (i < partCols.size && remaining.nonEmpty) {
      val c = partCols(i)
      if (remaining.startsWith(c + "=")) remaining = remaining.substring(c.length + 1)
      val isLast = i == partCols.size - 1
      val cut = remaining.indexOf('/')
      // a single/last partition field keeps trailing slashes in its value
      val raw = if (isLast || cut < 0) remaining else remaining.substring(0, cut)
      out += c -> decodePathValue(raw)
      remaining = if (cut < 0 || isLast) "" else remaining.substring(cut + 1)
      i += 1
    }
    out.result()
  }

  private[graft] def buildPartitionPath(
      values: Map[String, String], partCols: Seq[String],
      hiveStyle: Boolean = true): String =
    partCols.map { c =>
      val v = values.get(c).flatMap(Option(_)).getOrElse(HiveDefaultPartition)
      val ev = graft.util.PathCodec.escapePathName(v)
      if (hiveStyle) s"$c=$ev" else ev
    }.mkString("/")

  /** Deterministic file-group id for an externally-referenced file. */
  private[graft] def fileIdOf(absPath: String): String =
    new Path(absPath).getName.stripSuffix(".parquet")

  /**
   * Metadata-only conversion of an existing parquet dataset: the commit's
   * write stats point at the source files by absolute URI — no data
   * rewritten (the reference marks such files with an external-path
   * convention, ref `core/.../hudi/BaseFileUpdatesExtractor.java:206-238`).
   * File groups are keyed by the source file name; hive `k=v` dirs become
   * the partition path.
   */
  def convertFromParquet(
      spark: SparkSession,
      sourceLocation: String,
      tablePath: String): HudiTable = {
    val t = forPath(spark, tablePath)
    require(!t.timeline.exists, s"table already exists: $tablePath")
    val files = ParquetFooterStats.listParquetFiles(spark, sourceLocation)
    val schema = spark.read.parquet(sourceLocation).schema
    val srcBase = new Path(sourceLocation).toUri.getPath.stripSuffix("/") + "/"
    val relOf = (p: String) => new Path(p).toUri.getPath.stripPrefix(srcBase)
    val hiveKeys: Set[String] = files.headOption.map { f =>
      relOf(f).split("/").dropRight(1).flatMap(_.split("=", 2) match {
        case Array(k, _) if schema.fieldNames.contains(k) => Some(k)
        case _ => None
      }).toSet
    }.getOrElse(Set.empty)
    val partCols = schema.fieldNames.toSeq.filter(hiveKeys.contains)
    val instant = t.timeline.nextInstantTime()
    val stats = ParquetFooterStats.collect(spark, files)
    val writeStats = stats.map { st =>
      val rel = relOf(st.path)
      val partitionPath = rel.split("/").dropRight(1).mkString("/")
      partitionPath -> HudiWriteStat(
        fileId = new Path(st.path).getName.stripSuffix(".parquet"),
        path = new Path(st.path).toUri.toString,
        prevCommit = "null",
        numWrites = st.recordCount,
        fileSizeInBytes = st.fileSizeBytes)
    }
    t.timeline.writeProperties(tableProperties(
      tablePath, partCols, Map("graft.converted.from" -> sourceLocation)))
    val meta = HudiCommitMetadata(
      partitionToWriteStats = writeStats.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap,
      partitionToReplaceFileIds = Map.empty,
      extraMetadata = Map("schema" -> AvroSchemaConverters.toAvro(schema).toString),
      operationType = "BULK_INSERT")
    require(t.timeline.commit(HudiInstant(instant, "commit"), meta),
      s"table already exists: $tablePath")
    t
  }
}

/**
 * Scan with partition pruning on the replayed file-slice manifest (each
 * partition path parsed on the driver) and min/max skipping
 * ([[graft.sources.StatsSkipping]]) over the col_stats index, mirroring
 * the Delta/Iceberg scan builders so all three formats prune at the same
 * layer.
 */
final class HudiScanBuilder(
    spark: SparkSession,
    table: HudiTable,
    asOfInstant: Option[String]) {

  private var partitionPredicates: Seq[(String, Set[String])] = Seq.empty
  private var rangePredicates: Seq[(String, Option[String], Option[String])] = Seq.empty

  def partitionIn(column: String, values: Set[String]): HudiScanBuilder = {
    partitionPredicates +:= (column -> values)
    this
  }

  /** Min/max file skipping through the col_stats index (ref read
    * preference `HudiFileStatsExtractor.java:96-103`) on `column >= lo AND
    * column <= hi`, literals cast to the column's type in UTC. Files
    * without index coverage are kept — absence of stats never excludes. */
  def range(column: String, lo: Option[Any], hi: Option[Any]): HudiScanBuilder = {
    rangePredicates +:= ((column, lo.map(_.toString), hi.map(_.toString)))
    this
  }

  /** Pruned file manifest (instant, partitionPath, fileId, path, size). */
  def files(): DataFrame = {
    val all = table.fileSlicesDF(asOfInstant)
    if (partitionPredicates.isEmpty && rangePredicates.isEmpty) return all
    val inPartitions = all.collect().toSeq.filter(r => partitionOk(r.getString(1)))
    val kept = if (rangePredicates.isEmpty) inPartitions else {
      val schema = table.schemaAt(asOfInstant)
      val filters = rangePredicates.flatMap { case (c, lo, hi) =>
        graft.sources.StatsSkipping.rangeFilter(c, schema(c).dataType, lo, hi)
      }
      val stats = HudiColStats.read(spark, table.tablePath, table.instantsAt(asOfInstant))
      graft.sources.StatsSkipping.prune(inPartitions, filters) { r =>
        val path = r.getString(3)
        stats.getOrElse((r.getString(1), path.substring(path.lastIndexOf('/') + 1)), Seq.empty)
      }
    }
    spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(kept).asJava, all.schema)
  }

  def toDF(): DataFrame = {
    if (table.isMor && table.hasLogFiles(asOfInstant)) {
      // MOR with live logs: partition predicates prune whole slices;
      // range predicates prune only LOG-FREE slices — a group's base
      // stats say nothing about the rows its log blocks carry
      val keep = files().select("partitionPath", "fileId").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val slices = table.fileSlices(asOfInstant).filter { s =>
        if (s.logs.nonEmpty) partitionOk(s.partitionPath)
        else keep((s.partitionPath, s.fileId))
      }
      return table.mergedRead(slices, asOfInstant)
    }
    val pruned = files().select("path", "partitionPath", "size").collect().toSeq
      .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
    table.readFiles(pruned, asOfInstant)
  }

  /** True when a partition path's decoded values (hive-style or
    * value-only layout) are wanted by every partition predicate. The
    * field list is read once per scan, not per file. */
  private lazy val partitionOk: String => Boolean = {
    val partCols = table.partitionColumns
    pp => {
      val vals = HudiTable.parsePartitionPath(pp, partCols)
      partitionPredicates.forall { case (c, vs) => vs.contains(vals.get(c).orNull) }
    }
  }
}
