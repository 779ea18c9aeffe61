package graft.delta

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{ColumnStatRow, InternalDataFile}
import graft.stats.{FileFooterStats, ParquetFooterStats}
import graft.util.PhaseTimer

/**
 * User-facing Delta table API over the native log codec: create/append/
 * overwrite with real data writes, metadata-only conversion of existing
 * parquet (the reference's core "sync without rewriting data" semantics),
 * snapshot reads, `versionAsOf`/`timestampAsOf` time travel (ref IT
 * surface `ITOneTableClient.java:654-699`), incremental change reads, and
 * a scan builder with partition pruning + min/max file skipping driven by
 * the log's own stats — the log-level skipping layer Spark core doesn't
 * provide (SURVEY.md §4).
 */
final class DeltaTable private (spark: SparkSession, val log: DeltaLog) {

  def tablePath: String = log.tablePath

  // ---------------------------------------------------------------- reads

  def latestVersion: Long = log.latestVersion().getOrElse(
    throw new IllegalStateException(s"empty delta table: $tablePath"))

  def schemaAt(asOf: Option[Long] = None): (StructType, Seq[String]) = {
    val s = log.snapshot(asOf)
    (s.schema, s.partitionColumns)
  }

  /** Resolve timestampAsOf → version: latest commit with ts <= given.
    * Ties on timestamp (two commits in the same millisecond) resolve to
    * the higher version — the state visible at that instant. */
  def versionForTimestamp(tsMillis: Long): Long = {
    val candidates = log.commitTimestamps().filter(_._2 <= tsMillis)
    require(candidates.nonEmpty, s"no commit at or before timestamp $tsMillis")
    candidates.maxBy(c => (c._2, c._1))._1
  }

  /**
   * Protocol + metadata gate for write paths. Table features distinguish
   * "supported" (listed in the protocol) from "enabled" (activated by
   * table metadata); a feature we can ignore while disabled only blocks
   * the write once its metadata switch is on.
   */
  private[delta] def requireWritable(s: DeltaSnapshot, mutation: Boolean): Unit = {
    s.requireReadable() // writers replay the snapshot first
    val p = s.protocol
    require(p.minWriterVersion <= 7,
      s"cannot write $tablePath: unsupported Delta minWriterVersion ${p.minWriterVersion} (max 7)")
    val declared =
      if (p.minWriterVersion == 7) p.writerFeatures.getOrElse(Seq.empty).toSet
      else DeltaTable.legacyWriterFeatures(p.minWriterVersion).toSet
    val unsupported = declared -- DeltaTable.SupportedWriterFeatures
    require(unsupported.isEmpty,
      s"cannot write $tablePath: unsupported Delta writer feature(s) " +
        s"${unsupported.toSeq.sorted.mkString(", ")}; this engine supports " +
        DeltaTable.SupportedWriterFeatures.toSeq.sorted.mkString(", "))
    require(!(mutation && s.configuration.get("delta.appendOnly").contains("true")),
      s"cannot delete from $tablePath: delta.appendOnly is enabled")
    // delta.enableChangeDataFeed: row-level writes produce _change_data
    // files + cdc actions (deleteWhere), so CDF tables are writable
    // identity columns: write() assigns values from the high watermark
    // and advances it in the same commit, so identity tables are writable
  }

  /**
   * Enforce the table's CHECK constraints (`delta.constraints.*`
   * configuration) and column invariants (`delta.invariants` field
   * metadata) on incoming rows — SQL CHECK semantics: a row violates
   * only when the expression is FALSE (NULL passes). One distributed
   * pass over the incoming frame (the violations of every rule count in
   * a single job); per-rule attribution runs only on the failure path.
   */
  private def validateIncoming(s: DeltaSnapshot, df: DataFrame): Unit = {
    val checks: Seq[(String, String)] =
      s.configuration.collect {
        case (k, v) if k.startsWith("delta.constraints.") =>
          k.stripPrefix("delta.constraints.") -> v
      }.toSeq ++ {
        s.schema.fields.filter(_.metadata.contains("delta.invariants")).map { f =>
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f.metadata.getString("delta.invariants"))
          s"invariant(${f.name})" -> node.path("expression").path("expression").asText()
        }.toSeq
      }
    if (checks.isEmpty) return
    def violations(sql: String) = df.filter(not(coalesce(expr(sql), lit(true))))
    val total = checks.map(c => violations(c._2)).reduce(_ unionAll _).count()
    if (total > 0) {
      val broken = checks.filter(c => violations(c._2).limit(1).count() > 0)
      throw new IllegalArgumentException(
        s"write to $tablePath violates CHECK constraint(s) " +
          broken.map { case (n, e) => s"$n ($e)" }.mkString(", ") +
          s": $total violating row(s)")
    }
  }

  /** Commit history, newest first (DESCRIBE HISTORY): one row per
    * version with its CommitInfo. Metadata-sized — built driver-side
    * from the log, like the reference's instant listings. */
  def history(): DataFrame = {
    import spark.implicits._
    log.listVersions().map { v =>
      val info = log.readFirstAction(v, "\"commitInfo\"") { case c: CommitInfo => c }
      (v,
        info.map(_.timestamp).getOrElse(0L),
        info.map(_.operation).getOrElse(""),
        info.map(_.operationParameters).getOrElse(Map.empty[String, String]))
    }.toDF("version", "timestamp", "operation", "operationParameters")
      .orderBy(col("version").desc)
  }

  /** DESCRIBE DETAIL: one row of table-level facts (format, id, created
    * time, partition columns, live file count/bytes, properties,
    * protocol versions) — all from log replay, no filesystem listing. */
  def detail(): DataFrame = {
    import spark.implicits._
    val s = log.snapshot()
    val (meta, p, files) = (s.metadata, s.protocol, s.files)
    Seq((
      "delta", meta.id, tablePath, meta.createdTime,
      meta.partitionColumns, files.size.toLong, files.map(_.size).sum,
      meta.configuration, p.minReaderVersion, p.minWriterVersion
    )).toDF("format", "id", "location", "createdAt", "partitionColumns",
      "numFiles", "sizeInBytes", "properties", "minReaderVersion", "minWriterVersion")
  }

  /** Live files of the current snapshot as a DataFrame (path, partition
    * values, size, stats JSON, deletion-vector cardinality). */
  def filesDF(): DataFrame = {
    import spark.implicits._
    log.snapshot().files.map(a =>
      (a.path, a.partitionValues, a.size, a.stats.orNull, a.deletionVector.fold(0L)(_.cardinality)))
      .toDF("path", "partitionValues", "size", "stats", "deleted_rows")
  }

  /** Number of live files — sizes the streaming source's
    * initial-snapshot chunking. */
  def snapshotFileCount(asOf: Option[Long] = None): Int =
    log.snapshot(asOf).files.size

  /** Deterministic slice `chunk` of `totalChunks` over the snapshot's
    * live files (modulo over the path-sorted manifest): the streaming
    * source's initial-snapshot admission control. */
  def snapshotChunkDF(asOf: Option[Long], chunk: Int, totalChunks: Int): DataFrame =
    (asOf match {
      case Some(v) => scanAsOf(v)
      case None    => scan
    }).chunk(chunk, totalChunks).toDF()

  def scan: DeltaScanBuilder = new DeltaScanBuilder(spark, this, None)
  def scanAsOf(version: Long): DeltaScanBuilder = new DeltaScanBuilder(spark, this, Some(version))
  def scanAsOfTimestamp(tsMillis: Long): DeltaScanBuilder =
    new DeltaScanBuilder(spark, this, Some(versionForTimestamp(tsMillis)))

  /** Full snapshot read (latest or time-traveled). */
  def toDF(versionAsOf: Option[Long] = None): DataFrame =
    (versionAsOf match {
      case Some(v) => scanAsOf(v)
      case None    => scan
    }).toDF()

  /**
   * Rows added in versions (from, to] — CDF-style incremental read (ref
   * incremental sync §2.9). Returns the data of newly added files.
   */
  def changesAsDF(fromExclusive: Long, toInclusive: Long): DataFrame = {
    val s = log.snapshot(Some(toInclusive))
    s.requireReadable()
    // every add in the range, a DV rewrite's re-add included
    val changed = s.versionsBetween(fromExclusive, toInclusive).flatMap(s.actions).collect {
      case a: AddFile =>
        (InternalDataFile(a.path, partitionValues = a.partitionValues, fileSizeBytes = a.size),
          a.deletionVector)
    }
    s.read(spark, changed)
  }

  /**
   * Change data feed for versions in (from, to], reconstructed from the
   * log alone — no `_change_data` sidecars: an append's files are
   * `insert` rows; a removed file's live rows (its content minus its
   * deletion vector) are `delete` rows; and a DV rewrite's delete set is
   * EXACTLY the positions its new vector has that the old one lacks.
   * Output carries `_change_type` and `_commit_version` alongside the
   * table columns (read with the feed-end schema, like Delta CDF).
   *
   * Cost note: each version with removals replays the pre-commit
   * snapshot (checkpoint + log tail) to recover the removed files'
   * partition values and vectors — linear in feed length, the right
   * trade for the CDC consumption pattern (short tail ranges, often
   * per-commit).
   */
  def changeFeed(fromExclusive: Long, toInclusive: Long): DataFrame = {
    val s = log.snapshot(Some(toInclusive))
    s.requireReadable()
    val versions = s.versionsBetween(fromExclusive, toInclusive)
    val schema = s.schema
    // column-mapped feeds read physical and project back to logical
    val (rSchema, rParts) = s.readShape
    val base = s.readBasePath
    def finish(df: DataFrame, t: String, v: Long): DataFrame =
      df.select(schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
        .withColumn("_change_type", lit(t))
        .withColumn("_commit_version", lit(v))
    val parts: Seq[DataFrame] = versions.flatMap { v =>
      val actions = s.actions(v)
      // a commit carrying cdc actions is read EXCLUSIVELY from its
      // _change_data files (Delta protocol): the writer already
      // materialized every change row with its _change_type
      val cdcs = actions.collect { case c: AddCDCFile => c }
      if (cdcs.nonEmpty) {
        val files = cdcs.map(c => InternalDataFile(DeltaTable.metadataFilePath(tablePath, c.path),
          partitionValues = c.partitionValues, fileSizeBytes = c.size))
        val readSchema = StructType(
          rSchema.fields :+ StructField("_change_type", StringType))
        Seq(s.toLogical(graft.sources.ManifestFileIndex.read(
            spark, tablePath, files, readSchema, rParts), Seq("_change_type"))
          .withColumn("_commit_version", lit(v)))
      } else {
      val adds = actions.collect { case a: AddFile => a }
      val removePaths = actions.collect { case r: RemoveFile => r.path }.toSet
      val addPaths = adds.map(_.path).toSet
      // the pre-commit state of every touched-but-preexisting file
      val prev: Map[String, AddFile] =
        if (removePaths.isEmpty) Map.empty
        else log.snapshot(Some(v - 1)).files.filter(a => removePaths.contains(a.path))
          .map(a => a.path -> a).toMap

      val inserts = adds.filterNot(a => removePaths.contains(a.path)).map { a =>
        (InternalDataFile(a.path, partitionValues = a.partitionValues, fileSizeBytes = a.size,
          lastModified = a.modificationTime), a.deletionVector)
      }
      val insertDF =
        if (inserts.isEmpty) None
        else Some(finish(s.read(spark, inserts), "insert", v))

      val fullRemoves = prev.view.filterKeys(p => !addPaths.contains(p)).values.toSeq
      val removeDF =
        if (fullRemoves.isEmpty) None
        else Some(finish(s.read(spark,
          fullRemoves.map(a => (DeltaTable.dataFileOf(a), a.deletionVector))), "delete", v))

      // DV rewrites: remove+add of the same path — the delete set is the
      // new vector minus the old one
      val rewrites = adds.filter(a => removePaths.contains(a.path) && prev.contains(a.path))
      val rewriteDF =
        if (rewrites.isEmpty) None
        else {
          val files = rewrites.map { a =>
            DeltaTable.dataFileOf(prev(a.path))
              .copy(physicalPath = DeltaTable.metadataFilePath(tablePath, a.path))
          }
          val data = s.toLogical(graft.sources.ManifestFileIndex.read(
            spark, base, files, rSchema, rParts, withRowPositions = true),
            Seq("__graft_file", "__graft_pos"))
          def posDF(dvs: Seq[(String, Option[DeletionVectorDescriptor])]) =
            DeltaTable.deletedPositionsDF(spark, tablePath,
              dvs.collect { case (p, Some(d)) =>
                (InternalDataFile(p), d) })
          val newPos = posDF(rewrites.map(a =>
            DeltaTable.metadataFilePath(tablePath, a.path) -> a.deletionVector))
          val oldPos = posDF(rewrites.map(a =>
            DeltaTable.metadataFilePath(tablePath, a.path) -> prev(a.path).deletionVector))
          val fresh = newPos.join(oldPos, Seq("__graft_file", "__graft_pos"), "left_anti")
          Some(finish(
            data.join(broadcast(fresh), Seq("__graft_file", "__graft_pos")),
            "delete", v))
        }
      Seq(insertDF, removeDF, rewriteDF).flatten
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val empty = StructType(schema.fields ++ Seq(
        StructField("_change_type", StringType), StructField("_commit_version", LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  // ---------------------------------------------------------------- writes

  /** Append `df`, physically writing parquet under the table root.
    * `commitProps` ride the commit's CommitInfo atomically (streaming
    * sink batch tracking — Delta's SetTransaction idiom). */
  def append(df: DataFrame, partitionColumns: Seq[String],
      commitProps: Map[String, String] = Map.empty): Long =
    write(df, partitionColumns, overwrite = false, commitProps = commitProps)

  /** Logical overwrite: new files added, previous live files removed in
    * the log; old data files stay on disk so time travel keeps working. */
  def overwrite(df: DataFrame, partitionColumns: Seq[String],
      commitProps: Map[String, String] = Map.empty): Long =
    write(df, partitionColumns, overwrite = true, commitProps = commitProps)

  /**
   * Row-level DELETE via deletion vectors (Delta protocol "Deletion
   * Vectors"): rows matching `predicate` are tombstoned by position — no
   * data file is rewritten. Position discovery is a distributed scan +
   * per-file bitmap build on executors; only the finished bitmaps (a few
   * bytes per thousand rows) reach the driver, which writes ONE sidecar
   * `.bin` for the whole commit and swaps each affected file's log entry
   * (remove + add with the merged DV) atomically. A file whose every row
   * is deleted drops out of the snapshot entirely. Returns the committed
   * version (the current one when nothing matched).
   */
  def delete(predicate: org.apache.spark.sql.Column): Long =
    deleteWhere(data => data.filter(predicate),
      CommitInfo(System.currentTimeMillis(), "DELETE",
        Map("predicate" -> predicate.toString)))

  /** Key-set DELETE (the CDC tombstone shape): every row matching a row
    * of `keys` on the key columns is DV-tombstoned; null keys match
    * null values. The Delta twin of Hudi deleteKeys / Iceberg
    * deleteByEquality. */
  def deleteMatching(keys: DataFrame, keyCols: Seq[String]): Long = {
    val distinctKeys = keys
      .select(keyCols.map(c => col(s"`$c`")): _*).distinct()
    deleteWhere(
      data => data.join(distinctKeys,
        keyCols.map(c => data(c) <=> distinctKeys(c)).reduce(_ && _), "left_semi"),
      CommitInfo(System.currentTimeMillis(), "DELETE",
        Map("predicate" -> s"keys in (${keyCols.mkString(", ")})")),
      // key routing, same as MERGE: with an index (or usable ranges)
      // the delete scans candidate files, not the table — the null-key
      // bailout in keyIndexRouteFiles keeps <=> semantics sound (a null
      // key falls back to the range path, which keeps all candidates)
      pruneByKeys = Some((keyCols, distinctKeys)))
  }

  /** DELETE where the matching rows come from a caller-supplied
    * transformation of the physical scan (predicate filter, or a
    * key-semi-join for MERGE). */
  private def deleteWhere(
      selectMatching: DataFrame => DataFrame,
      info: CommitInfo,
      /** extra actions committed atomically (MERGE's new files) */
      extraActions: Seq[DeltaAction] = Seq.empty,
      /** MERGE's incoming rows, for the change feed: when the table
        * enables CDF these land in `_change_data` as `insert` records
        * alongside the delete pre-images. */
      cdcInserts: Option[DataFrame] = None,
      /** MERGE key pruning: (key columns, incoming key frame). A file
        * whose per-file stats prove NO incoming value falls inside a
        * key column's [min,max] cannot hold a match — skip scanning it
        * (the Delta-side twin of the Hudi upsert routing prune; at
        * scale, a keyed MERGE reads the touched files, not the table).
        * Per-column interval tests are a sound over-approximation for
        * composite keys; files without stats stay candidates. */
      pruneByKeys: Option[(Seq[String], DataFrame)] = None,
      /** the snapshot the caller planned against (MERGE's staged files);
        * the commit takes the slot after it */
      planned: Option[DeltaSnapshot] = None): Long = {
    val s = planned.getOrElse(log.snapshot())
    requireWritable(s, mutation = true)
    val (schema, partCols) = (s.schema, s.partitionColumns)
    // column-mapped tables scan physical, match logical: the predicate /
    // key join sees logical names, the position bitmaps key on file+pos
    val physShape = s.physicalShape
    val snap = s.files
    val latest = s.version
    if (snap.isEmpty && extraActions.isEmpty) return latest
    val byMetaPath: Map[String, AddFile] =
      snap.map(a => DeltaTable.metadataFilePath(tablePath, a.path) -> a).toMap
    // scan PHYSICAL rows (existing deletes not applied: re-marking an
    // already-deleted position is idempotent under bitmap union)
    val allMfs = snap.map(a => DeltaTable.dataFileOf(a)
      .copy(physicalPath = DeltaTable.metadataFilePath(tablePath, a.path)))
    val mfs = pruneByKeys match {
      case None => allMfs
      // exact routing via the key index when it can answer (see
      // DeltaKeyIndex): only files that genuinely hold an incoming key
      // stay candidates — per-file ranges keep every file once key
      // ranges interleave, the index does not. None (absent index,
      // failed fence, composite/null keys) falls through to ranges.
      case Some((kc, keys)) =>
        keyIndexRouteFiles(s, kc, keys) match {
          case Some(hit) =>
            DeltaTable.indexRoutedScans.incrementAndGet()
            allMfs.filter(f => hit(f.physicalPath))
          case None =>
        import org.apache.spark.sql.functions.{broadcast, from_json}
        def pName(c: String): String = physShape match {
          case None => c
          case Some(_) => DeltaTable.physicalName(schema(c))
        }
        val statCols = StructType(
          kc.map(c => StructField(pName(c), schema(c).dataType)))
        val statsSchema = StructType(Seq(
          StructField("minValues", statCols), StructField("maxValues", statCols),
          StructField("nullCount", StructType(
            kc.map(c => StructField(pName(c), LongType))))))
        val filesDF = spark.createDataFrame(snap.map(a =>
            (DeltaTable.metadataFilePath(tablePath, a.path), a.stats.orNull)))
          .toDF("__path", "__stats")
          .withColumn("st", from_json(col("__stats"), statsSchema))
          .persist()
        var cand = allMfs.map(_.physicalPath).toSet
        kc.foreach { c =>
          val minC = col(s"st.minValues.`${pName(c)}`")
          val maxC = col(s"st.maxValues.`${pName(c)}`")
          val nullsC = col(s"st.nullCount.`${pName(c)}`")
          val kDistinct = keys.select(col(s"`$c`").as("__k")).distinct()
          // MERGE matches with null-safe equality: a null incoming key
          // matches rows where c IS NULL, which min/max never witness.
          // With a null key present, only files PROVEN all-non-null
          // (nullCount known and zero) remain range-prunable; the range
          // join itself uses non-null keys only.
          val hasNullKey = kDistinct.filter(col("__k").isNull).limit(1).count() > 0
          val prunable = filesDF.filter(minC.isNotNull && maxC.isNotNull &&
              (if (hasNullKey) nullsC.isNotNull && nullsC === 0L else lit(true)))
            .select(col("__path"), minC.as("__kmin"), maxC.as("__kmax"))
          val knownSet = prunable.select("__path").collect().map(_.getString(0)).toSet
          val hit = kDistinct.filter(col("__k").isNotNull)
            .join(broadcast(prunable),
              col("__k") >= col("__kmin") && col("__k") <= col("__kmax"))
            .select("__path").distinct().collect().map(_.getString(0)).toSet
          cand = cand.filter(p => !knownSet(p) || hit(p))
        }
        filesDF.unpersist()
        allMfs.filter(f => cand(f.physicalPath))
        }
    }
    import spark.implicits._
    val cdfEnabled = s.configuration.get("delta.enableChangeDataFeed").contains("true")
    // physical matches (existing deletes not applied); the CDF path
    // reads this twice (position bitmaps + change rows), so persist the
    // matched SUBSET — never the table — for that case only
    val matched: Option[DataFrame] =
      if (mfs.isEmpty) None // nothing to tombstone in an empty snapshot
      else Some {
        val (rSchema, rParts) = s.readShape
        val raw = graft.sources.ManifestFileIndex.read(
          spark, s.readBasePath, mfs, rSchema, rParts, withRowPositions = true)
        val m = selectMatching(s.toLogical(raw, Seq("__graft_file", "__graft_pos")))
        if (cdfEnabled) m.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else m
      }
    try {
    val perFile: Seq[(String, Array[Byte])] =
      matched.map(
        _.select(col("__graft_file").as[String], col("__graft_pos").as[Long])
          .groupByKey(_._1)
          .mapGroups((f, it) => (f, RoaringBitmapArray.serialize(it.map(_._2).toArray)))
          .collect().toSeq).getOrElse(Seq.empty)
    if (perFile.isEmpty && extraActions.isEmpty) return latest
    val now = System.currentTimeMillis()
    val conf = spark.sparkContext.hadoopConfiguration
    // stats JSON speaks physical names on mapped tables
    val dataSchema = physShape match {
      case Some((ps, pp)) => StructType(ps.filterNot(f => pp.contains(f.name)))
      case None => StructType(schema.filterNot(f => partCols.contains(f.name)))
    }
    // merge with each file's existing DV; split fully-deleted files out
    val planned = perFile.map { case (metaPath, newBits) =>
      val file = byMetaPath(metaPath)
      val oldDv = file.deletionVector
      val merged = oldDv match {
        case Some(d) => RoaringBitmapArray.serialize(
          d.positions(tablePath, conf) ++ RoaringBitmapArray.deserialize(newBits))
        case None => newBits
      }
      val cardinality = RoaringBitmapArray.deserialize(merged).length.toLong
      val numRecords = file.stats.map(DeltaStats.fromJson(_, dataSchema)._1).getOrElse(-1L)
      (file, merged, cardinality, oldDv, numRecords >= 0 && cardinality >= numRecords)
    }
    val keep = planned.filterNot(_._5)
    val uuid = UUID.randomUUID()
    val offsets: Seq[(Int, Int)] =
      if (keep.isEmpty) Seq.empty
      else {
        val dvPath = new Path(tablePath, s"deletion_vector_$uuid.bin")
        DeletionVectorStore.writeFile(
          dvPath.getFileSystem(conf), dvPath, keep.map(_._2))
      }
    val removes: Seq[DeltaAction] = planned.map { case (file, _, _, oldDv, _) =>
      RemoveFile(file.path, now, dataChange = true, deletionVector = oldDv)
    }
    val adds: Seq[DeltaAction] = keep.zip(offsets).map {
      case ((file, _, cardinality, _, _), (off, size)) =>
        file.copy(
          dataChange = true,
          deletionVector = Some(DeletionVectorDescriptor(
            "u", Z85.encodeUuid(uuid), Some(off), size, cardinality)))
    }
    // Change data feed (Delta protocol "Change Data Files"): a CDF
    // table's row-level commit must carry its changes as _change_data
    // parquet + cdc actions — readers of a commit with ANY cdc action
    // use those files exclusively, so both the delete pre-images (the
    // matches that were LIVE, i.e. not already under a file's old DV)
    // and the MERGE's insert rows are written here, partitioned like
    // the data so the actions carry real partitionValues.
    val cdcActions: Seq[DeltaAction] =
      if (!cdfEnabled || (perFile.isEmpty && cdcInserts.isEmpty)) Seq.empty
      else {
        val tableCols = schema.fieldNames.map(n => col(s"`$n`")).toSeq
        val deletesDF: Option[DataFrame] = matched.filter(_ => perFile.nonEmpty).map { m =>
          val oldDvs = perFile.flatMap { case (metaPath, _) =>
            byMetaPath(metaPath).deletionVector.map(d =>
              (InternalDataFile(metaPath), d))
          }
          val live =
            if (oldDvs.isEmpty) m
            else {
              val already = DeltaTable.deletedPositionsDF(spark, tablePath, oldDvs)
              val small = oldDvs.map(_._2.cardinality).sum <= 4000000L
              m.join(if (small) broadcast(already) else already,
                Seq("__graft_file", "__graft_pos"), "left_anti")
            }
          live.select(tableCols: _*).withColumn("_change_type", lit("delete"))
        }
        val insertsDF = cdcInserts.map(
          _.select(tableCols: _*).withColumn("_change_type", lit("insert")))
        val changeRows = (deletesDF.toSeq ++ insertsDF.toSeq).reduce(_ unionByName _)
        // cdc files speak physical names on mapped tables, like data files
        val (stageRows, stageParts) = physShape match {
          case None => (changeRows, partCols)
          case Some((ps, pp)) =>
            val logical = DeltaTable.logicalClean(schema)
            (changeRows.select(logical.fields.zip(ps.fields).map { case (lf, pf) =>
              col(s"`${lf.name}`").cast(pf.dataType).as(pf.name)
            }.toSeq :+ col("_change_type"): _*), pp)
        }
        val cdcRoot = new Path(tablePath, "_change_data").toString
        val placed = graft.util.StagedWrites.writeAndPlace(stageRows, cdcRoot, stageParts)
        ParquetFooterStats.collect(spark, placed).filter(_.recordCount > 0).map { st =>
          val rel = DeltaTable.relativize(cdcRoot, st.path)
          AddCDCFile(
            path = DeltaTable.encodeLogPath(s"_change_data/$rel"),
            partitionValues = DeltaTable.partitionValuesFromPath(rel, stageParts),
            size = st.fileSizeBytes)
        }
      }
    // first DV on the table upgrades the protocol to the table-features
    // form the spec requires for deletionVectors; the CURRENT protocol
    // comes from snapshot replay (v0 always carries the default and may
    // be expired), and the upgrade preserves features it already had
    val currentProtocol = s.protocol
    val hasDvFeature =
      currentProtocol.readerFeatures.exists(_.contains("deletionVectors"))
    val protocolUpgrade: Seq[DeltaAction] =
      if (perFile.isEmpty || hasDvFeature) Seq.empty
      else Seq(DeltaTable.upgradeWithFeature(currentProtocol, "deletionVectors"))
    val v = latest + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, protocolUpgrade ++ removes ++ adds ++ cdcActions ++ extraActions :+ info),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    maintainKeyIndex(v, extraActions) // MERGE's new files; DVs move no keys
    v
    } finally matched.foreach(m => if (cdfEnabled) m.unpersist())
  }

  /**
   * MERGE-by-key in ONE commit: rows of the table whose key matches a
   * `source` row are tombstoned by deletion vector, and `source`'s rows
   * land as new files — updates and inserts together, atomically, with
   * no data-file rewrite. The Delta twin of the Iceberg equality-delete
   * upsert. `source` must be key-unique (the same contract Spark's
   * MERGE enforces as "multiple source rows matched"): duplicate keys
   * would all land as new rows.
   */
  def upsert(source: DataFrame, keyCols: Seq[String]): Long = {
    val s = log.snapshot()
    val (schema, partCols) = (s.schema, s.partitionColumns)
    require(keyCols.forall(schema.fieldNames.contains),
      s"key columns $keyCols missing from the schema of $tablePath")
    require(schema.fieldNames.forall(source.schema.fieldNames.contains),
      s"upsert frame must carry every table column of $tablePath")
    val ordered = source.select(schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
    // stage the new files first so the tombstone commit can claim them
    val defs = DeltaTable.partitionDefsOf(schema, partCols)
    val genDefs = defs.filterNot(_.isIdentity)
    val withGen = genDefs.foldLeft(ordered)((d, t) =>
      d.withColumn(t.fieldName, graft.model.PartitionTransform.valueExpr(t)))
    validateIncoming(s, withGen)
    // identity columns: a MERGE source necessarily carries the column
    // explicitly (it joins on keys), so it needs allowExplicitInsert,
    // and the watermark ratchets past the source's maxima in the same
    // commit (a metadata action riding extraActions below)
    val identityMeta: Seq[DeltaAction] = {
      val idFields = schema.fields.filter(_.metadata.contains("delta.identity.start")).toSeq
      idFields.foreach(f => require(
        f.metadata.contains("delta.identity.allowExplicitInsert") &&
          f.metadata.getBoolean("delta.identity.allowExplicitInsert"),
        s"column ${f.name} of $tablePath is GENERATED ALWAYS AS IDENTITY; " +
          "MERGE sources carry explicit values, which are not allowed"))
      val updates = idFields.flatMap { f =>
        val step = f.metadata.getLong("delta.identity.step")
        val wm =
          if (f.metadata.contains("delta.identity.highWaterMark"))
            f.metadata.getLong("delta.identity.highWaterMark")
          else f.metadata.getLong("delta.identity.start") - step
        val mx = ordered.agg(max(col(s"`${f.name}`"))).head
        if (mx.isNullAt(0)) None
        else {
          val m = mx.getLong(0)
          if ((step > 0 && m > wm) || (step < 0 && m < wm)) Some(f.name -> m) else None
        }
      }.toMap
      if (updates.isEmpty) Seq.empty
      else {
        val bumped = StructType(schema.fields.map { f =>
          updates.get(f.name).map(w =>
            f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("delta.identity.highWaterMark", w).build())).getOrElse(f)
        })
        Seq(s.metadata.copy(schemaString = bumped.json))
      }
    }
    // mapped tables stage physical names (same translation as write())
    val (stageFrame, stageParts) = s.physicalShape match {
      case None => (withGen, partCols)
      case Some((ps, pp)) =>
        (withGen.select(withGen.schema.fieldNames.zip(ps.fields).map { case (ln, pf) =>
          col(s"`$ln`").cast(pf.dataType).as(pf.name)
        }.toSeq: _*), pp)
    }
    val newFiles = graft.util.StagedWrites.writeAndPlace(stageFrame, tablePath, stageParts)
    val stats = ParquetFooterStats.collect(spark, newFiles)
    val dataSchema = StructType(stageFrame.schema.filterNot(f => stageParts.contains(f.name)))
    val newAdds: Seq[DeltaAction] = stats.filter(_.recordCount > 0).map { st =>
      val rel = DeltaTable.relativize(tablePath, st.path)
      AddFile(
        path = DeltaTable.encodeLogPath(rel),
        partitionValues = DeltaTable.partitionValuesFromPath(rel, stageParts),
        size = st.fileSizeBytes,
        modificationTime = st.modificationTime,
        dataChange = true,
        stats = Some(DeltaStats.toJson(st, dataSchema)))
    }
    // the freshly staged files exist on disk but not in the log, so the
    // pre-commit snapshot scan below never sees them
    val keys = ordered.select(keyCols.map(c => col(s"`$c`")): _*).distinct()
    deleteWhere(
      data => data
        .join(keys, keyCols.map(c => data(c) <=> keys(c)).reduce(_ && _), "left_semi"),
      CommitInfo(System.currentTimeMillis(), "MERGE", Map("matchedAction" -> "delete")),
      extraActions = identityMeta ++ newAdds,
      cdcInserts = Some(withGen),
      pruneByKeys = Some((keyCols, keys)),
      planned = Some(s))
  }

  /**
   * ALTER TABLE-style schema replacement: commits `newSchema` verbatim —
   * column drops and in-place updates allowed (the additive merge guards
   * only implicit evolution-by-append). Partition columns must survive.
   * NOTE: re-adding a previously dropped NAME reads old files' values
   * back by name on a non-column-mapped table (Delta itself requires
   * column mapping for true drop semantics); incremental sync replays
   * schemas per commit, so targets still apply the drop before the
   * re-add and retire field ids correctly.
   */
  def replaceSchema(newSchema: StructType): Long = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    val meta = s.metadata
    meta.partitionColumns.foreach(c => require(newSchema.fieldNames.contains(c),
      s"cannot drop partition column $c of $tablePath"))
    val v = s.version + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, Seq(
      meta.copy(schemaString = newSchema.json),
      CommitInfo(System.currentTimeMillis(), "REPLACE COLUMNS",
        Map("columns" -> newSchema.fieldNames.mkString(","))))),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    v
  }

  /**
   * ALTER TABLE SET TBLPROPERTIES: merge `props` into the table
   * configuration in one metadata commit. Enabling
   * `delta.enableChangeDataFeed` also upgrades the protocol to declare
   * the `changeDataFeed` writer feature (legacy writer v4, or the
   * explicit feature on a table-features protocol) — the spec's
   * precondition for commits that carry cdc actions.
   */
  def setProperties(props: Map[String, String]): Long = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    val (meta, p) = (s.metadata, s.protocol)
    val declared = p.writerFeatures.map(_.toSet)
      .getOrElse(DeltaTable.legacyWriterFeatures(p.minWriterVersion).toSet)
    val upgrade: Seq[DeltaAction] =
      if (!props.get("delta.enableChangeDataFeed").contains("true") ||
          declared("changeDataFeed")) Seq.empty
      else if (p.writerFeatures.isDefined)
        Seq(p.copy(writerFeatures = Some((p.writerFeatures.get :+ "changeDataFeed").distinct)))
      else Seq(Protocol(p.minReaderVersion, 4)) // legacy v4 implies changeDataFeed
    val v = s.version + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, upgrade ++ Seq(
      meta.copy(configuration = meta.configuration ++ props),
      CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES", props))),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    v
  }

  // ------------------------------------------------- statistics (ANALYZE)

  /**
   * ANALYZE for Delta — the read/write side of the statistics plane on
   * this format (the Iceberg half is `IcebergTable.writeStatistics`):
   * the same portable one-pass HLL build (PortableHll.stackedRegisters,
   * ONE table scan for all columns, ndv driver-side), landed in a
   * Puffin sidecar under `_graft_stats/` and registered through two
   * table properties (`graft.stats.path` / `graft.stats.version`) in
   * one SET TBLPROPERTIES commit. Delta's spec has no statistics list,
   * so the configuration channel — the same one the sync watermark
   * rides — is the Delta-native registration idiom. Re-analyze replaces
   * the pointer and deletes the superseded owned sidecar. Blobs carry
   * `graft.column`, so consumers resolve sketches by NAME (Delta field
   * ids are not stable across column-mapping modes); a renamed column
   * needs a fresh ANALYZE, exactly like a changed row set.
   */
  def writeStatistics(cols: Seq[String]): String = {
    require(cols.nonEmpty, s"writeStatistics on $tablePath needs at least one column")
    val snap = log.snapshot()
    val schema = snap.schema
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"no column $c in $tablePath"))
    val analyzedVersion = snap.version
    val regsByCol = graft.functions.PortableHll.stackedRegisters(
      toDF(Some(analyzedVersion)), cols)
    // a stable iceberg-style field id when the schema carries one; the
    // 1-based ordinal otherwise (resolution is by name anyway)
    val blobs = cols.zipWithIndex.map { case (c, i) =>
      graft.util.StatsFiles.hllBlob(c,
        graft.iceberg.IcebergSchemas.fieldId(schema(c))
          .getOrElse(schema.fieldIndex(c) + 1),
        regsByCol.getOrElse(i, Seq.empty))
    }
    val statsPath = new Path(tablePath, s"_graft_stats/${UUID.randomUUID()}.stats")
    val conf = spark.sparkContext.hadoopConfiguration
    graft.iceberg.Puffin.write(statsPath.getFileSystem(conf), statsPath,
      analyzedVersion, analyzedVersion, blobs)
    // the recorded version is the ANALYZED one — the version the HLL
    // scan actually read. Freshness is then DERIVED, never claimed:
    // `statisticsFresh` holds iff latestVersion == analyzed + 1, i.e.
    // the registration commit itself (which changes no rows) is the
    // only commit since the scan. A data commit landing anywhere in
    // the scan or registration window pushes the registration to a
    // later slot (or lands after it), so latest > analyzed + 1 and the
    // sketch truthfully reads stale — no racy latestVersion re-read
    // can mislabel it.
    val registeredAt =
      try setProperties(Map(
        DeltaTable.StatsPathKey -> statsPath.toString,
        DeltaTable.StatsVersionKey -> analyzedVersion.toString))
      catch {
        // registration failed (typed CAS loss, or any transient commit
        // error): the sidecar has no pointer and never will — delete it
        // instead of orphaning it (a retry re-runs the whole ANALYZE),
        // then rethrow untouched
        case e: Throwable =>
          try statsPath.getFileSystem(conf).delete(statsPath, false)
          catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    // replace-on-reanalyze: the pointer our commit REPLACED is exactly
    // the one at registeredAt-1 (a pre-scan read would be stale under a
    // racing registration and orphan its sidecar); the superseded owned
    // sidecar is unreachable from the live configuration now (time
    // travel reads metadata, not sidecars) — delete it or it is
    // orphaned permanently
    log.snapshot(Some(registeredAt - 1)).configuration
      .get(DeltaTable.StatsPathKey)
      .filter(_ != statsPath.toString).foreach(p =>
        graft.util.StatsFiles.deleteIfOwned(conf, tablePath, p, Set(statsPath.toString)))
    statsPath.toString
  }

  /** The persisted HLL register set of `column` + the blob's ndv,
    * resolved from the native ANALYZE pointer or — on a sync target —
    * the carried one (adopted at sync time, so no source operation can
    * dangle it). Resolution is by the blob's `graft.column` name. */
  def statisticsRegisters(column: String): (Seq[(Int, Int)], Double) = {
    val conf = log.snapshot().configuration
    val path = conf.get(DeltaTable.StatsPathKey)
      .orElse(conf.get(graft.model.SyncCas.StatsPathProp))
      .getOrElse(throw new IllegalStateException(
        s"no statistics registered on $tablePath"))
    graft.util.StatsFiles.readRegisters(
      spark.sparkContext.hadoopConfiguration, path, column)
  }

  /** The table version the native ANALYZE ran at (the version its scan
    * read — None for sync-carried statistics). Planners derive
    * freshness from it via [[statisticsFresh]] and treat anything else
    * as stale, floored with the log's exact current counts. */
  def statisticsVersion: Option[Long] = analyzedAt(log.snapshot())

  private def analyzedAt(s: DeltaSnapshot): Option[Long] =
    s.configuration.get(DeltaTable.StatsVersionKey).map(_.toLong)

  /** The native ANALYZE is fresh iff the registration commit (which
    * changes no rows) is the ONLY commit after the analyzed version —
    * latest == analyzed + 1. Any commit in the scan/registration window
    * or after it makes this false. */
  def statisticsFresh: Boolean = {
    val s = log.snapshot()
    analyzedAt(s).contains(s.version - 1)
  }

  /**
   * RESTORE TABLE ... TO VERSION AS OF `version`: one commit that flips
   * the live file set (and metadata, if it changed) back to the target
   * version's state — files added since are removed, files removed
   * since are re-added with their stats and deletion-vector state of
   * that version. History is preserved (the restore is itself a new
   * version; time travel past it still works) and the protocol is never
   * downgraded. Fails fast when a to-be-restored file was vacuumed —
   * the existence check is a distributed job, not a driver loop.
   */
  def restoreTo(version: Long): Long = {
    val snapNow = log.snapshot()
    requireWritable(snapNow, mutation = true)
    val latest = snapNow.version
    require(snapNow.commits.contains(version),
      s"version $version does not exist on $tablePath")
    if (version == latest) return latest
    val snapThen = log.snapshot(Some(version))
    val nowFiles = snapNow.files
    val thenFiles = snapThen.files
    val nowBy = nowFiles.map(a => a.path -> a).toMap
    val thenBy = thenFiles.map(a => a.path -> a).toMap
    val now = System.currentTimeMillis()
    val removes: Seq[DeltaAction] = nowFiles.filterNot(a => thenBy.contains(a.path))
      .map(a => RemoveFile(a.path, now, dataChange = true, deletionVector = a.deletionVector))
    // re-add files missing now, plus files whose DV state changed since
    val adds: Seq[DeltaAction] = thenFiles.filter { a =>
      nowBy.get(a.path).forall(_.deletionVector != a.deletionVector)
    }.map(_.copy(dataChange = true))
    // metadata rollback is part of RESTORE even when NO file moved: a
    // RENAME COLUMN / type change / config change is metadata-only, and
    // the file-set-only early return used to keep the newer schema
    // silently (found by fuzz seed 127: rename → restore-across-it →
    // upsert refuses because table and writer disagree on column names)
    val metaNow = snapNow.metadata
    val metaThen0 = snapThen.metadata
    // restored statistics pointers must RESOLVE: a re-analyze AFTER
    // `version` deleted the superseded sidecar, so restoring that
    // config verbatim would point the live table at a missing file.
    // Such keys are dropped (with the freshness twin) — the restored
    // table reads as analyzed-never rather than analyzed-dangling.
    val statsPathKeys = Seq(DeltaTable.StatsPathKey,
      graft.model.SyncCas.StatsPathProp, graft.model.SyncCas.PartitionStatsPathProp)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val deadStatsKeys = statsPathKeys.filter(k => metaThen0.configuration.get(k).exists { p =>
      val hp = new Path(p); !hp.getFileSystem(hadoopConf).exists(hp)
    })
    val metaThen =
      if (deadStatsKeys.isEmpty) metaThen0
      else metaThen0.copy(configuration = metaThen0.configuration -- deadStatsKeys --
        (if (deadStatsKeys.contains(DeltaTable.StatsPathKey))
          Seq(DeltaTable.StatsVersionKey) else Seq.empty))
    val metaOpt: Seq[DeltaAction] =
      if (metaNow.schemaString != metaThen.schemaString ||
          metaNow.partitionColumns != metaThen.partitionColumns ||
          metaNow.configuration != metaThen.configuration) Seq(metaThen)
      else Seq.empty
    if (removes.isEmpty && adds.isEmpty && metaOpt.isEmpty) return latest
    // vacuum safety: every re-added file must still exist
    val addPaths = adds.collect { case a: AddFile => DeltaTable.metadataFilePath(tablePath, a.path) }
    if (addPaths.nonEmpty) {
      import spark.implicits._
      val sconf = new graft.util.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
      val missing = spark.createDataset(addPaths)
        .mapPartitions { it =>
          it.filterNot { p =>
            val hp = new Path(p)
            hp.getFileSystem(sconf.value).exists(hp)
          }
        }.take(1)
      require(missing.isEmpty,
        s"cannot restore $tablePath to version $version: data file ${missing.head} " +
          "no longer exists (vacuumed); restore past the vacuum horizon is impossible")
    }
    val v = latest + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, metaOpt ++ removes ++ adds :+
      CommitInfo(now, "RESTORE", Map("version" -> version.toString))),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    // sidecars only the PRE-restore config reached are unreachable from
    // the live configuration now (same replace-on-reanalyze posture as
    // writeStatistics) — delete the owned ones or each analyze+restore
    // cycle orphans one under _graft_stats, which vacuum never walks
    val restoredStatsPaths = statsPathKeys.flatMap(metaThen.configuration.get).toSet
    statsPathKeys.flatMap(metaNow.configuration.get).filterNot(restoredStatsPaths)
      .foreach(p => graft.util.StatsFiles.deleteIfOwned(
        hadoopConf, tablePath, p, restoredStatsPaths))
    log.maybeCheckpoint(v)
    maintainKeyIndex(v, adds) // re-added files read back like any add
    v
  }

  /** RESTORE TABLE ... TO TIMESTAMP AS OF (same resolution rule as
    * [[versionForTimestamp]]). */
  def restoreToTimestamp(tsMillis: Long): Long = restoreTo(versionForTimestamp(tsMillis))

  // ------------------------------------------------------- key index

  /**
   * Build the record-key index for EXACT MERGE routing (see
   * [[DeltaKeyIndex]]): one distributed scan of the live snapshot's key
   * column, attributed per file, installed as the build batch. From
   * then on every add-bearing commit appends a maintenance batch
   * (post-commit read-back of the new files, the Hudi RFC-37 shape),
   * and `upsert`/`deleteMatching` route by exact key membership instead
   * of per-file min/max ranges. Opt-in: costs one extra columnar read
   * of each commit's NEW files.
   */
  def buildKeyIndex(keyCol: String): Unit = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    val (schema, partCols) = (s.schema, s.partitionColumns)
    require(schema.fieldNames.contains(keyCol),
      s"key column $keyCol missing from the schema of $tablePath")
    require(!partCols.contains(keyCol),
      s"key column $keyCol is a partition column of $tablePath; the index reads " +
        "keys back from data files, so the key must be a data column")
    val mfs = s.files.map(a => DeltaTable.dataFileOf(a)
      .copy(physicalPath = DeltaTable.metadataFilePath(tablePath, a.path)))
    DeltaKeyIndex.replaceAll(spark, tablePath,
      DeltaKeyIndex.Config(keyCol, s.version,
        keyType = Some(schema(keyCol).dataType.catalogString),
        timeZone = Some(spark.sessionState.conf.sessionLocalTimeZone)),
      keyEntriesFor(s, mfs, keyCol))
    DeltaKeyIndex.invalidate(tablePath)
  }

  def dropKeyIndex(): Unit = {
    DeltaKeyIndex.drop(spark.sparkContext.hadoopConfiguration, tablePath)
    DeltaKeyIndex.invalidate(tablePath)
  }

  /** Fold the key index's per-commit batches into one (see
    * [[DeltaKeyIndex.compactInto]]): after thousands of commits the
    * entry scan unions thousands of batch dirs — compaction is a
    * metadata-only Spark job over the ENTRIES (no table data re-read),
    * shedding entries whose files left the snapshot. Requires a usable
    * index (compacting an unaudited one would launder its gaps). */
  def compactKeyIndex(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cfg = DeltaKeyIndex.readConfig(conf, tablePath).getOrElse(
      throw new IllegalStateException(s"no key index on $tablePath"))
    val s = log.snapshot()
    require(DeltaKeyIndex.usable(log, conf, tablePath, s.version),
      s"cannot compact an unusable key index on $tablePath; rebuild with buildKeyIndex")
    import spark.implicits._
    val live = s.files.map(a => DeltaTable.metadataFilePath(tablePath, a.path)).toDF("file")
    DeltaKeyIndex.compactInto(spark, tablePath, cfg, s.version, live)
    DeltaKeyIndex.invalidate(tablePath)
  }

  /** Distinct `(key, file)` pairs of the given files — a distributed
    * key-column scan attributed by `__graft_file` (the same metadata
    * path form the MERGE candidate set keys on). */
  private def keyEntriesFor(s: DeltaSnapshot,
      mfs: Seq[InternalDataFile], keyCol: String): org.apache.spark.sql.DataFrame = {
    if (mfs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("key", StringType), StructField("file", StringType))))
    val (rSchema, rParts) = s.readShape
    val physKey = if (s.columnMapped) DeltaTable.physicalName(s.schema(keyCol)) else keyCol
    graft.sources.ManifestFileIndex.read(
        spark, s.readBasePath, mfs, rSchema, rParts, withRowPositions = true)
      .select(col(s"`$physKey`").cast(StringType).as("key"), col("__graft_file").as("file"))
      .distinct()
  }

  /** Post-commit index maintenance: a batch of the commit's newly added
    * files' keys. Runs only when an index is configured; a failure here
    * surfaces loudly (the data commit already landed), and the missing
    * batch merely fails the fence — routing falls back, never lies. */
  private def maintainKeyIndex(
      v: Long,
      /** actions that may carry NEW-KEY files; DV-only re-adds and
        * key-free commits pass empty and get a coverage marker (the
        * fence audits the commit's raw AddFile actions, which a DV
        * re-add also carries — it moved no keys, so mark, don't scan) */
      actions: Seq[DeltaAction]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    DeltaKeyIndex.readConfig(conf, tablePath).foreach { cfg0 =>
      val adds = actions.collect { case a: AddFile => a }
      val s = log.snapshot(Some(v))
      val schema = s.schema
      // pre-fence config (keyType=None): backfill the build format from
      // the CURRENT table state on this first maintenance pass — see
      // DeltaKeyIndex.backfillFormat's contract — instead of failing
      // formatStable forever and silently degrading to range pruning
      val cfg =
        if (cfg0.keyType.isEmpty && schema.fieldNames.contains(cfg0.keyCol))
          DeltaKeyIndex.backfillFormat(conf, tablePath, cfg0,
            schema(cfg0.keyCol).dataType.catalogString,
            spark.sessionState.conf.sessionLocalTimeZone)
        else cfg0
      // key column dropped/renamed since the build: stop maintaining;
      // the fence fails on this uncovered version and stays failed.
      // A TYPE change (or, for zone-formatted types, a session-zone
      // change) is the same poison with different symptoms: new batches
      // would mix string formats with the stored ones — skip the batch
      // so the fence fails instead of the index lying
      val formatStable =
        cfg.keyType.contains(schema.fieldNames.find(_ == cfg.keyCol)
          .map(n => schema(n).dataType.catalogString).getOrElse("")) &&
        (!zoneSensitive(schema, cfg.keyCol) ||
          cfg.timeZone.contains(spark.sessionState.conf.sessionLocalTimeZone))
      if (adds.isEmpty) DeltaKeyIndex.markCovered(conf, tablePath, v)
      else if (schema.fieldNames.contains(cfg.keyCol) && formatStable) {
        val mfs = adds.map(a => InternalDataFile(DeltaTable.metadataFilePath(tablePath, a.path),
          partitionValues = a.partitionValues, fileSizeBytes = a.size,
          lastModified = a.modificationTime))
        DeltaKeyIndex.writeBatch(tablePath, v, keyEntriesFor(s, mfs, cfg.keyCol))
      }
      DeltaKeyIndex.invalidate(tablePath)
    }
  }

  /** True iff the column's cast-to-string goes through the session
    * time zone (TimestampType; NTZ and DateType format zone-free). */
  private def zoneSensitive(schema: StructType, colName: String): Boolean =
    schema.fieldNames.contains(colName) &&
      schema(colName).dataType == org.apache.spark.sql.types.TimestampType

  /** Exact MERGE routing: the set of candidate metadata paths for the
    * incoming keys, or None when the index cannot answer (absent,
    * fence-failed, composite key, different key column, or null keys —
    * null-safe matching is the range path's job). */
  private[delta] def keyIndexRouteFiles(
      s: DeltaSnapshot, kc: Seq[String], keys: DataFrame): Option[Set[String]] = {
    if (kc.size != 1) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val cfg = DeltaKeyIndex.readConfig(conf, tablePath) match {
      case Some(c) if c.keyCol == kc.head => c
      case _ => return None
    }
    if (!DeltaKeyIndex.usable(log, conf, tablePath, s.version)) return None
    val schema = s.schema
    // the stored strings are only probe-able when the key column's
    // TYPE still matches the build-time type (a metadata-only
    // replaceSchema changes formatting with no AddFile for the fence
    // to catch) and, for zone-formatted types, the session zone does
    // too — otherwise refuse and fall back to range pruning. A
    // pre-fence config (keyType=None) is legacy-COMPATIBLE — it routes
    // until the first maintenance pass backfills the build format —
    // rather than permanently refusing
    if (cfg.keyType.exists(_ != schema(cfg.keyCol).dataType.catalogString)) return None
    if (zoneSensitive(schema, cfg.keyCol) &&
        cfg.timeZone.exists(_ != spark.sessionState.conf.sessionLocalTimeZone)) return None
    // canonicalize through the TABLE column's type first: the stored
    // strings came from table-typed values, and an incoming frame with
    // a different numeric type must not miss on formatting ("1.0" vs
    // "1.00")
    val kD = keys
      .select(col(s"`${kc.head}`").cast(schema(cfg.keyCol).dataType)
        .cast(StringType).as("__k")).distinct()
    val entries = DeltaKeyIndex.entriesDF(spark, tablePath)
    // distributed equi-join (both sides can be large); only the matched
    // FILE set — metadata-scale — collects. ONE job serves both the
    // null-key bailout and the file set: the left join keeps every
    // distinct key (nulls match nothing, so they surface as a flagged
    // row), where the former separate limit(1).count() null probe was a
    // full extra Spark job on every routed mutation (guide §1.2)
    val rows = kD.join(entries, col("__k") === entries("key"), "left")
      .select(col("__k").isNull.as("n"), entries("file").as("f"))
      .distinct().collect()
    if (rows.exists(_.getBoolean(0))) return None
    Some(rows.iterator.filterNot(_.isNullAt(1)).map(_.getString(1)).toSet)
  }

  // ------------------------------------------------------ column mapping

  private def maxColumnId(meta: DeltaMetadata): Long =
    meta.configuration.get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L)

  /** Refuse schema surgery on a column a generated partition column is
    * computed from (its generationExpression would dangle). */
  private def requireNotGenerated(schema: StructType, name: String, op: String): Unit =
    require(!schema.fields.exists(f => f.metadata.contains("delta.generationExpression") &&
      f.metadata.getString("delta.generationExpression").contains(name)),
      s"cannot $op $name on $tablePath: referenced by a generated column")

  /**
   * ALTER TABLE ... SET 'delta.columnMapping.mode' = 'name', the switch
   * that unlocks TRUE rename/drop semantics ([[renameColumn]],
   * [[dropColumn]]). Metadata-only: existing fields keep their logical
   * names as physical names (the data files already carry them); columns
   * born later get `col-<uuid>` physical names. Protocol moves to
   * reader 2 / writer 5 — or gains the columnMapping feature when
   * already in table-features form.
   */
  def enableColumnMapping(): Long = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    require(!s.columnMapped, s"column mapping already enabled on $tablePath")
    val (meta, p) = (s.metadata, s.protocol)
    val (mapped, maxId) = DeltaTable.assignColumnMapping(s.schema, 0L, _.name)
    val upgrade: Seq[DeltaAction] =
      if (p.minReaderVersion >= 3 || p.writerFeatures.isDefined)
        Seq(Protocol(3, 7,
          Some((p.readerFeatures.getOrElse(
            DeltaTable.legacyReaderFeatures(p.minReaderVersion)) :+ "columnMapping").distinct),
          Some((p.writerFeatures.getOrElse(
            DeltaTable.legacyWriterFeatures(p.minWriterVersion)) :+ "columnMapping").distinct)))
      else if (p.minReaderVersion >= 2 && p.minWriterVersion >= 5) Seq.empty
      else Seq(Protocol(math.max(2, p.minReaderVersion), math.max(5, p.minWriterVersion)))
    val v = s.version + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, upgrade ++ Seq(
      meta.copy(
        schemaString = mapped.json,
        configuration = meta.configuration ++ Map(
          "delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> maxId.toString)),
      CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES",
        Map("delta.columnMapping.mode" -> "name")))),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    v
  }

  /** Metadata-only column RENAME (requires column mapping): the logical
    * name changes; the physical name — what the files carry — doesn't,
    * so no data moves and history keeps reading. */
  def renameColumn(oldName: String, newName: String): Long = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    require(s.columnMapped,
      s"renameColumn requires column mapping on $tablePath (run enableColumnMapping())")
    val (meta, schema) = (s.metadata, s.schema)
    require(schema.fieldNames.contains(oldName), s"no column $oldName in $tablePath")
    require(!schema.fieldNames.contains(newName),
      s"column $newName already exists in $tablePath")
    requireNotGenerated(schema, oldName, "rename")
    val renamed = StructType(
      schema.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f))
    val v = s.version + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, Seq(
      meta.copy(
        schemaString = renamed.json,
        partitionColumns = meta.partitionColumns.map(c => if (c == oldName) newName else c)),
      CommitInfo(System.currentTimeMillis(), "RENAME COLUMN",
        Map("from" -> oldName, "to" -> newName)))),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    v
  }

  /** Metadata-only column DROP (requires column mapping): the field id
    * retires with the column, so re-adding the same LOGICAL name later
    * gets a fresh physical name and reads historical files as NULL —
    * Delta's true drop semantics (what [[replaceSchema]] on an unmapped
    * table cannot promise). */
  def dropColumn(name: String): Long = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    require(s.columnMapped,
      s"dropColumn requires column mapping on $tablePath (run enableColumnMapping())")
    val (meta, schema) = (s.metadata, s.schema)
    require(schema.fieldNames.contains(name), s"no column $name in $tablePath")
    require(!meta.partitionColumns.contains(name),
      s"cannot drop partition column $name of $tablePath")
    requireNotGenerated(schema, name, "drop")
    val remaining = StructType(schema.fields.filterNot(_.name == name))
    require(remaining.nonEmpty, s"cannot drop the last column of $tablePath")
    val v = s.version + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, Seq(
      meta.copy(schemaString = remaining.json),
      CommitInfo(System.currentTimeMillis(), "DROP COLUMNS", Map("column" -> name)))),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    v
  }

  /** Add a nullable column at the end of the schema. On a column-mapped
    * table the new field gets a fresh id + `col-<uuid>` physical name,
    * so old files read NULL even when the logical name was used (and
    * dropped) before. */
  def addColumn(field: StructField): Long = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    val (meta, schema) = (s.metadata, s.schema)
    require(!schema.fieldNames.contains(field.name),
      s"column ${field.name} already exists in $tablePath")
    val nullable = field.copy(nullable = true)
    val (newSchema, newConf) =
      if (!s.columnMapped) (StructType(schema.fields :+ nullable), meta.configuration)
      else {
        val (mappedOne, maxId) = DeltaTable.assignColumnMapping(
          StructType(Seq(nullable)), maxColumnId(meta), _ => s"col-${UUID.randomUUID()}")
        (StructType(schema.fields ++ mappedOne.fields),
          meta.configuration + ("delta.columnMapping.maxColumnId" -> maxId.toString))
      }
    val v = s.version + 1
    graft.model.ConcurrentSyncException.check(log.commit(v, Seq(
      meta.copy(schemaString = newSchema.json, configuration = newConf),
      CommitInfo(System.currentTimeMillis(), "ADD COLUMNS", Map("column" -> field.name)))),
      s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    v
  }

  /**
   * Metadata-only type widening (Delta's `typeWidening` table feature):
   * the column's declared type grows along the cross-format promotion
   * order (`SchemaMerge.widens` — byte→short→int→long, float→double,
   * decimal precision at the same scale); existing data files keep
   * their narrower physical type and the parquet reader widens values
   * at scan time (Spark 4 vectorized widening conversions), so no data
   * moves. The change history is stamped into the field's
   * `delta.typeChanges` metadata the way the real feature records it,
   * and the protocol gains the `typeWidening` reader+writer features —
   * readers that don't know how to widen must refuse the table.
   *
   * Refused for: partition columns (uniform cross-format posture so a
   * widen at any sync source is applicable at every target — Iceberg
   * partition values are TYPED in old manifests), generated-column
   * inputs (the expression's type would silently change), and the key
   * index's key column (the index build-config fence pins the build
   * type; rebuild the index after widening).
   */
  def widenColumn(name: String, to: DataType): Long = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    val (meta, schema) = (s.metadata, s.schema)
    val root = name.takeWhile(_ != '.')
    require(!meta.partitionColumns.contains(name),
      s"cannot widen partition column $name of $tablePath")
    requireNotGenerated(schema, root, "widen")
    DeltaKeyIndex.readConfig(spark.sparkContext.hadoopConfiguration, tablePath)
      .filter(_.keyCol == name).foreach { _ =>
        throw new IllegalArgumentException(
          s"cannot widen key-indexed column $name of $tablePath: the key index " +
            "build-config fence pins the build type — drop/rebuild the index " +
            "(buildKeyIndex) after the widen")
      }
    val v = s.version + 1
    var fromSimple = ""
    // dot-path walk: nested struct fields / array elements / map values
    // widen too; the typeChanges entry hangs on the DEEPEST struct-field
    // ancestor with any container tail recorded as fieldPath — the real
    // feature's placement rule
    val widened = graft.model.SchemaMerge.widenAt(schema, name, to, tablePath) {
      (f, from, fieldPath) =>
        fromSimple = from.simpleString
        f.copy(metadata = DeltaTable.appendTypeChanges(
          f.metadata, Seq(DeltaTable.typeChangeEntry(from, to, fieldPath))))
    }
    val p = s.protocol
    val upgrade: Seq[DeltaAction] =
      if (p.readerFeatures.exists(_.contains("typeWidening"))) Seq.empty
      else Seq(DeltaTable.upgradeWithFeature(p, "typeWidening"))
    if (!log.commit(v, upgrade ++ Seq(
        meta.copy(schemaString = widened.json),
        CommitInfo(System.currentTimeMillis(), "CHANGE COLUMN",
          Map("column" -> name, "from" -> fromSimple, "to" -> to.simpleString)))))
      throw new graft.model.ConcurrentSyncException(
        s"concurrent commit detected at version $v of $tablePath; re-run the operation")
    log.maybeCheckpoint(v)
    v
  }

  /** REORG-style purge: physically rewrite every file that carries a
    * deletion vector (deletes applied), in one commit — after which the
    * snapshot is DV-free and metadata-only sync is possible again. */
  def purgeDeletes(): Option[Long] = {
    val s = log.snapshot()
    requireWritable(s, mutation = true)
    val withDv = s.files.filter(_.deletionVector.isDefined)
    if (withDv.isEmpty) return None
    val df = s.read(spark, withDv.map(a => (DeltaTable.dataFileOf(a), a.deletionVector)))
    Some(write(df, Seq.empty, overwrite = false,
      replacing = withDv.map(a => a.path -> a.deletionVector)))
  }

  /** Latest value of a CommitInfo operation parameter, scanning commits
    * newest-first (the read side of `commitProps`). */
  def lastCommitProp(key: String): Option[String] =
    log.listVersions().reverseIterator.flatMap { v =>
      log.readActions(v).collectFirst {
        case c: CommitInfo if c.operationParameters.contains(key) =>
          c.operationParameters(key)
      }
    }.nextOption()

  /**
   * Physical write: stage into a per-write hidden directory, move the
   * produced files into the table layout, then commit exactly those
   * files. Deriving the adds from the staging dir (not a before/after
   * listing of the table root) means a commit can only ever claim files
   * THIS writer produced — two concurrent appends each commit their own
   * files and the optimistic log race stays the sole arbiter.
   */
  /**
   * Bin-packing small-file compaction (OPTIMIZE): partitions holding
   * two or more files under `smallFileBytes` get those files rewritten
   * into ~`targetFileBytes` outputs, removed and re-added in ONE commit
   * so readers never see duplicates or gaps; old files stay on disk for
   * time travel. `sortBy` range-clusters the rewrite set so min/max
   * stats skipping bites afterwards. Only the small files shuffle — at
   * 100 TB the rewrite set is the long tail, never the table.
   * Returns the committed version, or None when nothing qualifies.
   */
  def compact(
      targetFileBytes: Long = 128L << 20,
      smallFileBytes: Long = 32L << 20,
      sortBy: Seq[String] = Seq.empty,
      /** Morton-interleave these columns for multi-dim skipping
        * (graft.util.ZOrder); takes precedence over sortBy. */
      zorderBy: Seq[String] = Seq.empty): Option[Long] = {
    val s = log.snapshot()
    requireWritable(s, mutation = true)
    val (schema, partCols) = (s.schema, s.partitionColumns)
    val all = s.files.map(a => (DeltaTable.dataFileOf(a), a.deletionVector))
    val smalls = all.groupBy(_._1.partitionValues).values.flatMap { g =>
      val small = g.filter(_._1.fileSizeBytes < smallFileBytes)
      if (small.size >= 2) small else Seq.empty
    }.toSeq
    if (smalls.isEmpty) return None
    // DV-aware read: compacting a deletion-vectored file must not
    // resurrect its deleted rows
    val df = s.read(spark, smalls)
    val n = math.max(1, math.ceil(smalls.map(_._1.fileSizeBytes).sum.toDouble / targetFileBytes).toInt)
    val arranged =
      if (zorderBy.nonEmpty) graft.util.ZOrder.arrange(df, zorderBy, n)
      else if (sortBy.nonEmpty)
        df.repartitionByRange(n, sortBy.map(col): _*).sortWithinPartitions(sortBy.map(col): _*)
      else if (partCols.nonEmpty) df.repartition(n, partCols.map(col): _*)
      else df.repartition(n)
    Some(write(arranged, Seq.empty, overwrite = false,
      replacing = smalls.map(s => s._1.physicalPath -> s._2)))
  }

  /** Write a classic checkpoint of the latest version — multi-part when
    * `parts > 1` (the fan-out layout for tables whose reconciled state
    * is too big for one file). */
  def checkpoint(parts: Int = 1): Unit = {
    val s = log.snapshot()
    s.requireReadable()
    log.writeCheckpoint(s.version, parts)
  }

  /**
   * Write a V2 checkpoint (sidecar layout) of the latest version. The
   * first V2 checkpoint upgrades the protocol to declare the
   * `v2Checkpoint` feature (its own commit, like the deletionVectors
   * upgrade) — the spec requires readers be gated BEFORE a checkpoint
   * they cannot decode exists, and the upgrade must land in the commit
   * JSON so pre-upgrade readers fail fast on the protocol, not on a
   * missing file set.
   */
  def checkpointV2(sidecarParts: Int = 1): Unit = {
    val s = log.snapshot()
    requireWritable(s, mutation = false)
    val p = s.protocol
    val at =
      if (p.readerFeatures.exists(_.contains("v2Checkpoint"))) s.version
      else {
        val v = s.version + 1
        graft.model.ConcurrentSyncException.check(log.commit(v, Seq(
          DeltaTable.upgradeWithFeature(p, "v2Checkpoint"),
          CommitInfo(System.currentTimeMillis(), "UPGRADE PROTOCOL",
            Map("feature" -> "v2Checkpoint")))),
          s"concurrent commit detected at version $v of $tablePath; re-run the operation")
        v
      }
    log.writeCheckpointV2(at, sidecarParts)
  }

  /**
   * VACUUM: physically delete data files under the table root that the
   * CURRENT snapshot no longer references and whose modification time
   * is older than `retentionMs` — Delta Lake's documented semantics
   * (time travel older than the retention window stops resolving; the
   * log itself is pruned separately by log expiry). Externally
   * referenced files of metadata-only converted tables live outside
   * the root and are never touched. Returns the deleted paths.
   */
  def vacuum(retentionMs: Long = 7L * 24 * 3600 * 1000, dryRun: Boolean = false): Seq[String] = {
    val s = log.snapshot()
    s.requireReadable()
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveFiles = s.files
    val live = liveFiles.map { a =>
      val p = DeltaTable.decodeLogPath(a.path)
      val abs = if (p.startsWith("/") || p.contains(":/")) p else new Path(tablePath, p).toString
      new Path(abs).toUri.getPath
    }.toSet ++
      // DV sidecars the current snapshot references stay; orphaned ones age out
      liveFiles.flatMap(_.deletionVector)
        .flatMap(_.absolutePath(tablePath))
        .map(new Path(_).toUri.getPath)
    val cutoff = System.currentTimeMillis() - retentionMs
    def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        // _graft_stats holds ANALYZE sidecars referenced from the table
        // CONFIGURATION, not the file log — never vacuum candidates
        if (name == "_delta_log" || name == "_graft_stats" ||
            name.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st)
      }
    val dead = walk(root).filter(st =>
      st.getModificationTime < cutoff &&
        !live.contains(st.getPath.toUri.getPath))
    if (!dryRun) dead.foreach(st => fs.delete(st.getPath, false))
    dead.map(_.getPath.toString)
  }

  private[delta] def write(
      df: DataFrame,
      partitionSpecs: Seq[String],
      overwrite: Boolean,
      /** Log paths compacted away in the same commit (OPTIMIZE), each
        * with the deletion vector the rewrite READ it under — the
        * conflict check re-validates that state per commit attempt. */
      replacing: Seq[(String, Option[DeletionVectorDescriptor])] = Seq.empty,
      commitProps: Map[String, String] = Map.empty): Long = {
    // the table the rows are staged against (None: creating it)
    val staged = log.latestSnapshot()
    staged.foreach(requireWritable(_, mutation = overwrite || replacing.nonEmpty))
    // partition specs: identity columns or time transforms
    // (`month(o_orderdate)`), the latter materialized as Delta generated
    // columns (ref `DeltaPartitionExtractor.java:227-323`); an append
    // without specs inherits the table's existing spec
    val defs = {
      val parsed = graft.model.PartitionTransform.parseAll(partitionSpecs)
      staged.filter(_ => parsed.isEmpty)
        .fold(parsed)(s => DeltaTable.partitionDefsOf(s.schema, s.partitionColumns))
    }
    defs.foreach(d => require(d.isIdentity || d.isTime,
      s"partition transform '${d.transform}' is Iceberg-only; Delta generated " +
        "columns support identity and year/month/day/hour"))
    val genDefs = defs.filterNot(_.isIdentity)
    val partitionColumns = defs.map(_.fieldName)
    val dfWithGen0 = genDefs.foldLeft(df)((d, t) =>
      d.withColumn(t.fieldName, graft.model.PartitionTransform.valueExpr(t)))
    // Identity columns (`delta.identity.*` field metadata): rows
    // arriving WITHOUT the column get `watermark + step*(i+1)` via a
    // contiguous zipWithIndex (one extra pass — the price of gap-free
    // assignment); rows arriving WITH it need allowExplicitInsert
    // (GENERATED ALWAYS semantics) and only ratchet the watermark. The
    // watermark advances in this same commit's metadata below.
    val identityFields: Seq[StructField] =
      if (replacing.nonEmpty) Seq.empty
      else staged.toSeq.flatMap(_.schema.fields.filter(_.metadata.contains("delta.identity.start")))
    val explicitIdMax = scala.collection.mutable.Map[String, Long]()
    val assignedFrom = scala.collection.mutable.Map[String, Long]()
    val dfWithGen = identityFields.foldLeft(dfWithGen0) { (frame, f) =>
      val step = f.metadata.getLong("delta.identity.step")
      val wm =
        if (f.metadata.contains("delta.identity.highWaterMark"))
          f.metadata.getLong("delta.identity.highWaterMark")
        else f.metadata.getLong("delta.identity.start") - step
      if (frame.schema.fieldNames.contains(f.name)) {
        require(f.metadata.contains("delta.identity.allowExplicitInsert") &&
            f.metadata.getBoolean("delta.identity.allowExplicitInsert"),
          s"column ${f.name} of $tablePath is GENERATED ALWAYS AS IDENTITY; " +
            "explicit values are not allowed")
        val mx = frame.agg(max(col(s"`${f.name}`"))).head
        if (!mx.isNullAt(0)) {
          val m = mx.getLong(0)
          if ((step > 0 && m > wm) || (step < 0 && m < wm)) explicitIdMax(f.name) = m
        }
        frame
      } else {
        assignedFrom(f.name) = wm
        val out = StructType(frame.schema.fields :+
          StructField(f.name, LongType, nullable = false))
        spark.createDataFrame(
          frame.rdd.zipWithIndex.map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (wm + step * (i + 1))) },
          out)
      }
    }
    // compaction rewrites rows already in the table — only NEW rows
    // (append/overwrite) go through constraint validation
    if (replacing.isEmpty) staged.foreach(validateIncoming(_, dfWithGen))
    // column-mapped tables stage PHYSICAL names: existing columns map
    // through the schema metadata; brand-new columns (append evolution)
    // get their col-<uuid> physical names up front, so the staged files
    // and the commit's schema assignment below agree
    val mapped = staged.filter(_.columnMapped)
    val mappingOn = mapped.nonEmpty
    val newPhysNames: Map[String, String] = mapped.fold(Map.empty[String, String]) { s =>
      val existing = s.schema.fieldNames.toSet
      dfWithGen.schema.fieldNames.filterNot(existing.contains)
        .map(n => n -> s"col-${UUID.randomUUID()}").toMap
    }
    val (stageFrame, stagePartCols) = mapped match {
      case None => (dfWithGen, partitionColumns)
      case Some(s) =>
        val byName = s.schema.fieldNames.zip(s.physicalShape.get._1.fields).toMap
        (dfWithGen.select(dfWithGen.schema.fieldNames.map { n =>
          byName.get(n) match {
            case Some(pf) => col(s"`$n`").cast(pf.dataType).as(pf.name)
            case None => col(s"`$n`").as(newPhysNames(n))
          }
        }.toSeq: _*),
          partitionColumns.map(c => byName.get(c).map(_.name).getOrElse(newPhysNames(c))))
    }
    val newFiles = graft.util.StagedWrites.writeAndPlace(stageFrame, tablePath, stagePartCols)
    val stats = ParquetFooterStats.collect(spark, newFiles)
    // watermark each identity column must record after this commit
    val totalNewRows = stats.map(_.recordCount).sum
    val wmUpdates: Map[String, Long] = identityFields.flatMap { f =>
      val step = f.metadata.getLong("delta.identity.step")
      assignedFrom.get(f.name).map(wm => f.name -> (wm + step * totalNewRows))
        .orElse(explicitIdMax.get(f.name).map(f.name -> _))
    }.toMap

    // schema stored in the log: generated columns carry their
    // generationExpression so readers (and sync) recover the transform
    val schemaForMeta = StructType(dfWithGen.schema.fields.map { f =>
      genDefs.find(_.fieldName == f.name) match {
        case Some(t) => f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString("delta.generationExpression",
            graft.model.PartitionTransform.deltaGenerationExpr(t)).build())
        case None => f
      }
    })
    // the log's file entries (partitionValues keys, stats JSON) speak
    // the staged — physical when mapped — column names
    val dataSchema = StructType(stageFrame.schema.filterNot(f => stagePartCols.contains(f.name)))
    val adds = stats.map { st =>
      val rel = DeltaTable.relativize(tablePath, st.path)
      AddFile(
        path = DeltaTable.encodeLogPath(rel),
        partitionValues = DeltaTable.partitionValuesFromPath(rel, stagePartCols),
        size = st.fileSizeBytes,
        modificationTime = st.modificationTime,
        dataChange = true,
        stats = Some(DeltaStats.toJson(st, dataSchema)))
    }
    // Optimistic-concurrency commit loop: snapshot-dependent actions
    // (version, removes, schema merge) are derived fresh per attempt, so
    // a racing writer landing first just moves this commit one version
    // up — appends and overwrites always rebase (an append's AddFiles
    // are exclusively this writer's staged files; an overwrite's
    // RemoveFiles are recomputed against the racer's snapshot). Only
    // OPTIMIZE truly conflicts: if a replaced file is no longer live,
    // the rewrite is stale and must abort rather than resurrect data.
    var attempt = 0
    var committed = -1L
    while (committed < 0) {
      attempt += 1
      val base = log.latestSnapshot()
      val v = base.fold(0L)(_.version + 1)
      val removes: Seq[DeltaAction] =
        if (overwrite && v > 0)
          base.get.files
            .map(a => RemoveFile(a.path, System.currentTimeMillis(), dataChange = true))
        else if (replacing.nonEmpty) {
          // conflict check per attempt: every replaced file must still be
          // live AND carry exactly the deletion vector the rewrite read.
          // A concurrent row-level DELETE keeps the path live but swaps
          // its DV — committing the rewrite then would resurrect the
          // racer's deleted rows (Delta's RewriteFiles-style validation).
          val live = base.toSeq.flatMap(_.files).map(a => a.path -> a.deletionVector).toMap
          replacing.foreach { case (p, readDv) =>
            require(live.contains(p),
              s"compaction conflict at $tablePath: a concurrent commit removed " +
                "files this OPTIMIZE rewrote")
            require(live(p) == readDv,
              s"compaction conflict at $tablePath: a concurrent row-level delete " +
                s"changed the deletion vector of $p after this OPTIMIZE read it")
          }
          replacing.map { case (p, readDv) =>
            RemoveFile(p, System.currentTimeMillis(), dataChange = true, deletionVector = readDv)
          }
        } else Seq.empty
      val metaActions: Seq[DeltaAction] =
        if (v == 0L)
          Seq(
            DeltaTable.protocolFor(schemaForMeta, genDefs.nonEmpty),
            DeltaMetadata(
              id = UUID.randomUUID().toString,
              schemaString = schemaForMeta.json,
              partitionColumns = partitionColumns,
              configuration = Map("graft.engine" -> "onetablespark"),
              createdTime = System.currentTimeMillis()))
        else {
          // additive evolution (graft.model.SchemaMerge): a narrower
          // append used to silently replace the whole schema
          val (existing, existingPartCols) = (base.get.schema, base.get.partitionColumns)
          require(existingPartCols == partitionColumns,
            s"partition spec changed concurrently at $tablePath: " +
              s"$existingPartCols != $partitionColumns")
          // identity assignment is computed ONCE from the pre-staging
          // watermark; a racing identity writer landing first would make
          // these ids overlap, so a stale watermark aborts, never rebases
          assignedFrom.foreach { case (name, wm) =>
            val nowF = existing.fields.find(_.name == name)
            val nowWm = nowF.filter(_.metadata.contains("delta.identity.highWaterMark"))
              .map(_.metadata.getLong("delta.identity.highWaterMark"))
              .getOrElse(nowF.map(f => f.metadata.getLong("delta.identity.start") -
                f.metadata.getLong("delta.identity.step")).getOrElse(wm))
            require(nowWm == wm,
              s"concurrent identity assignment on $tablePath (column $name); re-run the append")
          }
          val full = StructType(existing.fields)
          val merged0 = graft.model.SchemaMerge.additive(existing, schemaForMeta, tablePath)
          // mapped tables: columns the merge just added need their field
          // id + the physical name the staged files were written under
          val metaNow = base.get.metadata
          val (merged1, confChange) =
            if (!mappingOn) (merged0, None)
            else {
              val (m, maxId) = DeltaTable.assignColumnMapping(
                merged0, maxColumnId(metaNow), f => newPhysNames.getOrElse(f.name, f.name))
              (m, if (maxId == maxColumnId(metaNow)) None
                  else Some(metaNow.configuration +
                    ("delta.columnMapping.maxColumnId" -> maxId.toString)))
            }
          // advance identity high watermarks in the same commit
          val merged =
            if (wmUpdates.isEmpty) merged1
            else StructType(merged1.fields.map { f =>
              wmUpdates.get(f.name).map { w =>
                f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
                  .putLong("delta.identity.highWaterMark", w).build())
              }.getOrElse(f)
            })
          // an incoming batch wider than the declared schema widens it
          // implicitly (SchemaMerge.promote) — the commit must carry the
          // same bookkeeping as the explicit widenColumn: typeChanges
          // history on the field and the typeWidening protocol feature,
          // so readers that can't widen refuse instead of misreading
          val (stamped, widenedNow) = DeltaTable.stampTypeChanges(full, merged)
          val upgrade: Seq[DeltaAction] =
            if (!widenedNow) Seq.empty
            else {
              val p = base.get.protocol
              if (p.readerFeatures.exists(_.contains("typeWidening"))) Seq.empty
              else Seq(DeltaTable.upgradeWithFeature(p, "typeWidening"))
            }
          if (full.json != stamped.json || confChange.nonEmpty)
            upgrade ++ Seq(metaNow.copy(
              schemaString = stamped.json,
              configuration = confChange.getOrElse(metaNow.configuration)))
          else Seq.empty
        }
      val info = CommitInfo(
        System.currentTimeMillis(),
        if (overwrite) "WRITE" else if (replacing.nonEmpty) "OPTIMIZE" else "APPEND",
        Map("mode" -> (if (overwrite) "Overwrite" else "Append")) ++ commitProps)
      if (log.commit(v, metaActions ++ removes ++ adds :+ info)) {
        log.maybeCheckpoint(v)
        maintainKeyIndex(v, adds)
        committed = v
      } else {
        graft.model.ConcurrentSyncException.check(attempt < 10,
          s"concurrent commit contention at $tablePath: 10 attempts lost the race")
        // jittered backoff de-synchronizes lockstep racers
        Thread.sleep(scala.util.Random.nextInt(20 * attempt) + 1L)
      }
    }
    committed
  }

  // ----------------------------------------------------------------- sync

  /** Root the data files live under (for cross-format sync targets). */
  def dataRoot: String = log.snapshot().readBasePath

  private def logicalStats(
      cols: Seq[graft.model.ColumnStatRow],
      names: Map[String, String]): Seq[graft.model.ColumnStatRow] =
    if (names.isEmpty) cols
    else cols.map(c => c.copy(column = names.getOrElse(c.column, c.column)))

  /** Planning-time (live rows, live bytes) of the current snapshot,
    * summed on the driver over the replayed live files: the stats-join
    * planning path (StatsJoin.plannedSize) reads each file's
    * `numRecords`, never its per-column stats, and launches no Spark
    * job. Deletion-vector'd rows are netted out. None when the table is
    * empty or any live file lacks a `numRecords` stat — unknown rows
    * mean no planning fact. */
  def planningFacts(): Option[(Double, Double)] = {
    val files = log.snapshot().files
    val records = files.map(_.stats.fold(-1L)(DeltaStats.fromJson(_, StructType(Nil))._1))
    if (files.isEmpty || records.exists(_ < 0)) None
    else Some(((records.sum - files.flatMap(_.deletionVector).map(_.cardinality).sum).toDouble,
      files.map(_.size).sum.toDouble))
  }

  /** Current snapshot as canonical data-file descriptors: absolute
    * paths, hive partition values, footer-equivalent stats parsed out
    * of the log's stats JSON — no parquet is touched (ref "sync without
    * rewriting data", `README.md:1-16`). */
  def snapshotDataFiles(): Seq[graft.model.InternalDataFile] = {
    val s = log.snapshot()
    s.requireReadable()
    val (dataSchema, names) = s.syncShape
    s.files.map { a =>
      require(a.deletionVector.isEmpty,
        s"cannot metadata-sync $tablePath: file ${a.path} carries a deletion " +
          "vector other formats cannot express; run purgeDeletes() first")
      val (n, cols) = a.stats.map(DeltaStats.fromJson(_, dataSchema)).getOrElse((-1L, Seq.empty))
      graft.model.InternalDataFile(
        physicalPath = absolutePath(a.path),
        partitionValues = s.logicalPartValues(a.partitionValues),
        fileSizeBytes = a.size,
        recordCount = n,
        columnStats = logicalStats(cols, names),
        lastModified = a.modificationTime)
    }
  }

  /** One commit's adds + removed paths in canonical form — the unit of
    * incremental sync replay (ref `DeltaSourceClient.java:106-143`). */
  def changeSet(version: Long): (Seq[graft.model.InternalDataFile], Seq[String]) = {
    val s = log.snapshot(Some(version))
    val (dataSchema, names) = s.syncShape
    val actions = s.actions(version)
    val adds = actions.collect { case a: AddFile =>
      if (a.deletionVector.nonEmpty) throw new graft.model.UnsyncableChangeException(
        s"cannot metadata-sync version $version of $tablePath: ${a.path} carries a " +
          "deletion vector other formats cannot express; run purgeDeletes() first")
      val (n, cols0) = a.stats.map(DeltaStats.fromJson(_, dataSchema)).getOrElse((-1L, Seq.empty))
      val cols = logicalStats(cols0, names)
      graft.model.InternalDataFile(
        physicalPath = absolutePath(a.path),
        partitionValues = s.logicalPartValues(a.partitionValues),
        fileSizeBytes = a.size,
        recordCount = n,
        columnStats = cols,
        lastModified = a.modificationTime)
    }
    val removes = actions.collect { case r: RemoveFile => absolutePath(r.path) }
    (adds, removes)
  }

  /** Log path → absolute DECODED path (the InternalDataFile contract:
    * physicalPath never carries percent escapes — each format's writer
    * re-encodes if its spec demands it). */
  private def absolutePath(logPath: String): String = {
    val p = DeltaTable.decodeLogPath(logPath)
    val abs = if (p.startsWith("/") || p.contains(":/")) p
              else new Path(tablePath, p).toString
    new Path(abs).toString
  }

  /**
   * Metadata-only sync commit: register externally-produced files (adds
   * by canonical descriptor, removes by path) without touching data —
   * the Delta TARGET side of the reference's core loop (ref
   * `core/.../delta/DeltaClient.java:135-198`). The watermark rides the
   * metaData configuration so a crash can never desynchronize sync
   * state from table state (ref `OneTableMetadata.java:36-63`).
   */
  def syncCommit(
      schema: StructType,
      partitionColumns: Seq[String],
      sourceDataRoot: String,
      adds: Seq[graft.model.InternalDataFile],
      removePaths: Seq[String],
      syncProps: Map[String, String],
      /** Skip the per-commit interval checkpoint — a batch replay writes
        * one at the end via [[DeltaLog.checkpointIfDue]] instead. */
      deferCheckpoint: Boolean = false,
      /** Watermark CAS: validated against the configuration read in the
        * SAME pass that allocates this commit's version, so the version
        * file's put-if-absent closes the validate→publish window — any
        * foreign commit after the read collides on the slot. */
      cas: Option[graft.model.SyncCas] = None): Long = {
    val now = System.currentTimeMillis()
    val defs = graft.model.PartitionTransform.parseAll(partitionColumns)
    val cleanSchema = StructType(schema.fields.map(f => f.copy(metadata = Metadata.empty)))
    // transform partition fields from the source become Delta generated
    // columns (string-typed, canonical pattern) appended to the schema
    val schemaForMeta = StructType(cleanSchema.fields ++
      defs.filterNot(_.isIdentity).map(t => StructField(
        t.fieldName, StringType, nullable = true,
        metadata = new MetadataBuilder().putString("delta.generationExpression",
          graft.model.PartitionTransform.deltaGenerationExpr(t)).build())))
    val fieldNames = defs.map(_.fieldName)
    val dataSchema = StructType(cleanSchema.filterNot(f => fieldNames.contains(f.name)))
    val addActions = PhaseTimer.time("delta:stats-json") { adds.map { f =>
      val footerish = graft.stats.FileFooterStats(
        path = f.physicalPath, fileSizeBytes = f.fileSizeBytes,
        recordCount = f.recordCount, modificationTime = f.lastModified,
        columns = f.columnStats)
      AddFile(
        path = new Path(f.physicalPath).toUri.toString,
        partitionValues = f.partitionValues,
        size = f.fileSizeBytes,
        modificationTime = if (f.lastModified > 0) f.lastModified else now,
        dataChange = true,
        stats = if (f.recordCount >= 0) Some(DeltaStats.toJson(footerish, dataSchema)) else None)
    } }
    val removeActions = removePaths.map(p =>
      RemoveFile(new Path(p).toUri.toString, now, dataChange = true))
    // ONE snapshot serves the version slot, the CAS read and the table
    // id: a commit landing after it takes slot v, so our log.commit(v, …)
    // below fails the put-if-absent rather than stacking a stale diff
    val base = PhaseTimer.time("delta:snapshot")(log.latestSnapshot())
    val v = base.fold(0L)(_.version + 1)
    val baseMeta = base.map(_.metadata)
    val baseConfig = baseMeta.map(_.configuration).getOrElse(Map.empty[String, String])
    cas.foreach(_.validate(baseConfig, s"delta target $tablePath"))
    // a widened source schema widens the mirrored target schema — stamp
    // the typeChanges history (cleanSchema stripped any carried one) and
    // upgrade the protocol, exactly like the explicit widenColumn, so
    // non-widening readers of the TARGET refuse instead of misreading
    // the narrower pre-widen files the sync shares with the source
    val (schemaStamped, widenedNow) = baseMeta match {
      case Some(m) => DeltaTable.stampTypeChanges(
        DataType.fromJson(m.schemaString).asInstanceOf[StructType], schemaForMeta)
      case None => (schemaForMeta, false)
    }
    // carried statistics pointers are ADOPTED (copied under this
    // table's _graft_stats dir) before they land in the configuration,
    // so the source deleting ITS file can never dangle this target's
    // pointer; a stale pointer at a missing file is dropped. A RE-sync
    // after the source re-analyzed repoints the key — the superseded
    // adopted copy is unreachable then (the configuration is the only
    // resolution path) and is deleted, or _graft_stats grows one orphan
    // per analyze+sync cycle (vacuum deliberately never walks it).
    val statsKeys = Seq(
      graft.model.SyncCas.StatsPathProp, graft.model.SyncCas.PartitionStatsPathProp)
    val adoptedTracked = statsKeys.flatMap(k => syncProps.get(k).flatMap(p =>
      graft.util.StatsFiles.adoptIntoTracked(
        spark.sparkContext.hadoopConfiguration, tablePath, "_graft_stats", new Path(p))
      .map { case (ap, created) => (k, ap.toString, created) }))
    val adoptedStats = adoptedTracked.map(t => t._1 -> t._2)
    val effectiveProps = (syncProps -- statsKeys) ++ adoptedStats
    // only keys this sync RE-points count — a key absent from this
    // sync's props survives in the merged configuration and its copy
    // stays referenced
    val supersededStats = statsKeys.flatMap(k => adoptedStats.toMap.get(k)
      .flatMap(newPath => baseConfig.get(k).filter(_ != newPath)))
    val meta = DeltaMetadata(
      id = baseMeta.map(_.id).getOrElse(UUID.randomUUID().toString),
      schemaString = schemaStamped.json,
      partitionColumns = fieldNames,
      configuration = baseConfig ++ effectiveProps + ("graft.converted.from" -> sourceDataRoot),
      createdTime = now)
    val upgrade: Seq[DeltaAction] =
      if (!widenedNow) Seq.empty
      else {
        val p = base.get.protocol
        if (p.readerFeatures.exists(_.contains("typeWidening"))) Seq.empty
        else Seq(DeltaTable.upgradeWithFeature(p, "typeWidening"))
      }
    val metaActions: Seq[DeltaAction] =
      if (v == 0L) Seq(Protocol(), meta) else upgrade ++ Seq(meta)
    val info = CommitInfo(now, "SYNC", Map("mode" -> "Sync"))
    if (!PhaseTimer.time("delta:log-commit")(
        log.commit(v, metaActions ++ removeActions ++ addActions :+ info))) {
      // a lost race must not orphan the copies THIS call placed (a
      // pre-existing copy may be a live registered file — never touch
      // those) — UNLESS the race winner registered the same
      // deterministic copy (a competitor syncing the same source), in
      // which case the copy is now live and stays
      val liveNow = statsKeys.flatMap(log.snapshot().configuration.get).toSet
      adoptedTracked.collect { case (_, p, true) if !liveNow(p) => new Path(p) }
        .foreach(p =>
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false))
      // a lost version-slot race IS a concurrent sync — typed so the
      // engine's re-plan loop classifies it structurally
      throw new graft.model.ConcurrentSyncException(
        s"concurrent sync detected on delta target $tablePath: version slot $v " +
          "was taken — re-plan and retry")
    }
    if (!deferCheckpoint) log.maybeCheckpoint(v)
    maintainKeyIndex(v, addActions)
    supersededStats.foreach(p => graft.util.StatsFiles.deleteIfOwned(
      spark.sparkContext.hadoopConfiguration, tablePath, p,
      adoptedStats.map(_._2).toSet))
    // self-heal the check-then-delete window: a racing loser's lost-CAS
    // cleanup may have deleted an adopted copy before OUR registration
    // of the same deterministic path became visible to it — re-copy
    // from the (still-carried) source so the committed pointer resolves
    adoptedTracked.foreach { case (k, p, _) =>
      val hp = new Path(p)
      if (!hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp))
        syncProps.get(k).foreach(srcp => graft.util.StatsFiles.adoptIntoTracked(
          spark.sparkContext.hadoopConfiguration, tablePath, "_graft_stats",
          new Path(srcp)))
    }
    v
  }
}

object DeltaTable {

  /** Configuration key of the native ANALYZE's Puffin sidecar path. */
  val StatsPathKey = "graft.stats.path"
  /** Configuration key of the table version that ANALYZE ran at. */
  val StatsVersionKey = "graft.stats.version"

  /** Count of key-pruned scans answered by the EXACT index (vs range
    * fallback) — observable so a spec can pin that a composed pipeline's
    * MERGE/delete really routed through the index, not around it. */
  private[graft] val indexRoutedScans = new java.util.concurrent.atomic.AtomicLong(0)


  def forPath(spark: SparkSession, tablePath: String): DeltaTable =
    new DeltaTable(spark, DeltaLog.forTable(spark, tablePath))

  /** Reader features this engine implements (Delta PROTOCOL.md table
    * features). `vacuumProtocolCheck` imposes no read-time behavior;
    * `timestampNtz` reads natively as Spark's TimestampNTZType;
    * `v2Checkpoint` replay resolves the top-level checkpoint file and
    * its sidecars (DeltaLog.resolveCheckpoint). */
  val SupportedReaderFeatures: Set[String] =
    Set("columnMapping", "deletionVectors", "timestampNtz", "vacuumProtocolCheck",
      "v2Checkpoint", "typeWidening")

  /** Writer features this engine can write alongside. Metadata-activated
    * features (appendOnly, changeDataFeed, invariants, checkConstraints,
    * identityColumns) are accepted here and enforced or refused at their
    * activation switch in `requireWritable`. */
  val SupportedWriterFeatures: Set[String] = Set(
    "columnMapping", "deletionVectors", "timestampNtz", "vacuumProtocolCheck",
    "generatedColumns", "appendOnly", "invariants", "checkConstraints",
    "changeDataFeed", "identityColumns", "v2Checkpoint", "typeWidening")

  /** Writer features a legacy minWriterVersion implies (PROTOCOL.md
    * feature-version mapping). */
  private[delta] def legacyWriterFeatures(minWriterVersion: Int): Seq[String] =
    Seq(
      2 -> "appendOnly", 2 -> "invariants",
      3 -> "checkConstraints",
      4 -> "generatedColumns", 4 -> "changeDataFeed",
      5 -> "columnMapping",
      6 -> "identityColumns")
      .collect { case (v, f) if v <= minWriterVersion => f }

  private[delta] def legacyReaderFeatures(minReaderVersion: Int): Seq[String] =
    if (minReaderVersion >= 2) Seq("columnMapping") else Seq.empty

  /**
   * Upgrade a protocol to the table-features form (3, 7) with `feature`
   * added to both lists, PRESERVING everything the current protocol
   * already declares — explicitly (feature lists) or implicitly (legacy
   * version numbers). Dropping implied features on upgrade would strip
   * e.g. generatedColumns off a (1,4) table the moment it takes its
   * first deletion vector.
   */
  /**
   * Stamp `delta.typeChanges` history for every field whose declared
   * type widened between `before` and `after` at table version `v` —
   * the bookkeeping the typeWidening feature requires (real Delta's
   * record shape: fromType/toType/tableVersion, with a `fieldPath` for
   * changes inside array/map types; nested struct fields stamp on
   * themselves). Fields in `after` whose metadata lost a carried
   * history (the sync path strips source metadata) get it back from
   * `before`. Returns the stamped schema and whether anything widened.
   */
  private[graft] def stampTypeChanges(
      before: StructType, after: StructType): (StructType, Boolean) = {
    var any = false
    // primitive-level widens under ONE struct field (path segments
    // relative to the field: element / value chains); nested STRUCT
    // fields — at any container depth — carry their own metadata and
    // stamp on themselves (walkType recurses to them)
    def primChanges(b: DataType, a: DataType, path: String): Seq[Metadata] = (b, a) match {
      case (_: StructType, _: StructType) => Seq.empty
      case (ba: ArrayType, aa: ArrayType) =>
        primChanges(ba.elementType, aa.elementType,
          if (path.isEmpty) "element" else s"$path.element")
      case (bm: MapType, am: MapType) =>
        primChanges(bm.valueType, am.valueType,
          if (path.isEmpty) "value" else s"$path.value")
      case (bp, ap) if bp != ap && graft.model.SchemaMerge.widens(bp, ap) =>
        Seq(typeChangeEntry(bp, ap, path))
      case _ => Seq.empty
    }
    // recurse to structs at ANY container depth (array<struct<…>>,
    // map<_,struct<…>>) — the real feature's "nearest struct field
    // ancestor" rule: the nested field itself carries the history
    def walkType(b: DataType, a: DataType): DataType = (b, a) match {
      case (bn: StructType, an: StructType) => walkFields(bn, an)
      case (bn: ArrayType, an: ArrayType) =>
        an.copy(elementType = walkType(bn.elementType, an.elementType))
      case (bn: MapType, an: MapType) =>
        an.copy(valueType = walkType(bn.valueType, an.valueType))
      case _ => a
    }
    def walkFields(bs: StructType, as: StructType): StructType =
      StructType(as.fields.map { af =>
        bs.fields.find(_.name == af.name) match {
          case None => af
          case Some(bf) =>
            val nested = af.copy(dataType = walkType(bf.dataType, af.dataType))
            // carry a history the sync path stripped — PRUNED of entries
            // made stale by a narrowing restore (a restored source can
            // roll the declared type back; metadata claiming toType=long
            // on an int column would mislead typeWidening-aware readers)
            val carried =
              if (nested.metadata.contains("delta.typeChanges") ||
                  !bf.metadata.contains("delta.typeChanges")) nested
              else {
                val kept = pruneTypeChanges(
                  bf.metadata.getMetadataArray("delta.typeChanges"), nested.dataType)
                if (kept.isEmpty) nested
                else nested.copy(metadata = new MetadataBuilder()
                  .withMetadata(nested.metadata)
                  .putMetadataArray("delta.typeChanges", kept).build())
              }
            val changes = primChanges(bf.dataType, carried.dataType, "")
            if (changes.isEmpty) carried
            else {
              any = true
              carried.copy(metadata = appendTypeChanges(carried.metadata, changes))
            }
        }
      })
    (walkFields(before, after), any)
  }

  /** One `delta.typeChanges` history entry in the STABLE typeWidening
    * shape (Delta PROTOCOL.md): `{fromType, toType[, fieldPath]}` as a
    * metadata OBJECT — the history is a metadata ARRAY, not a
    * JSON-encoded string, so external typeWidening-aware readers parse
    * it. (The preview-era `tableVersion` key is gone from the stable
    * shape.) */
  private[graft] def typeChangeEntry(
      from: DataType, to: DataType, fieldPath: String): Metadata = {
    val b = new MetadataBuilder()
      .putString("fromType", from.typeName)
      .putString("toType", to.typeName)
    if (fieldPath.nonEmpty) b.putString("fieldPath", fieldPath)
    b.build()
  }

  /** Append entries to a field's `delta.typeChanges` metadata array. */
  private[graft] def appendTypeChanges(md: Metadata, entries: Seq[Metadata]): Metadata = {
    val existing =
      if (md.contains("delta.typeChanges")) md.getMetadataArray("delta.typeChanges")
      else Array.empty[Metadata]
    new MetadataBuilder().withMetadata(md)
      .putMetadataArray("delta.typeChanges", existing ++ entries).build()
  }

  /** Keep only history entries still CONSISTENT with the declared type:
    * the entry's toType must equal — or still widen into — the type at
    * its fieldPath. A restore that narrowed the schema back drops the
    * now-false claims. */
  private[graft] def pruneTypeChanges(
      entries: Array[Metadata], declared: DataType): Array[Metadata] =
    entries.filter { e =>
      val at = if (e.contains("fieldPath"))
        resolveFieldPath(declared, e.getString("fieldPath")) else Some(declared)
      at.exists { dt =>
        parseTypeName(e.getString("toType")).exists(to =>
          to == dt || graft.model.SchemaMerge.widens(to, dt))
      }
    }

  private def resolveFieldPath(dt: DataType, path: String): Option[DataType] =
    path.split('.').foldLeft(Option(dt)) {
      case (Some(ArrayType(et, _)), "element") => Some(et)
      case (Some(MapType(_, vt, _)), "value") => Some(vt)
      case (Some(MapType(kt, _, _)), "key") => Some(kt)
      case _ => None
    }

  /** Parse the typeName strings [[typeChangeEntry]] emits (the
    * promotion order's primitives + decimal). */
  private def parseTypeName(s: String): Option[DataType] = s match {
    case "byte" => Some(ByteType)
    case "short" => Some(ShortType)
    case "integer" => Some(IntegerType)
    case "long" => Some(LongType)
    case "float" => Some(FloatType)
    case "double" => Some(DoubleType)
    case "date" => Some(DateType)
    case d if d.startsWith("decimal") =>
      scala.util.Try(DataType.fromDDL(d)).toOption
    case _ => None
  }

  private[delta] def upgradeWithFeature(p: Protocol, feature: String): Protocol = {
    val readers = p.readerFeatures.getOrElse(legacyReaderFeatures(p.minReaderVersion))
    val writers = p.writerFeatures.getOrElse(legacyWriterFeatures(p.minWriterVersion))
    Protocol(3, 7, Some((readers :+ feature).distinct), Some((writers :+ feature).distinct))
  }

  /** Protocol a freshly created table needs for its schema: timestampNtz
    * is a table feature; generated columns need legacy writer v4. */
  private[delta] def protocolFor(schema: StructType, hasGenerated: Boolean): Protocol = {
    def hasNtz(dt: DataType): Boolean = dt match {
      case TimestampNTZType => true
      case s: StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: ArrayType => hasNtz(a.elementType)
      case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
    val hasIdentity = schema.fields.exists(_.metadata.contains("delta.identity.start"))
    if (hasNtz(schema)) {
      val writers = Seq("timestampNtz") ++
        (if (hasGenerated) Seq("generatedColumns") else Seq.empty) ++
        (if (hasIdentity) Seq("identityColumns") else Seq.empty) ++ legacyWriterFeatures(2)
      Protocol(3, 7, Some(Seq("timestampNtz")), Some(writers.distinct))
    } else if (hasIdentity) Protocol(1, 6) // legacy v6 implies identityColumns
    else if (hasGenerated) Protocol(1, 4)
    else Protocol()
  }

  /** Create (version 0) by physically writing `df`. */
  def create(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      partitionColumns: Seq[String] = Seq.empty): DeltaTable = {
    val t = forPath(spark, tablePath)
    require(t.log.latestVersion().isEmpty, s"table already exists: $tablePath")
    t.append(df, partitionColumns)
    t
  }

  /** CREATE TABLE without data: version 0 carries only protocol +
    * metadata. The way to declare identity columns
    * (`delta.identity.start`/`step`[/`allowExplicitInsert`] field
    * metadata, BIGINT only) before the first rows arrive — appends then
    * assign values from the high watermark. */
  def createEmpty(
      spark: SparkSession,
      tablePath: String,
      schema: StructType,
      partitionColumns: Seq[String] = Seq.empty): DeltaTable = {
    val t = forPath(spark, tablePath)
    require(t.log.latestVersion().isEmpty, s"table already exists: $tablePath")
    schema.fields.filter(_.metadata.contains("delta.identity.start")).foreach { f =>
      require(f.dataType == LongType, s"identity column ${f.name} must be BIGINT")
      require(f.metadata.contains("delta.identity.step") &&
          f.metadata.getLong("delta.identity.step") != 0L,
        s"identity column ${f.name} needs a non-zero delta.identity.step")
    }
    partitionColumns.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c missing from the schema of $tablePath"))
    val now = System.currentTimeMillis()
    require(t.log.commit(0L, Seq(
      protocolFor(schema, hasGenerated = false),
      DeltaMetadata(
        id = UUID.randomUUID().toString,
        schemaString = schema.json,
        partitionColumns = partitionColumns,
        configuration = Map("graft.engine" -> "onetablespark"),
        createdTime = now),
      CommitInfo(now, "CREATE TABLE", Map.empty))),
      s"table already exists: $tablePath")
    t
  }

  /**
   * Metadata-only conversion of an existing parquet dataset: the add
   * actions point at the source files (absolute paths) — no data is
   * rewritten, exactly the reference's sync contract (ref README.md:1-16:
   * "without rewriting any data files"). Schema from footers via Spark
   * inference; per-file stats from parquet footers. Hive-style `k=v`
   * directories become real partition columns with per-file partition
   * values (the reference extracts these per file —
   * `core/.../hudi/HudiPartitionValuesExtractor.java:47-173`); without
   * this, every partition column would read back NULL.
   */
  def convertFromParquet(
      spark: SparkSession,
      sourceLocation: String,
      tablePath: String): DeltaTable = {
    val t = forPath(spark, tablePath)
    require(t.log.latestVersion().isEmpty, s"table already exists: $tablePath")
    val files = ParquetFooterStats.listParquetFiles(spark, sourceLocation)
    val schema = spark.read.parquet(sourceLocation).schema
    // partition columns = hive `k=v` dir keys present in the source
    // layout, in schema order (Spark's inference appends them there)
    val srcBase = new Path(sourceLocation).toUri.getPath.stripSuffix("/") + "/"
    val relOf = (p: String) => new Path(p).toUri.getPath.stripPrefix(srcBase)
    val hiveKeys: Set[String] = files.headOption
      .map(f => partitionValuesFromPath(relOf(f), schema.fieldNames.toSeq).keySet)
      .getOrElse(Set.empty)
    val partCols = schema.fieldNames.toSeq.filter(hiveKeys.contains)
    val dataSchema = StructType(schema.filterNot(f => partCols.contains(f.name)))
    val stats = ParquetFooterStats.collect(spark, files)
    val adds = stats.map { st =>
      AddFile(
        path = new Path(st.path).toUri.toString,
        partitionValues = partitionValuesFromPath(relOf(st.path), partCols),
        size = st.fileSizeBytes,
        modificationTime = st.modificationTime,
        dataChange = true,
        stats = Some(DeltaStats.toJson(st, dataSchema)))
    }
    val actions: Seq[DeltaAction] = Seq(
      Protocol(),
      DeltaMetadata(
        id = UUID.randomUUID().toString,
        schemaString = schema.json,
        partitionColumns = partCols,
        configuration = Map("graft.converted.from" -> sourceLocation),
        createdTime = System.currentTimeMillis())) ++ adds :+
      CommitInfo(System.currentTimeMillis(), "CONVERT", Map("source" -> sourceLocation))
    require(t.log.commit(0L, actions), s"table already exists: $tablePath")
    t
  }

  /** Column-mapping assignment: give every (nested) field that lacks
    * mapping metadata a fresh field id and a physical name; existing
    * assignments are preserved byte-for-byte. `physicalTop` names newly
    * mapped TOP-LEVEL fields (the logical name when enabling mapping on
    * an existing table — its files already carry those names;
    * `col-<uuid>` for columns born afterwards); nested fields record
    * their display name as the physical name (legal per the protocol —
    * the mapping is just explicit). Returns the mapped schema and the
    * new max column id. */
  private[delta] def assignColumnMapping(
      schema: StructType,
      startMaxId: Long,
      physicalTop: StructField => String): (StructType, Long) = {
    var maxId = startMaxId
    def mapField(f: StructField, phys: String): StructField = {
      val meta =
        if (f.metadata.contains("delta.columnMapping.id")) f.metadata
        else {
          maxId += 1
          new MetadataBuilder().withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", maxId)
            .putString("delta.columnMapping.physicalName", phys).build()
        }
      f.copy(dataType = mapNested(f.dataType), metadata = meta)
    }
    def mapNested(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f => mapField(f, f.name)))
      case a: ArrayType => a.copy(elementType = mapNested(a.elementType))
      case m: MapType => m.copy(keyType = mapNested(m.keyType), valueType = mapNested(m.valueType))
      case other => other
    }
    (StructType(schema.fields.map(f => mapField(f, physicalTop(f)))), maxId)
  }

  // ------------------------------------------------------------- utilities

  /** All parquet files under `dir` (fully-qualified Paths, so scheme and
    * authority survive for s3a/abfs/hdfs tables). */
  /** Reconstruct partition field defs from a table's schema + partition
    * column names: a partition column with a recognized
    * `delta.generationExpression` is a time transform, else identity. */
  private[graft] def partitionDefsOf(
      schema: StructType, partitionColumns: Seq[String]): Seq[graft.model.PartitionFieldDef] =
    partitionColumns.map { c =>
      schema.fields.find(_.name == c)
        .filter(_.metadata.contains("delta.generationExpression"))
        .flatMap(f => graft.model.PartitionTransform.parseDeltaGenerationExpr(
          c, f.metadata.getString("delta.generationExpression")))
        .getOrElse(graft.model.PartitionFieldDef(c, "identity"))
    }

  private[delta] def walkParquet(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Seq.empty
      else if (st.isDirectory) walkParquet(fs, st.getPath)
      else if (name.endsWith(".parquet")) Seq(st.getPath)
      else Seq.empty
    }
  }

  private[delta] def relativize(tablePath: String, absolute: String): String = {
    val base = new Path(tablePath).toUri.getPath.stripSuffix("/") + "/"
    val abs = new Path(absolute).toUri.getPath
    if (abs.startsWith(base)) abs.substring(base.length) else abs
  }

  /** Percent-encode a relative path for the log, per the Delta protocol
    * (add/remove paths are URL-encoded); '/' is preserved. */
  private[delta] def encodeLogPath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  /** Inverse of [[encodeLogPath]]; absolute URIs decode the same way.
    * The absolute branch must DECODE too: downstream consumers build
    * `new Path(String)` (which never URI-decodes), so returning the
    * encoded form would leave literal `%20` in file names — unnoticed
    * until a partition value contains an escapable character. */
  private[delta] def decodeLogPath(encoded: String): String = {
    val uri = new java.net.URI(encoded)
    if (uri.getScheme != null) new Path(uri).toString
    else uri.getPath
  }

  /** Parse hive-style `k=v` dirs out of a relative path (ref partition
    * path parser `core/.../hudi/HudiPartitionValuesExtractor.java:47-173`). */
  private[delta] def partitionValuesFromPath(
      relPath: String, partitionColumns: Seq[String]): Map[String, String] = {
    if (partitionColumns.isEmpty) return Map.empty
    val dirs = relPath.split("/").dropRight(1)
    dirs.flatMap { d =>
      d.split("=", 2) match {
        case Array(k, v) if partitionColumns.contains(k) =>
          val decoded = graft.util.PathCodec.unescapePathName(v)
          Some(k -> (if (decoded == "__HIVE_DEFAULT_PARTITION__") null else decoded))
        case _ => None
      }
    }.toMap
  }

  /** Physical (column-mapped) name of a field, when present. */
  private[delta] def physicalName(f: StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** Rename every (nested) field to its physical name — the schema the
    * parquet files of a column-mapped table carry. */
  private[delta] def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map { f =>
      StructField(physicalName(f), physicalType(f.dataType), f.nullable)
    })

  private def physicalType(dt: DataType): DataType = dt match {
    case st: StructType => physicalSchema(st)
    case ArrayType(e, n) => ArrayType(physicalType(e), n)
    case MapType(k, v, n) => MapType(physicalType(k), physicalType(v), n)
    case other => other
  }

  /** Strip column-mapping metadata so logical output columns carry no
    * physical-name baggage. */
  private[delta] def logicalClean(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(f.name, cleanType(f.dataType), f.nullable)))

  private def cleanType(dt: DataType): DataType = dt match {
    case st: StructType => logicalClean(st)
    case ArrayType(e, n) => ArrayType(cleanType(e), n)
    case MapType(k, v, n) => MapType(cleanType(k), cleanType(v), n)
    case other => other
  }

  /** A live file's manifest descriptor, its path as the log spells it. */
  private[delta] def dataFileOf(a: AddFile): InternalDataFile =
    InternalDataFile(a.path, partitionValues = a.partitionValues, fileSizeBytes = a.size,
      lastModified = a.modificationTime)

  /** Canonical stats of an `add.stats` JSON (null: none), keyed by the
    * names `readSchema` gives the files' columns. The JSON carries
    * timestamps at millisecond precision, so a timestamp maximum is
    * widened by 999 µs to still cover the file's sub-millisecond rows. */
  private[delta] def columnStats(json: String, readSchema: StructType): Seq[ColumnStatRow] =
    if (json == null) Seq.empty
    else {
      val timestamps = readSchema.fields
        .filter(f => f.dataType == TimestampType || f.dataType == TimestampNTZType).map(_.name).toSet
      DeltaStats.fromJson(json, readSchema)._2.map { c =>
        if (timestamps(c.column)) c.copy(maxValue = c.maxValue.map(m => (m.toLong + 999L).toString))
        else c
      }
    }

  /** Resolve a log path against the table root, in the exact string form
    * the scan's `_metadata.file_path` reports (Path → URI). */
  private[delta] def metadataFilePath(tablePath: String, logPath: String): String = {
    val p = decodeLogPath(logPath)
    if (p.startsWith("/") || p.contains(":/")) p else new Path(tablePath, p).toString
  }

  /** `(file_path, row_index)` pairs of every deleted row — the DV
    * payloads decode on executors (one task per vector), so a snapshot
    * with thousands of DVs never funnels bitmaps through the driver. */
  private[delta] def deletedPositionsDF(
      spark: SparkSession,
      tablePath: String,
      files: Seq[(InternalDataFile, DeletionVectorDescriptor)]): DataFrame = {
    import spark.implicits._
    val conf = new graft.util.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val rows = files.map { case (f, d) =>
      (new Path(f.physicalPath).toUri.toString, d.storageType, d.pathOrInlineDv,
        d.offset.getOrElse(-1), d.sizeInBytes, d.cardinality)
    }
    // one decode task per vector, capped by cluster width (not a
    // constant — a 1000-executor cluster decodes 1000 DVs at once)
    spark.createDataset(rows)
      .repartition(math.max(1,
        math.min(rows.size, spark.sparkContext.defaultParallelism * 2)))
      .flatMap { case (p, st, pod, off, size, card) =>
        val desc = DeletionVectorDescriptor(
          st, pod, if (off < 0) None else Some(off), size, card)
        desc.positions(tablePath, conf.value).iterator.map(pos => (p, pos))
      }
      .toDF("__graft_file", "__graft_pos")
  }

  /** Read a set of snapshot files as a DataFrame through a
    * [[graft.sources.ManifestFileIndex]]: sizes and partition values
    * come from the LOG, so Spark plans the scan without listing or
    * stat-ing a single path — the property that matters at 10^6 files
    * (SURVEY.md §7 step 5). Row-level deletes apply: files without a DV
    * take the plain scan; files with one anti-join their deleted
    * `(file, position)` pairs out (broadcast when the total cardinality
    * is driver-known small; shuffled otherwise — both linear). */
  private[delta] def readFilesWithDeletes(
      spark: SparkSession,
      tablePath: String,
      basePath: String,
      files: Seq[(InternalDataFile, Option[DeletionVectorDescriptor])],
      schema: StructType,
      partitionColumns: Seq[String],
      columnStats: InternalDataFile => Seq[ColumnStatRow] = _.columnStats): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val (withDv, plain) = files.map { case (f, d) =>
      (f.copy(physicalPath = metadataFilePath(tablePath, f.physicalPath)), d)
    }.partition(_._2.isDefined)
    def scan(fs: Seq[InternalDataFile], positions: Boolean) = graft.sources.ManifestFileIndex.read(
      spark, basePath, fs, schema, partitionColumns, withRowPositions = positions, columnStats = columnStats)
    if (withDv.isEmpty) return scan(plain.map(_._1), positions = false)
    val resolved = withDv.map { case (f, d) => (f, d.get) }
    val deleted = deletedPositionsDF(spark, tablePath, resolved)
    val small = resolved.map(_._2.cardinality).sum <= 4000000L
    val applied = scan(resolved.map(_._1), positions = true)
      .join(if (small) broadcast(deleted) else deleted,
        Seq("__graft_file", "__graft_pos"), "left_anti")
      .select(schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
    if (plain.isEmpty) applied
    else scan(plain.map(_._1), positions = false).unionByName(applied)
  }
}

/**
 * Scan builder with log-level pruning: partition predicates evaluated on
 * the manifest's `partitionValues`, and min/max skipping
 * ([[graft.sources.StatsSkipping]]) on the per-file stats JSON — both
 * happen BEFORE any parquet footer is opened,
 * which is the property that matters when a snapshot has 10^6 files
 * (SURVEY.md §4 "file skipping / data skipping").
 */
final class DeltaScanBuilder(
    spark: SparkSession,
    table: DeltaTable,
    asOfVersion: Option[Long]) {

  private var partitionPredicates: Seq[(String, Set[String])] = Seq.empty
  private var rangePredicates: Seq[(String, Option[String], Option[String])] = Seq.empty
  private var chunkSpec: Option[(Int, Int)] = None

  /** Read only deterministic slice `k` of `of` over the snapshot's
    * files (modulo over the path-sorted manifest) — the streaming
    * source's initial-snapshot admission control. */
  def chunk(k: Int, of: Int): DeltaScanBuilder = {
    require(of > 0 && k >= 0 && k < of, s"bad snapshot chunk $k/$of")
    chunkSpec = Some((k, of))
    this
  }

  /** Keep only files whose partition value for `column` is in `values`. */
  def partitionIn(column: String, values: Set[String]): DeltaScanBuilder = {
    partitionPredicates +:= (column -> values)
    this
  }

  /** Skip files whose stats prove no row has `column >= lo AND column <=
    * hi` (either bound optional, literals cast to the column's type in
    * UTC); a range on a time-transform source also prunes partitions. */
  def range(column: String, lo: Option[Any], hi: Option[Any]): DeltaScanBuilder = {
    rangePredicates +:= ((column, lo.map(_.toString), hi.map(_.toString)))
    this
  }

  /** The pruned live files, sorted by path. */
  def files(): Seq[AddFile] = files(table.log.snapshot(asOfVersion))

  private def files(s: DeltaSnapshot): Seq[AddFile] = {
    s.requireReadable()
    val schema = s.schema
    // column-mapped tables key partitionValues and stats by PHYSICAL
    // name; callers always speak logical names
    val phys: Map[String, String] =
      if (!s.columnMapped) Map.empty
      else schema.fields.map(f => f.name -> DeltaTable.physicalName(f)).toMap
    def p(c: String): String = phys.getOrElse(c, c)
    // a range predicate on the SOURCE column of a time-transform
    // partition also prunes partitions: canonical value strings order
    // lexicographically within a granularity, so truncate-and-compare
    // is exact (hidden-partitioning semantics, ref
    // `DeltaPartitionExtractor.java:104-224`)
    val timeDefs = DeltaTable.partitionDefsOf(schema, s.partitionColumns).filterNot(_.isIdentity)
    val timeBounds = rangePredicates.flatMap { case (c, lo, hi) =>
      timeDefs.filter(_.sourceColumn == c).map { t =>
        def cut(v: String) = graft.model.PartitionTransform.truncate(t.granularity, v)
        (p(t.fieldName), lo.map(cut), hi.map(cut))
      }
    }
    val inPartitions = s.files.filter { a =>
      // a null or missing value is in no set, but within every time bound
      partitionPredicates.forall { case (c, vs) =>
        a.partitionValues.get(p(c)).exists(v => v != null && vs(v))
      } && timeBounds.forall { case (f, lo, hi) =>
        a.partitionValues.get(f).forall(v => v == null || lo.forall(v >= _) && hi.forall(v <= _))
      }
    }
    if (rangePredicates.isEmpty) return inPartitions
    val filters = rangePredicates.flatMap { case (c, lo, hi) =>
      graft.sources.StatsSkipping.rangeFilter(p(c), schema(c).dataType, lo, hi)
    }
    val readSchema = s.readShape._1
    graft.sources.StatsSkipping.prune(inPartitions, filters)(a =>
      DeltaTable.columnStats(a.stats.orNull, readSchema))
  }

  /** Pruned data read. The skipping predicates only drop whole files;
    * callers still apply the row-level filter on the result. */
  def toDF(): DataFrame = {
    val s = table.log.snapshot(asOfVersion)
    val picked = chunkSpec match {
      case Some((k, n)) => files(s).zipWithIndex.collect { case (a, i) if i % n == k => a }
      case None => files(s)
    }
    // stats JSON by the resolved path the index sees, decoded only under a data filter
    lazy val statsJson = picked.iterator
      .map(a => DeltaTable.metadataFilePath(table.tablePath, a.path) -> a.stats.orNull).toMap
    val readSchema = s.readShape._1
    s.read(spark, picked.map(a => (DeltaTable.dataFileOf(a), a.deletionVector)),
      f => DeltaTable.columnStats(statsJson.getOrElse(f.physicalPath, null), readSchema))
  }
}
