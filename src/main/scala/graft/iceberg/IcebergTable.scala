package graft.iceberg

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.stats.{FileFooterStats, ParquetFooterStats}
import graft.util.{PhaseTimer, StagedWrites}

/**
 * Native Iceberg (format v2) table: create/append/overwrite with real
 * data writes, metadata-only conversion of existing parquet, snapshot
 * reads, snapshot-id / timestamp time travel, incremental change reads,
 * and a scan with partition pruning + min/max skipping evaluated on the
 * manifests — mirroring the Delta path so the two formats answer
 * queries identically (the reference's core contract, ref
 * `ITOneTableClient.java:748-813`).
 *
 * Scale shape: snapshot reads and change reads reconcile the manifest
 * list and its manifests on the driver, as the reference plans through
 * the Iceberg library on one thread (ref
 * `IcebergSourceClient.java:133-168`). Only the maintenance jobs
 * (partition statistics, manifest rewrite, orphan removal) fan manifest
 * reads out over executors.
 */
final class IcebergTable private (spark: SparkSession, val log: IcebergMetadataLog) {

  def tablePath: String = log.tablePath
  private def hconf = spark.sparkContext.hadoopConfiguration

  // ---------------------------------------------------------------- reads

  def currentMetadata: IcebergTableMetadata =
    log.readLatest().map(_._2).getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))

  /** Snapshot ids in commit order. */
  def snapshotIds: Seq[Long] = currentMetadata.snapshotLog.map(_._2)

  def schema: StructType = currentMetadata.schema

  /** Spark-facing schema (iceberg field-id metadata stripped). */
  def sparkSchema: StructType = StructType(schema.fields.map(f => f.copy(metadata = Metadata.empty)))

  // ----------------------------------------------------------------- refs

  /** Named refs (spec v2 `refs`). `main` is implicit — always the
    * current snapshot. */
  def refs: Map[String, IcebergRef] = currentMetadata.refs

  /** Pin `name` to a snapshot (default: current) as a tag. */
  def createTag(name: String, snapshotId: Option[Long] = None): Unit =
    putRef(name, "tag", snapshotId)

  /** Create a named branch head at a snapshot (default: current). */
  def createBranch(name: String, snapshotId: Option[Long] = None): Unit =
    putRef(name, "branch", snapshotId)

  def dropRef(name: String): Unit = {
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    require(meta.refs.contains(name), s"no ref $name on $tablePath")
    graft.model.ConcurrentSyncException.check(log.commit(v + 1, meta.copy(
      refs = meta.refs - name, lastUpdatedMs = System.currentTimeMillis())),
      s"concurrent iceberg commit on $tablePath")
  }

  private def putRef(name: String, refType: String, snapshotId: Option[Long]): Unit = {
    require(name != "main", "`main` is managed by the table itself")
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val id = snapshotId.orElse(meta.currentSnapshotId).getOrElse(
      throw new IllegalStateException(s"no snapshot to ref on $tablePath"))
    meta.snapshot(id) // validates existence
    // only a branch may be re-pointed, and only by a branch: tags are
    // immutable and a ref never changes kind silently
    meta.refs.get(name).foreach(existing => require(
      existing.refType == "branch" && refType == "branch",
      s"ref $name already exists on $tablePath as a ${existing.refType}; drop it first"))
    // a lost version slot IS a concurrent commit — typed, so retry
    // loops (publishBranch) classify it structurally, never by text
    if (!log.commit(v + 1, meta.copy(
      refs = meta.refs + (name -> IcebergRef(id, refType)),
      lastUpdatedMs = System.currentTimeMillis())))
      throw new graft.model.ConcurrentSyncException(
        s"concurrent iceberg commit on $tablePath: ref $name lost its version slot")
  }

  /**
   * Roll the table back to an ancestor snapshot (Iceberg's
   * `rollback_to_snapshot` procedure): metadata-only — the current
   * snapshot pointer moves, and the snapshot-log truncates to the
   * target (the spec requires log entries to be deleted "when the
   * current snapshot is rolled back"). Abandoned snapshots stay in the
   * `snapshots` list — still reachable by id or ref — until
   * [[expireSnapshots]] retires them.
   */
  def rollbackTo(snapshotId: Long): Unit = {
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    meta.snapshot(snapshotId) // validates existence
    val i = meta.snapshotLog.indexWhere(_._2 == snapshotId)
    require(i >= 0,
      s"snapshot $snapshotId is not an ancestor in the snapshot log of $tablePath")
    if (meta.currentSnapshotId.contains(snapshotId)) return
    graft.model.ConcurrentSyncException.check(log.commit(v + 1, meta.copy(
      currentSnapshotId = Some(snapshotId),
      snapshotLog = meta.snapshotLog.take(i + 1),
      lastUpdatedMs = System.currentTimeMillis())),
      s"concurrent iceberg commit on $tablePath")
  }

  /**
   * Partition-spec evolution (Iceberg's headline "evolve partitioning
   * without rewriting data"): register a NEW default spec; data already
   * written stays under its original spec (manifests carry their
   * `partition-spec-id`), future writes land under the new one, and
   * scans prune each manifest by ITS spec — an old-spec file is never
   * pruned on a field it wasn't partitioned by. Metadata-only commit:
   * no snapshot, no data movement. Spec strings use the create syntax
   * (`col`, `year(col)`, `bucket[16](col)`, ...).
   */
  def evolvePartitionSpec(partitionSpecs: Seq[String]): Unit = {
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val defs = graft.model.PartitionTransform.parseAll(partitionSpecs)
    val proposed = IcebergTable.specFor(meta.schema, defs)
    def key(f: IcebergPartitionFieldSpec) = (f.sourceId, f.transform, f.name)
    if (proposed.map(key) == meta.partitionSpec.map(key)) return // no-op
    // the spec's field-id reuse rule: a field identical to one in ANY
    // known spec keeps that id; genuinely new fields continue from
    // last-partition-id
    val knownIds = meta.allSpecs.flatMap(_._2).map(f => key(f) -> f.fieldId).toMap
    val (specId, specFields) =
      meta.allSpecs.find(_._2.map(key) == proposed.map(key)) match {
        case Some((id, fields)) => (id, fields) // reactivate a retired spec
        case None =>
          var nextId = (999 +: meta.allSpecs.flatMap(_._2.map(_.fieldId))).max
          (meta.allSpecs.map(_._1).max + 1, proposed.map { f =>
            knownIds.get(key(f)) match {
              case Some(id) => f.copy(fieldId = id)
              case None => nextId += 1; f.copy(fieldId = nextId)
            }
          })
      }
    graft.model.ConcurrentSyncException.check(log.commit(v + 1, meta.copy(
      partitionSpec = specFields,
      defaultSpecId = specId,
      olderSpecs = meta.allSpecs.filterNot(_._1 == specId),
      lastUpdatedMs = System.currentTimeMillis())),
      s"concurrent iceberg commit on $tablePath")
  }

  /**
   * Metadata-only type widening (Iceberg spec "Schema Evolution" valid
   * promotions: int→long, float→double, decimal precision growth at the
   * same scale). The field keeps its id; the table registers a NEW
   * schema-id so snapshots committed before the widen still time-travel
   * under their narrower schema. Existing data files and manifests are
   * untouched — the scan widens physical values at read time and the
   * bound codec decodes pre-widen 4-byte bounds length-aware.
   *
   * Refused for fields any known partition spec references (their
   * TYPED partition values live in immutable old manifests — the
   * uniform cross-format posture, matching the Delta/Hudi refusals so
   * a widen at any sync source is applicable at every target).
   */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Unit = {
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    // dot-path walk (nested struct fields / array elements / map values);
    // every field along the path keeps its metadata, so the widened
    // field KEEPS ITS ID — the spec's promotion contract
    var anchorId: Option[Int] = None
    val widened = graft.model.SchemaMerge.widenAt(meta.schema, name, to, tablePath) {
      (f, _, fieldPath) =>
        // a partition spec can only source a struct-field primitive
        // (fieldPath == "" ⇒ the leaf IS the struct field); container
        // elements/values are never spec sources
        if (fieldPath.isEmpty) anchorId = IcebergSchemas.fieldId(f)
        f
    }
    anchorId.foreach { fid =>
      require(!meta.allSpecs.exists(_._2.exists(_.sourceId == fid)),
        s"cannot widen $name of $tablePath: referenced by a partition spec " +
          "(typed partition values live in immutable manifests)")
    }
    graft.model.ConcurrentSyncException.check(log.commit(v + 1, meta.copy(
      schema = widened,
      currentSchemaId = meta.currentSchemaId + 1,
      olderSchemas = meta.allSchemas,
      lastUpdatedMs = System.currentTimeMillis())),
      s"concurrent iceberg commit on $tablePath")
  }

  /**
   * ALTER TABLE … WRITE ORDERED BY (spec `sort-orders` /
   * `default-sort-order-id`): register a sort order over identity
   * transforms of the named columns and make it the table's default
   * write order. Re-declaring an already-registered field list reuses
   * its order id (idempotent). With `zorder = true` the order carries
   * `graft.sort-order.<id>.kind = zorder` in the table properties: the
   * spec's transforms cannot express Morton interleaving, so the field
   * list names the clustering columns honestly and the property records
   * the interleave for engines that understand it. Returns the order id.
   */
  def replaceSortOrder(cols: Seq[String], zorder: Boolean = false): Int = {
    require(cols.nonEmpty, s"sort order on $tablePath needs at least one column")
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val fields = cols.map { c =>
      val f = meta.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c in $tablePath"))
      IcebergSortField(IcebergSchemas.fieldId(f).getOrElse(
        throw new IllegalStateException(s"field $c of $tablePath missing iceberg id")))
    }
    val existing = meta.sortOrders.find(_.fields == fields)
    val id = existing.map(_.orderId)
      .getOrElse((0 +: meta.sortOrders.map(_.orderId)).max + 1)
    val kindKey = s"graft.sort-order.$id.kind"
    val props =
      if (zorder) meta.properties + (kindKey -> "zorder")
      else meta.properties - kindKey
    if (existing.nonEmpty && meta.defaultSortOrderId == id && meta.properties == props)
      return id // already the declared default — no empty commit
    graft.model.ConcurrentSyncException.check(log.commit(v + 1, meta.copy(
      sortOrders =
        if (existing.nonEmpty) meta.sortOrders
        else meta.sortOrders :+ IcebergSortOrder(id, fields),
      defaultSortOrderId = id,
      properties = props,
      lastUpdatedMs = System.currentTimeMillis())),
      s"concurrent iceberg commit on $tablePath")
    id
  }

  /** The default sort order's column names (empty = unsorted), plus
    * whether it is a z-order clustering. */
  def defaultSortOrder(): (Seq[String], Boolean) = {
    val meta = currentMetadata
    val o = meta.sortOrders.find(_.orderId == meta.defaultSortOrderId)
      .getOrElse(IcebergSortOrder(0, Seq.empty))
    val byId = meta.schema.fields
      .flatMap(f => IcebergSchemas.fieldId(f).map(_ -> f.name)).toMap
    (o.fields.flatMap(f => byId.get(f.sourceId)),
      meta.properties.get(s"graft.sort-order.${o.orderId}.kind").contains("zorder"))
  }

  /**
   * ANALYZE: compute and register Puffin statistics for `cols` at the
   * CURRENT snapshot. One pass builds the portable 256-bucket HLL
   * registers per column (graft.functions.PortableHll — the q35
   * mergeable sketch, so registers roll up across partitions and
   * snapshots without re-reading rows), all sketches land in ONE
   * Puffin file under `metadata/`, and metadata.json's `statistics`
   * list points at it (table-spec `statistics` + the public Puffin
   * container). Each blob's `ndv` property carries the HLL estimate —
   * the cross-engine convention planners read without opening the
   * sketch bytes. The registration commit is metadata-only with a
   * typed CAS; re-analyzing the same snapshot replaces its entry.
   */
  def writeStatistics(cols: Seq[String]): IcebergStatisticsFile = {
    require(cols.nonEmpty, s"writeStatistics on $tablePath needs at least one column")
    val (_, meta0) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val snap = meta0.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no current snapshot on $tablePath"))
    val fids = cols.map { c =>
      val f = meta0.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column $c in $tablePath"))
      IcebergSchemas.fieldId(f).getOrElse(
        throw new IllegalStateException(s"field $c of $tablePath missing iceberg id"))
    }
    // ONE aggregation job over ONE table scan for ALL columns
    // (PortableHll.stackedRegisters): registers shrink to ≤ cols×256
    // rows in the map-side combine, and the estimate is driver
    // arithmetic over the collected registers — ANALYZE of a 100-TB
    // table costs one scan regardless of column count, not two jobs
    // per column
    val regsByCol = graft.functions.PortableHll.stackedRegisters(toDF(), cols)
    // an all-NULL column has zero registers and estimates ndv 0.00; the
    // blob also carries `graft.column` so consumers without stable
    // field ids (the Delta/Hudi planes) resolve carried sketches by name
    val blobs = cols.indices.map(i =>
      graft.util.StatsFiles.hllBlob(cols(i), fids(i), regsByCol.getOrElse(i, Seq.empty)))
    val statsPath = new Path(tablePath, s"metadata/${UUID.randomUUID()}.stats")
    val entry = Puffin.write(statsPath.getFileSystem(hconf), statsPath,
      snap.snapshotId, snap.sequenceNumber, blobs)
    registerStatistics(snap.snapshotId, entry)
  }

  /** Delete a statistics file ONLY when safe — the shared ownership
    * rule ([[graft.util.StatsFiles]]): no surviving entry shares the
    * path, and the file lives under THIS table's root (compared fully
    * qualified — scheme and authority included). */
  private def deleteStatsFileIfOwned(path: String, survivingPaths: Set[String]): Unit =
    graft.util.StatsFiles.deleteIfOwned(hconf, tablePath, path, survivingPaths)

  /** Adopt a sync-carried statistics file by COPYING it under this
    * table's own `metadata/` dir
    * ([[graft.util.StatsFiles.adoptIntoTracked]]),
    * so the promoted entry can never dangle when the SOURCE table
    * re-analyzes or expires the original out from under it. The
    * `created` half of the pair says THIS call placed the copy — a
    * sync losing its commit CAS deletes exactly those. */
  private def adoptCarriedFile(p: Path): Option[(Path, Boolean)] =
    graft.util.StatsFiles.adoptIntoTracked(hconf, tablePath, "metadata", p)

  /** Register a written statistics file under its snapshot (the CAS
    * half of [[writeStatistics]], separated so races are testable). */
  private[iceberg] def registerStatistics(
      snapshotId: Long, entry: IcebergStatisticsFile): IcebergStatisticsFile = {
    val fsys = new Path(entry.path).getFileSystem(hconf)
    // CAS loop: the stats file is immutable once written, so a lost
    // race just re-reads the metadata and re-registers the same entry
    var replaced: Option[String] = None
    var surviving: Set[String] = Set.empty
    var registered = false
    while (!registered) {
      val (v, meta) = log.readLatest().get
      // a concurrent expireSnapshots may have killed the analyzed
      // snapshot between the scan and this commit — registering stats
      // for a dead snapshot would orphan the file forever (expiry only
      // cleans entries of snapshots it removes), so clean up and raise
      // the typed race signal: re-running ANALYZE targets the new head
      if (!meta.snapshots.exists(_.snapshotId == snapshotId)) {
        fsys.delete(new Path(entry.path), false)
        throw new graft.model.ConcurrentSyncException(
          s"snapshot $snapshotId of $tablePath expired while ANALYZE was running")
      }
      val others = meta.statistics.filterNot(_.snapshotId == snapshotId)
      replaced = meta.statistics.find(_.snapshotId == snapshotId).map(_.path)
      surviving = others.map(_.path).toSet + entry.path
      registered = log.commit(v + 1, meta.copy(
        statistics = others :+ entry,
        lastUpdatedMs = System.currentTimeMillis()))
    }
    // a re-analyze REPLACED the snapshot's previous entry: its file is
    // unreachable from any metadata now — delete it (when owned and not
    // shared), or it is orphaned permanently (expiry only deletes files
    // of entries still registered)
    replaced.foreach(deleteStatsFileIfOwned(_, surviving))
    entry
  }

  /** The statistics entry of the CLOSEST ANALYZED ANCESTOR of a
    * snapshot (current when omitted) — the planner convention: stats
    * registered before later appends stay usable until re-analyzed. */
  def statisticsFor(snapshotId: Option[Long] = None): Option[IcebergStatisticsFile] = {
    val meta = currentMetadata
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(snapshotId.orElse(meta.currentSnapshotId))(
        _.flatMap(byId.get).flatMap(_.parentId))
      .takeWhile(_.isDefined).map(_.get)
      .flatMap(id => meta.statistics.find(_.snapshotId == id).iterator)
      .nextOption()
  }

  /** The persisted HLL register set of `column` at the current
    * snapshot's statistics file: Seq of (bucket, rho) for present
    * buckets, plus the blob's `ndv` property. */
  def statisticsRegisters(column: String): (Seq[(Int, Int)], Double) = {
    val meta = currentMetadata
    val fid = meta.schema.fields.find(_.name == column)
      .flatMap(IcebergSchemas.fieldId).getOrElse(
        throw new IllegalArgumentException(s"no column $column in $tablePath"))
    val entry = statisticsFor().getOrElse(
      throw new IllegalStateException(s"no statistics for the current snapshot of $tablePath"))
    val blob = entry.blobs.find(b =>
      b.blobType == Puffin.HllBlobType && b.fields == Seq(fid)).getOrElse(
      throw new IllegalStateException(s"no ${Puffin.HllBlobType} blob for $column"))
    val p = new Path(entry.path)
    val bytes = Puffin.blobPayload(p.getFileSystem(hconf), p, blob)
    val regs = bytes.zipWithIndex.collect { case (b, i) if b != 0 => (i, b.toInt) }.toSeq
    (regs, blob.properties("ndv").toDouble)
  }

  /**
   * ANALYZE's other half — the spec's PARTITION STATISTICS file
   * (`partition-statistics` in metadata.json, sibling of `statistics`):
   * per-partition rollups of the CURRENT snapshot's live data files in
   * ONE sorted parquet file under `metadata/`, row shape per the spec —
   * `partition` (struct over the unified partition type: every spec's
   * fields in field-id order, null where a file's spec lacks the
   * field), `spec_id`, `data_record_count`, `data_file_count`,
   * `total_data_file_size_in_bytes`, the position/equality delete
   * counters, and `last_updated_snapshot_id`. Engines read this for
   * partition-pruning estimates without touching manifests.
   *
   * Scale: manifests are read in a distributed job that elects the
   * newest entry per path by the scan's rule ([[ManifestEntry.supersedes]])
   * and reduces per (partition, spec) BEFORE the collect — the driver
   * only ever holds one row per partition, never the file list.
   */
  def writePartitionStatistics(): IcebergPartitionStatisticsFile = {
    val (_, meta0) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val snap = meta0.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no current snapshot on $tablePath"))
    // unified partition type: every known spec's fields in field-id
    // order, each typed by its TRANSFORM RESULT per the Iceberg spec —
    // identity/truncate take the source column's type, bucket and
    // year/month/hour ordinals are ints, day is a date — so a foreign
    // reader resolves typed values and the file sort is the TYPED order
    val unified: Seq[(String, DataType, Int, graft.model.PartitionFieldDef)] =
      meta0.allSpecs
        .flatMap { case (_, fields) => IcebergTable.defsForFields(meta0, fields)
          .zip(fields.map(_.fieldId)) }
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (fid, ds) =>
          val d = ds.head._1
          val dt: DataType =
            if (d.isIdentity || d.isTruncate)
              meta0.schema.fields.find(_.name == d.sourceColumn)
                .map(_.dataType).getOrElse(StringType)
            else if (d.isBucket) IntegerType
            else if (d.granularity == graft.model.TimeGranularity.Day) DateType
            else IntegerType
          (d.fieldName, dt, fid, d)
        }
    require(unified.nonEmpty,
      s"partition statistics on unpartitioned table $tablePath — nothing to roll up")
    val manifests =
      IcebergManifests.readManifestList(hconf, new Path(snap.manifestList))
    val conf = new SerializableConfiguration(hconf)
    // ((partition canonical values, spec), 7 counters) — live election
    // then rollup, all executor-side
    val rolled: Seq[(Seq[String], Int, Array[Long])] =
      if (manifests.isEmpty) Seq.empty
      else {
        val names = unified.map(_._1)
        spark.sparkContext
          .parallelize(
            manifests.map(m => (m.manifestPath, m.partitionSpecId)),
            math.min(manifests.size, 64))
          .flatMap { case (p, sid) =>
            IcebergManifests.readManifest(conf.value, new Path(p)).map((_, sid)) }
          .map { case (e, sid) => (e.filePath, (e, sid)) }
          .reduceByKey((a, b) => if (ManifestEntry.supersedes(a._1, b._1)) a else b)
          .values
          .filter { case (e, _) => e.status != ManifestEntry.StatusDeleted }
          .map { case (e, sid) =>
            val counts = e.content match {
              case ManifestEntry.ContentData =>
                Array(e.recordCount, 1L, e.fileSizeBytes, 0L, 0L, 0L, 0L)
              case ManifestEntry.ContentPositionDeletes =>
                Array(0L, 0L, 0L, e.recordCount, 1L, 0L, 0L)
              case _ =>
                Array(0L, 0L, 0L, 0L, 0L, e.recordCount, 1L)
            }
            ((names.map(n => e.partitionValues.get(n).orNull), sid), counts)
          }
          .reduceByKey((a, b) => a.zip(b).map { case (x, y) => x + y })
          .collect().toSeq
          .map { case ((vals, sid), c) => (vals, sid, c) }
      }
    // manifest value strings → transform-result JVM values: time fields
    // arrive as spec ordinals from our own writer but as date strings
    // from foreign manifests that type the day transform `date`;
    // identity values as hive strings of the source type. The parse
    // (IcebergTable.hiveLdt, shared with the estimatedRows literal
    // canonicalization) tolerates every emitted shape.
    def hiveLdt(v: String): java.time.LocalDateTime = IcebergTable.hiveLdt(v)
    def typedValue(d: graft.model.PartitionFieldDef, dt: DataType, v: String): Any =
      if (v == null) null
      else if (d.isTime) {
        if (dt == DateType) {
          // the same numeric test hiveLdt uses: a NEGATIVE epoch-day
          // ordinal ("-120", a pre-1970 day from a foreign int-typed
          // day partition) contains '-' but is not a date string
          if (v.matches("-?\\d+"))
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toLong))
          else java.sql.Date.valueOf(v)
        } else v.toInt
      } else dt match {
        case IntegerType => v.toInt
        case LongType => v.toLong
        case ShortType => v.toShort
        case ByteType => v.toByte
        case DoubleType => v.toDouble
        case FloatType => v.toFloat
        case BooleanType => v.toBoolean
        case DateType => java.sql.Date.valueOf(v)
        case TimestampType => java.sql.Timestamp.valueOf(hiveLdt(v))
        case TimestampNTZType => hiveLdt(v)
        case _: DecimalType => new java.math.BigDecimal(v)
        case _ => v
      }
    val typedRolled: Seq[(Seq[Any], Int, Array[Long])] = rolled.map {
      case (vals, sid, c) =>
        (vals.zip(unified).map { case (v, (_, dt, _, d)) => typedValue(d, dt, v) }, sid, c)
    }
    // spec: the file is SORTED by partition — by the TYPED transform
    // result values (an identity int partition orders 2 before 10;
    // nulls first), spec id breaking ties
    def cmpAny(x: Any, y: Any): Int = (x, y) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    val sorted = typedRolled.sortWith { case ((a, sa, _), (b, sb, _)) =>
      a.zip(b).iterator.map { case (x, y) => cmpAny(x, y) }
        .find(_ != 0).getOrElse(Integer.compare(sa, sb)) < 0
    }
    // the spec's parquet field IDs (1-12 on the stats schema, the
    // partition field's own id inside the struct) ride the schema so
    // engines that resolve columns BY ID can map the file
    def withId(f: StructField, id: Int): StructField = f.copy(metadata =
      new MetadataBuilder().withMetadata(f.metadata)
        .putLong("parquet.field.id", id).build())
    val schema = StructType(Seq(
      withId(StructField("partition", StructType(
        unified.map { case (n, dt, fid, _) =>
          withId(StructField(n, dt, nullable = true), fid) }), false), 1),
      withId(StructField("spec_id", IntegerType, false), 2),
      withId(StructField("data_record_count", LongType, false), 3),
      withId(StructField("data_file_count", IntegerType, false), 4),
      withId(StructField("total_data_file_size_in_bytes", LongType, false), 5),
      withId(StructField("position_delete_record_count", LongType, false), 6),
      withId(StructField("position_delete_file_count", IntegerType, false), 7),
      withId(StructField("equality_delete_record_count", LongType, false), 8),
      withId(StructField("equality_delete_file_count", IntegerType, false), 9),
      withId(StructField("last_updated_snapshot_id", LongType, false), 12)))
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] = sorted.map { case (vals, sid, c) =>
      org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(vals: _*), sid,
        c(0), c(1).toInt, c(2), c(3), c(4).toInt, c(5), c(6).toInt, snap.snapshotId)
    }.asJava
    val typed = spark.createDataFrame(rows, schema)
    // one parquet file at a stable metadata/ path: stage, then rename
    // the single part file into place
    val fsys = new Path(tablePath).getFileSystem(hconf)
    val staging = new Path(tablePath, s".pstats-${UUID.randomUUID()}")
    typed.coalesce(1).write.parquet(staging.toString)
    val part = fsys.listStatus(staging)
      .find(_.getPath.getName.endsWith(".parquet")).getOrElse(
        throw new IllegalStateException(s"partition-stats stage produced no file: $staging"))
      .getPath
    val target = new Path(tablePath,
      s"metadata/${UUID.randomUUID()}-partition-stats.parquet")
    require(fsys.rename(part, target), s"failed to place $target")
    fsys.delete(staging, true)
    val entry = IcebergPartitionStatisticsFile(
      snap.snapshotId, target.toString, fsys.getFileStatus(target).getLen)
    registerPartitionStatistics(snap.snapshotId, entry)
  }

  /** CAS half of [[writePartitionStatistics]] — same contract as
    * [[registerStatistics]]: replace-on-reanalyze (superseded file
    * deleted), typed race if the snapshot expired mid-analyze. */
  private[iceberg] def registerPartitionStatistics(
      snapshotId: Long,
      entry: IcebergPartitionStatisticsFile): IcebergPartitionStatisticsFile = {
    val fsys = new Path(entry.path).getFileSystem(hconf)
    var replaced: Option[String] = None
    var surviving: Set[String] = Set.empty
    var registered = false
    while (!registered) {
      val (v, meta) = log.readLatest().get
      if (!meta.snapshots.exists(_.snapshotId == snapshotId)) {
        fsys.delete(new Path(entry.path), false)
        throw new graft.model.ConcurrentSyncException(
          s"snapshot $snapshotId of $tablePath expired while partition ANALYZE was running")
      }
      val others = meta.partitionStatistics.filterNot(_.snapshotId == snapshotId)
      replaced = meta.partitionStatistics.find(_.snapshotId == snapshotId).map(_.path)
      surviving = others.map(_.path).toSet + entry.path
      registered = log.commit(v + 1, meta.copy(
        partitionStatistics = others :+ entry,
        lastUpdatedMs = System.currentTimeMillis()))
    }
    replaced.foreach(deleteStatsFileIfOwned(_, surviving))
    entry
  }

  /** Upper bound on the CURRENT snapshot's live data rows from the
    * manifest LIST alone (one small avro read — no manifest opens, no
    * data rows): the sum of added+existing row counts over data
    * manifests. A file deleted by a newer manifest can still be counted
    * under the manifest that added it, so this over-estimates — the safe
    * direction for a broadcast fence (a stale ANALYZE under-estimates;
    * this bound catches the growth). None on an empty table. */
  def currentRowCountUpperBound(): Option[Long] =
    currentMetadata.currentSnapshot.map { snap =>
      IcebergManifests.readManifestList(hconf, new Path(snap.manifestList))
        .filter(_.content == 0)
        .map(m => m.addedRowsCount + m.existingRowsCount).sum
    }

  /** The partition-statistics entry of the closest analyzed ancestor
    * (same planner convention as [[statisticsFor]]). */
  def partitionStatisticsFor(
      snapshotId: Option[Long] = None): Option[IcebergPartitionStatisticsFile] = {
    val meta = currentMetadata
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(snapshotId.orElse(meta.currentSnapshotId))(
        _.flatMap(byId.get).flatMap(_.parentId))
      .takeWhile(_.isDefined).map(_.get)
      .flatMap(id => meta.partitionStatistics.find(_.snapshotId == id).iterator)
      .nextOption()
  }

  /** Read a partition-statistics file back (the spec row shape). */
  def readPartitionStatistics(entry: IcebergPartitionStatisticsFile): DataFrame =
    spark.read.parquet(entry.path)

  /** Estimated live data rows in partitions matching `pred` — a filter
    * over the rollup's columns (`partition.<field>` values are TYPED
    * transform results) — answered from the registered partition-
    * statistics rollup ALONE: one KB-sized parquet read, ZERO manifest
    * opens (pinned via [[IcebergManifests.manifestReads]]). The rollup
    * describes the closest ANALYZED ancestor; when the current snapshot
    * moved past it, the estimate scales by the table's growth since
    * (the manifest-list's exact current counts — still no manifest
    * opens), so a partition grown 100× past its ANALYZE cannot be
    * silently under-costed. None when no rollup is registered —
    * callers fall back to manifest planning. At 100 TB this is the
    * difference between COSTING a partition predicate from the rollup
    * and replaying every manifest to count. */
  def estimatedRowsForPartition(pred: org.apache.spark.sql.Column): Option[Long] = {
    import org.apache.spark.sql.functions.{col, lit, sum, when}
    val meta = currentMetadata
    partitionStatisticsFor().map { e =>
      val r = readPartitionStatistics(e).agg(
        sum(when(pred, col("data_record_count")).otherwise(lit(0L))),
        sum(col("data_record_count"))).collect()(0)
      val matched = if (r.isNullAt(0)) 0L else r.getLong(0)
      val total = if (r.isNullAt(1)) 0L else r.getLong(1)
      // a sync-carried (adopted) rollup anchors at the adoption commit
      // but describes the SOURCE's analyzed rows — the `carried-`
      // marker forces the growth-scaled stale path so it can never
      // pose as a fresh fact (nor have its 0 trusted by the filtered-
      // dimension planner)
      val fresh = meta.currentSnapshotId.contains(e.snapshotId) &&
        !graft.util.StatsFiles.isCarried(e.path)
      if (fresh || total <= 0L) matched
      else {
        val current = currentRowCountUpperBound().getOrElse(total)
        if (current <= total) matched
        else math.ceil(matched.toDouble * current / total).toLong
      }
    }
  }

  /** Resolve a ref name to its snapshot id (`main` → current). */
  def refSnapshot(name: String): Long =
    if (name == "main")
      currentMetadata.currentSnapshotId.getOrElse(
        throw new IllegalStateException(s"empty iceberg table: $tablePath"))
    else currentMetadata.refs.getOrElse(name,
      throw new IllegalArgumentException(s"no ref $name on $tablePath")).snapshotId

  /** Time travel by ref name: `VERSION AS OF 'tag'` semantics. */
  def scanRef(name: String): IcebergScanBuilder = scanAsOf(refSnapshot(name))

  /** Snapshot history, newest first (the `snapshots` metadata table):
    * one row per snapshot with lineage and operation summary. */
  def history(): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    currentMetadata.snapshots.map(s =>
      (s.snapshotId, s.parentId, s.sequenceNumber, s.timestampMs, s.operation, s.summary))
      .toDF("snapshot_id", "parent_id", "sequence_number", "timestamp", "operation", "summary")
      .orderBy(col("sequence_number").desc)
  }

  /** DESCRIBE DETAIL: one row of table-level facts from the current
    * metadata — no filesystem listing. */
  def detail(): DataFrame = {
    import spark.implicits._
    val m = currentMetadata
    val data = liveEntries(None).filter(_.content == ManifestEntry.ContentData)
    Seq((
      "iceberg", m.tableUuid, tablePath, m.lastUpdatedMs,
      m.partitionSpec.map(f => s"${f.transform}(${f.name})"),
      data.size.toLong, data.map(_.fileSizeBytes).sum,
      m.properties, m.currentSnapshotId, m.lastSequenceNumber
    )).toDF("format", "id", "location", "lastUpdatedAt", "partitionSpec",
      "numFiles", "sizeInBytes", "properties", "currentSnapshotId", "lastSequenceNumber")
  }

  /** Live files of the current snapshot as a DataFrame (the `files`
    * metadata table): content kind, path, partition, counts, size. */
  def filesDF(): DataFrame = {
    import spark.implicits._
    liveEntries(None).map(e =>
      (e.content, e.filePath, e.fileFormat, e.partitionValues, e.recordCount, e.fileSizeBytes,
        e.sequenceNumber))
      .toDF("content", "file_path", "file_format", "partition", "record_count",
        "file_size_in_bytes", "sequence_number")
  }

  /** Per-partition rollup of the current snapshot (the `partitions`
    * metadata table): data record/file/byte counts plus delete-file
    * count, keyed by the hive-style partition string (sorted by field
    * name — maps can't be grouped on directly, and the canonical string
    * doubles as the human-readable key). */
  def partitionsDF(): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    liveEntries(None)
      .map(e => (
        e.partitionValues.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"),
        e.content, e.recordCount, e.fileSizeBytes))
      .toDF("partition", "content", "rc", "bytes")
      .groupBy(col("partition"))
      .agg(
        sum(when(col("content") === 0, col("rc")).otherwise(0L)).as("record_count"),
        count(when(col("content") === 0, 1)).cast("long").as("file_count"),
        sum(when(col("content") === 0, col("bytes")).otherwise(0L)).as("total_size_bytes"),
        count(when(col("content") =!= 0, 1)).cast("long").as("delete_file_count"))
      .orderBy(col("partition"))
  }

  /** The `manifests` metadata table: one row per manifest of the
    * current snapshot — the observable for [[rewriteManifests]]. */
  def manifestsDF(): DataFrame = {
    import spark.implicits._
    val snap = currentMetadata.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"empty iceberg table: $tablePath"))
    IcebergManifests.readManifestList(hconf, new Path(snap.manifestList)).map { m =>
      (m.manifestPath, m.manifestLength, m.content, m.sequenceNumber, m.minSequenceNumber,
        m.addedSnapshotId, m.addedFilesCount, m.existingFilesCount, m.deletedFilesCount,
        m.addedRowsCount, m.existingRowsCount, m.deletedRowsCount)
    }.toDF("path", "length", "content", "sequence_number", "min_sequence_number",
      "added_snapshot_id", "added_data_files_count", "existing_data_files_count",
      "deleted_data_files_count", "added_rows_count", "existing_rows_count",
      "deleted_rows_count")
  }

  def scan: IcebergScanBuilder = new IcebergScanBuilder(spark, this, None)
  def scanAsOf(snapshotId: Long): IcebergScanBuilder =
    new IcebergScanBuilder(spark, this, Some(snapshotId))
  def scanAsOfTimestamp(tsMillis: Long): IcebergScanBuilder =
    new IcebergScanBuilder(spark, this, Some(currentMetadata.snapshotForTimestamp(tsMillis).snapshotId))

  def toDF(snapshotAsOf: Option[Long] = None): DataFrame =
    (snapshotAsOf match {
      case Some(id) => scanAsOf(id)
      case None => scan
    }).toDF()

  /** All entries of the given manifests, read on the driver — the
    * per-snapshot change paths' input. */
  private def readEntries(infos: Seq[ManifestFileInfo]): Seq[ManifestEntry] =
    infos.map(_.manifestPath).distinct.flatMap(p => IcebergManifests.readManifest(hconf, new Path(p)))

  /** Live manifest entries of a snapshot, reconciled on the driver: per
    * path the [[ManifestEntry.supersedes]] winner — a carried add
    * manifest plus a later delete manifest for the same file resolves
    * to deleted. `pred` (partition pruning from the scan builder)
    * runs after reconciliation: a delete entry must cancel its add even
    * when neither matches the predicate. Sorted by path. */
  private[iceberg] def liveEntries(
      snapshotId: Option[Long],
      pred: ManifestEntry => Boolean = _ => true): Seq[ManifestEntry] = {
    val meta = currentMetadata
    val snap = snapshotId.map(meta.snapshot).orElse(meta.currentSnapshot).getOrElse(
      throw new IllegalStateException(s"empty iceberg table: $tablePath"))
    val state = scala.collection.mutable.HashMap[String, ManifestEntry]()
    readEntries(IcebergManifests.readManifestList(hconf, new Path(snap.manifestList))).foreach { e =>
      if (state.get(e.filePath).forall(cur => !ManifestEntry.supersedes(cur, e))) state(e.filePath) = e
    }
    state.valuesIterator
      .filter(e => e.status != ManifestEntry.StatusDeleted && pred(e))
      .toSeq.sortBy(_.filePath)
  }

  /**
   * Files added in snapshots after `fromSnapshotId` up to `toSnapshotId`
   * (both resolved through the snapshot log) — the incremental change
   * feed (ref `IcebergSourceClient.java:170-196` addedDataFiles).
   */
  def changesAsDF(fromSnapshotExclusive: Long, toSnapshotInclusive: Long): DataFrame = {
    val meta = currentMetadata
    val ids = meta.snapshotLog.map(_._2)
    val fromIdx = ids.indexOf(fromSnapshotExclusive)
    val toIdx = ids.indexOf(toSnapshotInclusive)
    require(fromIdx >= 0 && toIdx > fromIdx, s"bad snapshot range on $tablePath")
    val targets = ids.slice(fromIdx + 1, toIdx + 1).toSet
    val manifestInfos = ids.slice(fromIdx + 1, toIdx + 1)
      .flatMap(id => IcebergManifests.readManifestList(hconf, new Path(meta.snapshot(id).manifestList)))
      .filter(m => targets.contains(m.addedSnapshotId))
    val added = readEntries(manifestInfos)
      .filter(e => e.status == ManifestEntry.StatusAdded && targets.contains(e.snapshotId) &&
        // the change feed reports added DATA; delete files added in the
        // range are row-level tombstones, not new rows
        e.content == ManifestEntry.ContentData)
      .groupBy(_.filePath).map(_._2.head).toSeq.sortBy(_.filePath)
    readFiles(added)
  }

  /** Data read with iceberg v2 row-level deletes applied: position
    * deletes anti-join their `(file_path, pos)` pairs against the scan's
    * row positions (applicable when `delete.seq >= data.seq`); equality
    * deletes anti-match on their key columns against data files with
    * `data.seq < delete.seq` (null keys match null values, per spec). */
  /** Number of live data files — sizes the streaming source's
    * initial-snapshot chunking. */
  def snapshotFileCount(asOf: Option[Long] = None): Int =
    liveEntries(asOf).count(_.content == ManifestEntry.ContentData)

  /** Deterministic slice `chunk` of `totalChunks` over the snapshot's
    * live data files (modulo over the path-sorted entry list); every
    * chunk sees ALL delete files, so v2 deletes apply completely within
    * each chunk. The streaming source's initial-snapshot admission
    * control. */
  def snapshotChunkDF(asOf: Option[Long], chunk: Int, totalChunks: Int): DataFrame = {
    require(totalChunks > 0 && chunk >= 0 && chunk < totalChunks,
      s"bad snapshot chunk $chunk/$totalChunks")
    val (dels, data) = liveEntries(asOf).partition(_.content > 0)
    val mine = data.sortBy(_.filePath)
      .zipWithIndex.collect { case (e, i) if i % totalChunks == chunk => e }
    if (mine.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sparkSchema)
    else readEntries(mine ++ dels)
  }

  private[iceberg] def readEntries(entries: Seq[ManifestEntry]): DataFrame = {
    val (dels, data) = entries.partition(_.content > 0)
    if (dels.isEmpty) readFiles(data) else applyDeletes(data, dels)
  }

  private def applyDeletes(
      data: Seq[ManifestEntry], dels: Seq[ManifestEntry],
      /** keep __graft_file/__graft_pos/__graft_dseq (change-feed joins) */
      keepPositions: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val meta = currentMetadata
    val logical = sparkSchema
    require(meta.properties.get("schema.name-mapping.default")
        .map(IcebergSchemas.physicalNamesFromMapping).forall(_.isEmpty),
      s"v2 deletes on a column-mapped (name-mapping) table are not supported: $tablePath")
    // row positions ride the parquet reader's _metadata.row_index;
    // avro/orc data files have no position column to anti-join on
    require(data.forall(e => Option(e.fileFormat).forall(_.equalsIgnoreCase("parquet"))),
      s"v2 deletes apply to parquet data files only; $tablePath mixes formats")
    if (data.isEmpty) {
      val shape = if (!keepPositions) logical else StructType(logical.fields ++ Seq(
        StructField("__graft_file", StringType), StructField("__graft_pos", LongType),
        StructField("__graft_dseq", LongType)))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], shape)
    }
    val dataDF = readFiles(data, withRowPositions = true)
    // per-data-file sequence numbers ride a broadcast join keyed on the
    // scan's _metadata file path form
    val seqDF = spark.createDataFrame(
      data.map(e => (new Path(e.filePath).toString, e.sequenceNumber))).toDF("__graft_file", "__graft_dseq")
    var out = dataDF.join(broadcast(seqDF), Seq("__graft_file"), "left")

    val pos = dels.filter(_.content == ManifestEntry.ContentPositionDeletes)
    if (pos.nonEmpty) {
      val raw = readDeleteFiles(pos, IcebergTable.PositionDeleteSchema, positions = true)
      val delSeqDF = spark.createDataFrame(
        pos.map(e => (new Path(e.filePath).toString, e.sequenceNumber))).toDF("__graft_file", "__del_seq")
      val applicable = raw
        .join(broadcast(delSeqDF), Seq("__graft_file"))
        .select(col("file_path").as("__del_file"), col("pos").as("__del_pos"), col("__del_seq"))
      val small = pos.map(_.recordCount).sum <= 4000000L
      val right = if (small) broadcast(applicable) else applicable
      // a position delete applies when its sequence >= the data file's
      out = out.join(right,
        out("__graft_file") === right("__del_file") &&
          out("__graft_pos") === right("__del_pos") &&
          right("__del_seq") >= out("__graft_dseq"),
        "left_anti")
    }

    // equality deletes, oldest sequence first; each group is one
    // broadcast-matched filter pass
    val eqGroups = dels.filter(_.content == ManifestEntry.ContentEqualityDeletes)
      .groupBy(e => (e.sequenceNumber, e.equalityIds)).toSeq.sortBy(_._1._1)
    eqGroups.foreach { case ((seq, ids), files) =>
      val byId = logical.fields.flatMap(f =>
        IcebergSchemas.fieldId(meta.schema(f.name)).map(_ -> f)).toMap
      val cols = ids.map(id => byId.getOrElse(id,
        throw new IllegalStateException(s"equality id $id not in schema of $tablePath")).name)
      val delSchema = StructType(cols.map(c =>
        StructField(c, logical(c).dataType, nullable = true)))
      val keys = readDeleteFiles(files, delSchema)
        .distinct()
        .select(cols.map(c => col(s"`$c`").as(s"__eq_$c")).toSeq: _*)
        .withColumn("__eq_hit", lit(1))
      val cond = cols.map(c => col(s"`$c`") <=> col(s"__eq_$c")).reduce(_ && _)
      // same cardinality gate as the position-delete path: an upsert's
      // equality-delete key set is O(|source|), and broadcasting it
      // unconditionally would OOM the driver after a large upsert
      val small = files.map(_.recordCount).sum <= 4000000L
      val right = if (small) broadcast(keys) else keys
      out = out.join(right, cond, "left_outer")
        .filter(col("__eq_hit").isNull || col("__graft_dseq") >= lit(seq))
        .drop(cols.map(c => s"__eq_$c") :+ "__eq_hit": _*)
    }
    if (keepPositions)
      out.select((logical.fieldNames.toSeq ++
        Seq("__graft_file", "__graft_pos", "__graft_dseq")).map(n => col(s"`$n`")): _*)
    else out.select(logical.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
  }

  /**
   * Change data feed for snapshots in (from, to]: a snapshot's added
   * data files are `insert` rows; its added position-delete files name
   * exactly the rows they kill in the parent snapshot; its equality
   * deletes match the parent's strictly-older live rows. Output carries
   * `_change_type` and `_commit_snapshot_id`. Like the Delta twin, the
   * feed is reconstructed from metadata + the delete files themselves —
   * nothing extra is stored. Each snapshot with deletes replays its
   * parent's live set (the CDC consumption trade: short tail ranges).
   */
  def changeFeed(fromSnapshotExclusive: Long, toSnapshotInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val meta = currentMetadata
    val ids = meta.snapshotLog.map(_._2)
    val fromIdx = ids.indexOf(fromSnapshotExclusive)
    val toIdx = ids.indexOf(toSnapshotInclusive)
    require(fromIdx >= 0 && toIdx > fromIdx, s"bad snapshot range on $tablePath")
    val logical = sparkSchema
    def finish(df: DataFrame, t: String, sid: Long): DataFrame =
      df.select(logical.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
        .withColumn("_change_type", lit(t))
        .withColumn("_commit_snapshot_id", lit(sid))
    val conf = new SerializableConfiguration(hconf)
    val parts: Seq[DataFrame] = ids.slice(fromIdx + 1, toIdx + 1).flatMap { sid =>
      val snap = meta.snapshot(sid)
      val added = readEntries(
          IcebergManifests.readManifestList(hconf, new Path(snap.manifestList))
            .filter(_.addedSnapshotId == sid))
        .filter(e => e.status == ManifestEntry.StatusAdded && e.snapshotId == sid)
      val inserts = added.filter(_.content == ManifestEntry.ContentData)
      val insertDF =
        if (inserts.isEmpty) None else Some(finish(readFiles(inserts), "insert", sid))
      val newDels = added.filter(_.content > 0)
      val delDF =
        if (newDels.isEmpty) None
        else {
          // the parent's live rows, existing deletes applied, positions kept
          val parentEntries = snap.parentId.map(p => liveEntries(Some(p))).getOrElse(Seq.empty)
          val (pDels, pData) = parentEntries.partition(_.content > 0)
          var parent = applyDeletes(pData, pDels, keepPositions = true)
          val pos = newDels.filter(_.content == ManifestEntry.ContentPositionDeletes)
          val posHits =
            if (pos.isEmpty) None
            else {
              val tomb = readDeleteFiles(pos, IcebergTable.PositionDeleteSchema)
                .select(col("file_path").as("__graft_file"), col("pos").as("__graft_pos"))
              Some(parent.join(broadcast(tomb), Seq("__graft_file", "__graft_pos")))
            }
          val eqHits = newDels.filter(_.content == ManifestEntry.ContentEqualityDeletes)
            .groupBy(_.equalityIds).toSeq.map { case (eqIds, files) =>
              val byId = logical.fields.flatMap(f =>
                IcebergSchemas.fieldId(meta.schema(f.name)).map(_ -> f)).toMap
              val cols = eqIds.map(id => byId(id).name)
              val delSchema = StructType(cols.map(c =>
                StructField(c, logical(c).dataType, nullable = true)))
              val keys = readDeleteFiles(files, delSchema)
                .distinct()
                .select(cols.map(c => col(s"`$c`").as(s"__eq_$c")).toSeq: _*)
              val cond = cols.map(c => col(s"`$c`") <=> col(s"__eq_$c")).reduce(_ && _)
              parent.filter(col("__graft_dseq") < snap.sequenceNumber)
                .join(broadcast(keys), cond, "left_semi")
            }
          (posHits.toSeq ++ eqHits).reduceOption(_ unionByName _)
            .map(df => finish(df, "delete", sid))
        }
      Seq(insertDF, delDF).flatten
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val empty = StructType(logical.fields ++ Seq(
        StructField("_change_type", StringType), StructField("_commit_snapshot_id", LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    }
  }

  /** The rows of delete files in `schema`, plus `__graft_file`/`__graft_pos`
    * when `positions`. */
  private def readDeleteFiles(
      dels: Seq[ManifestEntry], schema: StructType, positions: Boolean = false): DataFrame =
    graft.sources.ManifestFileIndex.read(spark, tablePath,
      dels.map(e => graft.model.InternalDataFile(e.filePath, fileSizeBytes = e.fileSizeBytes)),
      schema, Seq.empty, withRowPositions = positions)

  private[iceberg] def readFiles(
      entries: Seq[ManifestEntry],
      withRowPositions: Boolean = false): DataFrame = {
    val meta = currentMetadata
    // only identity partition columns live in the path (and in the
    // manifest partition struct with their source type); transform
    // (hidden) partition sources are ordinary data columns in the files.
    // Under spec evolution each file's identity set is ITS spec's — an
    // old-spec file materializes the old identity column from its
    // manifest partition value while the new identity column reads from
    // the data (and vice versa), so the identity set is resolved per
    // entry from the identity fields of EVERY known spec.
    val allIdentityCols: Set[String] =
      meta.allSpecs.flatMap(_._2).filter(_.transform == "identity").map(_.name).toSet
    def identityColsOf(e: ManifestEntry): Seq[String] =
      e.partitionValues.keySet.intersect(allIdentityCols).toSeq.sorted
    val logical = sparkSchema
    // honor the table's name mapping: entries whose first listed name
    // differs from the schema name mean the parquet files speak that
    // PHYSICAL name (column-mapped sync sources) — read physically,
    // then cast back (struct casts rename nested fields positionally)
    val physByPath = meta.properties.get("schema.name-mapping.default")
      .map(IcebergSchemas.physicalNamesFromMapping).getOrElse(Map.empty)
    val out =
      if (physByPath.isEmpty) logical
      else IcebergTable.renameByPath(logical, physByPath, "")
    // decoded bounds by path, named as the relation reads the columns;
    // built only for a scan that carries a data filter
    lazy val stats = {
      val idSchema = IcebergTable.renameByPath(meta.schema, physByPath, "")
      entries.iterator.map(e => e.filePath -> IcebergTable.internalFile(e, idSchema, Nil).columnStats).toMap
    }
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logical)
    val basePath = meta.properties.getOrElse("graft.converted.from", tablePath)
    // data files may mix formats (ref FileFormat.java:26-30) and, under
    // spec evolution, identity sets; plan one relation per (format,
    // identity-set) group over the shared index machinery and union
    val phys = entries.groupBy(e =>
        (Option(e.fileFormat).getOrElse("parquet").toLowerCase, identityColsOf(e)))
      .map { case ((fmt, identityCols), group) =>
        val files = group.map(e => graft.model.InternalDataFile(e.filePath,
          fileSizeBytes = e.fileSizeBytes,
          partitionValues = e.partitionValues.filter { case (k, _) => identityCols.contains(k) }))
        graft.sources.ManifestFileIndex.read(spark, basePath, files, out, identityCols, fmt,
          withRowPositions, f => stats.getOrElse(f.physicalPath, Seq.empty))
      }
      .reduce(_ unionByName _)
    if (physByPath.isEmpty) phys
    else phys.select(out.fields.zip(logical.fields).map { case (pf, lf) =>
      org.apache.spark.sql.functions.col(s"`${pf.name}`")
        .cast(IcebergTable.stripMeta(lf.dataType)).as(lf.name)
    }.toSeq: _*)
  }

  // ---------------------------------------------------------------- writes

  /** `commitProps` land in table properties atomically with the commit
    * (streaming sink batch tracking). */
  def append(df: DataFrame, partitionColumns: Seq[String] = Seq.empty,
      commitProps: Map[String, String] = Map.empty): Long =
    write(df, partitionColumns, overwrite = false, commitProps = commitProps)

  /**
   * Write-audit-publish, step 1: append onto a BRANCH — `main` readers
   * see nothing, the branch stacks on its own head (or main's, when
   * fresh). Audit via [[scanRef]], publish via [[fastForward]], discard
   * via [[dropRef]] — the WAP workflow production pipelines run so
   * unvalidated data is never visible to consumers.
   */
  def appendToBranch(df: DataFrame, branch: String,
      partitionColumns: Seq[String] = Seq.empty): Long =
    write(df, partitionColumns, overwrite = false, toBranch = Some(branch))

  /**
   * Write-audit-publish, step 2: fast-forward `main` to a branch head.
   * Requires the branch to be a DESCENDANT of the current snapshot
   * (pure fast-forward — diverged branches need a rebase/cherry-pick,
   * which this engine does not fabricate silently).
   */
  def fastForward(branch: String): Unit = {
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    if (!fastForwardCommit(v, meta, branch))
      // for a DIRECT caller a lost slot is a concurrent commit — typed,
      // never classified by message text (graft-wide race posture)
      throw new graft.model.ConcurrentSyncException(
        s"concurrent iceberg commit on $tablePath: fastForward($branch) lost its version slot")
  }

  /** Validate-and-commit step of [[fastForward]] against an ALREADY-read
    * `(version, metadata)` pair: returns false on a lost version slot (a
    * concurrent commit — the caller re-reads and re-analyzes), throws on
    * a genuinely non-fast-forwardable branch. publishBranch calls this
    * with its analysis snapshot so a raced main is a structural `false`,
    * not an exception classified by message text. */
  private def fastForwardCommit(v: Long, meta: IcebergTableMetadata, branch: String): Boolean = {
    val head = meta.refs.getOrElse(branch,
      throw new IllegalArgumentException(s"no ref $branch on $tablePath"))
    require(head.refType == "branch", s"$branch is a ${head.refType}; only branches publish")
    // walk parents from the branch head down to main's current snapshot;
    // the walk ends (rather than throwing) at an expired ancestor — the
    // chain below main's head is legitimately expirable history
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val chain = Iterator.iterate(Option(head.snapshotId))(
        _.flatMap(byId.get).flatMap(_.parentId))
      .takeWhile(_.isDefined).map(_.get).toSeq
    meta.currentSnapshotId.foreach { cur =>
      require(chain.contains(cur),
        s"branch $branch does not descend from the current snapshot of " +
          s"$tablePath — not a fast-forward")
    }
    val now = System.currentTimeMillis()
    // the published lineage (main..branch head, oldest first) joins the
    // snapshot log, so time travel walks the published history
    val newLineage = chain
      .takeWhile(id => !meta.currentSnapshotId.contains(id)).reverse
    log.commit(v + 1, meta.copy(
      currentSnapshotId = Some(head.snapshotId),
      snapshotLog = meta.snapshotLog ++ newLineage.map((now, _)),
      lastUpdatedMs = now))
  }

  /**
   * Publish a branch onto main even when main has ADVANCED since the
   * branch forked — the WAP case fastForward refuses. Fast-forwards
   * when possible; otherwise CHERRY-PICKS: each branch-only snapshot is
   * re-committed onto the current main head, oldest first, as a
   * metadata-only append of the same data files (Iceberg's cherry-pick
   * semantics). Refuses on true conflicts: a branch snapshot that
   * removes or rewrites files cannot replay safely over a moved main.
   * The branch ref ends up at the new main head.
   */
  def publishBranch(branch: String): Unit = {
    // analyze-commit-reanalyze loop: the ancestry/conflict analysis is
    // only valid against the metadata the commit actually lands on, so
    // each cherry-pick commits ONE snapshot and then re-reads. A main
    // commit racing in makes that syncCommit throw (its CAS is
    // fail-loud) — caught here, and the whole analysis re-runs against
    // the moved main. Because a cherry-pick mints a NEW snapshot id,
    // progress is tracked by FILE CONTENT, not ancestry: a branch
    // snapshot whose added files are all live on main is already
    // published and drops out, so a retry never duplicates rows.
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 16,
        s"publishBranch($branch) on $tablePath lost the commit race $attempts times")
      val (v0, meta) = log.readLatest().getOrElse(
        throw new IllegalStateException(s"not an iceberg table: $tablePath"))
      val head = meta.refs.getOrElse(branch,
        throw new IllegalArgumentException(s"no ref $branch on $tablePath"))
      require(head.refType == "branch", s"$branch is a ${head.refType}; only branches publish")
      val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
      def chainFrom(id: Long): Seq[Long] =
        Iterator.iterate(Option(id))(_.flatMap(byId.get).flatMap(_.parentId))
          .takeWhile(_.isDefined).map(_.get).toSeq
      val chain = chainFrom(head.snapshotId)
      // every CAS loss below is TYPED (graft.model.ConcurrentSyncException
      // from syncCommit/createBranch, a structural `false` from
      // fastForwardCommit) — the classifier is the type, never message
      // text, so a reworded error can't silently break the retry loop
      val concurrentCommit: PartialFunction[Throwable, Unit] = {
        case _: graft.model.ConcurrentSyncException => ()
      }
      if (meta.currentSnapshotId.forall(chain.contains)) {
        // fast-forwardable against THIS metadata; commit against the
        // SAME analyzed (version, meta) — a competitor landing after the
        // read loses us the slot, which returns false: a lost race, not
        // an error — re-analyze (the branch may no longer descend)
        if (fastForwardCommit(v0, meta, branch)) return
      } else {
        // main history = the parent-chain walk UNION the snapshot log:
        // expiry may retire mid-chain main snapshots (breaking the walk
        // at the current head's first expired parent) while the branch's
        // fork-point snapshot stays pinned and LIVE — the log still
        // records it as published main history, so it must never become
        // a cherry-pick candidate
        val mainAncestry = meta.currentSnapshotId.map(chainFrom(_).toSet).getOrElse(Set.empty) ++
          meta.snapshotLog.map(_._2)
        val candidates = chain.takeWhile(!mainAncestry(_)).reverse // oldest first
        // validate the WHOLE lineage before committing any of it
        candidates.foreach { id =>
          val snap = byId.getOrElse(id, throw new IllegalStateException(
            s"branch $branch references expired snapshot $id on $tablePath"))
          require(snap.operation == "append",
            s"cannot cherry-pick branch $branch of $tablePath: snapshot $id is a " +
              s"'${snap.operation}', not an append — main advanced since the fork, and " +
              "replaying a rewrite could drop or resurrect rows; rebase the branch instead")
        }
        // positively-tracked publications survive any later main rewrite
        // AND snapshot expiry: summary markers live on main snapshots
        // (which expireSnapshots may retire), so the same ids also
        // accumulate in an expiry-proof TABLE property — the union is
        // the published set
        val published: Set[Long] = meta.snapshots
          .flatMap(_.summary.get(IcebergTable.CherryPickedFromKey))
          .flatMap(x => scala.util.Try(x.toLong).toOption).toSet ++
          IcebergTable.cherryPickedIds(meta)
        val mainLive: Set[String] =
          liveEntries(None).map(e => new Path(e.filePath).toUri.toString).toSet
        val pending = candidates.filterNot(published)
          .map(id => id -> changeSet(id)).filterNot {
          case (_, (adds, _)) =>
            adds.nonEmpty && adds.forall(f =>
              mainLive.contains(new Path(f.physicalPath).toUri.toString))
        }
        pending.foreach { case (id, (_, removes)) =>
          require(removes.isEmpty,
            s"cannot cherry-pick branch $branch of $tablePath: snapshot $id removes " +
              s"${removes.size} files — not replayable over an advanced main")
        }
        val defs = IcebergTable.defsOf(meta).map(_.spec)
        try {
          // each pick's commit ATOMICALLY extends the expiry-proof id
          // property with everything published so far + itself, so a
          // crash or race between picks never loses provenance
          var publishedIds = published
          pending.foreach { case (id, (adds, _)) =>
            publishedIds += id
            syncCommit(sparkSchema, defs, dataRoot, adds, Seq.empty,
              Map(IcebergTable.CherryPickedIdsProp ->
                publishedIds.toSeq.sorted.mkString(",")),
              extraSummary = Map(IcebergTable.CherryPickedFromKey -> id.toString))
          }
          createBranch(branch) // re-point the published branch at the new head
          return
        } catch concurrentCommit // lost a race mid-lineage: re-analyze, resume
      }
    }
  }

  /** Logical overwrite; old snapshots stay time-travelable. */
  def overwrite(df: DataFrame, partitionColumns: Seq[String] = Seq.empty,
      commitProps: Map[String, String] = Map.empty): Long =
    write(df, partitionColumns, overwrite = true, commitProps = commitProps)

  /** Read side of `commitProps`. */
  def tableProperty(key: String): Option[String] =
    log.readLatest().flatMap(_._2.properties.get(key))

  /**
   * Bin-packing small-file compaction — iceberg's `replace` snapshot
   * operation: partitions with ≥2 files under `smallFileBytes` get
   * those files rewritten into ~`targetFileBytes` outputs, removed and
   * re-added atomically; prior snapshots stay time-travelable. `sortBy`
   * range-clusters the rewrite so manifest bounds skipping bites.
   * Returns the committed version, or None when nothing qualifies.
   */
  def compact(
      targetFileBytes: Long = 128L << 20,
      smallFileBytes: Long = 32L << 20,
      sortBy: Seq[String] = Seq.empty,
      /** Morton-interleave these columns for multi-dim skipping
        * (graft.util.ZOrder); takes precedence over sortBy. */
      zorderBy: Seq[String] = Seq.empty): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val live = liveEntries(None)
    val (dels, dataLive) = live.partition(_.content > 0)
    val smalls = dataLive.groupBy(_.partitionValues).values.flatMap { g =>
      val s = g.filter(_.fileSizeBytes < smallFileBytes)
      if (s.size >= 2) s else Seq.empty
    }.toSeq
    if (smalls.isEmpty) return None
    // delete-aware rewrite: compacted output materializes the deletes;
    // leftover delete files become inert (their targets are gone or
    // their sequence no longer outranks the rewritten files)
    val df = readEntries(smalls ++ dels)
    val n = math.max(1, math.ceil(smalls.map(_.fileSizeBytes).sum.toDouble / targetFileBytes).toInt)
    val partCols = log.readLatest().toSeq
      .flatMap(p => IcebergTable.defsOf(p._2)).filter(_.isIdentity).map(_.fieldName)
    // a sorted/z-ordered rewrite DECLARES its layout in the table
    // metadata (spec sort-orders + default-sort-order-id) before the
    // rewrite commits, so downstream writers and engines see the order
    if (zorderBy.nonEmpty) replaceSortOrder(zorderBy, zorder = true)
    else if (sortBy.nonEmpty) replaceSortOrder(sortBy)
    val arranged =
      if (zorderBy.nonEmpty) graft.util.ZOrder.arrange(df, zorderBy, n)
      else if (sortBy.nonEmpty)
        df.repartitionByRange(n, sortBy.map(col): _*).sortWithinPartitions(sortBy.map(col): _*)
      else if (partCols.nonEmpty) df.repartition(n, partCols.map(col): _*)
      else df.repartition(n)
    Some(write(arranged, Seq.empty, overwrite = false,
      replacing = smalls, consumedDeletes = dels))
  }

  /**
   * Merge-on-read row-level DELETE (iceberg v2 position deletes): rows
   * matching `predicate` are recorded as `(file_path, pos)` tombstones
   * in sorted position-delete parquet — no data file is rewritten. On a
   * partitioned table the delete files are written partition-scoped, so
   * partition pruning skips them together with their data. Returns the
   * new snapshot id (the current one when nothing matched).
   */
  def deleteWhere(predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    // pin the state the tombstones are derived AGAINST: committing on a
    // re-read parent would let a concurrent rewrite land in between and
    // leave these position deletes pointing at replaced files — inert,
    // silently resurrecting the rows (no version conflict would fire)
    val prevState = this.log.readLatest()
    val meta = prevState.map(_._2).getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val current = meta.currentSnapshotId.getOrElse(
      throw new IllegalStateException(s"empty iceberg table: $tablePath"))
    val data = liveEntries(None).filter(_.content == ManifestEntry.ContentData)
    if (data.isEmpty) return current
    require(data.forall(e => Option(e.fileFormat).forall(_.equalsIgnoreCase("parquet"))),
      s"position deletes need parquet row indexes; $tablePath has non-parquet data files")
    // PHYSICAL rows: re-marking an already position-deleted row is
    // idempotent (both tombstones resolve to the same position)
    val dataDF = readFiles(data, withRowPositions = true)
    val matched = dataDF.filter(predicate).select(
      col("__graft_file").as("file_path"), col("__graft_pos").as("pos"))
    val defs = IcebergTable.defsOf(meta)
    val identityCols = defs.filter(_.isIdentity).map(_.fieldName)
    val withPart =
      if (identityCols.isEmpty) matched
      else {
        // partition-scope each tombstone with its target file's partition
        val partSchema = StructType(StructField("file_path", StringType) +:
          identityCols.map(c => StructField(s"__p_$c", StringType)))
        val partRows = data.map(e => org.apache.spark.sql.Row.fromSeq(
          new Path(e.filePath).toString +:
            identityCols.map(c => e.partitionValues.get(c).orNull)))
        val partDF = spark.createDataFrame(
          spark.sparkContext.parallelize(partRows.toSeq, 1), partSchema)
        matched.join(broadcast(partDF), Seq("file_path"))
          .select(col("file_path") +: col("pos") +:
            identityCols.map(c => col(s"__p_$c").as(c)): _*)
      }
    // the spec fixes the delete-file layout: rows sorted by (file_path,
    // pos), columns stamped with the reserved field ids
    val sorted = withPart
      .repartitionByRange(math.max(1, data.size / 100), col("file_path"), col("pos"))
      .sortWithinPartitions(col("file_path"), col("pos"))
    def reserved(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val stamped = sorted.select(
      col("file_path").as("file_path", reserved(2147483546L)) +:
        col("pos").as("pos", reserved(2147483545L)) +:
        identityCols.map(c => col(s"`$c`")): _*)
    val newFiles = StagedWrites.writeAndPlace(stamped, tablePath, identityCols)
    val stats = ParquetFooterStats.collect(spark, newFiles)
    if (stats.map(_.recordCount).sum == 0L) {
      val fsys = new Path(tablePath).getFileSystem(hconf)
      newFiles.foreach(f => fsys.delete(new Path(f), false))
      return current
    }
    val entries = stats.map(st =>
      IcebergTable.entryFor(st, meta.schema, defs, tablePath)
        .copy(content = ManifestEntry.ContentPositionDeletes))
    commitSnapshot(prevState, meta.schema, defs, entries, Seq.empty,
      carryPrevious = true, operation = "delete",
      extraProps = Map.empty)
      .getOrElse(throw new graft.model.ConcurrentSyncException(
        s"concurrent commit detected on $tablePath; re-run deleteWhere"))
  }

  /**
   * Equality deletes (iceberg v2 content=2): every table row matching a
   * row of `keys` on the key columns is deleted — the upsert/CDC shape.
   * Written as one global (unpartitioned) delete file set; applies to
   * data files with a strictly older sequence number. Null key values
   * match null columns, per spec.
   */
  /** Align a batch's column widths to the DECLARED schema: narrower
    * values up-cast losslessly — delete/key files must carry the
    * declared widths, because the reader's delete-file schema and the
    * manifest bound encoding both follow the table schema — and a
    * batch WIDER than a declared column refuses, directing an explicit
    * widenColumn first (the mirror of HudiTable.upsert's alignment). */
  private def alignToDeclared(
      df: DataFrame, declared: StructType, context: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(df.columns.map { c =>
      declared.fields.find(_.name == c) match {
        case Some(f) if df.schema(c).dataType.catalogString != f.dataType.catalogString =>
          val bt = df.schema(c).dataType
          if (graft.model.SchemaMerge.widens(bt, f.dataType))
            col(s"`$c`").cast(f.dataType).as(c)
          else throw new IllegalArgumentException(
            s"$context batch column $c is ${bt.simpleString} but $tablePath " +
              s"declares ${f.dataType.simpleString}; widen the table first " +
              "(widenColumn) or align the batch")
        case _ => col(s"`$c`")
      }
    }.toIndexedSeq: _*)
  }

  def deleteByEquality(keys: DataFrame): Long = {
    // pinned like deleteWhere: equality deletes are value-based and
    // would survive a racing rewrite, but committing against the read
    // state keeps the concurrency contract uniform (losers retry)
    val prevState = log.readLatest()
    val meta = prevState.map(_._2).getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val current = meta.currentSnapshotId.getOrElse(
      throw new IllegalStateException(s"empty iceberg table: $tablePath"))
    val schemaByName = meta.schema.fields.map(f => f.name -> f).toMap
    val ids = keys.schema.fieldNames.toSeq.map { n =>
      val f = schemaByName.getOrElse(n,
        throw new IllegalArgumentException(s"unknown equality column $n on $tablePath"))
      IcebergSchemas.fieldId(f).get
    }
    val defs = IcebergTable.defsOf(meta)
    val newFiles = StagedWrites.writeAndPlace(
      alignToDeclared(keys, meta.schema, "deleteByEquality").distinct(), tablePath, Seq.empty)
    val stats = ParquetFooterStats.collect(spark, newFiles)
    if (stats.map(_.recordCount).sum == 0L) {
      val fsys = new Path(tablePath).getFileSystem(hconf)
      newFiles.foreach(f => fsys.delete(new Path(f), false))
      return current
    }
    val entries = stats.map(st =>
      IcebergTable.entryFor(st, meta.schema, defs, tablePath)
        .copy(content = ManifestEntry.ContentEqualityDeletes, equalityIds = ids))
    commitSnapshot(prevState, meta.schema, defs, entries, Seq.empty,
      carryPrevious = true, operation = "delete", extraProps = Map.empty)
      .getOrElse(throw new graft.model.ConcurrentSyncException(
        s"concurrent commit detected on $tablePath; re-run deleteByEquality"))
  }

  /**
   * Upsert in ONE snapshot (the Flink-CDC merge-on-read shape): an
   * equality-delete file on `keyCols` tombstones every older row whose
   * key appears in `df`, and `df`'s rows land as new data files — both
   * at the same sequence number, so the strict `<` applicability rule
   * makes the deletes hit exactly the pre-upsert files. No read or
   * rewrite of existing data at all: a pure O(|df|) commit. `df` must
   * be key-unique (Spark MERGE's multiple-match contract): duplicate
   * keys would all land as new rows.
   */
  def upsert(df: DataFrame, keyCols: Seq[String]): Long = {
    val meta = currentMetadata
    if (meta.currentSnapshotId.isEmpty) return append(df)
    val schemaByName = meta.schema.fields.map(f => f.name -> f).toMap
    val ids = keyCols.map { n =>
      val f = schemaByName.getOrElse(n,
        throw new IllegalArgumentException(s"unknown key column $n on $tablePath"))
      IcebergSchemas.fieldId(f).get
    }
    val defs = IcebergTable.defsOf(meta)
    val keyFiles = StagedWrites.writeAndPlace(
      alignToDeclared(
        df.select(keyCols.map(c => org.apache.spark.sql.functions.col(s"`$c`")): _*),
        meta.schema, "upsert").distinct(),
      tablePath, Seq.empty)
    val keyStats = ParquetFooterStats.collect(spark, keyFiles)
    val delEntries = keyStats.filter(_.recordCount > 0).map(st =>
      IcebergTable.entryFor(st, meta.schema, defs, tablePath)
        .copy(content = ManifestEntry.ContentEqualityDeletes, equalityIds = ids))
    write(df, Seq.empty, overwrite = false, extraAdds = delEntries,
      operationOverride = Some("overwrite"))
  }

  /** Materialize all v2 deletes: rewrite exactly the data files they
    * still apply to (deletes applied), drop every delete file, one
    * commit — after which metadata-only sync is possible again. */
  def purgeDeletes(): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val all = liveEntries(None)
    val dels = all.filter(_.content > 0)
    if (dels.isEmpty) return None
    val data = all.filter(_.content == ManifestEntry.ContentData)
    val pos = dels.filter(_.content == ManifestEntry.ContentPositionDeletes)
    val posTargets: Set[String] =
      if (pos.isEmpty) Set.empty
      else {
        readDeleteFiles(pos, StructType(Seq(StructField("file_path", StringType))))
          .distinct().collect().map(_.getString(0)).toSet
      }
    val maxEqSeq = dels.filter(_.content == ManifestEntry.ContentEqualityDeletes)
      .map(_.sequenceNumber).maxOption.getOrElse(Long.MinValue)
    val affected = data.filter(e =>
      posTargets.contains(new Path(e.filePath).toString) ||
        e.sequenceNumber < maxEqSeq)
    val df = applyDeletes(affected, dels)
    Some(write(df, Seq.empty, overwrite = false,
      replacing = affected ++ dels, consumedDeletes = dels))
  }

  private[iceberg] def write(
      df: DataFrame,
      partitionSpecsIn: Seq[String],
      overwrite: Boolean,
      /** Entries compacted away in the same snapshot (data and/or
        * delete files), exactly as the rewrite READ them. */
      replacing: Seq[ManifestEntry] = Seq.empty,
      /** Delete-file entries whose effects the rewrite materialized;
        * the conflict check aborts if OTHER delete files that could
        * target the replaced data appeared since. */
      consumedDeletes: Seq[ManifestEntry] = Seq.empty,
      commitProps: Map[String, String] = Map.empty,
      /** Pre-built entries committed atomically with the data (upsert's
        * equality-delete files). */
      extraAdds: Seq[ManifestEntry] = Seq.empty,
      operationOverride: Option[String] = None,
      toBranch: Option[String] = None): Long = {
    val prev = log.readLatest()
    // inherit the table's partition spec when the caller doesn't repeat
    // it; a mismatching explicit spec is an error, never a silent wipe
    val defs = (prev.map(p => IcebergTable.defsOf(p._2)),
        graft.model.PartitionTransform.parseAll(partitionSpecsIn)) match {
      case (Some(existing), parsed) if parsed.isEmpty => existing
      case (Some(existing), parsed) =>
        require(existing.map(d => (d.fieldName, d.transform)) ==
          parsed.map(d => (d.fieldName, d.transform)),
          s"partition spec $partitionSpecsIn != table spec of $tablePath")
        parsed
      case (None, parsed) => parsed
    }
    // evolve rather than inherit: an appended DataFrame with new columns
    // produces a new schema entry with stable ids for matching fields
    // (was: silent drop of the changed schema)
    val idSchema = prev match {
      case Some((_, m)) => IcebergSchemas.evolveSchema(m.schema, df.schema, m.lastColumnId)
      case None => IcebergSchemas.assignFieldIds(df.schema)
    }
    // hidden partitioning: transform fields materialize only as
    // directory names; the table schema stays the source schema
    val genDefs = defs.filterNot(_.isIdentity)
    val dfWithGen = genDefs.foldLeft(df)((d, t) =>
      d.withColumn(t.fieldName, graft.model.PartitionTransform.valueExpr(t)))
    // stamp iceberg ids into the parquet footers (parquet.field.id) so
    // id-based readers resolve columns without the name mapping; the
    // enriched target keeps dfWithGen's column order and the transform
    // columns (which land as directory names, never in the files).
    // NOTE: explicit-metadata aliases, not Dataset.to — a metadata-only
    // Project gets collapsed by the optimizer before the file write and
    // the ids never reach the footer
    val enrichedByName = IcebergSchemas.withParquetFieldIds(idSchema)
      .fields.map(f => f.name -> f).toMap
    val stamped = dfWithGen.select(dfWithGen.schema.fields.map { f =>
      enrichedByName.get(f.name) match {
        case Some(e) =>
          val c = if (e.dataType == f.dataType) org.apache.spark.sql.functions.col(f.name)
                  else org.apache.spark.sql.functions.col(f.name).cast(e.dataType)
          c.as(f.name, e.metadata)
        case None => org.apache.spark.sql.functions.col(f.name)
      }
    }.toSeq: _*)
    val newFiles = StagedWrites.writeAndPlace(stamped, tablePath, defs.map(_.fieldName))
    val stats = ParquetFooterStats.collect(spark, newFiles)
    val entries = stats.map(st =>
      IcebergTable.entryFor(st, idSchema, defs, tablePath))
    // Optimistic-concurrency loop: losing the put-if-absent race
    // re-derives snapshot-dependent state (parent, sequence number,
    // removes) against the racer's metadata and retries. The staged
    // parquet carries field ids from THIS writer's schema resolution —
    // a racer that concurrently evolved the schema INCOMPATIBLY would
    // invalidate those footers, so that (rare) case aborts TYPED
    // (re-running the append restages under the new schema); a racer
    // that merely WIDENED columns did not invalidate anything — the
    // staged files keep their ids and their narrower physical type is
    // exactly the legal pre-widen-file state — so the rebase adopts
    // the racer's wide schema. Same-schema races (the common case)
    // always rebase.
    var commitSchema = idSchema
    var attempt = 0
    var prevState = prev
    var result = -1L
    while (result < 0) {
      attempt += 1
      val removes =
        if (overwrite && prevState.exists(_._2.currentSnapshotId.nonEmpty)) liveEntries(None)
        else if (replacing.nonEmpty) {
          val rs = replacing.map(_.filePath).toSet
          val live = liveEntries(None)
          val liveReplaced = live.filter(e => rs.contains(e.filePath))
          require(liveReplaced.size == rs.size,
            s"compaction conflict at $tablePath: a concurrent commit removed " +
              "files this replace rewrote")
          // RewriteFiles-style validation: a delete file committed AFTER
          // the rewrite read its inputs still targets the replaced data
          // (its sequence outranks theirs), but would be inert against
          // the rewritten output — committing would resurrect those
          // rows. Position deletes are partition-scoped; equality
          // deletes can be global, so an empty-partition delete entry
          // conflicts with everything.
          val consumed = consumedDeletes.map(_.filePath).toSet
          val replacedParts = replacing
            .filter(_.content == ManifestEntry.ContentData)
            .map(_.partitionValues).toSet
          val racing = live.filter(e => e.content > 0 &&
            !consumed.contains(e.filePath) &&
            (e.partitionValues.isEmpty || replacedParts.isEmpty ||
              replacedParts.contains(e.partitionValues)))
          require(racing.isEmpty,
            s"replace conflict at $tablePath: concurrent row-level deletes " +
              s"(${racing.map(_.filePath).take(3).mkString(", ")}) target files " +
              "this rewrite consumed; re-run the compaction")
          liveReplaced
        } else Seq.empty
      commitSnapshot(prevState, commitSchema, defs, entries ++ extraAdds, removes,
        carryPrevious = !overwrite,
        operationOverride.getOrElse(
          if (overwrite) "overwrite" else if (replacing.nonEmpty) "replace" else "append"),
        commitProps, toBranch = toBranch) match {
        case Some(snapshotId) => result = snapshotId
        case None =>
          graft.model.ConcurrentSyncException.check(attempt < 10,
            s"concurrent commit contention at $tablePath: 10 attempts lost the race")
          // jittered backoff de-synchronizes lockstep racers
          Thread.sleep(scala.util.Random.nextInt(20 * attempt) + 1L)
          prevState = log.readLatest()
          val fresh = prevState match {
            case Some((_, m)) => IcebergSchemas.evolveSchema(m.schema, df.schema, m.lastColumnId)
            case None => IcebergSchemas.assignFieldIds(df.schema)
          }
          if (fresh.json != commitSchema.json) {
            if (IcebergTable.widensOnly(commitSchema, fresh))
              commitSchema = fresh // racer widened; staged files stay legal
            else throw new graft.model.ConcurrentSyncException(
              s"concurrent schema evolution at $tablePath: staged parquet field " +
                "ids no longer match the table schema; retry the write")
          }
          if (IcebergTable.defsOf(prevState.get._2)
              .map(d => (d.fieldName, d.transform)) != defs.map(d => (d.fieldName, d.transform)))
            throw new graft.model.ConcurrentSyncException(
              s"partition spec changed concurrently at $tablePath")
      }
    }
    result
  }

  /**
   * Commit protocol: write adds manifest + (for overwrite) a delete
   * manifest recording previously-live files, build the new manifest
   * list, then put-if-absent the next `vN.metadata.json` — losing the
   * race returns None so callers can re-derive state and retry (write's
   * optimistic loop) or abort (single-writer sync), while data files
   * are never shared between writers (staged placement).
   */
  private def commitSnapshot(
      prev: Option[(Long, IcebergTableMetadata)],
      idSchema: StructType,
      defs: Seq[graft.model.PartitionFieldDef],
      adds: Seq[ManifestEntry],
      removes: Seq[ManifestEntry],
      carryPrevious: Boolean,
      operation: String,
      extraProps: Map[String, String],
      /** logical dot-path → physical parquet name (column-mapped sync
        * sources); rides the name mapping so readers resolve the files */
      physicalNames: Map[String, String] = Map.empty,
      /** branch write (WAP): the commit's parent is the BRANCH head,
        * `main` does not move, and the branch ref advances — readers of
        * the table see nothing until [[fastForward]] publishes. */
      toBranch: Option[String] = None,
      /** extra snapshot-summary entries (cherry-pick provenance). */
      extraSummary: Map[String, String] = Map.empty,
      /** a Puffin statistics entry to register ANCHORED AT THIS commit
        * (its snapshotId field is re-stamped) — the sync plane's stats
        * carry-through; the file itself may be source-owned/shared. */
      registerStats: Option[IcebergStatisticsFile] = None,
      /** the partition-statistics sibling, same re-anchoring contract. */
      registerPStats: Option[IcebergPartitionStatisticsFile] = None): Option[Long] = {
    toBranch.foreach { b =>
      require(b != "main", "`main` is the table itself; append directly")
      prev.foreach { case (_, m) => m.refs.get(b).foreach(r => require(
        r.refType == "branch", s"ref $b on $tablePath is a ${r.refType}, not a branch")) }
    }
    val now = System.currentTimeMillis()
    val snapshotId = math.abs(UUID.randomUUID().getLeastSignificantBits)
    val seq = prev.map(_._2.lastSequenceNumber + 1).getOrElse(1L)
    // a changed schema gets a new schema-id (evolution commit)
    val schemaId = prev.map { case (_, m) =>
      if (m.schema.json != idSchema.json) m.currentSchemaId + 1 else m.currentSchemaId
    }.getOrElse(0)
    // partition-spec evolution: a commit whose (source, transform) field
    // list differs from the previous default spec registers a NEW spec
    // id; fields identical to a previously-known spec field KEEP that
    // field's id (the spec's reuse rule), new fields continue from
    // last-partition-id
    val (specId, specFields) = {
      val proposed = IcebergTable.specFor(idSchema, defs)
      prev.map(_._2) match {
        case None => (0, proposed)
        case Some(m) =>
          def key(f: IcebergPartitionFieldSpec) = (f.sourceId, f.transform, f.name)
          val knownIds = m.allSpecs.flatMap(_._2).map(f => key(f) -> f.fieldId).toMap
          if (proposed.map(key) == m.partitionSpec.map(key)) (m.defaultSpecId, m.partitionSpec)
          else m.allSpecs.find(_._2.map(key) == proposed.map(key)) match {
            case Some((id, fields)) => (id, fields) // back to a retired spec
            case None =>
              var nextId = (999 +: m.allSpecs.flatMap(_._2.map(_.fieldId))).max
              val reconciled = proposed.map { f =>
                knownIds.get(key(f)) match {
                  case Some(id) => f.copy(fieldId = id)
                  case None => nextId += 1; f.copy(fieldId = nextId)
                }
              }
              ((m.allSpecs.map(_._1).max + 1), reconciled)
          }
      }
    }
    // transform partition fields store ordinal ints (Iceberg spec:
    // year/month/day/hour result type is int); identity stores the
    // source type
    val partFieldTypes = specFields.map { f =>
      val sf = idSchema.fields.find(x => IcebergSchemas.fieldId(x).contains(f.sourceId)).get
      // identity and truncate[W] store the source type; time transforms
      // and bucket[N] store the spec's int ordinal/bucket
      val dt =
        if (f.transform == "identity" || f.transform.startsWith("truncate[")) sf.dataType
        else IntegerType
      (f.name, dt, f.fieldId)
    }
    val entrySchema = IcebergManifests.entrySchema(partFieldTypes)
    val metaDir = log.metadataDir
    // header properties Iceberg's ManifestReader requires alongside
    // format-version/content
    val manifestHeaders = Map(
      "schema" -> IcebergSchemas.toJson(idSchema, schemaId).toString,
      "partition-spec" -> IcebergMetadataCodec.specJson(specFields, specId),
      "partition-spec-id" -> specId.toString)

    val stamped = adds.map(_.copy(snapshotId = snapshotId, sequenceNumber = seq))
    // a manifest holds either data files or delete files, never both
    // (spec: manifest-list `content`); a mixed commit (upsert = equality
    // deletes + new data in ONE snapshot) writes one manifest per kind
    val addManifests: Seq[ManifestFileInfo] = PhaseTimer.time("iceberg:manifest-write") {
      val groups =
        if (stamped.isEmpty) Seq(0 -> Seq.empty[ManifestEntry]) // removes-only commit
        else stamped.groupBy(e => if (e.content > 0) 1 else 0).toSeq.sortBy(_._1)
      groups.map { case (content, group) =>
        val addManifest = new Path(metaDir, s"${UUID.randomUUID()}-m0-c$content.avro")
        val addLen = IcebergManifests.writeManifest(
          hconf, addManifest, entrySchema, group,
          manifestHeaders + ("content" -> (if (content == 1) "deletes" else "data")))
        ManifestFileInfo(
          manifestPath = addManifest.toString,
          manifestLength = addLen,
          sequenceNumber = seq,
          minSequenceNumber = seq,
          addedSnapshotId = snapshotId,
          addedFilesCount = group.size,
          existingFilesCount = 0,
          deletedFilesCount = 0,
          addedRowsCount = group.map(_.recordCount).sum,
          existingRowsCount = 0L,
          deletedRowsCount = 0L,
          content = content,
          partitionSpecId = specId)
      }
    }

    // delete manifest: the removed files stamped deleted at this commit's
    // sequence number — liveEntries' latest-sequence-wins replay resolves
    // them dead even when their add manifests are still carried
    val deleteManifests: Seq[ManifestFileInfo] = PhaseTimer.time("iceberg:manifest-write") {
      val dead = removes.map(_.copy(
        status = ManifestEntry.StatusDeleted, snapshotId = snapshotId, sequenceNumber = seq))
      // tombstoned data files and tombstoned delete files go into
      // separate manifests (spec: a manifest's content is uniform)
      dead.groupBy(e => if (e.content > 0) 1 else 0).toSeq.sortBy(_._1).map {
        case (content, group) =>
          val delManifest = new Path(metaDir, s"${UUID.randomUUID()}-m1-c$content.avro")
          val delLen = IcebergManifests.writeManifest(
            hconf, delManifest, entrySchema, group,
            manifestHeaders + ("content" -> (if (content == 1) "deletes" else "data")))
          ManifestFileInfo(
            manifestPath = delManifest.toString,
            manifestLength = delLen,
            sequenceNumber = seq,
            minSequenceNumber = seq,
            addedSnapshotId = snapshotId,
            addedFilesCount = 0,
            existingFilesCount = 0,
            deletedFilesCount = group.size,
            addedRowsCount = 0L,
            existingRowsCount = 0L,
            deletedRowsCount = group.map(_.recordCount).sum,
            content = content,
            partitionSpecId = specId)
      }
    }
    // a branch write stacks on the BRANCH head (falling back to main
    // for a fresh branch); a main write stacks on the current snapshot
    val parentSnapshotId: Option[Long] = prev.flatMap { case (_, m) =>
      toBranch.flatMap(b => m.refs.get(b).map(_.snapshotId))
        .orElse(m.currentSnapshotId)
    }
    val carried: Seq[ManifestFileInfo] = PhaseTimer.time("iceberg:manifest-list-carry") {
      prev match {
        case Some((_, m)) if carryPrevious && parentSnapshotId.nonEmpty =>
          IcebergManifests.readManifestList(
            hconf, new Path(m.snapshot(parentSnapshotId.get).manifestList))
        case _ => Seq.empty
      }
    }

    val listPath = new Path(metaDir, s"snap-$snapshotId-1-${UUID.randomUUID()}.avro")
    PhaseTimer.time("iceberg:manifest-list-write") {
      IcebergManifests.writeManifestList(hconf, listPath, (addManifests ++ deleteManifests) ++ carried)
    }

    val snap = IcebergSnapshot(
      snapshotId = snapshotId,
      parentId = parentSnapshotId,
      sequenceNumber = seq,
      timestampMs = now,
      manifestList = listPath.toString,
      schemaId = schemaId,
      operation = operation,
      summary = Map(
        "added-data-files" -> adds.size.toString,
        "added-records" -> adds.map(_.recordCount).sum.toString) ++ extraSummary)

    val base = prev.map(_._2).getOrElse(IcebergTableMetadata(
      tableUuid = UUID.randomUUID().toString,
      location = tablePath,
      lastSequenceNumber = 0L,
      lastUpdatedMs = now,
      lastColumnId = IcebergSchemas.lastAssignedId(idSchema),
      currentSchemaId = 0,
      schema = idSchema,
      partitionSpec = specFields,
      properties = Map("write.format.default" -> "parquet") ++ extraProps,
      currentSnapshotId = None,
      snapshots = Seq.empty,
      snapshotLog = Seq.empty))
    // name mapping tracks the current schema so id-less files written by
    // other engines resolve by name (ref IcebergTableManager.java:103-107
    // sets it at create; refreshing on evolution keeps it truthful)
    val nameMapping = Map(
      "schema.name-mapping.default" -> IcebergSchemas.nameMappingJson(idSchema, physicalNames))
    val next = base.copy(
      lastSequenceNumber = seq,
      lastUpdatedMs = now,
      // monotonic across drops: last-column-id is the table's HISTORY,
      // not the current schema's max (retired ids stay retired)
      lastColumnId = math.max(base.lastColumnId, IcebergSchemas.lastAssignedId(idSchema)),
      currentSchemaId = schemaId,
      schema = idSchema,
      partitionSpec = specFields,
      defaultSpecId = specId,
      // every spec that ever existed stays registered (live manifests
      // may still reference it)
      olderSpecs = base.allSpecs.filterNot(_._1 == specId),
      // every schema likewise: snapshots address theirs by schema-id
      olderSchemas = base.allSchemas.filterNot(_._1 == schemaId),
      properties = base.properties ++ nameMapping ++ extraProps,
      // branch write: `main` (current-snapshot-id + snapshot-log, which
      // per spec tracks only the current lineage) stays put; the branch
      // ref moves instead
      currentSnapshotId =
        if (toBranch.isEmpty) Some(snapshotId) else base.currentSnapshotId,
      snapshots = base.snapshots :+ snap,
      snapshotLog =
        if (toBranch.isEmpty) base.snapshotLog :+ (now, snapshotId)
        else base.snapshotLog,
      refs = toBranch match {
        case Some(b) => base.refs + (b -> IcebergRef(snapshotId, "branch"))
        case None => base.refs
      },
      statistics = registerStats match {
        // the carried entry re-anchors at THIS snapshot: the planner's
        // ancestor walk on the target then resolves the same sketch the
        // source's walk would, until the target is re-analyzed. The
        // re-anchor does NOT launder staleness: the adopted file's
        // `carried-` name marks it, and every freshness check
        // (StatsJoin.plannedSize, estimatedRowsForPartition) reads a
        // carried entry as stale so the exact current counts floor it
        case Some(st) if toBranch.isEmpty =>
          base.statistics.filterNot(_.snapshotId == snapshotId) :+
            st.copy(snapshotId = snapshotId)
        case _ => base.statistics
      },
      partitionStatistics = registerPStats match {
        case Some(st) if toBranch.isEmpty =>
          base.partitionStatistics.filterNot(_.snapshotId == snapshotId) :+
            st.copy(snapshotId = snapshotId)
        case _ => base.partitionStatistics
      })
    val v = prev.map(_._1 + 1).getOrElse(1L)
    PhaseTimer.time("iceberg:metadata-cas") {
      if (log.commit(v, next)) Some(snapshotId) else None
    }
  }

  /**
   * rewrite_manifests (Iceberg maintenance): collapse the current
   * snapshot's manifest list into ONE consolidated manifest per content
   * kind, every entry EXISTING with its original snapshot id and
   * sequence number — delete-file applicability is sequence-based and
   * must survive the rewrite byte-for-byte. Metadata-only `replace`
   * snapshot; no data file moves. Why it matters at scale: after N
   * incremental commits the manifest list carries O(N) manifests and
   * every scan pays O(N) avro opens before pruning; this restores O(1)
   * while history (and incremental reads, which filter on ADDED status)
   * stay intact.
   */
  def rewriteManifests(): Option[Long] = {
    val (v, meta) = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val current = meta.currentSnapshot.getOrElse(return None)
    val manifests = IcebergManifests.readManifestList(hconf, new Path(current.manifestList))
    // already tight: one manifest per (content kind, partition spec) is
    // the floor the per-spec rewrite below can reach
    if (manifests.size <=
      manifests.map(m => (math.min(m.content, 1), m.partitionSpecId)).distinct.size) return None
    // spec evolution: an entry's partition tuple is shaped by the spec of
    // the manifest that carried it, and reads materialize identity values
    // per the manifest's partition-spec-id — so the consolidation must
    // stay per-spec. Elect by liveEntries' rule (ManifestEntry.supersedes),
    // but carry each winning entry's manifest spec id through.
    val conf = new SerializableConfiguration(hconf)
    val live: Seq[(Int, ManifestEntry)] = spark.sparkContext
      .parallelize(manifests.map(m => (m.manifestPath, m.partitionSpecId)),
        math.min(manifests.size, 64))
      .flatMap { case (p, sid) =>
        IcebergManifests.readManifest(conf.value, new Path(p)).map(e => (sid, e)) }
      .map { case (sid, e) => (e.filePath, (sid, e)) }
      .reduceByKey((a, b) => if (ManifestEntry.supersedes(a._2, b._2)) a else b)
      .values
      .filter(_._2.status != ManifestEntry.StatusDeleted)
      .map { case (sid, e) => (sid, e.copy(status = ManifestEntry.StatusExisting)) }
      .collect().toSeq
    val now = System.currentTimeMillis()
    val snapshotId = math.abs(UUID.randomUUID().getLeastSignificantBits)
    val seq = meta.lastSequenceNumber + 1
    val specsById = meta.allSpecs.toMap
    val rewritten: Seq[ManifestFileInfo] =
      live.groupBy { case (sid, e) => (if (e.content > 0) 1 else 0, sid) }
        .toSeq.sortBy(_._1).map { case ((content, sid), tagged) =>
          val group = tagged.map(_._2)
          val specFields = specsById.getOrElse(sid, throw new IllegalStateException(
            s"manifest references unknown partition spec $sid on $tablePath"))
          val partFieldTypes = specFields.map { f =>
            val sf = meta.schema.fields
              .find(x => IcebergSchemas.fieldId(x).contains(f.sourceId))
              .getOrElse(throw new IllegalStateException(
                s"partition source field ${f.sourceId} of spec $sid missing from " +
                  s"current schema of $tablePath; cannot rewrite manifests"))
            val dt =
              if (f.transform == "identity" || f.transform.startsWith("truncate[")) sf.dataType
              else IntegerType
            (f.name, dt, f.fieldId)
          }
          val entrySchema = IcebergManifests.entrySchema(partFieldTypes)
          val manifestHeaders = Map(
            "schema" -> IcebergSchemas.toJson(meta.schema, meta.currentSchemaId).toString,
            "partition-spec" -> IcebergMetadataCodec.specJson(specFields),
            "partition-spec-id" -> sid.toString,
            "content" -> (if (content == 1) "deletes" else "data"))
          val mp = new Path(log.metadataDir, s"${UUID.randomUUID()}-rw-s$sid-c$content.avro")
          val len = IcebergManifests.writeManifest(hconf, mp, entrySchema, group, manifestHeaders)
          ManifestFileInfo(
            manifestPath = mp.toString,
            manifestLength = len,
            sequenceNumber = seq,
            minSequenceNumber = group.map(_.sequenceNumber).min,
            addedSnapshotId = snapshotId,
            addedFilesCount = 0,
            existingFilesCount = group.size,
            deletedFilesCount = 0,
            addedRowsCount = 0L,
            existingRowsCount = group.map(_.recordCount).sum,
            deletedRowsCount = 0L,
            content = content,
            partitionSpecId = sid)
        }
    val listPath = new Path(log.metadataDir, s"snap-$snapshotId-1-${UUID.randomUUID()}.avro")
    IcebergManifests.writeManifestList(hconf, listPath, rewritten)
    val snap = IcebergSnapshot(
      snapshotId = snapshotId,
      parentId = meta.currentSnapshotId,
      sequenceNumber = seq,
      timestampMs = now,
      manifestList = listPath.toString,
      schemaId = meta.currentSchemaId,
      operation = "replace",
      summary = Map(
        "manifests-replaced" -> manifests.size.toString,
        "manifests-created" -> rewritten.size.toString))
    graft.model.ConcurrentSyncException.check(log.commit(v + 1, meta.copy(
      lastSequenceNumber = seq,
      lastUpdatedMs = now,
      currentSnapshotId = Some(snapshotId),
      snapshots = meta.snapshots :+ snap,
      snapshotLog = meta.snapshotLog :+ (now, snapshotId))),
      s"concurrent iceberg commit on $tablePath")
    Some(snapshotId)
  }

  /**
   * Snapshot expiry (ref `core/.../iceberg/IcebergClient.java:218-237`):
   * drop snapshots older than `olderThanMs` from the metadata (the
   * current snapshot always survives), delete their manifest lists, and
   * commit the trimmed metadata. Time travel to an expired snapshot
   * then fails explicitly, and an incremental sync watermarked on one
   * falls back to a full sync via the retention fence.
   */
  def expireSnapshots(olderThanMs: Long): Int = {
    val prev = log.readLatest().getOrElse(
      throw new IllegalStateException(s"not an iceberg table: $tablePath"))
    val (v, meta) = prev
    val current = meta.currentSnapshotId.getOrElse(
      throw new IllegalStateException(s"no current snapshot on $tablePath"))
    // snapshots pinned by a tag or branch never expire (spec ref
    // retention: a ref keeps its snapshot reachable) — and a BRANCH pins
    // its whole unpublished lineage down to where it meets main's
    // ancestry, or fastForward's parent-chain walk would hit an expired
    // snapshot and strand the branch
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    def chainFrom(id: Long): Iterator[Long] =
      Iterator.iterate(Option(id))(_.flatMap(byId.get).flatMap(_.parentId))
        .takeWhile(_.isDefined).map(_.get)
    val mainAncestry = chainFrom(current).toSet
    val branchLineage = meta.refs.values.filter(_.refType == "branch")
      .flatMap { r =>
        val (unpublished, rest) = chainFrom(r.snapshotId).span(!mainAncestry(_))
        unpublished.toSeq ++ rest.take(1) // fork point (or main head) included
      }.toSet
    val pinned = meta.refs.values.map(_.snapshotId).toSet ++ branchLineage + current
    val (dead, live) = meta.snapshots.partition(s =>
      !pinned.contains(s.snapshotId) && s.timestampMs < olderThanMs)
    if (dead.isEmpty) return 0
    // statistics of an expired snapshot expire with it (spec: writers
    // remove `statistics` entries of removed snapshots)
    val deadIds = dead.map(_.snapshotId).toSet
    val (deadStats, liveStats) = meta.statistics.partition(s => deadIds(s.snapshotId))
    val (deadPStats, livePStats) =
      meta.partitionStatistics.partition(s => deadIds(s.snapshotId))
    val next = meta.copy(
      snapshots = live,
      snapshotLog = meta.snapshotLog.filter { case (_, id) => live.exists(_.snapshotId == id) },
      statistics = liveStats,
      partitionStatistics = livePStats,
      lastUpdatedMs = System.currentTimeMillis())
    graft.model.ConcurrentSyncException.check(log.commit(v + 1, next), s"concurrent iceberg commit on $tablePath")
    // manifest lists of expired snapshots are unreachable now; manifests
    // themselves may be shared with live snapshots, so only lists go —
    // and orphaned Puffin/partition statistics files go with their
    // snapshots (when owned by this table and not shared by a live
    // entry — sync-carried entries anchor one file at many snapshots)
    val fsys = new Path(tablePath).getFileSystem(hconf)
    dead.foreach(s => fsys.delete(new Path(s.manifestList), false))
    val survivingStatPaths =
      liveStats.map(_.path).toSet ++ livePStats.map(_.path)
    deadStats.foreach(s => deleteStatsFileIfOwned(s.path, survivingStatPaths))
    deadPStats.foreach(s => deleteStatsFileIfOwned(s.path, survivingStatPaths))
    dead.size
  }

  /**
   * Remove orphan files (Iceberg's `remove_orphan_files` maintenance
   * action): physically delete files under the table root that no
   * RETAINED snapshot references — failed-write leftovers and files
   * stranded by expireSnapshots — when older than `olderThanMs`
   * (mtime). Unlike Delta VACUUM (current snapshot only), every
   * retained snapshot's manifests pin their files, so time travel
   * within the retention set stays intact. The reference set is built
   * by a distributed manifest-read job; only the orphan list lands on
   * the driver. Metadata files (`metadata/`) and externally-referenced
   * data of metadata-only converted tables are never touched.
   */
  def removeOrphanFiles(
      olderThanMs: Long = System.currentTimeMillis() - 7L * 24 * 3600 * 1000,
      dryRun: Boolean = false): Seq[String] = {
    val meta = currentMetadata
    val conf = new SerializableConfiguration(hconf)
    val manifestPaths = meta.snapshots
      .flatMap(s => IcebergManifests.readManifestList(hconf, new Path(s.manifestList)))
      .map(_.manifestPath).distinct
    val referenced: Set[String] =
      if (manifestPaths.isEmpty) Set.empty
      else spark.sparkContext
        .parallelize(manifestPaths, math.min(manifestPaths.size, 64))
        .flatMap(p => IcebergManifests.readManifest(conf.value, new Path(p)))
        .map(e => new Path(e.filePath).toUri.getPath)
        .distinct().collect().toSet
    val root = new Path(tablePath)
    val fs = root.getFileSystem(hconf)
    def walk(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name == "metadata" || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else Seq(st)
      }
    val dead = walk(root).filter(st =>
      st.getModificationTime < olderThanMs &&
        !referenced.contains(st.getPath.toUri.getPath))
    if (!dryRun) dead.foreach(st => fs.delete(st.getPath, false))
    dead.map(_.getPath.toString)
  }

  /**
   * Crash-consistency repair (ref `core/.../iceberg/IcebergClient.java:251-286`):
   * a writer that died between writing `vN.metadata.json` and its
   * manifest list leaves a current snapshot whose manifest list is
   * missing — unreadable. Detect that, roll `currentSnapshotId` back to
   * the parent snapshot, drop the corrupt snapshot from the history,
   * and clear the sync watermark properties so the next sync runs FULL
   * instead of replaying over a hole. Returns true when a repair
   * commit was made. (Our own put-if-absent commit orders the manifest
   * list before the metadata json, narrowing the window; the repair
   * covers foreign writers and partial filesystem loss.)
   */
  def recoverIfCorrupt(): Boolean = {
    val prev = log.readLatest()
    if (prev.isEmpty) return false
    val (v, meta) = prev.get
    val fsys = new Path(tablePath).getFileSystem(hconf)
    meta.currentSnapshot match {
      case Some(snap) if !fsys.exists(new Path(snap.manifestList)) =>
        // statistics registered against the dropped snapshot go with it
        // (an entry whose snapshot is in no `snapshots` list is
        // unreachable by the ancestor walk AND invisible to expiry —
        // an immortal orphan unless cleaned here)
        val (deadStats, liveStats) =
          meta.statistics.partition(_.snapshotId == snap.snapshotId)
        val (deadPStats, livePStats) =
          meta.partitionStatistics.partition(_.snapshotId == snap.snapshotId)
        val next = meta.copy(
          currentSnapshotId = snap.parentId,
          snapshots = meta.snapshots.filterNot(_.snapshotId == snap.snapshotId),
          snapshotLog = meta.snapshotLog.filterNot(_._2 == snap.snapshotId),
          statistics = liveStats,
          partitionStatistics = livePStats,
          // watermark reset → the retention fence forces a full sync
          properties = meta.properties.filterNot(_._1.startsWith("graft.sync.")),
          lastUpdatedMs = System.currentTimeMillis())
        graft.model.ConcurrentSyncException.check(log.commit(v + 1, next), s"concurrent iceberg commit on $tablePath")
        val survivingStatPaths =
          liveStats.map(_.path).toSet ++ livePStats.map(_.path)
        deadStats.foreach(s => deleteStatsFileIfOwned(s.path, survivingStatPaths))
        deadPStats.foreach(s => deleteStatsFileIfOwned(s.path, survivingStatPaths))
        true
      case _ => false
    }
  }

  // ----------------------------------------------------------------- sync

  /** Partition defs of the spec the CURRENT snapshot's manifests
    * uniformly use. After a rollback across a partition-spec evolution,
    * the DEFAULT spec can describe a layout none of the live files use —
    * sync must describe the live file set's spec, or targets record
    * partition columns that match nothing. Mixed-spec snapshots return
    * the default (the file-level single-spec guard refuses those syncs
    * anyway). */
  private[graft] def liveSpecDefs: Seq[graft.model.PartitionFieldDef] = {
    val meta = currentMetadata
    val specId = meta.currentSnapshot.map { snap =>
      val ids = IcebergManifests.readManifestList(hconf, new Path(snap.manifestList))
        .filter(_.content == 0).map(_.partitionSpecId).distinct
      if (ids.size == 1) ids.head else meta.defaultSpecId
    }.getOrElse(meta.defaultSpecId)
    val fields = meta.allSpecs.find(_._1 == specId).map(_._2).getOrElse(meta.partitionSpec)
    IcebergTable.defsForFields(meta, fields)
  }

  /** Root the data files live under (for cross-format sync targets). */
  def dataRoot: String =
    currentMetadata.properties.getOrElse("graft.converted.from", tablePath)

  /** Current snapshot as canonical data-file descriptors: bounds decoded
    * back to canonical stat strings by field id — stats are translated,
    * never recomputed from footers (reference sync contract). */
  def snapshotDataFiles(): Seq[graft.model.InternalDataFile] = {
    val meta = currentMetadata
    val defs = IcebergTable.defsOf(meta)
    val entries = liveEntries(None)
    require(entries.forall(_.content == ManifestEntry.ContentData),
      s"cannot metadata-sync $tablePath: snapshot contains v2 delete files other " +
        "formats cannot express; run purgeDeletes() first")
    entries.map(e => IcebergTable.internalFile(e, meta.schema, defs))
  }

  /** One snapshot's adds + removed paths — the incremental replay unit
    * (ref `IcebergSourceClient.java:170-196`). */
  def changeSet(snapshotId: Long): (Seq[graft.model.InternalDataFile], Seq[String]) = {
    val meta = currentMetadata
    val snap = meta.snapshot(snapshotId)
    val entries = readEntries(
        IcebergManifests.readManifestList(hconf, new Path(snap.manifestList))
          .filter(_.addedSnapshotId == snapshotId))
      .filter(_.snapshotId == snapshotId)
    if (entries.isEmpty) return (Seq.empty, Seq.empty)
    val schemaAt = meta // bounds decode against current schema by field id
    val defs = IcebergTable.defsOf(meta)
    if (!entries.forall(e =>
        e.content == ManifestEntry.ContentData || e.status == ManifestEntry.StatusDeleted))
      throw new graft.model.UnsyncableChangeException(
        s"cannot metadata-sync snapshot $snapshotId of $tablePath: it adds v2 delete " +
          "files other formats cannot express; run purgeDeletes() first")
    val adds = entries.filter(_.status == ManifestEntry.StatusAdded)
      .map(e => IcebergTable.internalFile(e, schemaAt.schema, defs))
    val removed = entries.filter(_.status == ManifestEntry.StatusDeleted)
      // decoded-path contract (see internalFile): remove paths must match
      // the raw physicalPath form targets registered — toUri.toString
      // here percent-encoded hostile partition segments, so targets
      // silently kept replaced files in escapable partitions
      .map(e => new Path(e.filePath).toString)
    (adds, removed)
  }

  /**
   * Metadata-only sync commit: register externally-produced files and
   * removals without touching data — the Iceberg TARGET side of the
   * reference's loop (ref `core/.../iceberg/IcebergClient.java:135-237`).
   * Watermark props persist in table properties.
   */
  def syncCommit(
      schema: StructType,
      partitionColumns: Seq[String],
      sourceDataRoot: String,
      adds: Seq[graft.model.InternalDataFile],
      removePaths: Seq[String],
      syncProps: Map[String, String],
      physicalNames: Map[String, String] = Map.empty,
      /** Watermark CAS: validated against the SAME `readLatest()` that
        * fixes this commit's version slot, so `log.commit(prev+1, …)`'s
        * put-if-absent closes the validate→publish window — any foreign
        * commit after the read collides on the slot. */
      cas: Option[graft.model.SyncCas] = None,
      /** extra snapshot-summary entries (cherry-pick provenance). */
      extraSummary: Map[String, String] = Map.empty): Long = {
    val prev = PhaseTimer.time("iceberg:plan-read")(log.readLatest())
    cas.foreach(_.validate(
      prev.map(_._2.properties).getOrElse(Map.empty), s"iceberg target $tablePath"))
    val defs = graft.model.PartitionTransform.parseAll(partitionColumns)
    val defByName = defs.map(d => d.fieldName -> d).toMap
    val identityCols = defs.filter(_.isIdentity).map(_.fieldName).toSet
    val idSchema = prev match {
      case Some((_, m)) => IcebergSchemas.evolveSchema(m.schema, schema, m.lastColumnId)
      case None => IcebergSchemas.assignFieldIds(schema)
    }
    val entries = PhaseTimer.time("iceberg:entry-build") { adds.map { f =>
      val byName = f.columnStats.map(c => c.column -> c).toMap
      val fields = idSchema.fields.filterNot(x => identityCols.contains(x.name))
      var valueCounts = Map.empty[Int, Long]
      var nullCounts = Map.empty[Int, Long]
      var lower = Map.empty[Int, Array[Byte]]
      var upper = Map.empty[Int, Array[Byte]]
      fields.foreach { sf =>
        val id = IcebergSchemas.fieldId(sf).get
        byName.get(sf.name).foreach { c =>
          if (c.numValues >= 0) valueCounts += id -> c.numValues
          if (c.numNulls >= 0) nullCounts += id -> c.numNulls
          def enc(v: String): Option[Array[Byte]] =
            try Some(IcebergSchemas.encodeBound(sf.dataType, v)) catch { case _: Exception => None }
          c.minValue.flatMap(enc).foreach(b => lower += id -> b)
          c.maxValue.flatMap(enc).foreach(b => upper += id -> b)
        }
      }
      ManifestEntry(
        status = ManifestEntry.StatusAdded,
        snapshotId = 0L,
        sequenceNumber = 0L,
        // raw (decoded) path in the manifest: iceberg file_path is a
        // plain string, and the scan opens it verbatim — an encoded URI
        // here breaks on the first escapable partition value
        filePath = new Path(f.physicalPath).toString,
        fileFormat = f.fileFormat,
        partitionValues = f.partitionValues.collect {
          // canonical human strings in → identity as-is, transform
          // values re-encoded as Iceberg ordinals
          case (k, v) if defByName.contains(k) =>
            val d = defByName(k)
            k -> (if (v == null || !d.isTime) v
                  else graft.model.PartitionTransform.toOrdinal(d.granularity, v).toString)
        },
        recordCount = f.recordCount,
        fileSizeBytes = f.fileSizeBytes,
        valueCounts = valueCounts,
        nullCounts = nullCounts,
        lowerBounds = lower,
        upperBounds = upper)
    } }
    val removeSet = removePaths.map(p => new Path(p).toUri.toString).toSet
    val removes =
      if (removeSet.isEmpty || prev.forall(_._2.currentSnapshotId.isEmpty)) Seq.empty
      else liveEntries(None).filter(e =>
        removeSet.contains(new Path(e.filePath).toUri.toString))
    // a Puffin pointer riding the property channel (the source's
    // closest-analyzed-ancestor sketch, valid for exactly the row set
    // this commit replays) is PROMOTED to a real `statistics` entry
    // anchored at this commit. The file is ADOPTED — copied under this
    // table's own metadata dir — so the source's later re-analyze or
    // expiry (which deletes ITS file) cannot dangle our entry; one
    // footer read of the copy recovers its blob metadata.
    val carriedStatsT: Option[(IcebergStatisticsFile, Boolean)] =
      syncProps.get(graft.model.SyncCas.StatsPathProp).flatMap { p =>
        adoptCarriedFile(new Path(p)).map { case (sp, created) =>
          val fsys = sp.getFileSystem(hconf)
          val blobs = Puffin.readFooter(fsys, sp)
          val len = fsys.getFileStatus(sp).getLen
          val footerSize = len - Puffin.Magic.length - blobs.map(_.length).sum
          (IcebergStatisticsFile(0L, sp.toString, len, footerSize, blobs), created)
        }
      }
    val carriedPStatsT: Option[(IcebergPartitionStatisticsFile, Boolean)] =
      syncProps.get(graft.model.SyncCas.PartitionStatsPathProp).flatMap { p =>
        adoptCarriedFile(new Path(p)).map { case (sp, created) =>
          (IcebergPartitionStatisticsFile(
            0L, sp.toString, sp.getFileSystem(hconf).getFileStatus(sp).getLen), created)
        }
      }
    val committed = commitSnapshot(prev, idSchema, defs, entries, removes,
      carryPrevious = true,
      operation = if (removes.nonEmpty) "overwrite" else "append",
      extraProps = syncProps + ("graft.converted.from" -> sourceDataRoot),
      physicalNames = physicalNames,
      extraSummary = extraSummary,
      registerStats = carriedStatsT.map(_._1),
      registerPStats = carriedPStatsT.map(_._1))
      .getOrElse {
        // a lost race must not orphan copies THIS call placed — unless
        // the race winner registered the same deterministic copy (a
        // competitor syncing the same analyzed source), which is live
        // now and stays (the Delta/Hudi twins apply the same rule)
        val liveNow = log.readLatest().map(_._2)
          .map(m => (m.statistics.map(_.path) ++ m.partitionStatistics.map(_.path)).toSet)
          .getOrElse(Set.empty[String])
        (carriedStatsT.collect { case (e, true) => e.path } ++
          carriedPStatsT.collect { case (e, true) => e.path })
          .filterNot(liveNow).foreach { p =>
            val hp = new Path(p)
            hp.getFileSystem(hconf).delete(hp, false)
          }
        throw new graft.model.ConcurrentSyncException(
          s"concurrent sync detected on iceberg target $tablePath: the version " +
            "slot was taken — re-plan and retry")
      }
    // self-heal the check-then-delete window: a racing loser's lost-CAS
    // cleanup may have deleted an adopted copy before OUR registration
    // of the same deterministic path became visible to it — re-copy
    // from the (still-carried) source so the registered entry resolves
    Seq(
      carriedStatsT.map(_._1.path) -> graft.model.SyncCas.StatsPathProp,
      carriedPStatsT.map(_._1.path) -> graft.model.SyncCas.PartitionStatsPathProp)
      .foreach { case (adopted, key) =>
        adopted.foreach { p =>
          val hp = new Path(p)
          if (!hp.getFileSystem(hconf).exists(hp))
            syncProps.get(key).foreach(srcp => adoptCarriedFile(new Path(srcp)))
        }
      }
    committed
  }
}

object IcebergTable {

  /** Tolerant timestamp-value parse shared by the partition-statistics
    * WRITER (manifest value strings → typed rollup values) and the
    * estimatedRows literal canonicalization (caller strings → the same
    * typed values) — the two sides must stay bit-identical or a live
    * partition silently estimates 0 rows. Accepts the hive form (which
    * omits ":00" seconds and hangs micros off whatever precision
    * remains — Timestamp.valueOf alone rejects "2021-01-01 00:00"),
    * date-only strings, and canonical epoch-micros. */
  private[iceberg] def hiveLdt(v: String): java.time.LocalDateTime = {
    if (v.matches("-?\\d+")) { // canonical epoch-micros also round-trip
      val micros = v.toLong
      return java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    }
    val dot = v.indexOf('.')
    val (base, fracMicros) =
      if (dot < 0) (v, 0L)
      else (v.substring(0, dot), v.substring(dot + 1).padTo(6, '0').take(6).toLong)
    java.time.LocalDateTime.parse(base.trim.replace(' ', 'T'))
      .plusNanos(fracMicros * 1000L)
  }

  /** `fresh` differs from `staged` ONLY by widening promotions: same
    * field names and ids at every nesting level, every leaf type equal
    * or widened along the promotion order. An append that staged files
    * under `staged` can then commit under `fresh` — the files' narrower
    * physical types are exactly the legal pre-widen-file state. */
  private[iceberg] def widensOnly(staged: org.apache.spark.sql.types.StructType,
      fresh: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    def tpe(a: DataType, b: DataType): Boolean = (a, b) match {
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (f, g) =>
            f.name == g.name &&
              IcebergSchemas.fieldId(f) == IcebergSchemas.fieldId(g) &&
              tpe(f.dataType, g.dataType)
          }
      case (x: ArrayType, y: ArrayType) => tpe(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        x.keyType == y.keyType && tpe(x.valueType, y.valueType)
      case (x, y) => x == y || graft.model.SchemaMerge.widens(x, y)
    }
    tpe(staged, fresh)
  }


  /** Snapshot-summary key recording which branch snapshot a cherry-pick
    * replays — publishBranch's positive progress marker. */
  val CherryPickedFromKey = "graft.cherry-picked-from"

  /** Table property mirroring every cherry-picked source snapshot id
    * (comma-joined) — expiry-proof twin of [[CherryPickedFromKey]]:
    * summary markers expire WITH their main snapshots, and a retained
    * branch re-published after expiry + compaction would otherwise fall
    * back to file liveness and re-commit (duplicating rows). Growth is
    * bounded by the number of snapshots ever cherry-picked. */
  val CherryPickedIdsProp = "graft.cherry-picked-ids"

  private[iceberg] def cherryPickedIds(meta: IcebergTableMetadata): Set[Long] =
    meta.properties.get(CherryPickedIdsProp).toSeq
      .flatMap(_.split(",")).flatMap(x => scala.util.Try(x.trim.toLong).toOption).toSet

  def forPath(spark: SparkSession, tablePath: String): IcebergTable =
    new IcebergTable(spark, new IcebergMetadataLog(tablePath, spark.sparkContext))

  def create(
      spark: SparkSession,
      tablePath: String,
      df: DataFrame,
      partitionColumns: Seq[String] = Seq.empty): IcebergTable = {
    val t = forPath(spark, tablePath)
    require(t.log.latestVersion().isEmpty, s"table already exists: $tablePath")
    t.append(df, partitionColumns)
    t
  }

  /**
   * Metadata-only conversion of an existing AVRO dataset (ref
   * `FileFormat.java:26-30` APACHE_AVRO): files referenced in place,
   * schema from the container header, stats from one Spark agg job
   * (avro has no footer stats). Flat layout only — avro datasets in
   * the wild are rarely hive-partitioned, and identity partitioning
   * can be layered by a later sync.
   */
  def convertFromAvro(
      spark: SparkSession,
      sourceLocation: String,
      tablePath: String): IcebergTable = {
    val t = forPath(spark, tablePath)
    require(t.log.latestVersion().isEmpty, s"table already exists: $tablePath")
    val files = graft.sources.AvroDataFiles.listAvroFiles(spark, sourceLocation)
    val inferred = graft.sources.AvroDataFiles.readSchema(spark, sourceLocation)
    val idSchema = IcebergSchemas.assignFieldIds(inferred)
    val stats = graft.sources.AvroDataFiles.collectStats(spark, files, inferred)
    val entries = stats.map(st =>
      entryFor(st, idSchema, Seq.empty, sourceLocation, fileFormat = "avro"))
    t.commitSnapshot(None, idSchema, Seq.empty, entries, Seq.empty, carryPrevious = false,
      operation = "append", extraProps = Map("graft.converted.from" -> sourceLocation))
      .getOrElse(throw new IllegalStateException(s"table already exists: $tablePath"))
    t
  }

  /** Metadata-only conversion of an ORC dataset (ref
    * `FileFormat.java:26-30` APACHE_ORC): files referenced in place,
    * schema and per-file stats from the ORC footers (a distributed
    * footer walk — ORC carries real column statistics, unlike Avro). */
  def convertFromOrc(
      spark: SparkSession,
      sourceLocation: String,
      tablePath: String): IcebergTable = {
    val t = forPath(spark, tablePath)
    require(t.log.latestVersion().isEmpty, s"table already exists: $tablePath")
    val files = graft.sources.OrcDataFiles.listOrcFiles(spark, sourceLocation)
    val inferred = graft.sources.OrcDataFiles.readSchema(spark, sourceLocation)
    val idSchema = IcebergSchemas.assignFieldIds(inferred)
    val stats = graft.sources.OrcDataFiles.collectStats(spark, files, inferred)
    val entries = stats.map(st =>
      entryFor(st, idSchema, Seq.empty, sourceLocation, fileFormat = "orc"))
    t.commitSnapshot(None, idSchema, Seq.empty, entries, Seq.empty, carryPrevious = false,
      operation = "append", extraProps = Map("graft.converted.from" -> sourceLocation))
      .getOrElse(throw new IllegalStateException(s"table already exists: $tablePath"))
    t
  }

  /** Metadata-only conversion of an existing parquet dataset — data
    * files referenced in place by absolute path, hive partition dirs
    * become identity partition fields (reference sync contract). */
  def convertFromParquet(
      spark: SparkSession,
      sourceLocation: String,
      tablePath: String): IcebergTable = {
    val t = forPath(spark, tablePath)
    require(t.log.latestVersion().isEmpty, s"table already exists: $tablePath")
    val files = ParquetFooterStats.listParquetFiles(spark, sourceLocation)
    val inferred = spark.read.parquet(sourceLocation).schema
    val srcBase = new Path(sourceLocation).toUri.getPath.stripSuffix("/") + "/"
    val relOf = (p: String) => new Path(p).toUri.getPath.stripPrefix(srcBase)
    val hiveKeys: Set[String] = files.headOption.map { f =>
      relOf(f).split("/").dropRight(1).flatMap(_.split("=", 2) match {
        case Array(k, _) if inferred.fieldNames.contains(k) => Some(k)
        case _ => None
      }).toSet
    }.getOrElse(Set.empty)
    val partCols = inferred.fieldNames.toSeq.filter(hiveKeys.contains)
    val defs = partCols.map(c => graft.model.PartitionFieldDef(c, "identity"))
    val idSchema = IcebergSchemas.assignFieldIds(inferred)
    val stats = ParquetFooterStats.collect(spark, files)
    val entries = stats.map(st => entryFor(st, idSchema, defs, sourceLocation))
    t.commitSnapshot(None, idSchema, defs, entries, Seq.empty, carryPrevious = false,
      operation = "append", extraProps = Map("graft.converted.from" -> sourceLocation))
      .getOrElse(throw new IllegalStateException(s"table already exists: $tablePath"))
    t
  }

  /** Rename (nested) struct fields to their mapped physical names. */
  /** Columns of a position-delete file. */
  private val PositionDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  private[iceberg] def renameByPath(
      s: StructType, phys: Map[String, String], prefix: String): StructType =
    StructType(s.fields.map { f =>
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      val dt = f.dataType match {
        case st: StructType => renameByPath(st, phys, path)
        case other => other
      }
      StructField(phys.getOrElse(path, f.name), dt, f.nullable, f.metadata)
    })

  /** Metadata-free copy of a type (logical output columns). */
  private[iceberg] def stripMeta(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f => StructField(f.name, stripMeta(f.dataType), f.nullable)))
    case ArrayType(e, n) => ArrayType(stripMeta(e), n)
    case MapType(k, v, n) => MapType(stripMeta(k), stripMeta(v), n)
    case other => other
  }

  // ------------------------------------------------------------ internals

  private[iceberg] def specFor(
      idSchema: StructType,
      defs: Seq[graft.model.PartitionFieldDef]): Seq[IcebergPartitionFieldSpec] =
    defs.zipWithIndex.map { case (d, i) =>
      val f = idSchema.fields.find(_.name == d.sourceColumn)
        .getOrElse(throw new IllegalArgumentException(
          s"unknown partition source column ${d.sourceColumn}"))
      IcebergPartitionFieldSpec(d.fieldName, d.transform, IcebergSchemas.fieldId(f).get, 1000 + i)
    }

  /** Reconstruct partition field defs from a table's current spec. */
  private[graft] def defsOf(m: IcebergTableMetadata): Seq[graft.model.PartitionFieldDef] =
    defsForFields(m, m.partitionSpec)

  private[graft] def defsForFields(
      m: IcebergTableMetadata,
      fields: Seq[IcebergPartitionFieldSpec]): Seq[graft.model.PartitionFieldDef] =
    fields.map { f =>
      val src = m.schema.fields.find(x => IcebergSchemas.fieldId(x).contains(f.sourceId))
        .map(_.name).getOrElse(f.name)
      graft.model.PartitionFieldDef(src, f.transform, Some(f.name))
    }

  /** Manifest entry for one written/converted file (footer stats →
    * field-id keyed counts + spec-encoded bounds). */
  private[iceberg] def entryFor(
      st: FileFooterStats,
      idSchema: StructType,
      defs: Seq[graft.model.PartitionFieldDef],
      baseForPartitions: String,
      fileFormat: String = "parquet"): ManifestEntry = {
    val partitionColumns = defs.map(_.fieldName)
    val defByName = defs.map(d => d.fieldName -> d).toMap
    val byName = st.columns.map(c => c.column -> c).toMap
    // identity partition columns carry no per-file stats (they live in
    // the path); transform SOURCE columns are ordinary data columns and
    // keep theirs
    val identityCols = defs.filter(_.isIdentity).map(_.fieldName).toSet
    val fields = idSchema.fields.filterNot(f => identityCols.contains(f.name))
    var valueCounts = Map.empty[Int, Long]
    var nullCounts = Map.empty[Int, Long]
    var lower = Map.empty[Int, Array[Byte]]
    var upper = Map.empty[Int, Array[Byte]]
    fields.foreach { f =>
      val id = IcebergSchemas.fieldId(f).get
      byName.get(f.name).foreach { c =>
        valueCounts += id -> c.numValues
        if (c.numNulls >= 0) nullCounts += id -> c.numNulls
        def enc(v: String): Option[Array[Byte]] =
          try Some(IcebergSchemas.encodeBound(f.dataType, v)) catch { case _: Exception => None }
        c.minValue.flatMap(enc).foreach(b => lower += id -> b)
        c.maxValue.flatMap(enc).foreach(b => upper += id -> b)
      }
    }
    val rel = {
      val base = new Path(baseForPartitions).toUri.getPath.stripSuffix("/") + "/"
      new Path(st.path).toUri.getPath.stripPrefix(base)
    }
    val partValues = rel.split("/").dropRight(1).flatMap(_.split("=", 2) match {
      case Array(k, v) if partitionColumns.contains(k) =>
        val dec = graft.util.PathCodec.unescapePathName(v)
        val canonical =
          if (dec == "__HIVE_DEFAULT_PARTITION__") null
          else defByName(k) match {
            // transform dirs carry the human string; the manifest stores
            // the Iceberg ordinal
            case d if d.isTime =>
              graft.model.PartitionTransform.toOrdinal(d.granularity, dec).toString
            case _ => dec // identity, bucket int, truncate prefix: as-is
          }
        Some(k -> canonical)
      case _ => None
    }).toMap
    ManifestEntry(
      status = ManifestEntry.StatusAdded,
      snapshotId = 0L,
      sequenceNumber = 0L,
      filePath = st.path,
      fileFormat = fileFormat,
      partitionValues = partValues,
      recordCount = st.recordCount,
      fileSizeBytes = st.fileSizeBytes,
      valueCounts = valueCounts,
      nullCounts = nullCounts,
      lowerBounds = lower,
      upperBounds = upper)
  }

  /** Inverse of [[entryFor]]: manifest entry → canonical data-file
    * descriptor, bounds decoded to canonical stat strings by field id
    * (sync source side — stats translated, never recomputed). */
  private[graft] def internalFile(
      e: ManifestEntry,
      idSchema: StructType,
      defs: Seq[graft.model.PartitionFieldDef]): graft.model.InternalDataFile = {
    val defByName = defs.map(d => d.fieldName -> d).toMap
    val byId = idSchema.fields.flatMap(f =>
      IcebergSchemas.fieldId(f).map(_ -> f)).toMap
    val ids = (e.valueCounts.keySet ++ e.nullCounts.keySet ++
      e.lowerBounds.keySet ++ e.upperBounds.keySet).toSeq.sorted
    val cols = ids.flatMap(byId.get(_).map { f =>
      val id = IcebergSchemas.fieldId(f).get
      def dec(b: Array[Byte]): Option[String] =
        try Some(IcebergSchemas.decodeBound(f.dataType, b)) catch { case _: Exception => None }
      graft.model.ColumnStatRow(
        column = f.name,
        minValue = e.lowerBounds.get(id).flatMap(dec),
        maxValue = e.upperBounds.get(id).flatMap(dec),
        numNulls = e.nullCounts.getOrElse(id, -1L),
        numValues = e.valueCounts.getOrElse(id, -1L),
        totalSize = 0L)
    })
    graft.model.InternalDataFile(
      // decoded-path contract: manifests store raw (unescaped) paths,
      // and InternalDataFile.physicalPath stays unescaped — the Delta
      // writer is the one place that percent-encodes (its spec requires
      // it), so encoding here would double-encode downstream
      physicalPath = new Path(e.filePath).toString,
      fileFormat = e.fileFormat,
      // manifest ordinals → canonical human strings for the sync plane
      partitionValues = e.partitionValues.map { case (k, v) =>
        k -> (defByName.get(k) match {
          case Some(d) if d.isTime && v != null =>
            graft.model.PartitionTransform.fromOrdinal(d.granularity, v.toInt)
          case _ => v
        })
      },
      fileSizeBytes = e.fileSizeBytes,
      recordCount = e.recordCount,
      columnStats = cols,
      lastModified = 0L)
  }
}

/**
 * Manifest-level pruning: partition predicates against the partition
 * struct, min/max skipping against the spec-encoded bounds — both
 * evaluated before any parquet footer is opened (same layer as the
 * Delta scan builder; SURVEY.md §4 "file skipping").
 */
final class IcebergScanBuilder(
    spark: SparkSession,
    table: IcebergTable,
    asOfSnapshot: Option[Long]) {

  private var partitionPredicates: Seq[(String, Set[String])] = Seq.empty
  private var rangePredicates: Seq[(String, Option[String], Option[String])] = Seq.empty

  /** The table this scan plans over — StatsJoin's filtered-dimension
    * costing combines [[estimatedRows]] with the table's whole-dim
    * planning facts. */
  private[graft] def plannedTable: IcebergTable = table

  def partitionIn(column: String, values: Set[String]): IcebergScanBuilder = {
    partitionPredicates +:= (column -> values)
    this
  }

  /** Skip files whose bounds prove no row has `column >= lo AND column
    * <= hi` (either bound optional, literals cast to the column's type in
    * UTC); a range on a transform source also prunes partitions. */
  def range(column: String, lo: Option[Any], hi: Option[Any]): IcebergScanBuilder = {
    rangePredicates +:= ((column, lo.map(_.toString), hi.map(_.toString)))
    this
  }

  /** Estimated rows this scan's PARTITION-IN predicates keep, costed
    * from the table's registered partition-statistics rollup alone —
    * one KB-sized parquet read, zero manifest opens. None when the
    * table carries no rollup or the scan time-travels (the rollup
    * describes the analyzed lineage, not an arbitrary snapshot). An
    * ESTIMATE ceiling: range predicates and bounds-based skipping prune
    * further at scan time. */
  def estimatedRows(): Option[Long] = {
    if (asOfSnapshot.nonEmpty) return None
    import org.apache.spark.sql.functions.{col, lit}
    val meta = table.currentMetadata
    val defByName = IcebergTable.defsOf(meta).map(d => d.fieldName -> d).toMap
    val typeByName = meta.schema.fields.map(f => f.name -> f.dataType).toMap
    // identity time literals arrive in any human form ("2021-01-01
    // 00:00", date-only, canonical epoch-micros) but the rollup stores
    // TYPED values — string-compare against the raw literal would
    // silently match nothing and estimate 0 rows for a live partition.
    // The SAME tolerant parse the rollup writer uses
    // (IcebergTable.hiveLdt) produces the typed literal, so the
    // compare is typed on both sides.
    def ldt(v: String): java.time.LocalDateTime = IcebergTable.hiveLdt(v)
    val pred = partitionPredicates.foldLeft(lit(true)) { case (acc, (c, vs)) =>
      // callers speak human strings; the rollup stores typed transform
      // results — year/month/hour compare as ordinals, day as the
      // yyyy-MM-dd string a DATE casts to, identity time columns as
      // typed literals, other identity/bucket values as-is
      defByName.get(c) match {
        case Some(d) if d.isTime &&
            d.granularity != graft.model.TimeGranularity.Day =>
          val wanted = vs.map(v =>
            graft.model.PartitionTransform.toOrdinal(d.granularity, v).toString)
          acc && col(s"partition.`$c`").cast("string").isin(wanted.toSeq: _*)
        case Some(d) if d.isIdentity && typeByName.get(c).exists(
            t => t == TimestampType || t == TimestampNTZType || t == DateType) =>
          val typed: Seq[Any] = typeByName(c) match {
            case TimestampType => vs.toSeq.map(v => java.sql.Timestamp.valueOf(ldt(v)))
            case TimestampNTZType => vs.toSeq.map(ldt)
            case _ => vs.toSeq.map { v =>
              if (v.matches("-?\\d+"))
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.toLong))
              else java.sql.Date.valueOf(v.trim.take(10))
            }
          }
          acc && col(s"partition.`$c`").isin(typed: _*)
        case _ =>
          acc && col(s"partition.`$c`").cast("string").isin(vs.toSeq: _*)
      }
    }
    table.estimatedRowsForPartition(pred)
  }

  /** Pruned entry list: partition predicates (human strings → ordinals)
    * run inside the driver fold of [[IcebergTable.liveEntries]], then
    * min/max skipping ([[graft.sources.StatsSkipping]]) on each survivor's
    * decoded bounds. */
  def files(): Seq[ManifestEntry] = {
    val meta = table.currentMetadata
    val schemaByName = meta.schema.fields.map(f => f.name -> f).toMap
    val defs = IcebergTable.defsOf(meta)
    val defByName = defs.map(d => d.fieldName -> d).toMap

    // callers address transform fields with human strings (`2020-01`);
    // the manifest stores ordinals
    val partIn: Seq[(String, Set[String])] = partitionPredicates.map { case (c, vs) =>
      c -> (defByName.get(c) match {
        case Some(d) if d.isTime =>
          vs.map(v => graft.model.PartitionTransform.toOrdinal(d.granularity, v).toString)
        case _ => vs
      })
    }
    // a range on the SOURCE column of a hidden (transform) partition
    // prunes by partition ordinal before any bounds are consulted
    // an equality predicate on the SOURCE column of a bucket/truncate
    // field prunes to exactly one partition value (spec-hash the literal
    // for bucket, prefix it for truncate)
    val derivedPartIn: Seq[(String, Set[String])] =
      rangePredicates.flatMap { case (c, lo, hi) =>
        if (lo.isEmpty || lo != hi) Seq.empty
        else defs.filter(d => (d.isBucket || d.isTruncate) && d.sourceColumn == c).map { d =>
          if (d.isBucket)
            d.fieldName -> Set(graft.functions.IcebergMurmur3.bucketValue(
              schemaByName(c).dataType, lo.get, d.transformParam).toString)
          else d.fieldName -> Set(lo.get.take(d.transformParam))
        }
      }
    val ordinalRanges: Seq[(String, Option[Int], Option[Int])] =
      rangePredicates.flatMap { case (c, lo, hi) =>
        defs.filter(d => d.isTime && d.sourceColumn == c).map { d =>
          (d.fieldName,
            lo.map(l => graft.model.PartitionTransform.toOrdinal(
              d.granularity, graft.model.PartitionTransform.truncate(d.granularity, l))),
            hi.map(h => graft.model.PartitionTransform.toOrdinal(
              d.granularity, graft.model.PartitionTransform.truncate(d.granularity, h))))
        }
      }
    val wanted = partIn ++ derivedPartIn
    val entries = table.liveEntries(asOfSnapshot, e =>
      wanted.forall { case (c, values) =>
        e.partitionValues.get(c) match {
          // an entry whose partition struct LACKS the field entirely
          // cannot be pruned on it: a data file written under an older
          // partition spec (spec evolution) may hold matching rows, and
          // a GLOBAL delete file applies to every partition
          case None => true
          // a NULL value means the field exists and the file holds only
          // the null partition: data entries prune strictly, delete
          // files (table-wide equality deletes) survive
          case Some(null) => e.content > 0
          case Some(v) => values.contains(v)
        }
      } &&
      ordinalRanges.forall { case (field, loOrd, hiOrd) =>
        e.partitionValues.get(field).forall(v => v == null || {
          val ord = v.toInt
          loOrd.forall(ord >= _) && hiOrd.forall(ord <= _)
        })
      })
    val filters = rangePredicates.flatMap { case (c, lo, hi) =>
      graft.sources.StatsSkipping.rangeFilter(c, schemaByName(c).dataType, lo, hi)
    }
    graft.sources.StatsSkipping.prune(entries, filters)(
      IcebergTable.internalFile(_, meta.schema, Nil).columnStats)
  }

  def toDF(): DataFrame = {
    val df = table.readEntries(files())
    // spec: a snapshot read presents the SNAPSHOT'S schema, not the
    // current one — time travel to a pre-evolution snapshot must not
    // grow later columns (or keep later drops). Projection by name;
    // a column the current read cannot produce (dropped then read
    // before the drop) presents as null.
    asOfSnapshot match {
      case None => df
      case Some(id) =>
        val meta = table.currentMetadata
        if (meta.snapshot(id).schemaId == meta.currentSchemaId) df
        else {
          import org.apache.spark.sql.functions.{col, lit}
          val snapSchema = meta.schemaForSnapshot(id)
          df.select(snapSchema.fields.map { f =>
            if (df.columns.contains(f.name)) col(s"`${f.name}`").cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
        }
    }
  }
}
