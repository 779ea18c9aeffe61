package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{Metadata, StructType}

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable
import graft.model.InternalDataFile
import graft.util.PhaseTimer

/**
 * Format-to-format metadata sync — the reference's core product loop
 * (ref `core/src/main/java/io/onetable/client/OneTableClient.java:95-247`):
 * read one format's snapshot or pending commits, translate the file
 * descriptors + stats through the canonical internal model, and commit
 * equivalent metadata into another format's log — never rewriting data.
 *
 * The sync watermark (source identity + last synced version) is
 * persisted IN the target table's own metadata (Delta metaData
 * configuration / Iceberg table properties / Hudi commit extraMetadata,
 * ref `api/.../model/OneTableMetadata.java:36-63`), so a crash can never
 * desynchronize sync state from table state: the watermark commits
 * atomically with the files it describes.
 *
 * Incremental-vs-full planning (ref `OneTableClient.java:149-247`): a
 * target is eligible for incremental replay iff it carries a watermark
 * for THIS source and the watermarked version is still listable in the
 * source's history — the retention fence; a vacuumed/expired source
 * log forces a full snapshot sync rather than replaying a gap.
 *
 * Scale notes: one target commit per source commit preserves the
 * source's commit granularity for downstream change consumers; all
 * per-file work is descriptor translation (driver-side, metadata-sized)
 * — the data plane is untouched, which is the whole point.
 */
object SyncEngine {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Watermark property keys persisted in target metadata (canonical
    * definitions live with the CAS that validates them). */
  val SourceIdProp = graft.model.SyncCas.SourceIdProp
  val VersionProp = graft.model.SyncCas.VersionProp
  /** Source versions in flight at sync time (started, not completed) —
    * carried so a commit that completes LATE, below the watermark, is
    * still replayed next sync (ref `CommitsBacklog.java:28-86`). */
  val InflightProp = "graft.sync.inflight.versions"
  /** Puffin statistics file of the synced snapshot's closest analyzed
    * ancestor (Iceberg sources). Rides the normal property channel:
    * Delta/Hudi targets persist it as sync-state provenance (the
    * "sketch as a table property" mirror), the Iceberg target PROMOTES
    * it to a real metadata.json `statistics` entry anchored at the
    * commit it lands with — the sketch stays valid because the sync
    * replays exactly the analyzed row set's files. */
  val StatsPathProp = graft.model.SyncCas.StatsPathProp
  /** The partition-statistics sibling of [[StatsPathProp]], same
    * promote-on-Iceberg / provenance-elsewhere contract. */
  val PartitionStatsPathProp = graft.model.SyncCas.PartitionStatsPathProp
  /** Record-key (primary-key) fields translated across formats (ref
    * `OneTable.java:38-53` recordKeyFields; Hudi's
    * `hoodie.table.recordkey.fields`). */
  val RecordKeyProp = "graft.record.key.fields"

  sealed trait Mode
  case object Full extends Mode
  case object Incremental extends Mode
  /** Incremental when safe, else full (the reference's default). */
  case object Auto extends Mode

  final case class SyncResult(
      mode: String,
      versionsSynced: Seq[String],
      filesAdded: Int,
      filesRemoved: Int)

  /** Scheme-insensitive path form for cross-format set comparison. */
  private def norm(p: String): String = new Path(p).toUri.getPath

  def sync(
      source: SyncSource,
      target: SyncTarget,
      mode: Mode = Auto,
      /** Extra properties persisted with every target commit — the
        * client registry's per-format `configuration` and the catalog
        * identity ride here (ref `RunSync.java:203-216`,
        * `onetable-client-defaults.yaml`). */
      targetProps: Map[String, String] = Map.empty): SyncResult = {
    // two schedulers running one pipeline is a supported deployment:
    // every commit carries a watermark CAS (validated inside the same
    // state read that fixes the commit's version slot), and losing it —
    // or losing a raw version-slot race — re-plans from fresh target
    // state. Bounded: persistent contention past 5 attempts surfaces.
    var attempt = 0
    while (true) {
      try return syncOnce(source, target, mode, targetProps)
      catch {
        // the ONLY race classifier: every lost watermark CAS and lost
        // version/instant slot throws this type (message text is for
        // humans, never matched)
        case e: graft.model.ConcurrentSyncException if attempt < 4 =>
          attempt += 1
          logger.warn(s"sync of ${source.sourceId} -> ${target.format}:" +
            s"${target.targetPath} lost its watermark CAS (attempt $attempt), re-planning: " +
            e.getMessage)
      }
    }
    sys.error("unreachable")
  }

  private def syncOnce(
      source: SyncSource,
      target: SyncTarget,
      mode: Mode,
      targetProps: Map[String, String]): SyncResult = {
    // ONE state read plans the round: the watermark for THIS source,
    // plus the raw observed (source-id, version) pair — any source's —
    // that every commit's CAS validates in full (a fresh-target plan
    // must not validate against a target some OTHER source synced in
    // between; on a Hudi target no version slot would arbitrate that)
    val st0 = target.syncState()
    val observed0 = for {
      s <- st0.get(SourceIdProp); v <- st0.get(VersionProp)
    } yield (s, v)
    val wm = observed0.collect { case (s, v) if s == source.sourceId => v }
    val canIncrement = wm.exists(source.versionExists)
    val incremental = mode match {
      case Full        => false
      case Incremental =>
        require(canIncrement, s"no usable watermark on ${target.format} target " +
          s"for ${source.sourceId} (have $wm) — run a full sync first")
        true
      case Auto        => canIncrement
    }
    val stillInflight = source.inflightVersions
    val keyProps = targetProps ++
      (if (source.recordKeyFields.isEmpty) Map.empty[String, String]
       else Map(RecordKeyProp -> source.recordKeyFields.mkString(",")))
    def runIncremental(): SyncResult = {
      // backlog = commits after the watermark PLUS previously-inflight
      // commits that have since completed (their times may sort BELOW
      // the watermark — the late-data case)
      val lateCompleted = target.inflightFor(source.sourceId).filter(source.isCompleted)
      val pending = (lateCompleted ++ source.versionsAfter(wm.get)).distinct
      var added, removed = 0
      var highWater = wm.get
      // per-commit CAS chain: the first replayed commit expects the
      // watermark planning observed; each subsequent one expects the
      // value the PREVIOUS commit wrote
      var expectedWm = wm
      target.beginBatch()
      try pending.foreach { v =>
        val (adds, removes) = PhaseTimer.time("engine:source-changes")(source.changes(v))
        // a late replay never regresses the watermark
        highWater = source.laterOf(highWater, v)
        val schemaV = PhaseTimer.time("engine:source-schema-at")(source.schemaAtVersion(v))
        // the schema AT v, not the current one: drops replay before
        // re-adds, so retired field ids stay retired on the target
        PhaseTimer.time("engine:target-commit")(
        target.commit(schemaV, source.partitionColumns, source.dataRoot,
          adds, removes,
          keyProps ++ source.statisticsProps(v) ++
            Map(SourceIdProp -> source.sourceId, VersionProp -> highWater,
            InflightProp -> stillInflight.mkString(",")),
          source.physicalNames,
          Some(graft.model.SyncCas(source.sourceId,
            expectedWm.map(source.sourceId -> _)))))
        expectedWm = Some(highWater)
        added += adds.size; removed += removes.size
      } finally target.endBatch()
      SyncResult("incremental", pending, added, removed)
    }
    def runFull(): SyncResult = {
      // Stabilized source read: currentVersion is re-read AFTER the
      // snapshot listing and must match the pre-read value, else the
      // snapshot is re-taken. Without this, an append landing between
      // snapshotFiles() and currentVersion stamps a watermark PAST
      // versions whose files were never listed — every later
      // incremental sync then skips them and the target silently loses
      // rows (found by the 4-thread stochastic CAS spec).
      var version = source.currentVersion
      var files = source.snapshotFiles()
      var settled = false
      var spins = 0
      while (!settled) {
        val after = source.currentVersion
        if (after == version) settled = true
        else if (spins >= 9)
          throw new graft.model.ConcurrentSyncException(
            s"source ${source.sourceId} kept advancing during full-sync planning " +
              s"($version -> $after after $spins re-reads) — re-plan and retry")
        else { spins += 1; version = after; files = source.snapshotFiles() }
      }
      val srcByNorm = files.map(f => norm(f.physicalPath) -> f)
      val liveByNorm = target.livePaths().toSeq.map(p => norm(p) -> p)
      val srcNorms = srcByNorm.map(_._1).toSet
      val liveNorms = liveByNorm.map(_._1).toSet
      val adds = srcByNorm.collect { case (n, f) if !liveNorms(n) => f }
      val removes = liveByNorm.collect { case (n, p) if !srcNorms(n) => p }.sorted
      target.commit(source.schema, source.partitionColumns, source.dataRoot,
        adds, removes,
        keyProps ++ source.statisticsProps(version) ++
          Map(SourceIdProp -> source.sourceId, VersionProp -> version,
          InflightProp -> stillInflight.mkString(",")),
        source.physicalNames,
        // the full plan diffed against livePaths() read under THIS
        // observed state — ANY movement (even another source's sync)
        // means a stale diff
        Some(graft.model.SyncCas(source.sourceId, observed0)))
      SyncResult("full", Seq(version), adds.size, removes.size)
    }
    if (!incremental) runFull()
    else if (mode == Incremental) runIncremental()
    else try runIncremental() catch {
      // safety fence, same shape as the retention fallback: a pending
      // commit carries changes other formats cannot express (deletion
      // vectors, v2 delete files, MOR log blocks), but the CURRENT
      // snapshot is expressible once the mutation has been purged or
      // compacted — reconcile to it wholesale. changes(v) throws BEFORE
      // that version commits to the target, so the target sits
      // consistently at an earlier version and the file-set diff
      // completes the catch-up in one commit.
      case _: graft.model.UnsyncableChangeException => runFull()
    }
  }

  // ------------------------------------------------------------ factories

  def deltaSource(t: DeltaTable): SyncSource = new DeltaSource(t)
  def icebergSource(t: IcebergTable): SyncSource = new IcebergSource(t)
  def hudiSource(t: HudiTable, readOptimized: Boolean = false): SyncSource =
    new HudiSource(t, readOptimized)
  def deltaTarget(spark: SparkSession, path: String): SyncTarget = new DeltaTarget(spark, path)
  def icebergTarget(spark: SparkSession, path: String): SyncTarget = new IcebergTarget(spark, path)
  def hudiTarget(spark: SparkSession, path: String): SyncTarget = new HudiTarget(spark, path)

  def sourceFor(
      spark: SparkSession,
      format: String,
      path: String,
      /** Partition-spec override for sources whose own metadata can't
        * describe transforms — the reference's Hudi source config (ref
        * `HudiSourceConfig`, `ConfigurationBasedPartitionSpecExtractor`);
        * specs in any form [[graft.model.PartitionTransform.parse]]
        * accepts, including the CLI's `path:type[:format]`. */
      partitionSpec: Option[Seq[String]] = None): SyncSource = {
    val base = FormatTable(format).open(spark, path).source
    partitionSpec.filter(_.nonEmpty) match {
      case None => base
      case Some(specs) =>
        // normalize to the engine's spec syntax; validates eagerly
        val normalized = graft.model.PartitionTransform.parseAll(specs).map(_.spec)
        new SyncSource {
          def format = base.format
          def sourceId = base.sourceId
          def dataRoot = base.dataRoot
          def schema = base.schema
          override def schemaAtVersion(v: String) = base.schemaAtVersion(v)
          def partitionColumns: Seq[String] = normalized
          def currentVersion = base.currentVersion
          def versionExists(v: String) = base.versionExists(v)
          override def isCompleted(v: String) = base.isCompleted(v)
          def versionsAfter(v: String) = base.versionsAfter(v)
          def snapshotFiles() = base.snapshotFiles()
          def changes(v: String) = base.changes(v)
          override def inflightVersions = base.inflightVersions
          override def recordKeyFields = base.recordKeyFields
          override def physicalNames = base.physicalNames
          override def laterOf(a: String, b: String) = base.laterOf(a, b)
          override def statisticsProps(v: String) = base.statisticsProps(v)
        }
    }
  }

  def targetFor(spark: SparkSession, format: String, path: String): SyncTarget =
    FormatTable(format).open(spark, path).target
}

/** A table format viewed as a sync source: versioned history + canonical
  * file descriptors (ref `api/.../spi/extractor/SourceClient.java`). */
trait SyncSource {
  def format: String
  /** Stable identity the watermark is keyed by. */
  def sourceId: String
  /** Root the physical files resolve under. */
  def dataRoot: String
  def schema: StructType
  def partitionColumns: Seq[String]
  /** Newest committed version, as an opaque token. */
  def currentVersion: String
  /** Retention fence: is `v` still listable in the source history? */
  def versionExists(v: String): Boolean
  /** Has version `v` COMPLETED (exact membership, not the time-based
    * fence)? The inflight-backlog drain must use this — a watermark
    * TIME below some completed instant passes `versionExists`, but a
    * still-pending instant has no change set to replay. */
  def isCompleted(v: String): Boolean = versionExists(v)
  /** Versions strictly after `v`, oldest first. */
  def versionsAfter(v: String): Seq[String]
  /** Schema AT a replayed version — incremental replay must apply each
    * commit's schema in order (deletes FIRST), or a column dropped and
    * later re-added would keep its retired field id on the target and
    * resurrect old data (ref `core/.../iceberg/IcebergSchemaSync.java:46-135`
    * emits deletes before adds). Falls back to the current schema for
    * formats that don't version schemas per commit. */
  def schemaAtVersion(v: String): StructType = schema
  def snapshotFiles(): Seq[InternalDataFile]
  /** Adds + removed paths of one version. */
  def changes(v: String): (Seq[InternalDataFile], Seq[String])
  /** Versions started but not yet completed (Hudi timelines can
    * complete out of order; linear logs return empty). */
  def inflightVersions: Seq[String] = Seq.empty
  /** Record-key (primary-key) fields, if the table declares them. */
  def recordKeyFields: Seq[String] = Seq.empty
  /** Logical dot-path → physical parquet column name, when the source's
    * shared data files carry different (column-mapped) names. Targets
    * that can't represent the mapping must refuse rather than emit
    * metadata other engines would misread. */
  def physicalNames: Map[String, String] = Map.empty
  /** The later of two version tokens in this source's commit order. */
  def laterOf(a: String, b: String): String = if (a >= b) a else b
  /** Statistics provenance props for a commit at `version` — the Puffin
    * pointer of the version's closest analyzed ancestor (Iceberg
    * sources; empty elsewhere). See [[SyncEngine.StatsPathProp]]. */
  def statisticsProps(version: String): Map[String, String] = Map.empty
}

/** A table format viewed as a sync target: watermark lookup + metadata
  * commit (ref `api/.../spi/sync/TargetClient.java`). */
trait SyncTarget {
  def format: String
  def targetPath: String
  /** Sync-state properties persisted by the last sync commit (empty for
    * a fresh or never-synced target). */
  def syncState(): Map[String, String]
  /** Last synced version iff this target was last synced from `sourceId`. */
  final def watermarkFor(sourceId: String): Option[String] = {
    val st = syncState()
    st.get(SyncEngine.SourceIdProp).filter(_ == sourceId)
      .flatMap(_ => st.get(SyncEngine.VersionProp))
  }
  /** In-flight versions recorded at the last sync from `sourceId`. */
  final def inflightFor(sourceId: String): Seq[String] = {
    val st = syncState()
    if (!st.get(SyncEngine.SourceIdProp).contains(sourceId)) Seq.empty
    else st.get(SyncEngine.InflightProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }
  /** Currently-live physical paths (empty for a fresh target). */
  def livePaths(): Set[String]
  /** Batch replay bracket: targets may defer per-commit maintenance
    * (Delta's interval checkpoint) until [[endBatch]]. Default no-op. */
  def beginBatch(): Unit = ()
  def endBatch(): Unit = ()
  def commit(
      schema: StructType,
      partitionColumns: Seq[String],
      sourceDataRoot: String,
      adds: Seq[InternalDataFile],
      removePaths: Seq[String],
      watermark: Map[String, String],
      physicalNames: Map[String, String] = Map.empty,
      /** Watermark CAS the planner observed — the target validates it
        * inside the state read that fixes the commit's version slot and
        * throws [[graft.model.ConcurrentSyncException]] on mismatch, so
        * a concurrent sync can never stack a stale diff. */
      cas: Option[graft.model.SyncCas] = None): Unit
}

// ---------------------------------------------------------------- Delta

private final class DeltaSource(t: DeltaTable) extends SyncSource {
  def format = FormatTable.Delta.name
  def sourceId = s"delta:${t.tablePath}"
  def dataRoot: String = t.dataRoot
  private def defs = {
    val (schema, partCols) = t.schemaAt(None)
    DeltaTable.partitionDefsOf(schema, partCols)
  }
  /** Source data schema: generated transform columns are the TARGET
    * codec's concern (hidden in Iceberg, regenerated for Delta). */
  private def schemaFor(asOf: Option[Long]): StructType = {
    val (sch, partCols) = t.schemaAt(asOf)
    val gen = DeltaTable.partitionDefsOf(sch, partCols)
      .filterNot(_.isIdentity).map(_.fieldName).toSet
    StructType(sch
      .filterNot(f => gen.contains(f.name))
      .map(_.copy(metadata = Metadata.empty)))
  }
  def schema: StructType = schemaFor(None)
  override def schemaAtVersion(v: String): StructType = schemaFor(Some(v.toLong))
  def partitionColumns: Seq[String] = defs.map(_.spec)
  def currentVersion: String = t.latestVersion.toString
  def versionExists(v: String): Boolean =
    v.toLongOption.exists(t.log.listVersions().contains)
  def versionsAfter(v: String): Seq[String] =
    t.log.listVersions().filter(_ > v.toLong).sorted.map(_.toString)
  def snapshotFiles(): Seq[InternalDataFile] = t.snapshotDataFiles()
  def changes(v: String): (Seq[InternalDataFile], Seq[String]) = t.changeSet(v.toLong)
  override def laterOf(a: String, b: String): String =
    if (a.toLong >= b.toLong) a else b
  override def recordKeyFields: Seq[String] =
    t.log.metadataAt(None)._1.configuration.get(SyncEngine.RecordKeyProp)
      .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  /** The registration visible AT the synced version — its sketch
    * describes an ancestor of the row set the replay applies (the same
    * closest-analyzed-ancestor semantics as the Iceberg source);
    * sync-carried pointers chain through unchanged. The
    * partition-statistics key rides only as a chained carry (Delta has
    * no native partition-rollup writer). */
  override def statisticsProps(version: String): Map[String, String] = {
    val conf = t.log.metadataAt(version.toLongOption)._1.configuration
    conf.get(DeltaTable.StatsPathKey).orElse(conf.get(SyncEngine.StatsPathProp))
      .map(p => Map(SyncEngine.StatsPathProp -> p)).getOrElse(Map.empty) ++
      conf.get(SyncEngine.PartitionStatsPathProp)
        .map(p => Map(SyncEngine.PartitionStatsPathProp -> p)).getOrElse(Map.empty)
  }

  /** Column-mapped sources: shared parquet carries col-<uuid> names. */
  override def physicalNames: Map[String, String] = {
    val (schema, _) = t.schemaAt(None)
    if (!t.log.metadataAt(None)._1.configuration
        .get("delta.columnMapping.mode").exists(_ != "none")) Map.empty
    else {
      def walk(st: StructType, prefix: String): Seq[(String, String)] =
        st.fields.toSeq.flatMap { f =>
          val path = prefix + f.name
          val phys =
            if (f.metadata.contains("delta.columnMapping.physicalName"))
              f.metadata.getString("delta.columnMapping.physicalName")
            else f.name
          val self = if (phys != f.name) Seq(path -> phys) else Seq.empty
          self ++ (f.dataType match {
            case nested: StructType => walk(nested, path + ".")
            case _ => Seq.empty
          })
        }
      walk(schema, "").toMap
    }
  }
}

private final class DeltaTarget(spark: SparkSession, val targetPath: String) extends SyncTarget {
  def format = FormatTable.Delta.name
  private def table = DeltaTable.forPath(spark, targetPath)
  private def exists = table.log.latestVersion().nonEmpty
  def syncState(): Map[String, String] =
    if (!exists) Map.empty else table.log.metadataAt(None)._1.configuration
  def livePaths(): Set[String] =
    if (!exists) Set.empty else table.snapshotDataFiles().map(_.physicalPath).toSet
  // a batch replay pays ONE end-of-batch checkpoint instead of an
  // O(table) checkpoint write every interval-th replayed commit
  private var deferring = false
  override def beginBatch(): Unit = deferring = true
  override def endBatch(): Unit = {
    deferring = false
    if (exists) table.log.checkpointIfDue()
  }
  def commit(
      schema: StructType, partitionColumns: Seq[String], sourceDataRoot: String,
      adds: Seq[InternalDataFile], removePaths: Seq[String],
      watermark: Map[String, String],
      physicalNames: Map[String, String] = Map.empty,
      cas: Option[graft.model.SyncCas] = None): Unit = {
    require(physicalNames.isEmpty,
      s"cannot sync a column-mapped source to a Delta target at $targetPath: " +
        "the shared files' physical names are only representable via an " +
        "Iceberg name mapping")
    table.syncCommit(schema, partitionColumns, sourceDataRoot, adds, removePaths, watermark,
      deferCheckpoint = deferring, cas = cas)
  }
}

// -------------------------------------------------------------- Iceberg

private final class IcebergSource(t: IcebergTable) extends SyncSource {
  def format = FormatTable.Iceberg.name
  def sourceId = s"iceberg:${t.tablePath}"
  def dataRoot: String = t.dataRoot
  def schema: StructType = t.sparkSchema
  // the LIVE file set's spec, not the default: a rollback across a spec
  // evolution leaves the default describing a layout no live file uses
  def partitionColumns: Seq[String] = t.liveSpecDefs.map(_.spec)
  def currentVersion: String = t.snapshotIds.last.toString
  def versionExists(v: String): Boolean =
    v.toLongOption.exists(t.snapshotIds.contains)
  def versionsAfter(v: String): Seq[String] = {
    val ids = t.snapshotIds
    val i = ids.indexOf(v.toLong)
    if (i < 0) Seq.empty else ids.drop(i + 1).map(_.toString)
  }
  /** A spec-evolved table's live files disagree on partition fields;
    * the single-spec targets (Delta/Hudi) cannot represent that without
    * rewriting data — an identity column of one era lives only in the
    * log, of the other only in the files, and any one choice of target
    * partition columns silently nulls one era's column. Refuse loudly
    * (rewrite/compact onto the current spec first) rather than sync
    * unreadable metadata. */
  private def guardSingleSpec(files: Seq[InternalDataFile]): Seq[InternalDataFile] = {
    val keysets = files.map(_.partitionValues.keySet).distinct
    require(keysets.size <= 1,
      s"iceberg source ${t.tablePath} has live files under multiple partition " +
        s"specs (${keysets.map(_.toSeq.sorted.mkString("+")).mkString(" vs ")}); " +
        "single-spec targets cannot represent a spec-evolved file mix — " +
        "compact the table onto its current spec before syncing")
    files
  }
  def snapshotFiles(): Seq[InternalDataFile] = guardSingleSpec(t.snapshotDataFiles())
  def changes(v: String): (Seq[InternalDataFile], Seq[String]) = {
    val (adds, removes) = t.changeSet(v.toLong)
    (guardSingleSpec(adds), removes)
  }
  override def laterOf(a: String, b: String): String = {
    val ids = t.snapshotIds
    if (ids.indexOf(a.toLong) >= ids.indexOf(b.toLong)) a else b
  }
  override def recordKeyFields: Seq[String] =
    t.currentMetadata.properties.get(SyncEngine.RecordKeyProp)
      .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  /** The synced version's closest analyzed ancestor — its sketches are
    * computed over exactly the row set the sync replays, so they stay
    * valid on every target. Column (Puffin) and partition statistics
    * ride as separate keys; either may be absent. */
  override def statisticsProps(version: String): Map[String, String] = {
    val id = version.toLongOption
    id.flatMap(i => t.statisticsFor(Some(i)))
      .map(e => Map(SyncEngine.StatsPathProp -> e.path)).getOrElse(Map.empty) ++
      id.flatMap(i => t.partitionStatisticsFor(Some(i)))
        .map(e => Map(SyncEngine.PartitionStatsPathProp -> e.path)).getOrElse(Map.empty)
  }
}

private final class IcebergTarget(spark: SparkSession, val targetPath: String) extends SyncTarget {
  def format = FormatTable.Iceberg.name
  private def table = IcebergTable.forPath(spark, targetPath)
  private def exists = table.log.latestVersion().nonEmpty
  /** Repair a corrupt current snapshot BEFORE consulting sync state:
    * recovery clears the watermark, so the engine plans a full sync
    * over the rolled-back table (ref `IcebergClient.java:251-286`). */
  def syncState(): Map[String, String] =
    if (!exists) Map.empty
    else { table.recoverIfCorrupt(); table.currentMetadata.properties }
  def livePaths(): Set[String] =
    if (!exists) Set.empty
    else {
      table.recoverIfCorrupt()
      // recovery of a first-and-only snapshot leaves no current snapshot
      if (table.currentMetadata.currentSnapshotId.isEmpty) Set.empty
      else table.snapshotDataFiles().map(_.physicalPath).toSet
    }
  def commit(
      schema: StructType, partitionColumns: Seq[String], sourceDataRoot: String,
      adds: Seq[InternalDataFile], removePaths: Seq[String],
      watermark: Map[String, String],
      physicalNames: Map[String, String] = Map.empty,
      cas: Option[graft.model.SyncCas] = None): Unit =
    table.syncCommit(schema, partitionColumns, sourceDataRoot, adds, removePaths, watermark,
      physicalNames, cas)
}

// ----------------------------------------------------------------- Hudi

private final class HudiSource(t: HudiTable,
    /** Sync the MOR read-optimized view (base files only; the target
      * lags the snapshot by un-compacted log mutations — the
      * reference's documented MOR contract, ref
      * `features-and-limitations.md:26-27`). The sourceId stays the
      * same either way: once a compaction folds the logs in, its
      * replacecommit replays through the SAME incremental feed and the
      * views re-converge — no watermark reset needed. */
    readOptimized: Boolean = false) extends SyncSource {
  def format = FormatTable.Hudi.name
  def sourceId = s"hudi:${t.tablePath}"
  def dataRoot: String = t.dataRoot
  def schema: StructType = t.schemaAt(None)
  override def schemaAtVersion(v: String): StructType = t.schemaAt(Some(v))
  def partitionColumns: Seq[String] = t.partitionColumns
  /** Newest feed instant — maintenance instants advance the watermark
    * too, so a rollback is never replayed twice. */
  def currentVersion: String = {
    val is = t.syncInstants
    require(is.nonEmpty, s"empty hudi table: ${t.tablePath}")
    is.last
  }
  /** Reference semantics (ref `core/.../hudi/HudiClient.java:152-177`):
    * the watermark is a TIME, usable iff some completed instant sits at
    * or below it (a rolled-back watermark commit still replays
    * incrementally — the rollback instant after it carries the
    * removals) and the cleaner hasn't reclaimed files past it. */
  def versionExists(v: String): Boolean = {
    val completed = t.timeline.allCompletedInstants()
    t.syncInstants(completed).exists(_ <= v) && t.earliestCommitToRetain(completed).forall(_ <= v)
  }
  /** Exact membership: a pending/abandoned instant must NOT drain from
    * the inflight backlog until it actually completes. */
  override def isCompleted(v: String): Boolean = t.syncInstants.contains(v)
  def versionsAfter(v: String): Seq[String] = t.syncInstants.filter(_ > v)
  def snapshotFiles(): Seq[InternalDataFile] = t.snapshotDataFiles(readOptimized)
  def changes(v: String): (Seq[InternalDataFile], Seq[String]) = t.changeSet(v, readOptimized)
  override def inflightVersions: Seq[String] = t.timeline.pendingInstants()
  override def recordKeyFields: Seq[String] =
    t.properties.get("hoodie.table.recordkey.fields")
      .orElse(t.latestCommitExtraMetadata.get(SyncEngine.RecordKeyProp))
      .toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  @volatile private var lastWalk: Option[HudiSource.StatsWalk] = None

  /** The registration's extraMetadata walk-back, bounded AT the synced
    * instant (the Delta source's closest-analyzed-ancestor twin);
    * sync-carried pointers chain through unchanged, and a native
    * pointer anywhere at or below the version wins over a carried one.
    *
    * One newest-first walk resolves all three keys and stops once the
    * native and partition keys are found (the carried key only matters
    * without a native one). Completed instant files never change, so
    * the walk is kept: a later version walks only the instants the
    * last walk did not cover — during a replay, the commits after the
    * previous one. A lower version (the late-completed backlog), or a
    * kept hit whose instant is gone (rolled back), walks the whole
    * timeline again. */
  override def statisticsProps(version: String): Map[String, String] = {
    val upTo = t.timeline.completedInstants().filter(_.time <= version)
    val times = upTo.iterator.map(_.time).toSet
    val prior = lastWalk.filter(w =>
      w.version <= version && w.hits.valuesIterator.forall(h => times(h._1)))
    val fresh = upTo.filterNot(i => prior.exists(_.covered(i.time)))
    val found = scala.collection.mutable.Map[String, (String, String)]()
    val walk = t.extraMetadataNewestFirst(fresh)
    while (!(found.contains(HudiTable.StatsPathKey) &&
        found.contains(SyncEngine.PartitionStatsPathProp)) && walk.hasNext) {
      val (i, em) = walk.next()
      HudiSource.StatsKeys.foreach(k =>
        if (!found.contains(k)) em.get(k).foreach(v => found(k) = (i.time, v)))
    }
    // a late-completed instant may sort below a kept hit: newest wins
    val hits = prior.fold(found.toMap)(w => (w.hits.keySet ++ found.keySet).iterator
      .map(k => k -> (w.hits.get(k) ++ found.get(k)).maxBy(_._1)).toMap)
    lastWalk = Some(HudiSource.StatsWalk(version, times, hits))
    def value(k: String) = hits.get(k).map(_._2)
    value(HudiTable.StatsPathKey).orElse(value(SyncEngine.StatsPathProp))
      .map(p => Map(SyncEngine.StatsPathProp -> p)).getOrElse(Map.empty) ++
      value(SyncEngine.PartitionStatsPathProp)
        .map(p => Map(SyncEngine.PartitionStatsPathProp -> p)).getOrElse(Map.empty)
  }
}

private object HudiSource {
  /** What a statistics walk proved at or below `version`: the instants
    * it covered, and the newest (instant, value) per key. */
  final case class StatsWalk(
      version: String, covered: Set[String], hits: Map[String, (String, String)])
  val StatsKeys: Seq[String] =
    Seq(HudiTable.StatsPathKey, SyncEngine.StatsPathProp, SyncEngine.PartitionStatsPathProp)
}

private final class HudiTarget(spark: SparkSession, val targetPath: String) extends SyncTarget {
  def format = FormatTable.Hudi.name
  private def table = HudiTable.forPath(spark, targetPath)
  private def exists = table.timeline.exists
  def syncState(): Map[String, String] =
    if (!exists) Map.empty else table.latestCommitExtraMetadata
  def livePaths(): Set[String] =
    if (!exists) Set.empty else table.snapshotDataFiles().map(_.physicalPath).toSet
  def commit(
      schema: StructType, partitionColumns: Seq[String], sourceDataRoot: String,
      adds: Seq[InternalDataFile], removePaths: Seq[String],
      watermark: Map[String, String],
      physicalNames: Map[String, String] = Map.empty,
      cas: Option[graft.model.SyncCas] = None): Unit = {
    require(physicalNames.isEmpty,
      s"cannot sync a column-mapped source to a Hudi target at $targetPath: " +
        "the shared files' physical names are only representable via an " +
        "Iceberg name mapping")
    table.syncCommit(schema, partitionColumns, sourceDataRoot, adds, removePaths, watermark,
      cas = cas, lock = graft.hudi.HudiLockProvider.forTable(spark, targetPath))
  }
}
