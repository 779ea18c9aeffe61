package graft.iceberg

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** One committed Iceberg snapshot (spec: `snapshots` array entry). */
final case class IcebergSnapshot(
    snapshotId: Long,
    parentId: Option[Long],
    sequenceNumber: Long,
    timestampMs: Long,
    manifestList: String,
    schemaId: Int,
    operation: String, // append | overwrite | replace
    summary: Map[String, String] = Map.empty)

/** One partition-spec field (spec: `partition-specs[].fields[]`). */
final case class IcebergPartitionFieldSpec(
    name: String,
    transform: String, // identity | year | month | day | hour
    sourceId: Int,
    fieldId: Int)

/** One named ref (spec v2 `refs` map): a tag pins a snapshot forever, a
  * branch is an independently movable head. */
final case class IcebergRef(snapshotId: Long, refType: String) {
  require(refType == "tag" || refType == "branch", s"bad ref type $refType")
}

/** One sort-order field (spec: `sort-orders[].fields[]`). */
final case class IcebergSortField(
    sourceId: Int,
    transform: String = "identity",
    direction: String = "asc", // asc | desc
    nullOrder: String = "nulls-first") // nulls-first | nulls-last

/** One sort order (spec: `sort-orders[]`). Order 0 is the implicit
  * unsorted order. The spec's transforms cannot express Morton
  * interleaving, so a Z-ORDER rewrite records its clustering columns as
  * the order's fields and marks the interleave in the
  * `graft.sort-order.<id>.kind=zorder` table property — readers that
  * only know lexicographic orders see an honest field list either way. */
final case class IcebergSortOrder(orderId: Int, fields: Seq[IcebergSortField])

/**
 * Iceberg table metadata (format v2) — the `metadata/vN.metadata.json`
 * document. The reference manipulates this through the Iceberg library
 * (ref `core/.../iceberg/IcebergClient.java:135-237`); with no Iceberg
 * runtime on the classpath (SURVEY.md §7) the codec speaks the public
 * spec directly.
 */
final case class IcebergTableMetadata(
    tableUuid: String,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    currentSchemaId: Int,
    schema: StructType, // id-stamped (IcebergSchemas.FieldIdKey)
    /** the DEFAULT spec (spec-id = defaultSpecId) — what new writes use */
    partitionSpec: Seq[IcebergPartitionFieldSpec],
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Seq[IcebergSnapshot],
    snapshotLog: Seq[(Long, Long)], // (timestampMs, snapshotId)
    /** named tags/branches; `main` is implicit (current snapshot) */
    refs: Map[String, IcebergRef] = Map.empty,
    /** spec evolution: the default spec's id, and every RETIRED spec
      * still referenced by live manifests (spec `partition-specs`
      * keeps all of them; manifests address theirs by
      * `partition-spec-id`) */
    defaultSpecId: Int = 0,
    olderSpecs: Seq[(Int, Seq[IcebergPartitionFieldSpec])] = Seq.empty,
    /** schema evolution history: every RETIRED schema by id (spec
      * `schemas` keeps all of them; snapshots address theirs by
      * `schema-id`, and time travel presents the snapshot's schema). */
    olderSchemas: Seq[(Int, StructType)] = Seq.empty,
    /** declared sort orders (spec `sort-orders`); order 0 (unsorted) is
      * always present. New writes advertise `defaultSortOrderId`. */
    sortOrders: Seq[IcebergSortOrder] = Seq(IcebergSortOrder(0, Seq.empty)),
    defaultSortOrderId: Int = 0,
    /** registered Puffin statistics files (spec `statistics`), one
      * entry per analyzed snapshot; expiry drops entries whose
      * snapshot left the table. */
    statistics: Seq[IcebergStatisticsFile] = Seq.empty,
    /** registered partition statistics files (spec
      * `partition-statistics` — the sibling list of `statistics`):
      * per-partition row/file/byte rollups in a sorted parquet file,
      * one entry per analyzed snapshot. */
    partitionStatistics: Seq[IcebergPartitionStatisticsFile] = Seq.empty) {

  /** Every known spec by id (older + default). */
  def allSpecs: Seq[(Int, Seq[IcebergPartitionFieldSpec])] =
    (olderSpecs.filterNot(_._1 == defaultSpecId) :+ (defaultSpecId -> partitionSpec))
      .sortBy(_._1)

  /** Every known schema by id (older + current). */
  def allSchemas: Seq[(Int, StructType)] =
    (olderSchemas.filterNot(_._1 == currentSchemaId) :+ (currentSchemaId -> schema))
      .sortBy(_._1)

  /** The schema a snapshot was committed under (current schema when the
    * id is unknown — metadata written before schema history landed). */
  def schemaForSnapshot(snapshotId: Long): StructType = {
    val sid = snapshot(snapshotId).schemaId
    allSchemas.find(_._1 == sid).map(_._2).getOrElse(schema)
  }

  def snapshot(id: Long): IcebergSnapshot =
    snapshots.find(_.snapshotId == id)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $id"))

  def currentSnapshot: Option[IcebergSnapshot] = currentSnapshotId.map(snapshot)

  /** Latest snapshot with timestamp <= ts; ties resolve to the newer
    * snapshot (same rule as Delta timestampAsOf). */
  def snapshotForTimestamp(tsMillis: Long): IcebergSnapshot = {
    val c = snapshots.filter(_.timestampMs <= tsMillis)
    require(c.nonEmpty, s"no snapshot at or before $tsMillis")
    c.maxBy(s => (s.timestampMs, s.sequenceNumber))
  }

  /** The statistics entry of the CLOSEST ANALYZED ANCESTOR of a
    * snapshot (current when omitted) — the planner convention: stats
    * registered before later appends stay usable until re-analyzed. */
  def statisticsFor(snapshotId: Option[Long]): Option[IcebergStatisticsFile] =
    closestAnalyzed(snapshotId)(id => statistics.find(_.snapshotId == id))

  /** The partition-statistics entry of the closest analyzed ancestor
    * (same planner convention as [[statisticsFor]]). */
  def partitionStatisticsFor(snapshotId: Option[Long]): Option[IcebergPartitionStatisticsFile] =
    closestAnalyzed(snapshotId)(id => partitionStatistics.find(_.snapshotId == id))

  private def closestAnalyzed[A](snapshotId: Option[Long])(entryOf: Long => Option[A]): Option[A] =
    snapshotId.orElse(currentSnapshotId).iterator.flatMap(ancestry).flatMap(entryOf).nextOption()

  /** `id`, then its parent, grandparent, ..., newest first; the walk ends
    * at the first snapshot no longer in the table (expired history). */
  def ancestry(id: Long): Iterator[Long] = {
    val byId = snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(Option(id))(_.flatMap(byId.get).flatMap(_.parentId))
      .takeWhile(_.isDefined).map(_.get)
  }

  /** The spec id and fields `proposed` resolves to: the known spec with
    * the same (source, transform, name) fields — the default first, else
    * a retired one reactivated — or a new spec whose fields keep the id
    * of an identical field in ANY known spec (the spec's reuse rule),
    * new fields continuing from last-partition-id. */
  def resolveSpec(
      proposed: Seq[IcebergPartitionFieldSpec]): (Int, Seq[IcebergPartitionFieldSpec]) = {
    def key(f: IcebergPartitionFieldSpec) = (f.sourceId, f.transform, f.name)
    if (proposed.map(key) == partitionSpec.map(key)) (defaultSpecId, partitionSpec)
    else allSpecs.find(_._2.map(key) == proposed.map(key)).getOrElse {
      val knownIds = allSpecs.flatMap(_._2).map(f => key(f) -> f.fieldId).toMap
      var nextId = (999 +: allSpecs.flatMap(_._2.map(_.fieldId))).max
      (allSpecs.map(_._1).max + 1, proposed.map { f =>
        knownIds.get(key(f)) match {
          case Some(id) => f.copy(fieldId = id)
          case None => nextId += 1; f.copy(fieldId = nextId)
        }
      })
    }
  }
}

object IcebergMetadataCodec {
  private val mapper = new ObjectMapper()

  /** Partition-spec JSON document (for manifest avro headers). */
  def specJson(spec: Seq[IcebergPartitionFieldSpec], specId: Int = 0): String = {
    val n = mapper.createObjectNode()
    n.put("spec-id", specId)
    val fields = n.putArray("fields")
    spec.foreach { f =>
      val fn = fields.addObject()
      fn.put("name", f.name)
      fn.put("transform", f.transform)
      fn.put("source-id", f.sourceId)
      fn.put("field-id", f.fieldId)
    }
    n.toString
  }

  def toJson(m: IcebergTableMetadata): String = {
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", m.tableUuid)
    root.put("location", m.location)
    root.put("last-sequence-number", m.lastSequenceNumber)
    root.put("last-updated-ms", m.lastUpdatedMs)
    root.put("last-column-id", m.lastColumnId)
    root.put("current-schema-id", m.currentSchemaId)
    val schemas = root.putArray("schemas")
    val schemaNode = IcebergSchemas.toJson(m.schema, m.currentSchemaId)
    // record-key fields serialize as the spec's identifier-field-ids
    // (derived from the property sync persists, so the model stays flat)
    val keyIds = m.properties.get("graft.record.key.fields").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .flatMap(n => m.schema.fields.find(_.name == n).flatMap(IcebergSchemas.fieldId))
    if (keyIds.nonEmpty) {
      val arr = schemaNode.putArray("identifier-field-ids")
      keyIds.foreach(arr.add)
    }
    // retired schemas first, current last — snapshots address theirs by id
    m.olderSchemas.filterNot(_._1 == m.currentSchemaId).sortBy(_._1).foreach {
      case (id, s) => schemas.add(IcebergSchemas.toJson(s, id))
    }
    schemas.add(schemaNode)
    root.put("default-spec-id", m.defaultSpecId)
    val specs = root.putArray("partition-specs")
    m.allSpecs.foreach { case (id, fields) =>
      val spec = specs.addObject()
      spec.put("spec-id", id)
      val sf = spec.putArray("fields")
      fields.foreach { f =>
        val n = sf.addObject()
        n.put("name", f.name)
        n.put("transform", f.transform)
        n.put("source-id", f.sourceId)
        n.put("field-id", f.fieldId)
      }
    }
    root.put("last-partition-id",
      (999 +: m.allSpecs.flatMap(_._2.map(_.fieldId))).max)
    root.put("default-sort-order-id", m.defaultSortOrderId)
    val orders = root.putArray("sort-orders")
    // order 0 (unsorted) always serializes so v2 readers that require
    // the default order's presence never trip on an order-less table
    val allOrders =
      if (m.sortOrders.exists(_.orderId == 0)) m.sortOrders
      else IcebergSortOrder(0, Seq.empty) +: m.sortOrders
    allOrders.sortBy(_.orderId).foreach { o =>
      val order = orders.addObject()
      order.put("order-id", o.orderId)
      val ofs = order.putArray("fields")
      o.fields.foreach { f =>
        val n = ofs.addObject()
        n.put("transform", f.transform)
        n.put("source-id", f.sourceId)
        n.put("direction", f.direction)
        n.put("null-order", f.nullOrder)
      }
    }
    if (m.statistics.nonEmpty) {
      val stats = root.putArray("statistics")
      m.statistics.sortBy(_.snapshotId).foreach { s =>
        val n = stats.addObject()
        n.put("snapshot-id", s.snapshotId)
        n.put("statistics-path", s.path)
        n.put("file-size-in-bytes", s.fileSizeBytes)
        n.put("file-footer-size-in-bytes", s.footerSizeBytes)
        val bm = n.putArray("blob-metadata")
        s.blobs.foreach { b =>
          val bn = bm.addObject()
          bn.put("type", b.blobType)
          val f = bn.putArray("fields")
          b.fields.foreach(f.add)
          bn.put("snapshot-id", b.snapshotId)
          bn.put("sequence-number", b.sequenceNumber)
          bn.put("offset", b.offset)
          bn.put("length", b.length)
          if (b.properties.nonEmpty) {
            val p = bn.putObject("properties")
            b.properties.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
          }
        }
      }
    }
    if (m.partitionStatistics.nonEmpty) {
      val pstats = root.putArray("partition-statistics")
      m.partitionStatistics.sortBy(_.snapshotId).foreach { s =>
        val n = pstats.addObject()
        n.put("snapshot-id", s.snapshotId)
        n.put("statistics-path", s.path)
        n.put("file-size-in-bytes", s.fileSizeBytes)
      }
    }
    val props = root.putObject("properties")
    m.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    m.currentSnapshotId.foreach(root.put("current-snapshot-id", _))
    val snaps = root.putArray("snapshots")
    m.snapshots.foreach { s =>
      val n = snaps.addObject()
      n.put("snapshot-id", s.snapshotId)
      s.parentId.foreach(n.put("parent-snapshot-id", _))
      n.put("sequence-number", s.sequenceNumber)
      n.put("timestamp-ms", s.timestampMs)
      n.put("manifest-list", s.manifestList)
      n.put("schema-id", s.schemaId)
      val sm = n.putObject("summary")
      sm.put("operation", s.operation)
      s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
    }
    val slog = root.putArray("snapshot-log")
    m.snapshotLog.foreach { case (ts, id) =>
      val n = slog.addObject()
      n.put("timestamp-ms", ts)
      n.put("snapshot-id", id)
    }
    // spec v2 refs map; `main` always tracks the current snapshot
    if (m.currentSnapshotId.nonEmpty || m.refs.nonEmpty) {
      val refs = root.putObject("refs")
      m.currentSnapshotId.foreach { id =>
        val n = refs.putObject("main")
        n.put("snapshot-id", id)
        n.put("type", "branch")
      }
      m.refs.toSeq.sortBy(_._1).foreach { case (name, r) =>
        if (name != "main") {
          val n = refs.putObject(name)
          n.put("snapshot-id", r.snapshotId)
          n.put("type", r.refType)
        }
      }
    }
    root.putArray("metadata-log")
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def fromJson(json: String): IcebergTableMetadata = {
    val root = mapper.readTree(json)
    // format-version 1 compatibility: singular `schema` /
    // `partition-spec` instead of the versioned arrays, no sequence
    // numbers anywhere (treated as 0)
    val currentSchemaId =
      Option(root.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    val schemaNode = Option(root.get("schemas")).map(_.elements().asScala
        .find(_.get("schema-id").asInt() == currentSchemaId)
        .getOrElse(throw new IllegalArgumentException("current schema not found")))
      .orElse(Option(root.get("schema")))
      .getOrElse(throw new IllegalArgumentException("no schema in metadata json"))
    def specFieldsOf(fieldsNode: com.fasterxml.jackson.databind.JsonNode) =
      fieldsNode.elements().asScala.map { f =>
        IcebergPartitionFieldSpec(
          f.get("name").asText(),
          f.get("transform").asText(),
          f.get("source-id").asInt(),
          f.get("field-id").asInt())
      }.toSeq
    val defaultSpecId =
      Option(root.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    val allSpecs: Seq[(Int, Seq[IcebergPartitionFieldSpec])] =
      Option(root.get("partition-specs")).map(_.elements().asScala.map { s =>
          s.get("spec-id").asInt() -> specFieldsOf(s.get("fields"))
        }.toSeq)
        .orElse(Option(root.get("partition-spec")).map(n => Seq(0 -> specFieldsOf(n))))
        .getOrElse(Seq(0 -> Seq.empty))
    val defaultSpec = allSpecs.find(_._1 == defaultSpecId).map(_._2)
      .getOrElse(throw new IllegalArgumentException("default spec not found"))
    IcebergTableMetadata(
      tableUuid = root.get("table-uuid").asText(),
      location = root.get("location").asText(),
      lastSequenceNumber =
        Option(root.get("last-sequence-number")).map(_.asLong()).getOrElse(0L),
      lastUpdatedMs = root.get("last-updated-ms").asLong(),
      lastColumnId = root.get("last-column-id").asInt(),
      currentSchemaId = currentSchemaId,
      schema = IcebergSchemas.fromJson(schemaNode),
      partitionSpec = defaultSpec,
      defaultSpecId = defaultSpecId,
      olderSpecs = allSpecs.filterNot(_._1 == defaultSpecId),
      olderSchemas = Option(root.get("schemas")).toSeq
        .flatMap(_.elements().asScala)
        .filter(n => n.get("schema-id").asInt() != currentSchemaId)
        .map(n => n.get("schema-id").asInt() -> IcebergSchemas.fromJson(n)).toSeq,
      properties = Option(root.get("properties")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      currentSnapshotId =
        Option(root.get("current-snapshot-id")).filterNot(_.isNull).map(_.asLong()),
      snapshots = Option(root.get("snapshots")).map(_.elements().asScala.map { s =>
        IcebergSnapshot(
          snapshotId = s.get("snapshot-id").asLong(),
          parentId = Option(s.get("parent-snapshot-id")).filterNot(_.isNull).map(_.asLong()),
          sequenceNumber =
            Option(s.get("sequence-number")).map(_.asLong()).getOrElse(0L),
          timestampMs = s.get("timestamp-ms").asLong(),
          manifestList = Option(s.get("manifest-list")).map(_.asText()).getOrElse(
            throw new IllegalArgumentException(
              "snapshot has inline `manifests` (pre-manifest-list v1 writer); unsupported")),
          schemaId = Option(s.get("schema-id")).map(_.asInt()).getOrElse(currentSchemaId),
          operation = Option(s.get("summary")).map(_.get("operation").asText()).getOrElse(""),
          summary = Option(s.get("summary")).map(_.properties().asScala
            .filter(_.getKey != "operation")
            .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
      }.toSeq).getOrElse(Seq.empty),
      snapshotLog = Option(root.get("snapshot-log")).map(_.elements().asScala.map { e =>
        (e.get("timestamp-ms").asLong(), e.get("snapshot-id").asLong())
      }.toSeq).getOrElse(Seq.empty),
      // `main` stays implicit: current-snapshot-id is its truth, so a
      // stale stored main can never shadow it
      refs = Option(root.get("refs")).map(_.properties().asScala
        .filter(_.getKey != "main")
        .map(e => e.getKey -> IcebergRef(
          e.getValue.get("snapshot-id").asLong(),
          Option(e.getValue.get("type")).map(_.asText()).getOrElse("tag")))
        .toMap).getOrElse(Map.empty),
      statistics = Option(root.get("statistics")).map(_.elements().asScala.map { s =>
        IcebergStatisticsFile(
          snapshotId = s.get("snapshot-id").asLong(),
          path = s.get("statistics-path").asText(),
          fileSizeBytes = s.get("file-size-in-bytes").asLong(),
          footerSizeBytes = s.get("file-footer-size-in-bytes").asLong(),
          blobs = Option(s.get("blob-metadata")).map(_.elements().asScala.map { b =>
            IcebergBlobMetadata(
              b.get("type").asText(),
              Option(b.get("fields")).map(_.elements().asScala.map(_.asInt()).toSeq)
                .getOrElse(Seq.empty),
              b.get("snapshot-id").asLong(),
              b.get("sequence-number").asLong(),
              Option(b.get("offset")).map(_.asLong()).getOrElse(0L),
              Option(b.get("length")).map(_.asLong()).getOrElse(0L),
              Option(b.get("properties")).map(p => p.properties().asScala
                .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
          }.toSeq).getOrElse(Seq.empty))
      }.toSeq).getOrElse(Seq.empty),
      partitionStatistics =
        Option(root.get("partition-statistics")).map(_.elements().asScala.map { s =>
          IcebergPartitionStatisticsFile(
            snapshotId = s.get("snapshot-id").asLong(),
            path = s.get("statistics-path").asText(),
            fileSizeBytes = s.get("file-size-in-bytes").asLong())
        }.toSeq).getOrElse(Seq.empty),
      sortOrders = Option(root.get("sort-orders")).map(_.elements().asScala.map { o =>
        IcebergSortOrder(
          o.get("order-id").asInt(),
          Option(o.get("fields")).toSeq.flatMap(_.elements().asScala).map { f =>
            IcebergSortField(
              sourceId = f.get("source-id").asInt(),
              transform = Option(f.get("transform")).map(_.asText()).getOrElse("identity"),
              direction = Option(f.get("direction")).map(_.asText()).getOrElse("asc"),
              nullOrder = Option(f.get("null-order")).map(_.asText()).getOrElse("nulls-first"))
          }.toSeq)
      }.toSeq).getOrElse(Seq(IcebergSortOrder(0, Seq.empty))),
      defaultSortOrderId =
        Option(root.get("default-sort-order-id")).map(_.asInt()).getOrElse(0))
  }
}

/**
 * Versioned metadata-file log under `<table>/metadata/` with the
 * HadoopTables layout: `vN.metadata.json` + `version-hint.text`. The
 * commit point is the put-if-absent creation of `vN.metadata.json`
 * (temp file + no-overwrite rename, same protocol as our Delta log);
 * the hint file is a non-authoritative pointer for fast lookup.
 */
final class IcebergMetadataLog(val tablePath: String, sc: SparkContext) {

  val metadataDir = new Path(tablePath, "metadata")
  private def fs: FileSystem = metadataDir.getFileSystem(sc.hadoopConfiguration)
  private def versionFile(v: Long): Path = new Path(metadataDir, s"v$v.metadata.json")
  private val hintFile = new Path(metadataDir, "version-hint.text")

  def listVersions(): Seq[Long] = {
    if (!fs.exists(metadataDir)) return Seq.empty
    fs.listStatus(metadataDir).toSeq
      .map(_.getPath.getName)
      .flatMap { n =>
        val m = "v(\\d+)\\.metadata\\.json".r.findFirstMatchIn(n)
        m.map(_.group(1).toLong)
      }
      .sorted
  }

  def latestVersion(): Option[Long] = {
    // fast path via hint, verified; fallback to listing
    val hinted =
      try {
        if (fs.exists(hintFile)) {
          val v = graft.util.MetaFiles.readUtf8(fs, hintFile).trim.toLong
          if (fs.exists(versionFile(v)) && !fs.exists(versionFile(v + 1))) Some(v) else None
        } else None
      } catch { case _: Exception => None }
    hinted.orElse(listVersions().lastOption)
  }

  def read(v: Long): IcebergTableMetadata =
    IcebergMetadataCodec.fromJson(graft.util.MetaFiles.readUtf8(fs, versionFile(v)))

  def readLatest(): Option[(Long, IcebergTableMetadata)] =
    latestVersion().map(v => (v, read(v)))

  /** Put-if-absent commit of version `v`; false = lost the race. */
  def commit(v: Long, metadata: IcebergTableMetadata): Boolean = {
    fs.mkdirs(metadataDir)
    val target = versionFile(v)
    if (fs.exists(target)) return false
    if (graft.util.MetaFiles.createExclusive(fs, sc.hadoopConfiguration, target,
        IcebergMetadataCodec.toJson(metadata).getBytes(StandardCharsets.UTF_8))) {
      graft.util.MetaFiles.replace(fs, hintFile, v.toString.getBytes(StandardCharsets.UTF_8))
      true
    } else false
  }
}
