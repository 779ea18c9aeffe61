package syncbench

import org.apache.spark.sql.types.StructType

import graft.model.{ConcurrentSyncException, InternalDataFile, SyncCas}
import graft.sync.{SyncSource, SyncTarget}

/** Times every call the sync engine makes into a source. Each member,
  * the defaulted ones too, forwards to the wrapped source unchanged, so
  * a decorated sync does exactly the work of a bare one. Span names are
  * `<format>.<member>`. */
final class TracedSource(u: SyncSource, t: Tracer) extends SyncSource {
  private def s[A](member: String)(f: => A): A = t.span(s"${u.format}.$member")(f)
  def format: String = u.format
  def sourceId: String = u.sourceId
  def dataRoot: String = s("data_root")(u.dataRoot)
  def schema: StructType = s("schema")(u.schema)
  def partitionColumns: Seq[String] = s("partition_columns")(u.partitionColumns)
  def currentVersion: String = s("current_version")(u.currentVersion)
  def versionExists(v: String): Boolean = s("version_exists")(u.versionExists(v))
  override def isCompleted(v: String): Boolean = s("is_completed")(u.isCompleted(v))
  def versionsAfter(v: String): Seq[String] = s("versions_after")(u.versionsAfter(v))
  override def schemaAtVersion(v: String): StructType = s("schema_at")(u.schemaAtVersion(v))
  def snapshotFiles(): Seq[InternalDataFile] = s("snapshot_files")(u.snapshotFiles())
  def changes(v: String): (Seq[InternalDataFile], Seq[String]) = s("changes")(u.changes(v))
  override def inflightVersions: Seq[String] = s("inflight_versions")(u.inflightVersions)
  override def recordKeyFields: Seq[String] = s("record_key_fields")(u.recordKeyFields)
  override def physicalNames: Map[String, String] = s("physical_names")(u.physicalNames)
  override def laterOf(a: String, b: String): String = s("later_of")(u.laterOf(a, b))
  override def statisticsProps(version: String): Map[String, String] =
    s("statistics_props")(u.statisticsProps(version))
}

/** Times every call the sync engine makes into a target, and counts the
  * commits that lost their watermark CAS (`<format>.cas_retries`): the
  * engine re-plans after each one. */
final class TracedTarget(u: SyncTarget, t: Tracer) extends SyncTarget {
  private def s[A](member: String)(f: => A): A = t.span(s"${u.format}.$member")(f)
  def format: String = u.format
  def targetPath: String = u.targetPath
  def syncState(): Map[String, String] = s("sync_state")(u.syncState())
  def livePaths(): Set[String] = s("live_paths")(u.livePaths())
  override def beginBatch(): Unit = s("begin_batch")(u.beginBatch())
  override def endBatch(): Unit = s("end_batch")(u.endBatch())
  def commit(
      schema: StructType,
      partitionColumns: Seq[String],
      sourceDataRoot: String,
      adds: Seq[InternalDataFile],
      removePaths: Seq[String],
      watermark: Map[String, String],
      physicalNames: Map[String, String] = Map.empty,
      cas: Option[SyncCas] = None): Unit =
    try s("commit")(u.commit(schema, partitionColumns, sourceDataRoot, adds, removePaths,
      watermark, physicalNames, cas))
    catch {
      case e: ConcurrentSyncException =>
        t.count(s"${u.format}.cas_retries", 1)
        throw e
    }
}
