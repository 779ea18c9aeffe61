package graft.delta

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model.{ColumnStatRow, InternalDataFile}

/**
 * One resolved version of a Delta table ([[DeltaLog.snapshot]]): its
 * version, metadata, protocol and live files, and the facts every read
 * and write derives from them (schema, column mapping, read shape). A
 * Delta operation resolves one snapshot and reads everything through
 * it, so its schema, files and protocol gate come from one version.
 *
 * Each JSON commit after the checkpoint is read at most once, on first
 * need: `metadata` and `protocol` take the newest such action in that
 * tail (decoding only the lines carrying its key), else the checkpoint
 * header, else the spec default protocol; `files` folds the checkpoint's
 * adds and the whole tail.
 */
final class DeltaSnapshot private[delta] (
    log: DeltaLog,
    /** Newest commit (or checkpoint) at or before the requested version. */
    val version: Long,
    /** Commit versions listed at or before `version`, oldest first. */
    val commits: Seq[Long],
    checkpoint: Option[DeltaLog.Checkpoint]) {

  def tablePath: String = log.tablePath

  private val tail = commits.filter(v => checkpoint.forall(v > _.version))
  private val texts = TrieMap.empty[Long, String]
  private def text(v: Long): String = texts.getOrElseUpdate(v, log.commitText(v))

  /** The actions of commit `v`, read through this snapshot. */
  def actions(v: Long): Seq[DeltaAction] = DeltaLog.actionsOf(text(v))

  private def newest[A](marker: String)(pf: PartialFunction[DeltaAction, A]): Option[A] =
    tail.reverseIterator.flatMap(v => DeltaLog.firstAction(text(v), marker)(pf)).nextOption()

  lazy val metadata: DeltaMetadata =
    newest("\"metaData\"") { case m: DeltaMetadata => m }
      .orElse(checkpoint.flatMap(log.checkpointHeader(_)._1))
      .getOrElse(throw new IllegalStateException(s"no metaData action in $tablePath"))

  /** Reading version 0 alone would be wrong twice over: v0 carries the
    * default protocol even after a table-features upgrade, and log
    * expiry can delete it. */
  lazy val protocol: Protocol =
    newest("\"protocol\"") { case p: Protocol => p }
      .orElse(checkpoint.flatMap(log.checkpointHeader(_)._2))
      .getOrElse(Protocol())

  /**
   * Live files, sorted by path. The checkpoint's adds (if one applies)
   * seed the state at its version and the JSON tail folds on top: per
   * path the newest action wins, and within one version the add
   * outranks the remove of the same path — a row-level DELETE rewrites a
   * file's entry as remove(old DV) + add(new DV) in a single commit, and
   * the add is the live state. Checkpoint tombstones are not read.
   */
  lazy val files: Seq[AddFile] = {
    val state = scala.collection.mutable.HashMap[String, (Long, Boolean, AddFile)]()
    checkpoint.foreach(c => log.checkpointAdds(c).foreach(a => state(a.path) = (c.version, true, a)))
    tail.foreach { v =>
      actions(v).foreach {
        case a: AddFile =>
          if (state.get(a.path).forall(c => v > c._1 || (v == c._1 && !c._2)))
            state(a.path) = (v, true, a)
        case r: RemoveFile =>
          if (state.get(r.path).forall(_._1 < v)) state(r.path) = (v, false, null)
        case _ => ()
      }
    }
    state.valuesIterator.collect { case (_, true, a) => a }.toSeq.sortBy(_.path)
  }

  /** Versions (from, to], every one of them, from this snapshot's
    * listing: a range reaching below the log's retention or past the
    * snapshot fails naming the first missing version, instead of
    * reading only the commits that are left. */
  def versionsBetween(fromExclusive: Long, toInclusive: Long): Seq[Long] = {
    require(fromExclusive < toInclusive,
      s"no commits in ($fromExclusive, $toInclusive] of $tablePath")
    val present = commits.filter(v => v > fromExclusive && v <= toInclusive)
    val have = present.toSet
    (fromExclusive + 1 to toInclusive).find(v => !have(v)).foreach { v =>
      throw new IllegalStateException(
        s"version $v of $tablePath is not in its log (expired by log retention or " +
          s"not yet committed): the changes in ($fromExclusive, $toInclusive] cannot be read")
    }
    present
  }

  // ------------------------------------------------------ derived facts

  lazy val schema: StructType = DataType.fromJson(metadata.schemaString).asInstanceOf[StructType]
  def partitionColumns: Seq[String] = metadata.partitionColumns
  def configuration: Map[String, String] = metadata.configuration

  /** Base path partition columns resolve against: the original source
    * dir for metadata-only converted tables, else the table root. */
  def readBasePath: String = configuration.getOrElse("graft.converted.from", tablePath)

  /** `delta.columnMapping.mode` (read interop: tables written by Delta
    * Lake in `name`/`id` mode store PHYSICAL column names — `col-<uuid>`
    * — in the parquet files, partitionValues keys, and stats JSON; the
    * logical names live only in schemaString field metadata). */
  def columnMappingMode: String = configuration.getOrElse("delta.columnMapping.mode", "none")
  def columnMapped: Boolean = columnMappingMode != "none"

  /** (physical schema, physical partition columns) when column mapping
    * is active — what the data files and the log's file entries
    * actually speak. */
  private[delta] lazy val physicalShape: Option[(StructType, Seq[String])] =
    if (!columnMapped) None
    else {
      val topPhys = schema.fields.map(f => f.name -> DeltaTable.physicalName(f)).toMap
      Some((DeltaTable.physicalSchema(schema), partitionColumns.map(c => topPhys.getOrElse(c, c))))
    }

  /** The (schema, partition columns) the data files are read with. */
  private[delta] def readShape: (StructType, Seq[String]) =
    physicalShape.getOrElse((schema, partitionColumns))

  /** `df`, read in [[readShape]], with each column cast back to its
    * logical name and shape (struct casts rename nested fields
    * positionally); `extra` columns ride along. Identity when column
    * mapping is off. */
  private[delta] def toLogical(df: DataFrame, extra: Seq[String] = Seq.empty): DataFrame =
    physicalShape match {
      case None => df
      case Some((ps, _)) =>
        val logical = DeltaTable.logicalClean(schema)
        df.select(ps.fields.zip(logical.fields).map { case (pf, lf) =>
          col(s"`${pf.name}`").cast(lf.dataType).as(lf.name)
        }.toSeq ++ extra.map(col): _*)
    }

  /** `files` read as logical rows, deletion vectors applied. */
  private[delta] def read(
      spark: SparkSession,
      files: Seq[(InternalDataFile, Option[DeletionVectorDescriptor])],
      columnStats: InternalDataFile => Seq[ColumnStatRow] = _.columnStats): DataFrame = {
    val (rSchema, rParts) = readShape
    toLogical(DeltaTable.readFilesWithDeletes(
      spark, tablePath, readBasePath, files, rSchema, rParts, columnStats))
  }

  /**
   * Protocol gate for every read path: fail FAST, with the offending
   * feature named, on tables whose protocol demands reader behavior this
   * engine does not implement — the alternative is silently wrong rows
   * (e.g. a v2Checkpoint table whose sidecar adds we'd never see). The
   * reference delegates this to the linked Delta runtime (ref
   * `core/.../delta/DeltaClient.java:215-296`); we enforce it natively.
   */
  private[delta] def requireReadable(): Unit = {
    val p = protocol
    p.minReaderVersion match {
      case 1 | 2 => // base protocol; 2 adds column mapping (implemented)
      case 3 =>
        val unsupported =
          p.readerFeatures.getOrElse(Seq.empty).toSet -- DeltaTable.SupportedReaderFeatures
        require(unsupported.isEmpty,
          s"cannot read $tablePath: unsupported Delta reader feature(s) " +
            s"${unsupported.toSeq.sorted.mkString(", ")}; this engine supports " +
            DeltaTable.SupportedReaderFeatures.toSeq.sorted.mkString(", "))
      case v => throw new IllegalArgumentException(
        s"cannot read $tablePath: unsupported Delta minReaderVersion $v (max 3)")
    }
  }

  /** Sync-plane column-mapping translation: physical data schema for
    * stats parsing plus physical→logical dot-path renames, identity
    * when mapping is off. */
  private[delta] lazy val syncShape: (StructType, Map[String, String]) = {
    val dataSchema = StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
    if (!columnMapped) (dataSchema, Map.empty)
    else {
      def paths(st: StructType, lp: String, pp: String): Seq[(String, String)] =
        st.fields.toSeq.flatMap { f =>
          val l = if (lp.isEmpty) f.name else s"$lp.${f.name}"
          val ph = if (pp.isEmpty) DeltaTable.physicalName(f)
                   else s"$pp.${DeltaTable.physicalName(f)}"
          (ph -> l) +: (f.dataType match {
            case nested: StructType => paths(nested, l, ph)
            case _ => Seq.empty
          })
        }
      (DeltaTable.physicalSchema(dataSchema), paths(dataSchema, "", "").toMap)
    }
  }

  /** Physical→logical partition-value keys. */
  private[delta] lazy val logicalPartValues: Map[String, String] => Map[String, String] =
    if (!columnMapped) identity
    else {
      val m = schema.fields.map(f => DeltaTable.physicalName(f) -> f.name).toMap
      pv => pv.map { case (k, v) => m.getOrElse(k, k) -> v }
    }
}
