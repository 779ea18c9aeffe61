package graft.delta

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.MetaFiles
import scala.jdk.CollectionConverters._

/**
 * Native `_delta_log` reader/writer (no Delta runtime — SURVEY.md §7).
 *
 * Write side: one JSON file per commit named `%020d.json`, created with
 * put-if-absent semantics (`FileSystem.create(overwrite = false)`), the
 * same optimistic-concurrency primitive Delta's own commit protocol
 * relies on. The reference commits through `OptimisticTransaction`
 * (ref `core/.../delta/DeltaClient.java:248-264`); we speak the log
 * format directly.
 *
 * Read side: [[snapshot]] resolves one version into a [[DeltaSnapshot]]
 * (version, metadata, protocol, live files) from one listing of the log,
 * reading each JSON commit after the checkpoint at most once. Log replay
 * is the classic "last action per path wins" reconciliation (ref
 * `DeltaDataFileExtractor.java:54-114` delegates to DeltaLog.snapshot),
 * one fold on the driver at every log shape: the checkpoint's parquet
 * parts are read in-process with parquet-hadoop, then the JSON tail
 * folds on top. No metadata read launches a Spark job; driver memory
 * grows with the live-file count.
 */
final class DeltaLog(val tablePath: String, spark: SparkSession) {

  private val logPath = new Path(tablePath, "_delta_log")
  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = logPath.getFileSystem(hconf)

  private def commitFile(v: Long): Path = new Path(logPath, f"$v%020d.json")

  /** File names in `_delta_log`, from one listing (none when absent). */
  private def listNames(): Seq[String] =
    try fs.listStatus(logPath).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  private def versionsIn(names: Seq[String]): Seq[Long] =
    names.collect { case DeltaLog.CommitName(v) => v.toLong }.sorted

  /** Sorted list of committed versions. */
  def listVersions(): Seq[Long] = versionsIn(listNames())

  def latestVersion(): Option[Long] = listVersions().lastOption

  /** Versions strictly after `v`, via direct existence probes (Delta
    * versions are contiguous): O(new commits) per call instead of a
    * full log listing — the streaming source's per-trigger tail poll. */
  def listVersionsAfter(v: Long): Seq[Long] =
    Iterator.iterate(v + 1)(_ + 1).takeWhile(x => fs.exists(commitFile(x))).toSeq

  /** Driver-side read of a single commit's actions (metadata-sized). */
  def readActions(v: Long): Seq[DeltaAction] = DeltaLog.actionsOf(commitText(v))

  private[delta] def commitText(v: Long): String = MetaFiles.readUtf8(fs, commitFile(v))

  /**
   * Atomically commit actions as the given version. Returns false only
   * when the version already exists (lost the optimistic-concurrency
   * race); any other IO failure propagates.
   *
   * Standard LogStore pattern: the commit body is fully written and
   * closed as a hidden temp file, then published with put-if-absent
   * semantics (graft.util.MetaFiles.createExclusive) — so a crash mid-write can
   * never leave a torn `%020d.json` that poisons later log replay, and
   * two racing writers can never both claim the same version. (On
   * object stores a real deployment would plug in a put-if-absent
   * LogStore, same as Delta's own.)
   */
  def commit(v: Long, actions: Seq[DeltaAction]): Boolean = {
    fs.mkdirs(logPath)
    val target = commitFile(v)
    if (fs.exists(target)) return false // cheap fast-path; publish still arbitrates races
    val body = actions.map(DeltaActionCodec.toJsonLine).mkString("", "\n", "\n")
    MetaFiles.createExclusive(
      fs, spark.sparkContext.hadoopConfiguration, target, body.getBytes(StandardCharsets.UTF_8))
  }

  // ----------------------------------------------------------- checkpoints

  /** Delta protocol checkpoints: the reconciled live state at version N,
    * discoverable from `_last_checkpoint`, so replay reads checkpoint +
    * post-checkpoint JSON only — a 10^4-commit table plans from parquet
    * plus a handful of JSON commits instead of every commit since v0.
    * All three public layouts are spoken (Delta PROTOCOL.md):
    * classic single-file `%020d.checkpoint.parquet`, classic multi-part
    * `%020d.checkpoint.%010d.%010d.parquet` (one file per part — the
    * write fans out, and at 100 TB a single-file checkpoint is itself a
    * bottleneck), and V2 (`v2Checkpoint` reader feature): a top-level
    * `%020d.checkpoint.<uniq>.{json|parquet}` holding the non-file
    * actions plus `sidecar` pointers into `_delta_log/_sidecars/`, where
    * the file actions live as parquet. Every layout is read on the
    * driver (`MetaFiles.parquetRows`), projected to the columns replay
    * decodes. */
  private def checkpointFile(v: Long): Path =
    new Path(logPath, f"$v%020d.checkpoint.parquet")
  private def multiPartFile(v: Long, part: Int, parts: Int): Path =
    new Path(logPath, f"$v%020d.checkpoint.$part%010d.$parts%010d.parquet")
  private def sidecarDir = new Path(logPath, "_sidecars")
  private val lastCheckpointPath = new Path(logPath, "_last_checkpoint")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Version of the newest checkpoint, if any. */
  def lastCheckpoint(): Option[Long] = lastCheckpointNode().map(_._1)

  private def lastCheckpointNode(): Option[(Long, Option[Int])] = {
    // torn-read safe: the writer replaces the file whole
    // (MetaFiles.replace), so it is either absent or complete. Absence
    // and any residual tear on filesystems without atomic rename
    // degrade to None — full JSON replay, slower but never wrong.
    try {
      val node = mapper.readTree(MetaFiles.readUtf8(fs, lastCheckpointPath))
      Option(node.get("version")).map(v =>
        (v.asLong(), Option(node.get("parts")).filterNot(_.isNull).map(_.asInt())))
    } catch {
      case _: java.io.FileNotFoundException | _: java.io.EOFException |
          _: com.fasterxml.jackson.core.JacksonException => None
    }
  }

  /** The newest checkpoint at or before `asOf` and its layout, found in
    * the log's `names`. `parts` in `_last_checkpoint` (`node`) names a
    * multi-part checkpoint; else a classic single file; else a V2
    * top-level file (smallest unique-suffix name wins, deterministically). */
  private def resolveCheckpoint(node: Option[(Long, Option[Int])], asOf: Option[Long],
      names: Set[String]): Option[DeltaLog.Checkpoint] =
    node.filter { case (v, _) => asOf.forall(v <= _) }.map {
      case (v, Some(parts)) if parts > 1 => DeltaLog.MultiPartCheckpoint(v, parts)
      case (v, _) if names(checkpointFile(v).getName) => DeltaLog.ClassicCheckpoint(v)
      // a multi-part write can land as a single part on a small table
      case (v, Some(1)) if names(multiPartFile(v, 1, 1).getName) =>
        DeltaLog.MultiPartCheckpoint(v, 1)
      case (v, _) =>
        val pattern = (f"$v%020d" + "\\.checkpoint\\.[^.]+\\.(json|parquet)").r
        val tops = names.toSeq.filter(n => pattern.pattern.matcher(n).matches()).sorted
        require(tops.nonEmpty,
          s"_last_checkpoint names v$v but no checkpoint file for it exists in $logPath")
        DeltaLog.V2Checkpoint(v, new Path(logPath, tops.head))
    }

  /** Parquet file set of a checkpoint's FILE actions (V2: the sidecars,
    * plus the top-level if it is parquet — a V2 checkpoint without
    * sidecars carries its file actions inline). */
  private def checkpointDataFiles(ck: DeltaLog.Checkpoint): Seq[Path] = ck match {
    case DeltaLog.ClassicCheckpoint(v) => Seq(checkpointFile(v))
    case DeltaLog.MultiPartCheckpoint(v, parts) => (1 to parts).map(multiPartFile(v, _, parts))
    case DeltaLog.V2Checkpoint(_, top) =>
      val sidecars = v2SidecarNames(top).map(new Path(sidecarDir, _))
      if (top.getName.endsWith(".parquet")) top +: sidecars else sidecars
  }

  /** Sidecar file names referenced by a V2 top-level checkpoint. */
  private def v2SidecarNames(top: Path): Seq[String] =
    if (top.getName.endsWith(".json"))
      readJsonLines(top).flatMap { line =>
        val n = mapper.readTree(line)
        Option(n.get("sidecar")).filterNot(_.isNull).map(_.get("path").asText())
      }
    else MetaFiles.parquetRows(hconf, Seq(top), DeltaLog.SidecarColumns)(DeltaLog.sidecarPathOf)

  private def readJsonLines(p: Path): Seq[String] =
    MetaFiles.readUtf8(fs, p).split("\n").filter(_.nonEmpty).toSeq

  /** The last checkpoint whose header was read, with that header. */
  @volatile private var lastHeader: Option[(DeltaLog.Checkpoint, (Option[DeltaMetadata], Option[Protocol]))] =
    None

  /** Non-file actions of a checkpoint (metaData + protocol), layout-
    * aware: V2 keeps them in the top-level file; classic layouts carry
    * them as rows in (any part of) the checkpoint parquet. A published
    * checkpoint never changes, so the last one's header is kept and a
    * lookup against it reads no parquet. */
  private[delta] def checkpointHeader(ck: DeltaLog.Checkpoint): (Option[DeltaMetadata], Option[Protocol]) =
    lastHeader.collect { case (`ck`, header) => header }.getOrElse {
      val actions: Seq[DeltaAction] = ck match {
        case DeltaLog.V2Checkpoint(_, top) if top.getName.endsWith(".json") =>
          // sidecar/checkpointMetadata lines fall through the codec as None
          readJsonLines(top).flatMap(DeltaActionCodec.fromJsonLine)
        case DeltaLog.V2Checkpoint(_, top) =>
          MetaFiles.parquetRows(hconf, Seq(top), DeltaLog.HeaderColumns)(DeltaLog.headerOf)
        case other =>
          MetaFiles.parquetRows(hconf, checkpointDataFiles(other), DeltaLog.HeaderColumns)(DeltaLog.headerOf)
      }
      val header = (actions.collectFirst { case m: DeltaMetadata => m },
        actions.collectFirst { case p: Protocol => p })
      lastHeader = Some((ck, header))
      header
    }

  /** Checkpoint interval (Delta's default). */
  val checkpointInterval = 10

  def maybeCheckpoint(v: Long): Unit =
    if (v > 0 && v % checkpointInterval == 0) writeCheckpoint(v)

  /** Deferred-cadence checkpoint: one checkpoint at the CURRENT version
    * if the interval has elapsed since the last written one. A sync
    * batch replaying N commits calls this ONCE at the end instead of
    * paying an O(table) checkpoint write every `checkpointInterval`
    * commits mid-replay. */
  def checkpointIfDue(): Unit =
    latestVersion().foreach { v =>
      if (v > 0 && v - lastCheckpoint().getOrElse(-1L) >= checkpointInterval)
        writeCheckpoint(v)
    }

  private def metaSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", MapType(StringType, StringType)),
    StructField("createdTime", LongType)))
  private def protoSchema = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))

  /** The reconciled adds at `v` as checkpoint-shaped `add` structs, and
    * how many there are: the one frame built from the live-file list,
    * so the checkpoint stays a Spark parquet write. */
  private def checkpointAddsDF(s: DeltaSnapshot): (DataFrame, Long) = {
    val rows = s.files.map { a =>
      Row(Row(a.path, a.partitionValues, a.size, a.modificationTime, true, a.stats.orNull,
        a.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
          d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull))
    }
    (spark.createDataFrame(rows.asJava, StructType(Seq(actionSchema("add")))), rows.size.toLong)
  }

  /** One row carrying the metaData + protocol of `s`. */
  private def headerRowDF(s: DeltaSnapshot): DataFrame = {
    val meta = s.metadata
    val protoRow = s.protocol
    spark.range(1).select(
      lit(null).cast(actionSchema("add").dataType).as("add"),
      struct(
        lit(meta.id).as("id"),
        lit(meta.schemaString).as("schemaString"),
        typedlit(meta.partitionColumns).as("partitionColumns"),
        typedlit(meta.configuration).as("configuration"),
        lit(meta.createdTime).as("createdTime")).as("metaData"),
      struct(
        lit(protoRow.minReaderVersion).as("minReaderVersion"),
        lit(protoRow.minWriterVersion).as("minWriterVersion"),
        typedlit(protoRow.readerFeatures).as("readerFeatures"),
        typedlit(protoRow.writerFeatures).as("writerFeatures")).as("protocol"))
  }

  /** Write the reconciled snapshot at `v` as a classic checkpoint +
    * `_last_checkpoint` — single-file by default, multi-part when
    * `parts > 1` (`%020d.checkpoint.%010d.%010d.parquet`; each part
    * writes from its own task, so checkpointing a 100 TB table's
    * million-add state fans out instead of funneling through one
    * writer). Tombstones are omitted (nothing vacuums data files out
    * from under readers here); replay ordering stays correct because
    * post-checkpoint removes outrank checkpoint adds by version. */
  def writeCheckpoint(v: Long, parts: Int = 1): Unit = {
    val snap = snapshot(Some(v))
    val (addsDF, addCount) = checkpointAddsDF(snap)
    val adds = addsDF.select(
      col("add"),
      lit(null).cast(metaSchema).as("metaData"),
      lit(null).cast(protoSchema).as("protocol"))
    val staging = new Path(logPath, s".cp-staging-${java.util.UUID.randomUUID()}")
    // the spec's `size` is the number of ACTIONS in the checkpoint, not
    // the part-file count — foreign readers use it for sanity checks
    adds.unionByName(headerRowDF(snap)).repartition(math.max(1, parts))
      .write.parquet(staging.toString)
    val written = fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // empty partitions write no file, so the real part count is what
    // landed — the names (i, n) must agree with it, not with `parts`
    val n = written.length
    if (n == 1 && parts == 1) {
      fs.delete(checkpointFile(v), false)
      require(fs.rename(written.head, checkpointFile(v)), s"failed to place checkpoint $v")
    } else {
      written.zipWithIndex.foreach { case (p, i) =>
        fs.delete(multiPartFile(v, i + 1, n), false)
        require(fs.rename(p, multiPartFile(v, i + 1, n)),
          s"failed to place checkpoint $v part ${i + 1}/$n")
      }
    }
    fs.delete(staging, true)
    val partsField = if (n == 1 && parts == 1) "" else s""","parts":$n"""
    // adds + 1 metaData + 1 protocol; `parts` stays the FILE count
    writeLastCheckpoint(s"""{"version":$v,"size":${addCount + 2}$partsField}""")
  }

  /**
   * Write the snapshot at `v` as a V2 checkpoint (`v2Checkpoint` reader
   * feature, which the caller's protocol must already declare): file
   * actions land as parquet sidecars under `_delta_log/_sidecars/` (one
   * per shuffle partition — the fan-out layout for checkpoints too big
   * for one file), and a top-level `%020d.checkpoint.<uuid>.json` holds
   * protocol, metaData, `checkpointMetadata`, and one `sidecar` pointer
   * per file.
   */
  def writeCheckpointV2(v: Long, sidecarParts: Int = 1): Unit = {
    val staging = new Path(logPath, s".cp-staging-${java.util.UUID.randomUUID()}")
    val snap = snapshot(Some(v))
    val (addsDF, addCount) = checkpointAddsDF(snap)
    addsDF
      .select(col("add"), lit(null).cast(actionSchema("remove").dataType).as("remove"))
      .repartition(math.max(1, sidecarParts))
      .write.parquet(staging.toString)
    fs.mkdirs(sidecarDir)
    val sidecars = fs.listStatus(staging).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map { p =>
        val dest = new Path(sidecarDir, s"${java.util.UUID.randomUUID()}.parquet")
        require(fs.rename(p, dest), s"failed to place sidecar for checkpoint $v")
        dest
      }.toSeq
    fs.delete(staging, true)
    val lines = Seq(
      DeltaActionCodec.toJsonLine(snap.protocol),
      DeltaActionCodec.toJsonLine(snap.metadata),
      s"""{"checkpointMetadata":{"version":$v,"tags":{}}}""") ++
      sidecars.map { p =>
        val st = fs.getFileStatus(p)
        val node = mapper.createObjectNode()
        val s = node.putObject("sidecar")
        s.put("path", p.getName)
        s.put("sizeInBytes", st.getLen)
        s.put("modificationTime", st.getModificationTime)
        mapper.writeValueAsString(node)
      }
    val top = new Path(logPath,
      f"$v%020d.checkpoint.${java.util.UUID.randomUUID()}.json")
    val out = fs.create(top, /*overwrite=*/ false)
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // the spec's `size` is the TOTAL action count stored in the
    // checkpoint: adds in the sidecars + protocol + metaData +
    // checkpointMetadata + one `sidecar` action per sidecar file
    writeLastCheckpoint(s"""{"version":$v,"size":${addCount + 3 + sidecars.size}}""")
  }

  /** Readers see the old pointer or the new one, never a torn file. */
  private def writeLastCheckpoint(json: String): Unit =
    MetaFiles.replace(fs, lastCheckpointPath, json.getBytes(StandardCharsets.UTF_8))

  /** Delete JSON commits strictly before `version` — log retention
    * cleanup (ref `core/.../delta/DeltaClient.java:265-275`). Refuses to
    * expire history the latest checkpoint doesn't cover, so the current
    * snapshot always stays reconstructable. */
  def expireLogBefore(version: Long): Int = {
    val cp = lastCheckpoint().getOrElse(
      throw new IllegalStateException(s"no checkpoint in $tablePath; cannot expire log"))
    require(version <= cp, s"cannot expire to v$version: newest checkpoint is v$cp")
    val victims = listVersions().filter(_ < version)
    victims.foreach(v => fs.delete(commitFile(v), false))
    victims.size
  }

  /** First action matching `pf` in commit `v` (see [[DeltaLog.firstAction]]). */
  private[delta] def readFirstAction[A](v: Long, marker: String)(
      pf: PartialFunction[DeltaAction, A]): Option[A] =
    DeltaLog.firstAction(commitText(v), marker)(pf)

  /**
   * The table at `asOf` (default: latest) as one value. `_last_checkpoint`
   * is read first, then `_delta_log` is listed once; the checkpoint's
   * layout is found in that listing. The snapshot reads each JSON commit
   * after the checkpoint at most once, when its metadata, protocol, files
   * or a commit's actions first need it, so one operation sees one
   * version. Nothing is kept across calls: the next call sees newer
   * commits.
   */
  def snapshot(asOf: Option[Long] = None): DeltaSnapshot = {
    val s = resolve(asOf)
    require(s.nonEmpty, s"not a Delta table (no _delta_log): $tablePath")
    s.get
  }

  /** The latest snapshot, or None while the log holds no commit. */
  def latestSnapshot(): Option[DeltaSnapshot] = resolve(None)

  private def resolve(asOf: Option[Long]): Option[DeltaSnapshot] = {
    val node = lastCheckpointNode()
    val names = listNames()
    val versions = versionsIn(names)
    val ck = resolveCheckpoint(node, asOf, names.toSet)
    val cp = ck.map(_.version)
    if (versions.isEmpty && cp.isEmpty) None
    else {
      val upTo = asOf.map(a => versions.filter(_ <= a)).getOrElse(versions)
      require(upTo.nonEmpty || cp.nonEmpty,
        s"no commit at or before version ${asOf.get} in $tablePath")
      Some(new DeltaSnapshot(this, (upTo ++ cp).max, upTo, ck))
    }
  }

  /** Adds of a checkpoint's file parts, read on the driver. */
  private[delta] def checkpointAdds(ck: DeltaLog.Checkpoint): Seq[AddFile] =
    MetaFiles.parquetRows(hconf, checkpointDataFiles(ck), DeltaLog.AddColumns)(DeltaLog.addOf)

  /** Commit timestamps (from commitInfo, fallback file mtime) per version. */
  def commitTimestamps(): Seq[(Long, Long)] =
    listVersions().map { v =>
      val ts = readFirstAction(v, "\"commitInfo\"") { case c: CommitInfo => c.timestamp }
        .getOrElse(fs.getFileStatus(commitFile(v)).getModificationTime)
      (v, ts)
    }

  /** File-action structs of the checkpoints this engine writes. */
  private val dvSchema = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  private val actionSchema: StructType = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvSchema)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType))))))
}

object DeltaLog {
  def forTable(spark: SparkSession, tablePath: String): DeltaLog =
    new DeltaLog(tablePath, spark)

  private val CommitName = "(\\d{20})\\.json".r

  /** The actions of one commit's JSON text. */
  private[delta] def actionsOf(text: String): Seq[DeltaAction] =
    text.split("\n").filter(_.nonEmpty).toSeq.flatMap(DeltaActionCodec.fromJsonLine)

  /** First action matching `pf` in a commit's JSON text, decoding ONLY
    * lines that carry the top-level `marker` key (substring pre-filter):
    * a sync commit holds one metaData line among thousands of addFile
    * lines, and decoding them all per metadata lookup made the
    * 100-commit LoadTest shape quadratic in adds. A stats string that
    * happens to contain the marker decodes to its REAL action and the
    * partial function skips it. */
  private[delta] def firstAction[A](text: String, marker: String)(
      pf: PartialFunction[DeltaAction, A]): Option[A] =
    text.split("\n").iterator.filter(_.contains(marker))
      .flatMap(DeltaActionCodec.fromJsonLine).collectFirst(pf)

  /** A discovered checkpoint and its on-disk layout. */
  private[delta] sealed trait Checkpoint { def version: Long }
  private[delta] final case class ClassicCheckpoint(version: Long) extends Checkpoint
  private[delta] final case class MultiPartCheckpoint(version: Long, parts: Int) extends Checkpoint
  private[delta] final case class V2Checkpoint(version: Long, topLevel: Path) extends Checkpoint

  /** Projections of the checkpoint reads: top-level action column → the
    * subfields decoded. Anything else a foreign writer adds (`tags`,
    * `baseRowId`, `stats_parsed`, ...) is never read off disk. */
  private val AddColumns = Map("add" -> Set(
    "path", "partitionValues", "size", "modificationTime", "dataChange", "stats",
    "deletionVector"))
  private val HeaderColumns = Map(
    "metaData" -> Set(
      "id", "name", "schemaString", "partitionColumns", "configuration", "createdTime"),
    "protocol" -> Set("minReaderVersion", "minWriterVersion", "readerFeatures", "writerFeatures"))
  private val SidecarColumns = Map("sidecar" -> Set("path"))

  // Checkpoint row decoders. Field access is by name and tolerant: a
  // missing optional subfield reads as absent, and an integer field may
  // be INT32 or INT64 whatever this engine's writer uses.
  private def has(g: Group, f: String): Boolean =
    g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
  private def child(g: Group, f: String): Option[Group] =
    if (has(g, f)) Some(g.getGroup(f, 0)) else None
  private def str(g: Group, f: String): Option[String] =
    if (has(g, f)) Some(g.getString(f, 0)) else None
  private def num(g: Group, f: String): Option[Long] =
    if (!has(g, f)) None
    else if (g.getType.getType(f).asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32)
      Some(g.getInteger(f, 0).toLong)
    else Some(g.getLong(f, 0))

  /** A MAP<string, string>: one repeated key/value group. */
  private def strMap(g: Group, f: String): Map[String, String] =
    child(g, f).fold(Map.empty[String, String]) { m =>
      (0 until m.getFieldRepetitionCount(0)).map { i =>
        val kv = m.getGroup(0, i)
        kv.getString(0, 0) -> (if (kv.getFieldRepetitionCount(1) > 0) kv.getString(1, 0) else null)
      }.toMap
    }

  /** A LIST<string>, three-level (`list.element`) or legacy two-level. */
  private def strList(g: Group, f: String): Option[Seq[String]] =
    child(g, f).map { l =>
      (0 until l.getFieldRepetitionCount(0)).flatMap { i =>
        if (l.getType.getType(0).isPrimitive) Some(l.getString(0, i))
        else str(l.getGroup(0, i), l.getType.getType(0).asGroupType.getFieldName(0))
      }
    }

  private def addOf(row: Group): Option[AddFile] =
    child(row, "add").filter(has(_, "path")).map { a =>
      AddFile(
        path = a.getString("path", 0),
        partitionValues = strMap(a, "partitionValues"),
        size = num(a, "size").getOrElse(0L),
        modificationTime = num(a, "modificationTime").getOrElse(0L),
        dataChange = !has(a, "dataChange") || a.getBoolean("dataChange", 0),
        stats = str(a, "stats"),
        deletionVector = child(a, "deletionVector").filter(has(_, "storageType")).map { d =>
          DeletionVectorDescriptor(
            storageType = d.getString("storageType", 0),
            pathOrInlineDv = str(d, "pathOrInlineDv").orNull,
            offset = num(d, "offset").map(_.toInt),
            sizeInBytes = num(d, "sizeInBytes").getOrElse(0L).toInt,
            cardinality = num(d, "cardinality").getOrElse(0L))
        })
    }

  private def headerOf(row: Group): Seq[DeltaAction] =
    child(row, "metaData").filter(has(_, "id")).map { m =>
      DeltaMetadata(
        id = m.getString("id", 0),
        schemaString = str(m, "schemaString").orNull,
        partitionColumns = strList(m, "partitionColumns").getOrElse(Seq.empty),
        configuration = strMap(m, "configuration"),
        createdTime = num(m, "createdTime").getOrElse(0L),
        name = str(m, "name"))
    }.toSeq ++ child(row, "protocol").filter(has(_, "minReaderVersion")).map { p =>
      Protocol(
        num(p, "minReaderVersion").get.toInt,
        num(p, "minWriterVersion").fold(Protocol().minWriterVersion)(_.toInt),
        strList(p, "readerFeatures"), strList(p, "writerFeatures"))
    }

  private def sidecarPathOf(row: Group): Option[String] = child(row, "sidecar").flatMap(str(_, "path"))
}
