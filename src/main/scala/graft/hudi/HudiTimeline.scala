package graft.hudi

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDateTime, ZoneId}
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder}
import java.time.temporal.ChronoField

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import graft.model.ConcurrentSyncException
import graft.util.MetaFiles

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** One completed timeline instant (COW read path: commits and
  * replacecommits are the only actions that move data — ref
  * `core/.../hudi/HudiDataFileExtractor.java:244-250` treats
  * CLEAN/SAVEPOINT/etc as no-ops for the file view). */
final case class HudiInstant(time: String, action: String) {
  def fileName: String = s"$time.$action"
}

/** One file written by a commit (HoodieWriteStat essentials). `path` is
  * relative to the table base for managed files, or an absolute URI for
  * externally-referenced files (metadata-only conversion). */
final case class HudiWriteStat(
    fileId: String,
    path: String,
    prevCommit: String,
    numWrites: Long,
    fileSizeInBytes: Long)

/** Parsed commit / replacecommit metadata. */
final case class HudiCommitMetadata(
    partitionToWriteStats: Map[String, Seq[HudiWriteStat]],
    partitionToReplaceFileIds: Map[String, Seq[String]],
    extraMetadata: Map[String, String],
    operationType: String)

/**
 * Native `.hoodie/` timeline codec — list/parse/write instant files and
 * `hoodie.properties`, with no Hudi runtime on the classpath (SURVEY.md
 * §7: the reference links `HoodieJavaWriteClient`; here the timeline
 * wire format is spoken directly). Completed-instant filtering and
 * before/after selection mirror the reference's timeline API usage
 * (ref `core/.../hudi/HudiClient.java:86-111,198-225`).
 *
 * Instant times are `yyyyMMddHHmmssSSS` in UTC (millis granularity);
 * parsing also accepts the legacy 14-char second granularity, mapped to
 * the last millisecond of that second — the same normalization the
 * reference applies (ref `core/.../hudi/HudiInstantUtils.java:41-80`).
 *
 * A [[pinned]] timeline is a read-only view: it lists the active and
 * archived dirs once, reads `hoodie.properties` once, and parses each
 * instant once for its whole life, so every read through it sees one
 * state of the table.
 */
final class HudiTimeline private (
    val tablePath: String, conf: Configuration, isPinned: Boolean) {

  import HudiTimeline._

  def this(tablePath: String, conf: Configuration) = this(tablePath, conf, false)

  /** A read-only view of this timeline as it stands at the view's first
    * read. Its writes throw `IllegalStateException`; an instant it
    * listed but finds gone from both dirs when read raises
    * [[graft.model.ConcurrentSyncException]], so a sync re-plans over a
    * fresh view. */
  def pinned: HudiTimeline = if (isPinned) this else new HudiTimeline(tablePath, conf, true)

  val hoodieDir = new Path(tablePath, ".hoodie")
  /** Archived instants stay readable here after [[archiveIfNeeded]] —
    * real Hudi keeps an archived timeline too, only the ACTIVE timeline
    * is bounded (ref `core/.../hudi/HudiTargetClient.java:537-545`). */
  val archivedDir = new Path(hoodieDir, "archived")
  private val propsFile = new Path(hoodieDir, "hoodie.properties")
  private def fs: FileSystem = hoodieDir.getFileSystem(conf)

  def exists: Boolean =
    if (isPinned) listing.active.contains(propsFile.getName) else fs.exists(propsFile)

  private def writable(op: String): Unit =
    if (isPinned) throw new IllegalStateException(s"$op on a pinned read-only view of $tablePath")

  // ---------------------------------------------------------- pinned view

  /** The view's one listing of the active dir, then the archived one. */
  private lazy val listing: Listing = Listing(statusesIn(hoodieDir), statusesIn(archivedDir))
  private lazy val pinnedProperties: Map[String, String] = parseProperties()
  /** The view's parses, kept for its whole life: it sees one listing. */
  private val pinnedMeta =
    new java.util.concurrent.ConcurrentHashMap[String, HudiCommitMetadata]()

  /** Statuses in `dir` by file name, from one listing; none when `dir`
    * is absent. */
  private def statusesIn(dir: Path): Map[String, FileStatus] =
    try fs.listStatus(dir).iterator.map(st => st.getPath.getName -> st).toMap
    catch { case _: FileNotFoundException => Map.empty }

  /** The view's read of an instant, from the path its listing holds. */
  private def readListed(i: HudiInstant): String = {
    val listed = listing.active.get(i.fileName).orElse(listing.archived.get(i.fileName))
    try readJson(listed.fold(new Path(hoodieDir, i.fileName))(_.getPath))
    catch {
      case _: FileNotFoundException =>
        // archival moves an active instant into the archived dir
        try readJson(new Path(archivedDir, i.fileName))
        catch {
          case _: FileNotFoundException if listed.nonEmpty =>
            throw new ConcurrentSyncException(
              s"instant ${i.fileName} of $tablePath was listed but is gone from the " +
                "timeline (rolled back or removed meanwhile) — re-plan over a fresh listing")
        }
    }
  }

  // ------------------------------------------------------------ properties

  def writeProperties(props: Map[String, String]): Unit = {
    writable("writeProperties")
    fs.mkdirs(hoodieDir)
    val body = props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
    MetaFiles.replace(fs, propsFile, body.getBytes(StandardCharsets.UTF_8))
  }

  def readProperties(): Map[String, String] =
    if (isPinned) pinnedProperties else parseProperties()

  private def parseProperties(): Map[String, String] = {
    require(exists, s"not a hudi table (no .hoodie/hoodie.properties): $tablePath")
    MetaFiles.readUtf8(fs, propsFile)
      .split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
  }

  // -------------------------------------------------------------- listing

  /** File names in `dir`: the view's listing, else a fresh one. */
  private def namesIn(dir: Path): Seq[String] =
    (if (!isPinned) statusesIn(dir) else if (dir == hoodieDir) listing.active else listing.archived)
      .keys.toSeq

  private def completedIn(names: Seq[String], re: Regex): Seq[HudiInstant] =
    names.collect { case re(ts, action) => HudiInstant(ts, action) }

  /** Completed instants matching `re` among the active names (listed
    * here unless the caller already has them) and the archived ones,
    * time-ordered. An instant caught mid-archival (in both directories)
    * is listed once. */
  private def completed(re: Regex, active: Seq[String] = namesIn(hoodieDir)): Seq[HudiInstant] =
    (completedIn(active, re) ++ completedIn(namesIn(archivedDir), re)).distinct.sortBy(_.time)

  /** Completed data instants (commit + replacecommit), time-ordered,
    * active AND archived — metadata-backed replay needs the full
    * history, exactly as Delta replay reads checkpointed versions.
    * Fixed-width instant strings sort chronologically as strings. */
  def completedInstants(): Seq[HudiInstant] = completed(CompletedRe)

  /** Every completed instant of any action (data + rollback/restore/
    * clean), active + archived, time-ordered. */
  def allCompletedInstants(): Seq[HudiInstant] = completed(AnyCompletedRe)

  /** Completed instants still on the ACTIVE timeline (archival bound). */
  def activeCompletedInstants(): Seq[HudiInstant] =
    completedIn(namesIn(hoodieDir), AnyCompletedRe).sortBy(_.time)

  def latestInstant(): Option[HudiInstant] = completedInstants().lastOption

  /** Instant times that have started (requested/inflight marker on the
    * timeline) but not completed — the in-flight set the sync
    * watermark must carry so a commit that completes LATE, with a time
    * below the watermark, is still replayed (ref
    * `api/.../model/CommitsBacklog.java:28-86`). */
  def pendingInstants(): Seq[String] = {
    val active = namesIn(hoodieDir)
    val done = completed(AnyCompletedRe, active).map(_.time).toSet
    active.collect { case MarkerRe(ts) => ts }.distinct.filterNot(done).sorted
  }

  /** Path a newly-committed instant's metadata file goes to. */
  def instantFile(i: HudiInstant): Path = new Path(hoodieDir, i.fileName)

  // ------------------------------------------------------------- metadata

  /** Active copy first, the archived one when the active file is gone. */
  private def activeThenArchived[A](i: HudiInstant)(f: Path => A): A =
    try f(new Path(hoodieDir, i.fileName))
    catch { case _: FileNotFoundException => f(new Path(archivedDir, i.fileName)) }

  private def readJson(p: Path): String = {
    val json = MetaFiles.readUtf8(fs, p)
    instantFilesOpened.incrementAndGet()
    json
  }

  /** Raw JSON of any completed instant (active or archived). */
  def readInstantJson(i: HudiInstant): String =
    if (isPinned) readListed(i) else activeThenArchived(i)(readJson)

  /** Parsed-commit memo: completed instant files publish put-if-absent
    * and are never rewritten, so one parse serves every reader — the
    * incremental sync loop otherwise parses each commit's (potentially
    * thousands-of-stats) JSON twice per replayed instant (changes +
    * schema-at-version). Keyed by (name, length, mtime) from ONE
    * getFileStatus, so even the pathological rollback-then-reallocate
    * case (same instant name, different content) can't serve stale
    * metadata. Bounded; cleared wholesale when full. A pinned view
    * keeps its own unbounded memo instead, keyed by name. */
  private val commitMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, HudiCommitMetadata]()

  /** One status call resolves the file (active dir first) and keys the
    * memo; a cold read then opens that same path. */
  def readCommitMetadata(i: HudiInstant): HudiCommitMetadata = {
    if (isPinned)
      return pinnedMeta.computeIfAbsent(i.fileName, _ => HudiCommitCodec.fromJson(readListed(i)))
    val st = activeThenArchived(i)(fs.getFileStatus)
    if (commitMetaCache.size > 256) commitMetaCache.clear()
    commitMetaCache.computeIfAbsent(
      s"${i.fileName}:${st.getLen}:${st.getModificationTime}",
      _ => HudiCommitCodec.fromJson(
        try readJson(st.getPath) catch {
          // raced archival: the active file moved after the status call
          case _: FileNotFoundException => readInstantJson(i)
        }))
  }

  /**
   * Commit protocol: requested and inflight marker files first (timeline
   * state transitions real Hudi tooling expects), then the completed
   * instant file written via temp + no-overwrite rename — the same
   * put-if-absent arbitration as our Delta/Iceberg logs. Returns false
   * when the instant already exists (lost the race).
   */
  def commit(i: HudiInstant, meta: HudiCommitMetadata): Boolean =
    commitJson(i, HudiCommitCodec.toJson(meta))

  /** Same put-if-absent protocol for non-data instants (rollback/
    * restore/clean), whose metadata has its own JSON shape. */
  def commitJson(i: HudiInstant, json: String): Boolean = {
    writable("commitJson")
    fs.mkdirs(hoodieDir)
    val target = instantFile(i)
    if (fs.exists(target)) return false
    touch(new Path(hoodieDir, s"${i.time}.${i.action}.requested"))
    val inflightName =
      if (i.action == "commit") s"${i.time}.inflight" else s"${i.time}.${i.action}.inflight"
    touch(new Path(hoodieDir, inflightName))
    MetaFiles.createExclusive(fs, conf, target, json.getBytes(StandardCharsets.UTF_8))
  }

  /** Create an empty state-transition marker if absent. Markers are
    * idempotent — two writers racing the same instant may both try to
    * create them, and losing that create race is benign: the completed
    * instant file's put-if-absent ([[commitJson]]) is the only
    * arbitration point, so a concurrent-create here must never escape
    * as an exception (it did pre-round-6 and killed racing writers). */
  private def touch(p: Path): Unit =
    try { if (!fs.exists(p)) { val o = fs.create(p, false); o.close() } }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      case _: java.nio.file.FileAlreadyExistsException => ()
      case e: java.io.IOException if fs.exists(p) => () // HDFS-style plain IOE on existing path
    }

  /** Remove a completed instant and its state-transition markers from
    * the timeline — the rollback primitive (real Hudi rollback revokes
    * the target instant the same way, ref
    * `core/.../hudi/HudiDataFileExtractor.java:207-223` observes the
    * instant gone plus a `.rollback` record of the deleted files). */
  def deleteInstant(i: HudiInstant): Unit = {
    writable("deleteInstant")
    val inflightName =
      if (i.action == "commit") s"${i.time}.inflight" else s"${i.time}.${i.action}.inflight"
    // the instant may have been archived since completing — revoke it
    // wherever it lives, or the archived copy keeps replaying files
    // the rollback just deleted
    Seq(hoodieDir, archivedDir).foreach { dir =>
      fs.delete(new Path(dir, i.fileName), false)
      fs.delete(new Path(dir, s"${i.time}.${i.action}.requested"), false)
      fs.delete(new Path(dir, inflightName), false)
    }
  }

  /**
   * Bound the ACTIVE timeline: when more than `maxActive` completed
   * instants are active, move the oldest down to `minActive` (plus
   * their state-transition markers) into `.hoodie/archived/` — the
   * reference archives its target timeline the same way after each
   * sync commit (ref `core/.../hudi/HudiTargetClient.java:537-545`;
   * Hudi's own `hoodie.keep.max.commits`/`hoodie.keep.min.commits`).
   * Archived instants stay readable for metadata replay. Returns the
   * number archived.
   */
  def archiveIfNeeded(maxActive: Int, minActive: Int): Int = {
    writable("archiveIfNeeded")
    require(minActive <= maxActive, s"minActive $minActive > maxActive $maxActive")
    val active = activeCompletedInstants()
    if (active.size <= maxActive) return 0
    // real-Hudi archival discipline: never archive a savepoint instant,
    // and never archive at-or-past the earliest SAVEPOINTED data
    // instant — the history a savepoint guards stays active
    val savepointFence = active.filter(_.action == "savepoint")
      .map(i => HudiMaintenanceCodec.savepointFromJson(readInstantJson(i)).savepointedAt)
      .minOption
    val toArchive = active.dropRight(minActive)
      .filter(i => i.action != "savepoint" && savepointFence.forall(i.time < _))
    fs.mkdirs(archivedDir)
    toArchive.foreach { i =>
      fs.rename(new Path(hoodieDir, i.fileName), new Path(archivedDir, i.fileName))
      // markers carry no metadata; completed-state is what archival keeps
      fs.delete(new Path(hoodieDir, s"${i.time}.${i.action}.requested"), false)
      val inflightName =
        if (i.action == "commit") s"${i.time}.inflight" else s"${i.time}.${i.action}.inflight"
      fs.delete(new Path(hoodieDir, inflightName), false)
    }
    toArchive.size
  }

  /** A fresh instant time strictly after every STARTED instant — of any
    * action, completed or merely marked requested/inflight: a rollback
    * or clean must not collide, and neither may a concurrent writer
    * whose markers are already on the timeline. In-process allocations
    * additionally serialize through a per-table atomic high-water mark,
    * so two threads can never be handed the same token even inside one
    * millisecond (the pre-round-6 race). Cross-process, a residual
    * collision is still resolved by the completed-file put-if-absent in
    * [[commitJson]] plus the writers' rebase loops. */
  def nextInstantTime(): String = {
    val started = (allCompletedInstants().map(_.time) ++ pendingInstants()).maxOption
      .map(t => parseInstant(t).toEpochMilli + 1L).getOrElse(0L)
    val candidate = math.max(System.currentTimeMillis(), started)
    formatInstant(Instant.ofEpochMilli(reserveInstantMillis(tablePath, candidate)))
  }
}

object HudiTimeline {

  /** Per-table high-water mark of allocated instant millis (JVM-wide).
    * `updateAndGet(max(prev+1, candidate))` makes same-millisecond
    * allocations by concurrent threads strictly increasing. */
  private val allocated =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def reserveInstantMillis(tablePath: String, candidate: Long): Long =
    allocated
      .computeIfAbsent(tablePath, _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .updateAndGet(prev => math.max(prev + 1L, candidate))

  /** Instant files opened for reading, JVM-wide — the read-count
    * witness of the sync source's one-read-per-pass contract. */
  private[graft] val instantFilesOpened = new java.util.concurrent.atomic.AtomicLong(0)

  /** A pinned view's one listing of each dir, statuses by file name. */
  private final case class Listing(active: Map[String, FileStatus], archived: Map[String, FileStatus])

  private val CompletedRe = "^(\\d{14}|\\d{17})\\.(commit|replacecommit|deltacommit)$".r
  private val AnyCompletedRe =
    "^(\\d{14}|\\d{17})\\.(commit|replacecommit|deltacommit|rollback|restore|clean|savepoint)$".r
  /** A requested or inflight state-transition marker. */
  private val MarkerRe =
    """(\d{14,17})(?:\.(?:commit|replacecommit|deltacommit|rollback|restore|clean))?\.(?:requested|inflight)""".r

  private val Utc = ZoneId.of("UTC")
  private val MillisFormatter: DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .appendPattern("yyyyMMddHHmmss")
      .appendValue(ChronoField.MILLI_OF_SECOND, 3)
      .toFormatter()
      .withZone(Utc)

  def formatInstant(i: Instant): String =
    LocalDateTime.ofInstant(i, Utc).format(MillisFormatter)

  /** Parse a timeline instant string to an Instant; 14-char second
    * granularity maps to the last millisecond of that second (reference
    * normalization, `HudiInstantUtils.java:58-66`). */
  def parseInstant(ts: String): Instant = {
    val millisStr =
      if (ts.length == 14) ts + "999"
      else if (ts.length > 17) ts.substring(0, 17)
      else ts
    LocalDateTime.parse(millisStr, MillisFormatter).atZone(Utc).toInstant
  }
}

/** Jackson codec for commit / replacecommit JSON (HoodieCommitMetadata
  * wire shape: partitionToWriteStats, partitionToReplaceFileIds,
  * extraMetadata, operationType). */
object HudiCommitCodec {
  private val mapper = new ObjectMapper()

  def toJson(m: HudiCommitMetadata): String = {
    val root = mapper.createObjectNode()
    val p2w = root.putObject("partitionToWriteStats")
    m.partitionToWriteStats.toSeq.sortBy(_._1).foreach { case (part, stats) =>
      val arr = p2w.putArray(part)
      stats.foreach { s =>
        val n = arr.addObject()
        n.put("fileId", s.fileId)
        n.put("path", s.path)
        n.put("prevCommit", s.prevCommit)
        n.put("numWrites", s.numWrites)
        n.put("numDeletes", 0L)
        n.put("numInserts", s.numWrites)
        n.put("totalWriteBytes", s.fileSizeInBytes)
        n.put("fileSizeInBytes", s.fileSizeInBytes)
        n.put("partitionPath", part)
      }
    }
    if (m.partitionToReplaceFileIds.nonEmpty) {
      val p2r = root.putObject("partitionToReplaceFileIds")
      m.partitionToReplaceFileIds.toSeq.sortBy(_._1).foreach { case (part, ids) =>
        val arr = p2r.putArray(part)
        ids.foreach(arr.add)
      }
    }
    val extra = root.putObject("extraMetadata")
    m.extraMetadata.toSeq.sortBy(_._1).foreach { case (k, v) => extra.put(k, v) }
    root.put("operationType", m.operationType)
    root.put("compacted", false)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def fromJson(json: String): HudiCommitMetadata = {
    val root = mapper.readTree(json)
    val p2w = Option(root.get("partitionToWriteStats")).map { node =>
      node.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map { s =>
          HudiWriteStat(
            fileId = Option(s.get("fileId")).map(_.asText()).getOrElse(""),
            path = s.get("path").asText(),
            prevCommit = Option(s.get("prevCommit")).map(_.asText()).getOrElse("null"),
            numWrites = Option(s.get("numWrites")).map(_.asLong()).getOrElse(0L),
            fileSizeInBytes = Option(s.get("fileSizeInBytes")).map(_.asLong()).getOrElse(0L))
        }.toSeq
      }.toMap
    }.getOrElse(Map.empty)
    val p2r = Option(root.get("partitionToReplaceFileIds")).map { node =>
      node.properties().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    }.getOrElse(Map.empty)
    val extra = Option(root.get("extraMetadata")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    HudiCommitMetadata(
      partitionToWriteStats = p2w,
      partitionToReplaceFileIds = p2r,
      extraMetadata = extra,
      operationType = Option(root.get("operationType")).map(_.asText()).getOrElse("UNKNOWN"))
  }
}
