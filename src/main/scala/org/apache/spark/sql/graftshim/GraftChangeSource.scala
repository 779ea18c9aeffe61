package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.sync.FormatTable

/**
 * A stream position: `snap` is the snapshot the stream started from,
 * emitted as `chunks` file-group chunks of which `[0..chunk]` are done;
 * `tail` is the newest commit token whose changes have been emitted.
 * Invariant: while the snapshot is incomplete, `tail == snap`.
 *
 * JSON form: the bare tail token when trivially unchunked (back-compat
 * with pre-admission-control checkpoints, whose offsets were bare
 * tokens), else a stable `{"s":..,"n":..,"c":..,"t":..}` object.
 */
final case class GraftStreamOffset(
    snap: String, chunks: Int, chunk: Int, tail: String) extends OffsetV1 {
  def complete: Boolean = chunk >= chunks - 1
  override def json: String =
    if (chunks == 1) tail
    else s"""{"s":"$snap","n":$chunks,"c":$chunk,"t":"$tail"}"""
}

object GraftStreamOffset {
  def parse(json: String): GraftStreamOffset =
    if (json.startsWith("{")) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      GraftStreamOffset(node.get("s").asText(), node.get("n").asInt(),
        node.get("c").asInt(), node.get("t").asText())
    } else GraftStreamOffset(json, 1, 0, json)
}

/**
 * V1 Structured Streaming source over a table's commit log — the change
 * feed (`changesAsDF`) as micro-batches: the initial snapshot first
 * (chunked by file groups when `maxFilesPerTrigger` is set), then the
 * rows added by each span of commits. The same shape for all three
 * formats (Delta versions, Iceberg snapshot ids, Hudi instants) — the
 * streaming twin of the reference's incremental sync pipeline (ref
 * `api/.../spi/extractor/ExtractFromSource.java:40-52`, SURVEY.md §2.9).
 *
 * Admission control (the 100 TB posture):
 *  - `maxFilesPerTrigger` splits batch 0 — otherwise the ENTIRE table
 *    snapshot funnels through one micro-batch and one checkpoint
 *    barrier — into `ceil(files / max)` deterministic file-group
 *    chunks, one per trigger.
 *  - `maxCommitsPerTrigger` caps how many commits each later batch
 *    spans, so a restart after a long gap drains the backlog in bounded
 *    batches instead of one cluster-sized replay.
 *  - the tail poll is incremental where the format allows it (see
 *    each codec's `FormatTable.tokensAfter`).
 *
 * Offsets are self-describing ([[GraftStreamOffset]]), so a restart
 * that lost the in-memory position replays correctly from the engine's
 * offset log alone: `getBatch` derives every batch purely from the
 * (start, end] offset pair.
 *
 * COW append/overwrite semantics: batches carry ADDED rows only
 * (removals are metadata); a Hudi rollback that revokes an instant the
 * stream already emitted surfaces as an error on the next batch, like
 * any non-replayable history gap.
 */
final class GraftChangeSource(
    spark: SparkSession, fmt: FormatTable, path: String,
    /** The engine-provided source-private state dir; None = schema-only use. */
    metadataPath: Option[String] = None,
    maxCommitsPerTrigger: Option[Int] = None,
    maxFilesPerTrigger: Option[Int] = None,
    /** Explicit `.schema(...)` from the reader — the pin authority,
      * and the cross-JVM restart escape hatch (analysis resolves the
      * same value, so the two always agree). */
    userSchema: Option[StructType] = None)
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  import java.nio.charset.StandardCharsets.UTF_8
  import org.apache.hadoop.fs.Path

  /** Each call re-reads the table's metadata, so polls see new commits. */
  private def table = fmt.open(spark, path)

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /**
   * The stream's schema contract: pinned at FIRST start and persisted
   * as `graft-schema` in the source-private state dir, so a restart —
   * even after the table evolved upstream — keeps emitting batches on
   * the start schema for the sink's whole life (the batch projection in
   * [[getBatch]] trims added columns and null-fills dropped ones).
   *
   * The persisted copy is the authority; the companion's
   * [[GraftChangeSource.pinnedRegistry]] mirrors it in-JVM so that
   * analysis-time `sourceSchema` (which never sees the checkpoint
   * path) resolves the same schema on restart. If a restart lands in a
   * fresh JVM whose analysis already resolved the table's CURRENT
   * (evolved) schema, the mismatch is detected here and fails with a
   * descriptive error instead of the engine's opaque arity assert.
   */
  override val schema: StructType = metadataPath match {
    case None => userSchema.getOrElse(
      GraftChangeSource.analysisSchema(spark, fmt, path))
    case Some(m) =>
      val p = new Path(m, "graft-schema")
      val fsys = p.getFileSystem(hadoopConf)
      val persisted: Option[StructType] =
        if (!fsys.exists(p)) None
        else scala.util.Try {
          org.apache.spark.sql.types.DataType.fromJson(graft.util.MetaFiles.readUtf8(fsys, p))
            .asInstanceOf[StructType]
        }.toOption
      val hadRegistryEntry = GraftChangeSource.pinnedRegistry.containsKey((fmt.name, path))
      def persist(s: StructType): StructType = {
        fsys.mkdirs(p.getParent)
        val tmp = new Path(p.getParent, ".graft-schema-tmp")
        val out = fsys.create(tmp, true)
        try out.write(s.json.getBytes(UTF_8)) finally out.close()
        fsys.delete(p, false)
        fsys.rename(tmp, p)
        s
      }
      // resolution order: explicit .schema(...) (analysis saw the same
      // value — always consistent, works in any JVM) > the checkpoint's
      // persisted pin > the table's current schema (fresh stream)
      val pinned = userSchema match {
        case Some(u) => if (persisted.contains(u)) u else persist(u)
        case None => persisted.getOrElse(
          persist(table.read().schema))
      }
      GraftChangeSource.pinnedRegistry.put((fmt.name, path), pinned)
      // a persisted pin that analysis could not have seen (no in-JVM
      // registry entry, no explicit schema) only works if the table
      // still matches it
      if (userSchema.isEmpty && persisted.isDefined && !hadRegistryEntry &&
          table.read().schema != pinned)
        throw new IllegalStateException(
          s"GraftChangeSource[$fmt] $path: the table's schema changed " +
          s"while the stream was down, and this restart runs in a fresh " +
          s"JVM where the query was analyzed against the table's current " +
          s"schema instead of the checkpoint's pinned start schema " +
          s"(${pinned.simpleString}). Retry the stream start (the pinned " +
          s"schema is now registered in this JVM), pass the pinned " +
          s"schema explicitly via .schema(...), or restart from a fresh " +
          s"checkpoint to adopt the new schema.")
      pinned
  }

  /**
   * The source's position, persisted under `metadataPath` across
   * restarts (the V1 source-private-state pattern). Advisory only:
   * every batch is derived purely from its (start, end] offsets, so a
   * lost or torn position file can never lose or duplicate data — it
   * only downgrades the NEXT proposal to an unchunked (but correct)
   * one. `initializedBefore` distinguishes a genuinely fresh stream
   * (chunked initial snapshot allowed) from a restart with a lost
   * position (propose plain offsets; getBatch reconciles).
   */
  private val posPath: Option[Path] = metadataPath.map(m => new Path(m, "graft-pos"))
  private val (initialPos, initializedBefore): (Option[GraftStreamOffset], Boolean) =
    posPath match {
      case None => (None, false)
      case Some(p) =>
        val fsys = p.getFileSystem(hadoopConf)
        if (!fsys.exists(p)) (None, false)
        else (scala.util.Try(GraftStreamOffset.parse(graft.util.MetaFiles.readUtf8(fsys, p)))
          .toOption, true)
    }
  @volatile private var lastSeen: Option[GraftStreamOffset] = initialPos

  private def advance(p: GraftStreamOffset): Unit = synchronized {
    lastSeen = Some(p)
    posPath.foreach { t =>
      val fsys = t.getFileSystem(hadoopConf)
      fsys.mkdirs(t.getParent)
      val tmp = new Path(t.getParent, ".graft-pos-tmp")
      val out = fsys.create(tmp, true)
      try out.write(p.json.getBytes(UTF_8)) finally out.close()
      fsys.delete(t, false)
      fsys.rename(tmp, t)
    }
  }

  private def chunksFor(snapTok: String): Int = maxFilesPerTrigger match {
    case None => 1
    case Some(m) =>
      val files = table.snapshotFileCount(snapTok)
      math.max(1, math.ceil(files.toDouble / m).toInt)
  }

  // ------------------------------------------------ Trigger.AvailableNow
  /** Fence for Trigger.AvailableNow: the newest token at query start.
    * [[nextOffset]] never proposes past it, so the drain runs its
    * bounded batches (snapshot chunks + capped commit spans) and
    * terminates deterministically even while writers keep committing. */
  @volatile private var availableNowFence: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowFence = table.tokens.lastOption
  }

  /** The per-trigger caps are constructor options (`maxFilesPerTrigger`
    * / `maxCommitsPerTrigger`), applied inside [[nextOffset]]; the
    * engine-level ReadLimit stays allAvailable. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): OffsetV2 =
    table.tokens.lastOption.map(t => GraftStreamOffset(t, 1, 0, t)).orNull

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = synchronized {
    // the engine's own start offset is authoritative when the
    // source-private position was lost across a restart
    if (lastSeen.isEmpty && start != null)
      lastSeen = Some(GraftStreamOffset.parse(start.json))
    nextOffset().orNull
  }

  override def getOffset: Option[OffsetV1] = synchronized(nextOffset())

  private def nextOffset(): Option[GraftStreamOffset] = {
    val next = lastSeen match {
      case None =>
        // under AvailableNow, snapshot the fence token (not a commit
        // that may have landed since prepare)
        availableNowFence.orElse(table.tokens.lastOption).map { snapTok =>
          // chunked batch 0 only on a genuinely fresh stream; after a
          // lost position file, propose a plain offset — getBatch then
          // derives the correct span from the engine's own offsets
          if (initializedBefore) GraftStreamOffset(snapTok, 1, 0, snapTok)
          else GraftStreamOffset(snapTok, chunksFor(snapTok), 0, snapTok)
        }
      case Some(p) if !p.complete =>
        Some(p.copy(chunk = p.chunk + 1))
      case Some(p) =>
        val after = table.tokensAfter(p.tail)
        val fresh = availableNowFence match {
          case Some(f) =>
            val i = after.indexOf(f)
            if (i >= 0) after.take(i + 1) else Seq.empty // fence reached: drained
          case None => after
        }
        if (fresh.isEmpty) Some(p) // unchanged json → engine sees no new data
        else {
          val step = maxCommitsPerTrigger.map(fresh.take).getOrElse(fresh)
          Some(p.copy(tail = step.last))
        }
    }
    next.foreach(advance)
    next
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endP = GraftStreamOffset.parse(end.json)
    val startP = start.map(o => GraftStreamOffset.parse(o.json))
    // snapshot chunks still owed, derived from the offsets alone
    val (snapOwner, chunkRange): (GraftStreamOffset, Range) = startP match {
      case None => (endP, 0 to endP.chunk)
      case Some(p) if !p.complete =>
        // same snapshot: advance to end's chunk; a different end token
        // means the in-memory position was lost mid-snapshot (restart) —
        // finish this snapshot now, then the tail below covers the rest
        if (p.snap == endP.snap) (p, (p.chunk + 1) to endP.chunk)
        else (p, (p.chunk + 1) until p.chunks)
      case Some(p) => (p, 0 until 0)
    }
    val tailFrom = startP.map(_.tail).getOrElse(endP.snap)
    val tailTo = endP.tail
    // reconstruction reads the table's commit history; when retention
    // expired it while the stream was down (this call may be the
    // engine's restart replay of the last batch), fail with a NAMED
    // gap instead of a raw metadata error — same posture on restart
    // as the tail poll's in-flight check in FormatTable.tokensAfter
    def reconstruct[A](what: => A): A = try what catch {
      case e: IllegalStateException if e.getMessage != null &&
          e.getMessage.contains("not replayable") => throw e
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"GraftChangeSource[$fmt] $path: cannot reconstruct stream " +
          s"batch (${startP.map(_.json).getOrElse("start")} .. ${endP.json}] — " +
          s"the commit history backing it was expired by log/snapshot " +
          s"retention while the stream was down (${e.getMessage}). The " +
          "history gap is not replayable; restart the stream from a " +
          "fresh checkpoint.", e)
    }
    val parts =
      chunkRange.map(k => reconstruct(table.snapshotChunk(snapOwner.snap, k, snapOwner.chunks))) ++
        (if (tailTo != tailFrom) Seq(reconstruct(table.changes(tailFrom, tailTo))) else Seq.empty)
    val batch = parts.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    // keep the advisory position in sync with what the engine replayed
    advance(startP match {
      case Some(p) if !p.complete && p.snap != endP.snap =>
        p.copy(chunk = p.chunks - 1, tail = endP.tail)
      case _ => endP
    })
    // a stream's schema is fixed at start; evolved batches project back:
    // columns ADDED upstream are dropped, columns DROPPED upstream read
    // as null, and a NARROWER batch type (a stream started after a type
    // widen replaying pre-widen commits) up-casts losslessly. The one
    // impossible direction — the table widened PAST the pinned schema —
    // fails loudly: silently narrowing long rows under an int pin would
    // corrupt the sink (internalCreateDataFrame trusts the declared
    // schema, it does not re-check row widths).
    val batchCols = batch.columns.toSet
    val aligned = batch.select(schema.fields.toSeq.map { f =>
      if (!batchCols.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else {
        val bt = batch.schema(f.name).dataType
        if (bt.sameType(f.dataType)) col(f.name)
        else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(bt, f.dataType))
          col(f.name).cast(f.dataType).as(f.name)
        else throw new IllegalStateException(
          s"GraftChangeSource[$fmt] $path: column ${f.name} evolved to " +
            s"${bt.simpleString}, which cannot be presented under the stream's " +
            s"pinned ${f.dataType.simpleString} schema without narrowing — " +
            "restart from a fresh checkpoint (or pass the widened schema via " +
            ".schema(...)) to adopt the new type.")
      }
    }: _*)
    // V1 contract: the returned frame must be a streaming Dataset
    spark.asInstanceOf[ClassicSession]
      .internalCreateDataFrame(aligned.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}

object GraftChangeSource {
  /**
   * In-JVM mirror of each stream's checkpoint-persisted pinned schema,
   * keyed by (format, table path). Analysis-time `sourceSchema` has no
   * access to the checkpoint location, so it consults this registry —
   * populated whenever a source instance resolves its pin — to keep the
   * analyzed plan on the pinned schema across in-process restarts.
   * Advisory only: the `graft-schema` file in the checkpoint is the
   * durable authority, and a cross-JVM mismatch fails loudly in the
   * source constructor rather than corrupting the sink.
   */
  private[graftshim] val pinnedRegistry =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]()

  /** Drop the in-JVM pin for a table — an ops/test hook that makes the
    * next stream start behave exactly like a fresh JVM (the durable
    * checkpoint pin is untouched). */
  def forgetPin(fmt: String, path: String): Unit = pinnedRegistry.remove((fmt, path))

  /** What analysis should see: the pinned schema when a source over
    * this table already resolved one in this JVM, else the table's
    * current schema (a genuinely fresh stream pins exactly that). */
  def analysisSchema(
      spark: SparkSession, fmt: FormatTable, path: String): StructType =
    Option(pinnedRegistry.get((fmt.name, path)))
      .getOrElse(fmt.open(spark, path).read().schema)
}
