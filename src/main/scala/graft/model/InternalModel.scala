package graft.model

/**
 * Canonical (format-agnostic) table model — the "OneTable model" of the
 * reference, re-expressed as Scala case classes that are bijective with
 * Spark's `StructType` so the rest of the engine can stay in DataFrame
 * land.
 *
 * Reference shapes (see SURVEY.md §1.1):
 *  - schema:   reference `api/.../model/schema/OneSchema.java:43-85`,
 *              here a Spark `StructType`
 *  - file:     reference `api/.../model/storage/OneDataFile.java:39-55`
 *  - stats:    reference `api/.../model/stat/ColumnStat.java:33-40`
 *
 * As in the reference, a data-file manifest is a collection on the
 * driver: each format folds its metadata log into a
 * `Seq[InternalDataFile]` in one in-process replay, and a scan plans
 * over those files through [[graft.sources.ManifestFileIndex]] without
 * listing the filesystem.
 */

/** Data file format (ref `FileFormat.java:26-30`). */
sealed abstract class DataFileFormat(val name: String)
object DataFileFormat {
  case object Parquet extends DataFileFormat("parquet")
  case object Orc extends DataFileFormat("orc")
  case object Avro extends DataFileFormat("avro")
  def fromName(s: String): DataFileFormat = s.toLowerCase match {
    case "parquet" => Parquet
    case "orc"     => Orc
    case "avro"    => Avro
    case other     => throw new IllegalArgumentException(s"unknown file format: $other")
  }
}

// Partition transforms live in PartitionTransform.scala:
// TimeGranularity / PartitionFieldDef / PartitionTransform (spec parse,
// value codecs, Delta generated-column expressions, Iceberg ordinals).

/**
 * Per-column, per-file statistics (ref `ColumnStat.java:33-40` +
 * `Range.java:58-77`). Min/max are canonicalized to strings with a typed
 * tag so a single encoder-friendly shape covers all scalar types; dates
 * are epoch-days, timestamps epoch-micros (ref Range javadoc
 * `api/.../stat/Range.java:31-56`).
 */
final case class ColumnStatRow(
    column: String,
    minValue: Option[String],
    maxValue: Option[String],
    numNulls: Long,
    numValues: Long,
    totalSize: Long)

/**
 * A single data file in a snapshot (ref `OneDataFile.java:39-55`): an
 * element of a driver-folded manifest, and the unit a scan's
 * [[graft.sources.ManifestFileIndex]] lists and skips by `columnStats`.
 */
final case class InternalDataFile(
    physicalPath: String,
    fileFormat: String = DataFileFormat.Parquet.name,
    /** partition column name -> serialized value (hive-style string). */
    partitionValues: Map[String, String] = Map.empty,
    fileSizeBytes: Long = 0L,
    recordCount: Long = 0L,
    columnStats: Seq[ColumnStatRow] = Seq.empty,
    lastModified: Long = 0L)

/**
 * A single commit's change set cannot be expressed in other formats
 * (deletion vectors, v2 delete files, MOR log blocks). Distinct from a
 * plain require so [[graft.sync.SyncEngine]]'s Auto mode can apply the
 * incremental safety fence — fall back to a full snapshot sync, which IS
 * expressible once the mutation has been purged/compacted — while an
 * explicit Incremental request still fails loudly.
 */
final class UnsyncableChangeException(msg: String)
  extends IllegalArgumentException(msg)

/**
 * A sync commit lost its compare-and-set: between planning (reading the
 * target's watermark + live files) and committing, another process
 * synced the same target. The plan is stale — committing it would
 * duplicate adds (double-counting rows on an Iceberg target) or regress
 * the watermark. [[graft.sync.SyncEngine.sync]] catches this and
 * re-plans from fresh target state.
 */
final class ConcurrentSyncException(msg: String)
  extends IllegalStateException(msg)

object ConcurrentSyncException {
  /** CAS guard for put-if-absent commits: a lost version/instant slot
    * throws TYPED — every entry point (sync plane AND single-shot
    * DDL/mutation) signals a commit race the same way, so a caller's
    * retry loop matches one structural type instead of broad
    * IllegalArgument/IllegalState patterns. */
  def check(won: Boolean, msg: => String): Unit =
    if (!won) throw new ConcurrentSyncException(msg)
}

/**
 * Compare-and-set guard carried by a sync commit: the watermark the
 * planner observed on the target for `sourceId` (`None` = no watermark
 * for this source). Each target validates it against CURRENT state in
 * the same read that allocates the commit's version slot, so the
 * version file's put-if-absent closes the validate→publish window: any
 * foreign commit landing after the read collides on the slot instead of
 * silently stacking a stale diff (two schedulers running one pipeline
 * is the reference's own deployment shape, ref
 * `core/.../client/OneTableClient.java:95-247` — which leaves this race
 * to the caller).
 */
final case class SyncCas(
    sourceId: String,
    /** The raw (source-id, version) watermark pair the planner observed
      * on the target — whatever source wrote it, `None` = no sync state
      * at all. Comparing the FULL pair (not just this source's slice)
      * distinguishes "never synced" from "last synced by a different
      * source": a fresh-target full plan must NOT validate against a
      * target another source synced in between (on a Hudi target no
      * version slot would arbitrate that stack), and a deliberate
      * source switch re-plans once and then commits against the
      * now-observed foreign pair. */
    observed: Option[(String, String)]) {
  def validate(state: Map[String, String], targetDesc: String): Unit = {
    val cur = for {
      s <- state.get(SyncCas.SourceIdProp)
      v <- state.get(SyncCas.VersionProp)
    } yield (s, v)
    if (cur != observed) throw new ConcurrentSyncException(
      s"concurrent sync detected on $targetDesc: planned for $sourceId against " +
        s"observed sync state $observed but the target now carries $cur — " +
        "re-plan and retry")
  }
}
object SyncCas {
  /** Canonical watermark property keys (aliased by SyncEngine). */
  val SourceIdProp = "graft.sync.source.id"
  val VersionProp = "graft.sync.last.synced.version"
  /** Puffin statistics pointer riding the sync property channel
    * (aliased by SyncEngine.StatsPathProp; promoted by the Iceberg
    * target to a metadata.json `statistics` entry). */
  val StatsPathProp = "graft.sync.stats.path"
  /** Partition-statistics pointer, same contract: promoted by the
    * Iceberg target to a `partition-statistics` entry. */
  val PartitionStatsPathProp = "graft.sync.partition-stats.path"
}
