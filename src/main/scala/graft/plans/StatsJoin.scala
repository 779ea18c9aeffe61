package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, sum}

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.{IcebergScanBuilder, IcebergTable}

/**
 * Statistics-DRIVEN join planning: the consumption half of the i21/i22
 * statistics plane. A warehouse planner reads the registered planning
 * facts — the Puffin blob's `ndv` property (the cross-engine
 * convention, ref the statistics registration the reference's Iceberg
 * target maintains via table metadata, `core/.../iceberg/
 * IcebergClient.java:178-202` property plumbing) and the
 * partition-statistics row counts — WITHOUT scanning a single data
 * row, and decides the physical join strategy from them.
 *
 * Why it matters at 100 TB: Spark's own broadcast decision is
 * size-in-bytes from the scan relation, which for a freshly-synced or
 * filtered dimension is often unknown or wildly conservative; the
 * table's registered ndv/row-count facts are metadata reads (one
 * metadata.json + one Puffin footer — a few KB) and survive across
 * engines. A wrong choice here is the difference between an O(rows)
 * broadcast of a 100-GB "dimension" melting the driver and a needless
 * full shuffle of a 100-TB fact against a 10-MB dimension.
 *
 * Two fences keep a registered estimate from melting the driver:
 *
 *  - FRESHNESS: an ANALYZE is a point-in-time fact. When the current
 *    snapshot is not the analyzed one, the current manifest-list's
 *    exact row counts (one avro read, still zero data rows) floor the
 *    estimate — a dimension that grew 1000× since its ANALYZE is
 *    judged by what it is NOW, not what it was.
 *  - BYTES: broadcast cost is bytes, not rows (1e7 one-KB rows is a
 *    10-GB broadcast). Rows convert to bytes through the rollup's own
 *    measured `total_data_file_size_in_bytes / data_record_count`,
 *    falling back to a conservative fixed width, and the decision
 *    compares against a byte budget with
 *    `spark.sql.autoBroadcastJoinThreshold` semantics (10 MB default).
 *
 * Any failure to READ statistics (a carried file deleted by its owner,
 * a corrupt footer, an empty rollup) degrades to "no stats" — the
 * planner hint must never fail the query, and no-stats means no
 * broadcast, never a guess.
 */
object StatsJoin {

  /** Conservative assumed row width when no partition-statistics rollup
    * provides a measured bytes/row — erring wide, so an un-rolled-up
    * dimension has to be clearly small before it broadcasts. */
  val DefaultRowWidthBytes: Double = 256.0

  /** Default broadcast byte budget — `spark.sql.autoBroadcastJoinThreshold`
    * semantics (Spark's own default, 10 MB of on-disk relation size). */
  val DefaultBroadcastBytes: Long = 10L * 1024 * 1024

  /** Planning-time size facts for a dimension, derived from registered
    * statistics + the current manifest list only (zero data rows).
    * `bytes` is `rows` × the measured (or conservative default) row
    * width; `fresh` says every consulted estimate anchors at the
    * CURRENT snapshot (when false, `rows` is already floored by the
    * manifest-list's current counts). */
  final case class PlannedSize(rows: Double, bytes: Double, fresh: Boolean)

  /** The raw planning facts a format adapter supplies; the sizing
    * arithmetic in [[sizeOf]] is shared across formats. */
  private[plans] final case class Facts(
      /** key-column ndv and whether it anchors at the current version */
      ndv: Option[(Double, Boolean)],
      /** partition-rollup (rows, bytes) and current-version anchoring */
      partitionRollup: Option[(Double, Double, Boolean)],
      /** exact-ish CURRENT row count from table metadata (manifest
        * list / log replay) — consulted only when an estimate is stale */
      currentRowsUpperBound: () => Option[Double])

  private def safe[A](f: => A): Option[A] =
    try Option(f) catch { case NonFatal(_) => None }

  private[plans] def sizeOf(facts: Facts): Option[PlannedSize] = {
    // partition stats carry EXACT row counts — prefer them; the key ndv
    // is the fallback (for a key column ndv ≈ rows), and the MAX of the
    // two is the safe cardinality estimate for a broadcast decision
    val stale: Option[(Double, Boolean)] =
      (facts.ndv, facts.partitionRollup.map(p => (p._1, p._3))) match {
        case (Some((a, af)), Some((b, bf))) => Some((math.max(a, b), af && bf))
        case (a, b) => a.orElse(b)
      }
    stale.flatMap { case (rows0, fresh) =>
      // a STALE estimate is only usable once the exact current counts
      // floor it; when the format cannot supply that floor (a Hudi MOR
      // snapshot with un-compacted log mutations, an unreadable
      // manifest list) the stale number alone would be exactly the
      // guess this planner refuses — no estimate, no broadcast
      val floored: Option[Double] =
        if (fresh) Some(rows0)
        else facts.currentRowsUpperBound().map(math.max(rows0, _))
      floored.map { rows =>
        val width = facts.partitionRollup
          .collect { case (r, b, _) if r > 0 => b / r }
          .getOrElse(DefaultRowWidthBytes)
        PlannedSize(rows, rows * width, fresh)
      }
    }
  }

  /** Size facts for an Iceberg `table`, from registered statistics only
    * (no data scan): the key column's HLL ndv (closest analyzed
    * ancestor's Puffin blob property), the partition-statistics rollup
    * when registered, and — when either is stale — the current
    * manifest-list row counts as a floor. */
  def plannedSize(table: IcebergTable, keyColumn: String): Option[PlannedSize] = {
    val current = safe(table.currentMetadata.currentSnapshotId).flatten
    // a sync-carried (adopted) entry re-anchors at the adoption commit's
    // snapshot, so anchoring alone would launder the source's stale
    // sketch into a fresh fact — the `carried-` adoption marker forces
    // it stale, and the exact current counts floor it (the fence Delta
    // and Hudi get from their absent-native-version semantics)
    def fresh(snapshotId: Long, path: String) =
      current.contains(snapshotId) && !graft.util.StatsFiles.isCarried(path)
    val ndv: Option[(Double, Boolean)] = for {
      entry <- safe(table.statisticsFor()).flatten
      n <- safe(table.statisticsRegisters(keyColumn)._2)
    } yield (n, fresh(entry.snapshotId, entry.path))
    val rollup: Option[(Double, Double, Boolean)] = for {
      entry <- safe(table.partitionStatisticsFor()).flatten
      r <- safe {
        val row = table.readPartitionStatistics(entry).agg(
          sum("data_record_count"), sum("total_data_file_size_in_bytes")).collect()(0)
        // an empty rollup (no live files) aggregates to NULL — no fact
        if (row.isNullAt(0)) None
        else Some((row.getLong(0).toDouble, row.getLong(1).toDouble))
      }.flatten
    } yield (r._1, r._2, fresh(entry.snapshotId, entry.path))
    sizeOf(Facts(ndv, rollup,
      () => safe(table.currentRowCountUpperBound()).flatten.map(_.toDouble)))
  }

  /** Size facts for a Delta `table`: the registered ANALYZE ndv —
    * native or sync-carried, and REQUIRED (no registered statistics
    * means no estimate, so the join never broadcasts on a guess) —
    * fenced by the log's exact live row/byte counts, a driver-side
    * metadata replay that scans zero data rows. Carried statistics
    * (statisticsVersion absent) always read as stale, so the exact
    * current counts floor them. */
  def plannedSize(table: DeltaTable, keyColumn: String): Option[PlannedSize] = {
    val ndv: Option[(Double, Boolean)] = safe {
      (table.statisticsRegisters(keyColumn)._2, table.statisticsFresh)
    }
    // no registered stats ⇒ no estimate — and no point replaying the
    // log for facts the decision will never consult
    if (ndv.isEmpty) return None
    // planningFacts sums the driver-replayed live files: each file's
    // `numRecords` is read, its per-column stats are not, and no Spark
    // job runs
    val logFacts: Option[(Double, Double, Boolean)] =
      safe(table.planningFacts()).flatten.map { case (r, b) => (r, b, true) }
    sizeOf(Facts(ndv, logFacts, () => logFacts.map(_._1)))
  }

  /** Size facts for a Hudi `table`: the registered ANALYZE ndv — native
    * or sync-carried, and REQUIRED (no-guess posture) — fenced by the
    * file slices' exact live row/byte counts, a timeline-metadata read
    * that scans zero data rows. */
  def plannedSize(table: HudiTable, keyColumn: String): Option[PlannedSize] = {
    val ndv: Option[(Double, Boolean)] = safe {
      (table.statisticsRegisters(keyColumn)._2, table.statisticsFresh)
    }
    if (ndv.isEmpty) return None
    // as on the Delta path, a driver sum over the replayed live files:
    // sizes and counts come from commit metadata, never the per-file
    // column-stats index
    val sliceFacts: Option[(Double, Double, Boolean)] =
      safe(table.planningFacts()).flatten.map { case (r, b) => (r, b, true) }
    sizeOf(Facts(ndv, sliceFacts, () => sliceFacts.map(_._1)))
  }

  /** Size facts for a FILTERED Iceberg dimension — a scan with
    * partition predicates, the standard star-schema probe. The
    * post-filter row estimate comes from the registered rollup
    * ([[IcebergScanBuilder.estimatedRows]]: one KB parquet read, zero
    * manifest opens, growth-scaled when stale), bytes from the rollup's
    * measured bytes/row; the whole-dim facts cap both (the filtered
    * subset can never exceed the dim). Without a rollup-backed estimate
    * the whole-dim posture applies — and with no statistics at all the
    * dim never broadcasts on a guess. */
  def plannedSize(scan: IcebergScanBuilder, keyColumn: String): Option[PlannedSize] = {
    val whole = plannedSize(scan.plannedTable, keyColumn)
    val filtered = safe(scan.estimatedRows()).flatten
    (whole, filtered) match {
      // a STALE rollup estimating 0 matched rows is indistinguishable
      // from a partition CREATED after the ANALYZE (growth-scaling
      // multiplies matched, so 0 stays 0) — broadcasting a possibly
      // huge new partition on that 0 would be exactly the guess this
      // planner refuses, so only a fresh rollup's 0 (a truly empty
      // partition) is trusted; otherwise the whole-dim posture applies
      case (Some(w), Some(fr)) if fr > 0 || w.fresh =>
        val width = if (w.rows > 0) w.bytes / w.rows else DefaultRowWidthBytes
        val rows = math.min(w.rows, fr.toDouble)
        Some(PlannedSize(rows, rows * width, w.fresh))
      case (w, _) => w
    }
  }

  /** Planned row estimate alone (freshness-fenced). */
  def plannedRows(table: IcebergTable, keyColumn: String): Option[Double] =
    plannedSize(table, keyColumn).map(_.rows)

  /** A dimension whose planning facts come from registered statistics —
    * the implicit adapters let [[joinPlanned]] take an Iceberg or Delta
    * table directly. */
  final class StatsDim private[StatsJoin] (
      private[StatsJoin] val df: () => DataFrame,
      private[StatsJoin] val size: String => Option[PlannedSize])
  object StatsDim {
    import scala.language.implicitConversions
    implicit def ofIceberg(t: IcebergTable): StatsDim =
      new StatsDim(() => t.toDF(), k => plannedSize(t, k))
    implicit def ofDelta(t: DeltaTable): StatsDim =
      new StatsDim(() => t.toDF(), k => plannedSize(t, k))
    implicit def ofHudi(t: HudiTable): StatsDim =
      new StatsDim(() => t.toDF(), k => plannedSize(t, k))
    /** A PREDICATED dim: the scan's partition predicates both shrink
      * the joined rows AND shrink the costed size (via the registered
      * rollup), so a dimension that is over-budget whole can still
      * broadcast its filtered slice. */
    implicit def ofIcebergScan(s: IcebergScanBuilder): StatsDim =
      new StatsDim(() => s.toDF(), k => plannedSize(s, k))
  }

  /**
   * Join `fact` to the `dim` table (Iceberg, Delta, or Hudi) on `condition`,
   * choosing the physical strategy from dim's REGISTERED statistics:
   * estimated size at or below BOTH thresholds ⇒ explicit `broadcast()`
   * hint (Catalyst plans a BroadcastHashJoin regardless of
   * autoBroadcastJoinThreshold), above either ⇒ plain join (shuffle).
   * The row threshold bounds the driver's hash-table entry count, the
   * byte threshold its memory; a dim with NO readable statistics falls
   * back to the plain join — never broadcast on a guess.
   */
  def joinPlanned(
      fact: DataFrame,
      dim: StatsDim,
      dimKeyColumn: String,
      condition: Column,
      joinType: String = "inner",
      broadcastRowThreshold: Double = 1e7,
      broadcastByteThreshold: Long = DefaultBroadcastBytes): DataFrame =
    dim.size(dimKeyColumn) match {
      case Some(s) if s.rows <= broadcastRowThreshold &&
          s.bytes <= broadcastByteThreshold =>
        fact.join(broadcast(dim.df()), condition, joinType)
      case _ =>
        fact.join(dim.df(), condition, joinType)
    }
}
