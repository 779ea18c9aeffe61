package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

/**
 * The format registry: one thin codec per table format (ref
 * `api/.../model/storage/TableFormat.java:26-37` plus the
 * `SourceClient`/`TargetClient` SPI). Every entry point resolves a format
 * name once, through [[FormatTable.apply]] or [[FormatTable.detect]], and
 * calls through [[FormatTable.Table]]; no other file names a format.
 * Version tokens are strings: a Delta version, an Iceberg snapshot id, or
 * a Hudi instant time.
 */
sealed abstract class FormatTable(val name: String, val marker: String) {
  /** The table of this format at `path`. Its metadata is read on first
    * use, so open it per operation to see newer commits. */
  def open(spark: SparkSession, path: String): FormatTable.Table
  final override def toString: String = name
}

object FormatTable {

  /** The operations the entry points call on one table. */
  abstract class Table(format: FormatTable, spark: SparkSession, path: String) {
    /** Does the format's marker directory exist under `path`? */
    final def exists: Boolean = {
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new Path(p, format.marker))
    }
    def create(df: DataFrame, partitionColumns: Seq[String]): Unit
    def source: SyncSource
    def target: SyncTarget
    /** Snapshot read, optionally time-travelled to a version token or to
      * the latest commit at or before `timestampAsOf` (epoch millis). */
    def read(versionAsOf: Option[String] = None, timestampAsOf: Option[Long] = None): DataFrame
    /** Append (or overwrite) in one commit that carries `commitProps`. */
    def write(df: DataFrame, partitionColumns: Seq[String], overwrite: Boolean,
        commitProps: Map[String, String] = Map.empty): Unit
    /** Newest value of a property committed through [[write]]. */
    def lastCommitProp(key: String): Option[String]
    /** Commit tokens oldest → newest (full listing). */
    def tokens: Seq[String]
    /** Tokens strictly after `tail`: a stream's per-trigger poll. Throws
      * when the history between `tail` and the head was expired. */
    def tokensAfter(tail: String): Seq[String]
    def snapshotFileCount(version: String): Int
    def snapshotChunk(version: String, chunk: Int, totalChunks: Int): DataFrame
    /** Rows added by the commits in (fromExclusive, toInclusive]. */
    def changes(fromExclusive: String, toInclusive: String): DataFrame

    /** Tokens after `tail` in log order; `lost` when `tail` left the log. */
    protected final def afterInLog(tail: String)(lost: Seq[String] => Seq[String]): Seq[String] = {
      val ts = tokens
      val i = ts.indexOf(tail)
      if (i >= 0) ts.drop(i + 1) else lost(ts)
    }
    protected final def expired(detail: String): Nothing = throw new IllegalStateException(
      s"GraftChangeSource[$format] $path: $detail. The history gap is not " +
        "replayable; restart the stream from a fresh checkpoint.")
  }

  object Delta extends FormatTable("delta", "_delta_log") {
    def open(spark: SparkSession, path: String): Table = new Table(this, spark, path) {
      private lazy val t = DeltaTable.forPath(spark, path)
      def create(df: DataFrame, partitionColumns: Seq[String]): Unit =
        DeltaTable.create(spark, path, df, partitionColumns)
      def source: SyncSource = SyncEngine.deltaSource(t)
      def target: SyncTarget = SyncEngine.deltaTarget(spark, path)
      def read(versionAsOf: Option[String], timestampAsOf: Option[Long]): DataFrame =
        t.toDF(versionAsOf.map(_.toLong).orElse(timestampAsOf.map(t.versionForTimestamp)))
      def write(df: DataFrame, partitionColumns: Seq[String], overwrite: Boolean,
          commitProps: Map[String, String]): Unit =
        if (overwrite) t.overwrite(df, partitionColumns, commitProps)
        else t.append(df, partitionColumns, commitProps)
      def lastCommitProp(key: String): Option[String] = t.lastCommitProp(key)
      def tokens: Seq[String] = t.log.listVersions().map(_.toString)
      /** Probes only the versions after `tail` (contiguous numbering).
        * The probe stops at the first hole, so an expired `tail+1` would
        * stall the stream silently; a checkpoint past the tail proves
        * newer versions exist beyond the hole (log cleanup requires one). */
      def tokensAfter(tail: String): Seq[String] = {
        val after = t.log.listVersionsAfter(tail.toLong)
        if (after.isEmpty) t.log.lastCheckpoint().filter(_ > tail.toLong).foreach { cp =>
          expired(s"commits ${tail.toLong + 1}..$cp were expired by log retention " +
            s"while the stream was down (version ${tail.toLong + 1} is missing but a " +
            s"checkpoint exists at $cp)")
        }
        after.map(_.toString)
      }
      def snapshotFileCount(version: String): Int = t.snapshotFileCount(Some(version.toLong))
      def snapshotChunk(version: String, chunk: Int, totalChunks: Int): DataFrame =
        t.snapshotChunkDF(Some(version.toLong), chunk, totalChunks)
      def changes(fromExclusive: String, toInclusive: String): DataFrame =
        t.changesAsDF(fromExclusive.toLong, toInclusive.toLong)
    }
  }

  object Hudi extends FormatTable("hudi", ".hoodie") {
    def open(spark: SparkSession, path: String): Table = new Table(this, spark, path) {
      private lazy val t = HudiTable.forPath(spark, path)
      def create(df: DataFrame, partitionColumns: Seq[String]): Unit =
        HudiTable.create(spark, path, df, partitionColumns)
      def source: SyncSource = SyncEngine.hudiSource(t)
      def target: SyncTarget = SyncEngine.hudiTarget(spark, path)
      def read(versionAsOf: Option[String], timestampAsOf: Option[Long]): DataFrame =
        t.toDF(versionAsOf.orElse(timestampAsOf.map(t.instantForTimestamp)))
      def write(df: DataFrame, partitionColumns: Seq[String], overwrite: Boolean,
          commitProps: Map[String, String]): Unit =
        if (overwrite) t.overwrite(df, partitionColumns, commitProps)
        else t.append(df, partitionColumns, commitProps)
      def lastCommitProp(key: String): Option[String] = t.lastCommitProp(key)
      def tokens: Seq[String] = t.instants
      /** Lists the active timeline only (archival keeps it bounded).
        * Instants are time-ordered strings, so a tail archived off the
        * active timeline still orders against the instants that remain. */
      def tokensAfter(tail: String): Seq[String] = afterInLog(tail)(_.filter(_ > tail))
      def snapshotFileCount(version: String): Int = t.snapshotFileCount(Some(version))
      def snapshotChunk(version: String, chunk: Int, totalChunks: Int): DataFrame =
        t.snapshotChunkDF(Some(version), chunk, totalChunks)
      def changes(fromExclusive: String, toInclusive: String): DataFrame =
        t.changesAsDF(fromExclusive, toInclusive)
    }
  }

  object Iceberg extends FormatTable("iceberg", "metadata") {
    def open(spark: SparkSession, path: String): Table = new Table(this, spark, path) {
      private lazy val t = IcebergTable.forPath(spark, path)
      def create(df: DataFrame, partitionColumns: Seq[String]): Unit =
        IcebergTable.create(spark, path, df, partitionColumns)
      def source: SyncSource = SyncEngine.icebergSource(t)
      def target: SyncTarget = SyncEngine.icebergTarget(spark, path)
      def read(versionAsOf: Option[String], timestampAsOf: Option[Long]): DataFrame =
        t.toDF(versionAsOf.map(_.toLong).orElse(
          timestampAsOf.map(ts => t.currentMetadata.snapshotForTimestamp(ts).snapshotId)))
      def write(df: DataFrame, partitionColumns: Seq[String], overwrite: Boolean,
          commitProps: Map[String, String]): Unit =
        if (overwrite) t.overwrite(df, partitionColumns, commitProps)
        else t.append(df, partitionColumns, commitProps)
      /** Iceberg commit properties land on the table itself. */
      def lastCommitProp(key: String): Option[String] = t.tableProperty(key)
      def tokens: Seq[String] = t.snapshotIds.map(_.toString)
      /** One metadata.json read. Snapshot ids are random longs, so an
        * expired tail leaves no order to recover the unseen suffix from —
        * a value comparison would emit an arbitrary subset. Fail the
        * stream rather than lose data. */
      def tokensAfter(tail: String): Seq[String] = afterInLog(tail)(_ => expired(
        s"stream position $tail is no longer in the table's snapshot log (snapshots expired?)"))
      def snapshotFileCount(version: String): Int = t.snapshotFileCount(Some(version.toLong))
      def snapshotChunk(version: String, chunk: Int, totalChunks: Int): DataFrame =
        t.snapshotChunkDF(Some(version.toLong), chunk, totalChunks)
      def changes(fromExclusive: String, toInclusive: String): DataFrame =
        t.changesAsDF(fromExclusive.toLong, toInclusive.toLong)
    }
  }

  /** Every format, in marker-detection order: `_delta_log`, then
    * `.hoodie`, then `metadata`. */
  val all: Seq[FormatTable] = Seq(Delta, Hudi, Iceberg)

  /** The format named `name` (case-insensitive). */
  def apply(name: String): FormatTable =
    all.find(_.name == name.toLowerCase).getOrElse(throw new IllegalArgumentException(
      s"unknown graft format '$name' (valid formats: ${all.map(_.name).mkString(", ")})"))

  /** The format of the table at `path`, by its marker directory. */
  def detect(spark: SparkSession, path: String): FormatTable =
    all.find(_.open(spark, path).exists).getOrElse(throw new IllegalArgumentException(
      s"no graft table at $path (no ${all.map(_.marker).mkString("/")} marker); " +
        "pass .option(\"format\", ...) to create one"))
}
