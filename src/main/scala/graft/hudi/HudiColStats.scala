package graft.hudi

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types._

import graft.model.ColumnStatRow
import graft.util.MetaFiles

/**
 * Column-statistics index for Hudi tables — the engine's analog of the
 * metadata-table `column_stats` partition (ref write path
 * `core/.../hudi/BaseFileUpdatesExtractor.java:234-262` — per-file
 * `HoodieColumnRangeMetadata` attached to every write stat; ref read
 * path `core/.../hudi/HudiFileStatsExtractor.java:96-184` — stats come
 * from the metadata table when it exists, parquet footers otherwise).
 *
 * Layout: one parquet file per commit, `.hoodie/metadata/col_stats/
 * <instant>.parquet`, rows keyed (partitionPath, fileName, column) with
 * canonical min/max strings (same forms as
 * [[graft.stats.ParquetFooterStats]]). Real Hudi stores this index as
 * an internal MOR table in HFile format — an implementation detail of
 * that engine, not of the contract; what transfers is the behavior:
 * stats are maintained transactionally with each commit and readers
 * prefer the index to footer scans. Keying files per instant makes the
 * index compose with the timeline: a rolled-back instant's stats file
 * is deleted with the instant, and readers only ever load index files
 * of instants still on the completed timeline.
 */
object HudiColStats {

  val IndexSchema: StructType = StructType(Seq(
    StructField("partitionPath", StringType, nullable = false),
    StructField("fileName", StringType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("minValue", StringType, nullable = true),
    StructField("maxValue", StringType, nullable = true),
    StructField("numNulls", LongType, nullable = false),
    StructField("numValues", LongType, nullable = false),
    StructField("totalSize", LongType, nullable = false)))

  private val IndexColumns: Map[String, Set[String]] =
    IndexSchema.fieldNames.map(_ -> Set.empty[String]).toMap

  def dir(tablePath: String): Path =
    new Path(tablePath, ".hoodie/metadata/col_stats")

  def indexFile(tablePath: String, instant: String): Path =
    new Path(dir(tablePath), s"$instant.parquet")

  /** [[IndexSchema]] in Spark's own parquet layout, so a sidecar from
    * Spark's parquet writer and one from [[write]] read back alike. */
  private lazy val ParquetSchema: MessageType =
    new SparkToParquetSchemaConverter().convert(IndexSchema)

  /** Write one commit's stats rows as a single parquet file, on the
    * driver. Two rules make it safe on either side of the timeline
    * commit (data writes place it after, a sync commit before): absence
    * of an index file never excludes a file, and readers resolve index
    * files through the completed timeline, so an orphan of a failed
    * commit is never read. Racers on one instant write their own
    * uuid-named temporary file; the rename replaces such an orphan. */
  def write(
      spark: SparkSession,
      tablePath: String,
      instant: String,
      files: Seq[(String, String, Seq[ColumnStatRow])]): Unit = {
    if (files.isEmpty) return
    val groups = new SimpleGroupFactory(ParquetSchema)
    val rows = for ((partitionPath, fileName, cols) <- files; c <- cols) yield {
      val g = groups.newGroup().append("partitionPath", partitionPath)
        .append("fileName", fileName).append("column", c.column)
      c.minValue.foreach(g.append("minValue", _))
      c.maxValue.foreach(g.append("maxValue", _))
      g.append("numNulls", c.numNulls).append("numValues", c.numValues)
        .append("totalSize", c.totalSize)
    }
    MetaFiles.writeParquet(spark.sparkContext.hadoopConfiguration,
      indexFile(tablePath, instant), ParquetSchema, rows)
  }

  /** Instants of `wanted` that have an index file. One listing of the
    * index dir; a table without the dir has no index. */
  def coveredInstants(spark: SparkSession, tablePath: String, wanted: Seq[String]): Seq[String] = {
    val d = dir(tablePath)
    val present =
      try d.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(d)
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
      catch { case _: FileNotFoundException => return Seq.empty }
    wanted.filter(present)
  }

  /** The index rows of the given instants per (partitionPath, fileName),
    * read on the driver; empty when none are covered. The per-instant
    * parquet sidecar is the fast path; absent it (a table whose index
    * was maintained only in the real metadata-table layout), rows come
    * from the metadata table's `column_stats` partition, restricted to
    * the requested instants so a time-travel read gets the as-of index,
    * and joined to the `files` listing for partition paths. Either
    * index answers identically (ref read preference
    * `HudiFileStatsExtractor.java:96-103`). */
  def read(spark: SparkSession, tablePath: String, instants: Seq[String])
      : Map[(String, String), Seq[ColumnStatRow]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val covered = coveredInstants(spark, tablePath, instants)
    val keyed: Seq[((String, String), ColumnStatRow)] =
      if (covered.nonEmpty)
        MetaFiles.parquetRows(conf, covered.map(indexFile(tablePath, _)), IndexColumns) { g =>
          def str(f: String) = if (g.getFieldRepetitionCount(f) > 0) Some(g.getString(f, 0)) else None
          Some((g.getString("partitionPath", 0), g.getString("fileName", 0)) -> ColumnStatRow(
            column = g.getString("column", 0),
            minValue = str("minValue"),
            maxValue = str("maxValue"),
            numNulls = g.getLong("numNulls", 0),
            numValues = g.getLong("numValues", 0),
            totalSize = g.getLong("totalSize", 0)))
        }
      else {
        val fs = dir(tablePath).getFileSystem(conf)
        val stats = HudiMetadataTable.readColumnStats(fs, conf, tablePath, Some(instants.toSet))
        if (stats.isEmpty) return Map.empty
        val partitionsOf = HudiMetadataTable.readFiles(fs, conf, tablePath).toSeq
          .flatMap { case (pp, files) => files.keysIterator.map(_ -> (if (pp == ".") "" else pp)) }
          .groupMap(_._1)(_._2)
        stats.flatMap { case (fileName, row) =>
          partitionsOf.getOrElse(fileName, Nil).map(pp => (pp, fileName) -> row)
        }
      }
    keyed.groupMap(_._1)(_._2)
  }

  /** Drop a rolled-back instant's index file (with [[graft.hudi
    * .HudiTable.rollback]] — its stats must not outlive the instant). */
  def delete(spark: SparkSession, tablePath: String, instant: String): Unit = {
    val f = indexFile(tablePath, instant)
    f.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(f, false)
  }

  /** Canonical-string range filter for a stats DataFrame column, typed
    * by the table column's Spark type (canonical forms: dates are
    * epoch-days, timestamps epoch-micros, decimals plain strings). */
  def typedCanon(c: org.apache.spark.sql.Column, dt: DataType): org.apache.spark.sql.Column =
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType => c.cast(LongType)
      case FloatType | DoubleType => c.cast(DoubleType)
      case d: DecimalType => c.cast(DecimalType(38, d.scale))
      case _ => c
    }
}
