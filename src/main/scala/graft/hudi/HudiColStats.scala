package graft.hudi

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.ColumnStatRow

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

  def dir(tablePath: String): Path =
    new Path(tablePath, ".hoodie/metadata/col_stats")

  def indexFile(tablePath: String, instant: String): Path =
    new Path(dir(tablePath), s"$instant.parquet")

  /** Write one commit's stats rows as a single parquet file. Written
    * BEFORE the timeline commit: an orphan from a failed commit is
    * unreachable because readers resolve index files through the
    * completed timeline, never by listing. */
  def write(
      spark: SparkSession,
      tablePath: String,
      instant: String,
      files: Seq[(String, String, Seq[ColumnStatRow])]): Unit = {
    if (files.isEmpty) return
    val rows = files.flatMap { case (partitionPath, fileName, cols) =>
      cols.map(c => org.apache.spark.sql.Row(
        partitionPath, fileName, c.column,
        c.minValue.orNull, c.maxValue.orNull, c.numNulls, c.numValues, c.totalSize))
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = dir(tablePath).getFileSystem(hconf)
    fs.mkdirs(dir(tablePath))
    // uuid-suffixed staging: two optimistic writers racing the same
    // instant time must not clobber each other's staging dir
    val staging = new Path(dir(tablePath),
      s".staging-$instant-${java.util.UUID.randomUUID().toString.take(8)}")
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), IndexSchema)
      .write.mode("overwrite").parquet(staging.toString)
    val part = fs.listStatus(staging).map(_.getPath)
      .find(p => p.getName.endsWith(".parquet")).get
    // an existing target can only be an orphan of a FAILED commit of
    // this same instant time (readers resolve through the completed
    // timeline) — replace it
    fs.delete(indexFile(tablePath, instant), false)
    require(fs.rename(part, indexFile(tablePath, instant)),
      s"failed to place col_stats index for $instant")
    fs.delete(staging, true)
  }

  /** Instants of `wanted` that have an index file. One listing of the
    * index dir, not one existence probe per instant. */
  def coveredInstants(spark: SparkSession, tablePath: String, wanted: Seq[String]): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val d = dir(tablePath)
    val fs = d.getFileSystem(hconf)
    if (!fs.exists(d)) return Seq.empty
    val present = fs.listStatus(d).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
    wanted.filter(present)
  }

  /** The index rows of the given instants as a DataFrame (columns of
    * [[IndexSchema]]); None when none are covered. The per-instant
    * parquet sidecar is the fast path; absent it (a table whose index
    * was maintained only in the real metadata-table layout), rows come
    * from the metadata table's `column_stats` partition, joined to the
    * `files` listing for partition paths — either index answers
    * identically (ref read preference `HudiFileStatsExtractor.java:96-103`). */
  def read(spark: SparkSession, tablePath: String, instants: Seq[String]): Option[DataFrame] = {
    val covered = coveredInstants(spark, tablePath, instants)
    if (covered.nonEmpty)
      return Some(spark.read.schema(IndexSchema).parquet(
        covered.map(i => indexFile(tablePath, i).toString): _*))
    // metadata-table fallback: DISTRIBUTED log replay (blocks decode on
    // executors — a 100k-file table never builds stat rows driver-side),
    // restricted to the requested instants so time-travel callers get
    // exactly the as-of index state, not the current one
    val statsDf = HudiMetadataTable.readColumnStatsDF(
      spark, tablePath, Some(instants.toSet)).getOrElse(return None)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = dir(tablePath).getFileSystem(hconf)
    // file → partition path from the files listing (one row per FILE —
    // bounded — vs. stats at files × columns); broadcast to the join
    val partitionOfFile = HudiMetadataTable.readFiles(fs, hconf, tablePath)
      .toSeq.flatMap { case (pp, files) =>
        files.keysIterator.map(_ -> (if (pp == ".") "" else pp))
      }
    if (partitionOfFile.isEmpty) return None
    import spark.implicits._
    val ppDf = partitionOfFile.toDF("fileName", "partitionPath")
    val joined = statsDf.join(org.apache.spark.sql.functions.broadcast(ppDf), "fileName")
      .select(org.apache.spark.sql.functions.col("partitionPath"),
        org.apache.spark.sql.functions.col("fileName"),
        org.apache.spark.sql.functions.col("column"),
        org.apache.spark.sql.functions.col("minValue"),
        org.apache.spark.sql.functions.col("maxValue"),
        org.apache.spark.sql.functions.col("numNulls"),
        org.apache.spark.sql.functions.col("numValues"),
        org.apache.spark.sql.functions.col("totalSize"))
    if (joined.isEmpty) None else Some(joined)
  }

  /** The index rows of the given instants per (partitionPath, fileName),
    * collected to the driver; empty when none are covered. */
  def byFile(spark: SparkSession, tablePath: String, instants: Seq[String])
      : Map[(String, String), Seq[ColumnStatRow]] =
    read(spark, tablePath, instants).fold(Map.empty[(String, String), Seq[ColumnStatRow]]) { df =>
      df.collect().toSeq.groupBy(r => (r.getString(0), r.getString(1)))
        .view.mapValues(_.map(r => ColumnStatRow(
          column = r.getString(2),
          minValue = Option(r.getString(3)),
          maxValue = Option(r.getString(4)),
          numNulls = r.getLong(5),
          numValues = r.getLong(6),
          totalSize = r.getLong(7)))).toMap
    }

  /** Drop a rolled-back instant's index file (with [[graft.hudi
    * .HudiTable.rollback]] — its stats must not outlive the instant). */
  def delete(spark: SparkSession, tablePath: String, instant: String): Unit = {
    val f = indexFile(tablePath, instant)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(f)) fs.delete(f, false)
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
