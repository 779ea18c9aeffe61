package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.orc.{BooleanColumnStatistics, ColumnStatistics, DateColumnStatistics,
  DecimalColumnStatistics, DoubleColumnStatistics, IntegerColumnStatistics, OrcFile,
  StringColumnStatistics, TimestampColumnStatistics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.model.ColumnStatRow
import graft.stats.FileFooterStats

import scala.jdk.CollectionConverters._

/**
 * ORC data-file support (ref `api/.../model/storage/FileFormat.java:26-30`
 * APACHE_ORC): listing, writes through Spark's native vectorized ORC
 * writer, reads through the shared metadata-backed `FileIndex` (Spark's
 * `OrcFileFormat` — predicate pushdown and column pruning apply), and
 * per-file statistics read directly from ORC footers. Unlike Avro, ORC
 * carries real footer stats, so collection is a distributed footer walk
 * exactly like [[graft.stats.ParquetFooterStats]] — no data scan.
 */
object OrcDataFiles {

  /** The .orc file list of a directory-or-file dataset. */
  def listOrcFiles(spark: SparkSession, location: String): Seq[String] = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".orc")) Seq(st.getPath.toString)
        else Seq.empty
      }
    val st = fs.getFileStatus(p)
    if (st.isDirectory) walk(p) else Seq(fs.makeQualified(p).toString)
  }

  /** Spark schema of an ORC dataset (footer type description). */
  def readSchema(spark: SparkSession, location: String): StructType =
    spark.read.orc(location).schema

  /** Write via Spark's native ORC sink; returns the written file paths. */
  def write(df: DataFrame, destDir: String): Seq[String] = {
    df.write.mode("overwrite").orc(destDir)
    listOrcFiles(df.sparkSession, destDir).sorted
  }

  /** Distributed footer-stats collection: one small Spark job over the
    * file list, footers decoded on executors. */
  def collectStats(
      spark: SparkSession, paths: Seq[String], schema: StructType): Seq[FileFooterStats] = {
    if (paths.isEmpty) return Seq.empty
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val schemaJson = schema.json
    val parallelism = math.max(1, math.min(paths.size / 4 + 1, 256))
    spark.sparkContext
      .parallelize(paths, parallelism)
      .map(p => readFooter(conf.value,
        DataType.fromJson(schemaJson).asInstanceOf[StructType], p))
      .collect()
      .toSeq
  }

  /** Footer stats for one ORC file (runs on executors). Canonical
    * string forms match ParquetFooterStats: dates as epoch-days,
    * timestamps as epoch-micros, decimals plain. */
  def readFooter(conf: Configuration, schema: StructType, pathStr: String): FileFooterStats = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val status = fs.getFileStatus(path)
    val reader = OrcFile.createReader(path, OrcFile.readerOptions(conf).filesystem(fs))
    try {
      val rowCount = reader.getNumberOfRows
      val stats = reader.getStatistics
      val orcSchema = reader.getSchema
      val fieldNames = orcSchema.getFieldNames.asScala
      val children = orcSchema.getChildren.asScala
      val cols = fieldNames.zip(children).toSeq.flatMap { case (name, child) =>
        schema.fields.find(_.name == name).flatMap { sf =>
          val s = stats(child.getId)
          val nonNull = s.getNumberOfValues
          canonicalMinMax(sf.dataType, s).map { case (mn, mx) =>
            ColumnStatRow(
              column = name,
              minValue = mn,
              maxValue = mx,
              numNulls = rowCount - nonNull,
              numValues = rowCount,
              totalSize = s.getBytesOnDisk)
          }
        }
      }
      FileFooterStats(pathStr, status.getLen, rowCount, status.getModificationTime, cols)
    } finally reader.close()
  }

  /** (min, max) canonical strings for a column's footer stats; None for
    * types without usable ORC stats (nested, binary). Empty columns
    * (all null) yield (None, None) with counts intact. */
  private def canonicalMinMax(
      dt: DataType, s: ColumnStatistics): Option[(Option[String], Option[String])] = {
    val empty = s.getNumberOfValues == 0
    (dt, s) match {
      case (_, _) if empty && scalarWithStats(dt) => Some((None, None))
      case (ByteType | ShortType | IntegerType | LongType, i: IntegerColumnStatistics) =>
        Some((Some(i.getMinimum.toString), Some(i.getMaximum.toString)))
      case (FloatType | DoubleType, d: DoubleColumnStatistics) =>
        Some((Some(d.getMinimum.toString), Some(d.getMaximum.toString)))
      case (StringType, st: StringColumnStatistics) =>
        Some((Option(st.getMinimum), Option(st.getMaximum)))
      case (BooleanType, b: BooleanColumnStatistics) =>
        Some((
          Some((b.getFalseCount == 0).toString),
          Some((b.getTrueCount > 0).toString)))
      case (DateType, d: DateColumnStatistics) =>
        Some((Some(d.getMinimumDayOfEpoch.toString), Some(d.getMaximumDayOfEpoch.toString)))
      // Spark's ORC writer encodes TimestampNTZ as an epoch-micros
      // bigint (the catalyst type rides a footer attribute), so its
      // stats surface as integer stats — the long IS the canonical form
      case (TimestampNTZType, i: IntegerColumnStatistics) =>
        Some((Some(i.getMinimum.toString), Some(i.getMaximum.toString)))
      case (TimestampType | TimestampNTZType, t: TimestampColumnStatistics) =>
        def micros(ts: java.sql.Timestamp): String =
          (Math.multiplyExact(Math.floorDiv(ts.getTime, 1000L), 1000000L) +
            ts.getNanos / 1000L).toString
        Some((Option(t.getMinimumUTC).map(micros), Option(t.getMaximumUTC).map(micros)))
      case (_: DecimalType, d: DecimalColumnStatistics) =>
        Some((
          Option(d.getMinimum).map(_.bigDecimalValue.toPlainString),
          Option(d.getMaximum).map(_.bigDecimalValue.toPlainString)))
      case _ => None
    }
  }

  private def scalarWithStats(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | DateType | TimestampType | TimestampNTZType |
         _: DecimalType => true
    case _ => false
  }
}
