package graft.sources

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.model.ColumnStatRow
import graft.schema.AvroSchemaConverters
import graft.stats.FileFooterStats

import scala.jdk.CollectionConverters._

/**
 * Avro container-file support for the data plane (ref
 * `api/.../model/storage/FileFormat.java:26-30` APACHE_AVRO): listing,
 * a distributed writer, and footer-equivalent statistics. Avro files
 * carry no parquet-style footer stats, so stats come from ONE Spark
 * aggregation job over the files (the reference's fallback spirit when
 * an index is absent, ref `HudiFileStatsExtractor.java:105-122`) —
 * min/max/nullCount/valueCount per scalar column, canonicalized to the
 * same string forms the parquet footer collector emits.
 */
object AvroDataFiles {

  /** The .avro file list of a directory-or-file dataset. */
  def listAvroFiles(spark: SparkSession, location: String): Seq[String] = {
    val p = new Path(location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".avro")) Seq(st.getPath.toString)
        else Seq.empty
      }
    val st = fs.getFileStatus(p)
    if (st.isDirectory) walk(p) else Seq(fs.makeQualified(p).toString)
  }

  /** Spark schema of an avro dataset (from the first file's header). */
  def readSchema(spark: SparkSession, location: String): StructType = {
    val first = listAvroFiles(spark, location).headOption.getOrElse(
      throw new IllegalArgumentException(s"no .avro files under $location"))
    AvroSchemaConverters.fromAvro(org.apache.spark.sql.graftshim.GraftAvroFileFormat
      .fileSchema(spark.sparkContext.hadoopConfiguration, new Path(first)))
  }

  /**
   * Distributed avro write: one container file per partition, encoded
   * from Catalyst rows on the executors (micros/epoch-day/unscaled
   * values map 1:1 onto the avro logical types the schema converter
   * emits). Returns the written file paths.
   */
  def write(df: DataFrame, destDir: String): Seq[String] = {
    val spark = df.sparkSession
    val schema = df.schema
    val avroJson = AvroSchemaConverters.toAvro(schema).toString
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val dest = new Path(destDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new Path(destDir)).toString
    val rdd = df.queryExecution.toRdd
    rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val avroSchema = new org.apache.avro.Schema.Parser().parse(avroJson)
        val path = new Path(dest, f"part-$idx%05d.avro")
        val fs = path.getFileSystem(conf.value)
        val out = fs.create(path, true)
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](avroSchema))
        writer.create(avroSchema, out)
        try rows.foreach(r => writer.append(encodeRecord(r, schema, avroSchema)))
        finally writer.close()
        Iterator.single(path.toString)
      }
    }.collect().toSeq.sorted
  }

  /** Catalyst row → avro GenericRecord (executor-side). */
  private def encodeRecord(
      row: InternalRow, st: StructType, avro: org.apache.avro.Schema): GenericRecord = {
    val rec = new GenericData.Record(avro)
    var i = 0
    while (i < st.fields.length) {
      val f = st.fields(i)
      val avroField = avro.getFields.get(i)
      rec.put(avroField.pos(),
        if (row.isNullAt(i)) null else encodeValue(row, i, f.dataType, avroField.schema()))
      i += 1
    }
    rec
  }

  private def nonNullBranch(s: org.apache.avro.Schema): org.apache.avro.Schema =
    if (s.getType == org.apache.avro.Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != org.apache.avro.Schema.Type.NULL).get
    else s

  private def encodeValue(
      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      ordinal: Int,
      dt: DataType,
      avroIn: org.apache.avro.Schema): AnyRef = {
    val avro = nonNullBranch(avroIn)
    dt match {
      case StringType => g.getUTF8String(ordinal).toString
      case IntegerType | DateType => Int.box(g.getInt(ordinal))
      case LongType | TimestampType | TimestampNTZType => Long.box(g.getLong(ordinal))
      case FloatType => Float.box(g.getFloat(ordinal))
      case DoubleType => Double.box(g.getDouble(ordinal))
      case BooleanType => Boolean.box(g.getBoolean(ordinal))
      case ShortType => Int.box(g.getShort(ordinal).toInt)
      case ByteType => Int.box(g.getByte(ordinal).toInt)
      case BinaryType => java.nio.ByteBuffer.wrap(g.getBinary(ordinal))
      case d: DecimalType =>
        java.nio.ByteBuffer.wrap(
          g.getDecimal(ordinal, d.precision, d.scale).toJavaBigDecimal.unscaledValue.toByteArray)
      case st: StructType =>
        encodeRecord(g.getStruct(ordinal, st.fields.length), st, avro)
      case at: ArrayType =>
        val arr: ArrayData = g.getArray(ordinal)
        val out = new java.util.ArrayList[AnyRef](arr.numElements())
        var i = 0
        while (i < arr.numElements()) {
          out.add(if (arr.isNullAt(i)) null
                  else encodeValue(arr, i, at.elementType, avro.getElementType))
          i += 1
        }
        out
      case mt: MapType =>
        val m: MapData = g.getMap(ordinal)
        val keys = m.keyArray()
        val values = m.valueArray()
        val out = new java.util.HashMap[String, AnyRef](m.numElements())
        var i = 0
        while (i < m.numElements()) {
          out.put(keys.getUTF8String(i).toString,
            if (values.isNullAt(i)) null
            else encodeValue(values, i, mt.valueType, avro.getValueType))
          i += 1
        }
        out
      case other => throw new IllegalArgumentException(s"unsupported avro write type: $other")
    }
  }

  /**
   * Footer-equivalent per-file stats via one Spark agg job: read the
   * files through the avro relation, group by `input_file_name`, and
   * aggregate min/max/valueCount/nullCount per scalar column. Canonical
   * string forms match [[graft.stats.ParquetFooterStats]] (dates as
   * epoch-days, timestamps as epoch-micros, decimals plain).
   */
  def collectStats(
      spark: SparkSession, paths: Seq[String], schema: StructType): Seq[FileFooterStats] = {
    if (paths.isEmpty) return Seq.empty
    val fs = new Path(paths.head).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = paths.map(p => p -> fs.getFileStatus(new Path(p)).getLen).toMap
    val files = paths.map(p => graft.model.InternalDataFile(p, fileSizeBytes = sizes(p)))
    val scalars = schema.fields.filter(f => isScalar(f.dataType))
    val df = ManifestFileIndex.read(
      spark, new Path(paths.head).getParent.toString, files, schema, Seq.empty, format = "avro")
    val aggs = count(lit(1)).as("_rows") +:
      scalars.flatMap(f => Seq(
        min(col(f.name)).as(s"${f.name}__min"),
        max(col(f.name)).as(s"${f.name}__max"),
        count(col(f.name)).as(s"${f.name}__nonnull")))
    val rows = df.groupBy(input_file_name().as("_path")).agg(aggs.head, aggs.tail.toSeq: _*)
      .collect()
    rows.toSeq.map { r =>
      // input_file_name() is URL-encoded; downstream manifests must
      // carry the RAW on-disk path or escapable dirs break the scan
      val path = graft.util.PathCodec.decodeFileUri(r.getString(r.fieldIndex("_path")))
      val rowCount = r.getLong(r.fieldIndex("_rows"))
      val cols = scalars.toSeq.map { f =>
        val minV = Option(r.get(r.fieldIndex(s"${f.name}__min"))).map(canonical(f.dataType, _))
        val maxV = Option(r.get(r.fieldIndex(s"${f.name}__max"))).map(canonical(f.dataType, _))
        val nonNull = r.getLong(r.fieldIndex(s"${f.name}__nonnull"))
        ColumnStatRow(
          column = f.name,
          minValue = minV,
          maxValue = maxV,
          numNulls = rowCount - nonNull,
          numValues = rowCount,
          totalSize = 0L)
      }
      // path is decoded above; tolerate scheme differences only
      val size = sizes.getOrElse(path,
        sizes.collectFirst { case (k, v) if new Path(k).toUri.getPath ==
          new Path(path).toUri.getPath => v }.getOrElse(0L))
      FileFooterStats(path, size, rowCount, 0L, cols)
    }
  }

  private def isScalar(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType | BinaryType | NullType => false
    case _ => true
  }

  /** Canonical stat string (same forms as ParquetFooterStats.canonical). */
  private def canonical(dt: DataType, v: Any): String = dt match {
    case DateType => v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
      case d: java.time.LocalDate => d.toEpochDay.toString
      case other => other.toString
    }
    case TimestampType => v match {
      case t: java.sql.Timestamp =>
        (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
      case t: java.time.Instant =>
        (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
      case other => other.toString
    }
    case TimestampNTZType => v match {
      case t: java.time.LocalDateTime =>
        (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
      case other => other.toString
    }
    case _: DecimalType => v match {
      case d: java.math.BigDecimal => d.toPlainString
      case d: BigDecimal => d.underlying.toPlainString
      case other => other.toString
    }
    case _ => v.toString
  }
}
