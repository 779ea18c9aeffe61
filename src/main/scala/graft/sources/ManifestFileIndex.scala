package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.graftshim.GraftRelations
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{ColumnStatRow, InternalDataFile}

/**
 * A [[FileIndex]] backed by table-format metadata (Delta log replay /
 * Iceberg manifests / Hudi timeline) instead of filesystem listing —
 * SURVEY.md §7 step 5, the design real lakehouse connectors use.
 *
 * Why it matters at 10^6 files: `spark.read.parquet(paths: _*)` funnels
 * every path through an InMemoryFileIndex that `getFileStatus`es each
 * one ON THE DRIVER — a metadata-store stampede. Here sizes and
 * partition values come from the log; Spark plans the scan without a
 * single filesystem call, and Catalyst's partition filters are
 * evaluated against the index's typed partition rows (so a filter on a
 * partition column prunes at PLAN time even when the caller didn't use
 * the scan builder). Catalyst's data filters skip files by their column
 * stats through [[StatsSkipping]]; `columnStats` is called only for a
 * scan that carries a data filter.
 */
final class ManifestFileIndex(
    spark: SparkSession,
    root: Path,
    files: Seq[InternalDataFile],
    override val partitionSchema: StructType,
    columnStats: InternalDataFile => Seq[ColumnStatRow]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  /** Typed partition row per file (hive string -> column type, UTC). */
  private lazy val typedFiles: Seq[(InternalRow, InternalDataFile)] = files.map { f =>
    val values = partitionSchema.fields.map { sf =>
      val raw = f.partitionValues.get(sf.name).orNull
      if (raw == null || raw == "__HIVE_DEFAULT_PARTITION__") null
      else Cast(Literal(UTF8String.fromString(raw), StringType), sf.dataType,
        Some("UTC")).eval(InternalRow.empty)
    }
    (InternalRow.fromSeq(values.toSeq), f)
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partitions =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) typedFiles
      else {
        // the standard PartitioningAwareFileIndex binding: rewrite
        // attribute refs to ordinals in the partition row, evaluate
        // interpreted per candidate partition
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(_.name == a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }
        val predicate = Predicate.createInterpreted(bound)
        typedFiles.filter { case (row, _) => predicate.eval(row) }
      }
    StatsSkipping.prune(partitions, dataFilters) { case (_, f) => columnStats(f) }
      .groupBy(_._1)
      .map { case (row, group) =>
        PartitionDirectory(row, group.map { case (_, f) =>
          new FileStatus(f.fileSizeBytes, false, 0, 0, f.lastModified, new Path(f.physicalPath))
        }.toArray)
      }
      .toSeq
  }

  override def inputFiles: Array[String] = files.map(_.physicalPath).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.fileSizeBytes).sum
}

object ManifestFileIndex {

  /** Reader schemas must be nullable: a required column missing from an
    * older data file (schema evolution) null-fills only when the read
    * schema allows null — `spark.read.schema()` forced this silently,
    * HadoopFsRelation takes the schema literally. */
  private def nullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType => a.copy(elementType = nullable(a.elementType))
      case m: org.apache.spark.sql.types.MapType => m.copy(valueType = nullable(m.valueType))
      case other => other
    }

  /** Plan a parquet scan over metadata-described files: the partition
    * columns' values come from the index, the rest from the files. */
  def read(
      spark: SparkSession,
      tableRoot: String,
      files: Seq[InternalDataFile],
      schemaIn: StructType,
      partitionColumns: Seq[String],
      format: String = "parquet",
      /** append `__graft_file`/`__graft_pos` (the scan's _metadata
        * file path + row index) — what row-level deletes key on. */
      withRowPositions: Boolean = false,
      /** canonical min/max of a file's columns, keyed by the names the
        * relation reads; consulted only under a data filter */
      columnStats: InternalDataFile => Seq[ColumnStatRow] = _.columnStats): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = nullable(schemaIn).asInstanceOf[StructType]
    val partitionSchema = StructType(schema.filter(f => partitionColumns.contains(f.name)))
    val dataSchema = StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
    val index = new ManifestFileIndex(spark, new Path(tableRoot), files, partitionSchema, columnStats)
    val rel = GraftRelations.relation(spark, index, partitionSchema, dataSchema, format)
    // present columns in table-schema order (partition cols are
    // appended after data cols by the relation)
    val cols = schema.fieldNames.map(col).toSeq
    if (withRowPositions)
      rel.select(cols ++ Seq(
        // decoded-path contract: `_metadata.file_path` is URL-encoded
        // (SparkPath), so hostile partition dirs like `part=x%3Dy`
        // surface as `part=x%253Dy`; every join partner (Delta
        // metadataFilePath, Hudi metaPathForm, Iceberg delete-seq
        // frames) carries the DECODED real path, so decode here at the
        // source — a codegen'd native expression, not a UDF
        org.apache.spark.sql.graftshim.GraftExpr.column(
          graft.functions.UnescapePath(
            org.apache.spark.sql.graftshim.GraftExpr.expression(
              col("_metadata.file_path")))).as("__graft_file"),
        col("_metadata.row_index").as("__graft_pos")): _*)
    else rel.select(cols: _*)
  }
}
