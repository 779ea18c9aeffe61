package graft.spark

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sync.FormatTable

/**
 * `spark.read.format("graft")` / `df.write.format("graft")` — the
 * engine's DataSource registration (SURVEY.md §4's optional
 * `TableProvider`; the V1 relation route is the one Delta Lake itself
 * uses, because a `HadoopFsRelation` plugs straight into
 * `FileSourceScanExec` with partition pruning, filter pushdown, and
 * column pruning intact).
 *
 * Read options:
 *  - `format`: delta | iceberg | hudi (default: detect from the table's
 *    marker directory, in [[graft.sync.FormatTable]] order)
 *  - `versionAsOf`: time travel — a Delta version, Iceberg snapshot id,
 *    or Hudi instant
 *  - `timestampAsOf`: time travel by wall clock (epoch millis or
 *    ISO date/datetime, UTC); resolves to the latest commit at-or-before
 *
 * Write options: `format` (required), `partitionBy` (comma list; Delta
 * generated-column / Iceberg transform specs accepted). SaveMode.Append
 * appends, Overwrite overwrites, ErrorIfExists creates.
 *
 * Column order note: like Delta's own relation, partition columns
 * surface after data columns (HadoopFsRelation contract), which may
 * differ from the table-schema order `GraftTable.toDF` presents.
 *
 * A read the relation cannot carry — row-level deletes, column mapping,
 * merged log files — is refused, naming the table API that reads it.
 */
final class GraftDataSource
    extends RelationProvider with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ------------------------------------------------------------ streaming
  // `spark.readStream.format("graft").load(path)` — the table's change
  // feed as micro-batches (snapshot first, then per-commit adds).

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (fmt, path) = tableOf(sqlContext.sparkSession, parameters, "stream", "load")
    // an explicit .schema(...) is the pin authority (the cross-JVM
    // restart escape hatch); otherwise prefer a schema already pinned
    // by a checkpointed stream over this table in this JVM, so a
    // restarted stream analyzes on its pinned start schema even after
    // the table evolved (GraftChangeSource doc)
    ("graft", schema.getOrElse(org.apache.spark.sql.graftshim.GraftChangeSource
      .analysisSchema(sqlContext.sparkSession, fmt, path)))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val (fmt, path) = tableOf(sqlContext.sparkSession, parameters, "stream", "load")
    val opts = caseInsensitive(parameters)
    def intOpt(k: String): Option[Int] = opts.get(k.toLowerCase).map { v =>
      val n = v.toInt
      require(n > 0, s"$k must be positive, got $v")
      n
    }
    new org.apache.spark.sql.graftshim.GraftChangeSource(
      sqlContext.sparkSession, fmt, path,
      metadataPath = Some(metadataPath),
      maxCommitsPerTrigger = intOpt("maxCommitsPerTrigger"),
      maxFilesPerTrigger = intOpt("maxFilesPerTrigger"),
      userSchema = schema)
  }

  // `df.writeStream.format("graft")` — each micro-batch lands as one
  // exactly-once table commit (GraftStreamSink).
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val (fmt, path) = tableOf(sqlContext.sparkSession, parameters, "stream sink", "start")
    val opts = caseInsensitive(parameters)
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else opts.get("partitionby").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new org.apache.spark.sql.graftshim.GraftStreamSink(
      sqlContext.sparkSession, fmt, path, partCols, outputMode)
  }

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val (fmt, path) = tableOf(spark, parameters, "source", "load")
    val opts = caseInsensitive(parameters)
    val asOf = opts.get("versionasof")
    val tsOf = opts.get("timestampasof").map(GraftDataSource.parseTimestampMillis)
    require(asOf.isEmpty || tsOf.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val df = fmt.open(spark, path).read(asOf, tsOf)
    GraftDataSource.fsRelationOf(df).getOrElse(throw new UnsupportedOperationException(
      s"the $fmt table at $path reads through more than a file scan (row-level deletes, " +
        "column mapping or merged logs), which this relation would drop; read it with " +
        s"${fmt.name.capitalize}Table.forPath(spark, \"$path\").toDF()"))
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val opts = caseInsensitive(parameters)
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException("graft sink needs a path: .save(<tablePath>)"))
    val fmt = FormatTable(opts.getOrElse("format",
      throw new IllegalArgumentException(
        s"graft sink needs .option(\"format\", ${FormatTable.all.mkString("|")})")))
    val partCols = opts.get("partitionby").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val df = data.toDF()
    val table = fmt.open(spark, path)
    (mode, table.exists) match {
      case (SaveMode.ErrorIfExists, true) =>
        throw new IllegalArgumentException(s"graft $fmt table already exists at $path")
      case (SaveMode.Ignore, true) => ()
      case (m, true) => table.write(df, partCols, overwrite = m == SaveMode.Overwrite)
      case (_, false) => table.create(df, partCols)
    }
    // Spark only re-caches through the returned relation and never reads
    // it, so it need not plan the table (which a read may refuse)
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
    }
  }

  /** The `path` option, and the explicit `format` option or else the
    * format the table's marker names. `what` and `call` word the error. */
  private def tableOf(spark: SparkSession, parameters: Map[String, String],
      what: String, call: String): (FormatTable, String) = {
    val opts = caseInsensitive(parameters)
    val path = opts.getOrElse("path",
      throw new IllegalArgumentException(s"graft $what needs a path: .$call(<tablePath>)"))
    (opts.get("format").map(FormatTable(_)).getOrElse(FormatTable.detect(spark, path)), path)
  }

  private def caseInsensitive(m: Map[String, String]): Map[String, String] =
    m.map { case (k, v) => k.toLowerCase -> v }
}

object GraftDataSource {

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd`, or
    * `yyyy-MM-dd HH:mm:ss[.S]` (UTC — the engine's session zone). */
  private[graft] def parseTimestampMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("-?\\d+")) t.toLong
    else if (t.length <= 10)
      java.time.LocalDate.parse(t).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    else
      java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }

  /** The file-scan relation of a planned table read, if the plan is
    * that relation under column selections only (bare-attribute
    * `Project`s). Any other operator — a deletion anti-join, a renaming
    * cast, a union — changes the rows or names the relation alone would
    * give, so such plans yield None. */
  private[graft] def fsRelationOf(df: DataFrame): Option[HadoopFsRelation] = {
    def scanOf(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) => scanOf(child)
      case l: LogicalRelation => Some(l.relation).collect { case r: HadoopFsRelation => r }
      case _ => None
    }
    scanOf(df.queryExecution.analyzed)
  }
}
