package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{DataFrame => ClassicDF, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

import graft.sync.FormatTable

/**
 * V1 Structured Streaming sink: `df.writeStream.format("graft")` lands
 * each micro-batch as one table commit — Append mode appends, Complete
 * mode overwrites.
 *
 * Exactly-once: the micro-batch id is committed ATOMICALLY with the
 * data (Delta CommitInfo parameter / Iceberg table property / Hudi
 * commit extraMetadata — the same idiom as Delta's SetTransaction and
 * the reference's in-target sync watermark, ref
 * `api/.../OneTableMetadata.java:36-63`). On restart the runtime
 * replays the last possibly-uncommitted batch; a batch id at or below
 * the recorded one is skipped, so a crash between sink commit and
 * checkpoint advance cannot duplicate rows.
 */
final class GraftStreamSink(
    spark: SparkSession,
    fmt: FormatTable,
    path: String,
    partitionColumns: Seq[String],
    outputMode: OutputMode) extends Sink {

  private val BatchKey = "graft.stream.batchId"

  private def lastBatchId: Option[Long] = Some(fmt.open(spark, path))
    .filter(_.exists).flatMap(_.lastCommitProp(BatchKey)).map(_.toLong)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (lastBatchId.exists(batchId <= _)) return // replayed batch — already landed
    // the incoming DataFrame is the streaming incremental execution;
    // re-wrap its rows as a batch DataFrame before handing it to the
    // batch write path (the standard V1 Sink idiom)
    val session = spark.asInstanceOf[ClassicSession]
    val batchDf: ClassicDF = session.internalCreateDataFrame(
      data.asInstanceOf[ClassicDF].queryExecution.toRdd, data.schema, isStreaming = false)
    fmt.open(spark, path).write(batchDf, partitionColumns,
      overwrite = outputMode == OutputMode.Complete(), Map(BatchKey -> batchId.toString))
  }

  override def toString: String = s"GraftStreamSink[$fmt @ $path]"
}
