package graft.spark

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

/** `df.writeStream.format("graft")`: micro-batches land as exactly-once
  * table commits for all three formats. */
class GraftStreamSinkSpec extends SparkTestBase {

  private def session: ClassicSession = spark.asInstanceOf[ClassicSession]

  import org.apache.spark.sql.Encoder
  private implicit def longEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong

  private def drain(src: MemoryStream[Long], fmt: String, path: String, ckpt: String): Unit = {
    val q = src.toDF().select(col("value").as("id"))
      .writeStream.format("graft")
      .option("format", fmt)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(path)
    q.awaitTermination(120000)
  }

  test("stream sink lands batches as commits in every format") {
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      val dir = tmpDir(s"sink_$fmt")
      implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext = session.sqlContext
      val src = MemoryStream[Long]
      src.addData(1L, 2L, 3L)
      drain(src, fmt, s"$dir/t", s"$dir/ckpt")
      src.addData(4L, 5L)
      drain(src, fmt, s"$dir/t", s"$dir/ckpt")
      val back = spark.read.format("graft").load(s"$dir/t")
      assert(back.count() == 5, s"$fmt sink row count")
      assert(back.agg(sum(col("id"))).head.getLong(0) == 15L, s"$fmt sink content")
    }
  }

  for (fmt <- Seq("delta", "iceberg", "hudi"))
    test(s"$fmt: crash-replay window — replayed batch skipped, restart stays exactly-once") {
      val dir = tmpDir(s"sink_replay_$fmt")
      implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext = session.sqlContext
      val src = MemoryStream[Long]
      src.addData(10L, 20L)
      drain(src, fmt, s"$dir/t", s"$dir/ckpt")
      def count(): Long = spark.read.format("graft").load(s"$dir/t").count()
      def lastBatch: Option[String] = fmt match {
        case "delta" => DeltaTable.forPath(spark, s"$dir/t").lastCommitProp("graft.stream.batchId")
        case "iceberg" => IcebergTable.forPath(spark, s"$dir/t").tableProperty("graft.stream.batchId")
        case "hudi" => HudiTable.forPath(spark, s"$dir/t").lastCommitProp("graft.stream.batchId")
      }
      assert(count() == 2)
      // the kill-mid-batch window: data COMMITTED for a batch id, but the
      // checkpoint never advanced — on restart the runtime re-delivers the
      // same batch id, which must be a no-op
      val sink = new org.apache.spark.sql.graftshim.GraftStreamSink(
        spark, graft.sync.FormatTable(fmt), s"$dir/t", Seq.empty, org.apache.spark.sql.streaming.OutputMode.Append())
      val dup = spark.range(100, 102).select(col("id"))
      sink.addBatch(0L, dup)
      assert(count() == 2, s"$fmt: replayed batch 0 must be skipped")
      // a REAL restart through the same checkpoint continues cleanly
      src.addData(30L, 40L, 50L)
      drain(src, fmt, s"$dir/t", s"$dir/ckpt")
      assert(count() == 5, s"$fmt: restart drained exactly the new rows")
      // replay of the just-landed batch (crash between sink commit and
      // checkpoint advance) is a no-op; the NEXT id lands exactly once
      sink.addBatch(1L, dup)
      assert(count() == 5, s"$fmt: replayed batch 1 must be skipped")
      sink.addBatch(2L, dup)
      assert(count() == 7)
      assert(lastBatch.contains("2"), s"$fmt batch watermark: $lastBatch")
      val back = spark.read.format("graft").load(s"$dir/t")
      assert(back.groupBy(col("id")).count().filter(col("count") > 1).count() == 0,
        s"$fmt: duplicated ids after crash-replay + restart")
    }

  test("iceberg and hudi record the batch id in commit metadata") {
    val dir = tmpDir("sink_props")
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext = session.sqlContext
    val si = MemoryStream[Long]
    si.addData(1L)
    drain(si, "iceberg", s"$dir/ice", s"$dir/ckpt_i")
    assert(IcebergTable.forPath(spark, s"$dir/ice")
      .tableProperty("graft.stream.batchId").contains("0"))
    val sh = MemoryStream[Long]
    sh.addData(1L)
    drain(sh, "hudi", s"$dir/hudi", s"$dir/ckpt_h")
    assert(HudiTable.forPath(spark, s"$dir/hudi")
      .lastCommitProp("graft.stream.batchId").contains("0"))
  }
}
