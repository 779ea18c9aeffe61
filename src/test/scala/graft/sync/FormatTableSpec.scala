package graft.sync

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

/** The format registry: every entry point resolves a format name through
  * [[FormatTable]], and nothing else in `src/main` dispatches on one. */
class FormatTableSpec extends SparkTestBase {

  test("an unknown format fails the same way at every entry point") {
    val dir = tmpDir("fmt_unknown")
    val bad = "parquet"
    val df = spark.range(3).toDF("id")
    implicit val sqlCtx: org.apache.spark.sql.classic.SQLContext =
      spark.asInstanceOf[ClassicSession].sqlContext
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    val entryPoints: Seq[(String, () => Any)] = Seq(
      "read" -> (() => spark.read.format("graft").option("format", bad).load(s"$dir/r")),
      "write" -> (() => df.write.format("graft").option("format", bad).save(s"$dir/w")),
      "readStream" -> (() =>
        spark.readStream.format("graft").option("format", bad).load(s"$dir/rs")),
      "writeStream" -> (() => MemoryStream[Long].toDF().writeStream.format("graft")
        .option("format", bad).option("checkpointLocation", s"$dir/ckpt").start(s"$dir/ws")),
      "sourceFor" -> (() => SyncEngine.sourceFor(spark, bad, s"$dir/s")),
      "targetFor" -> (() => SyncEngine.targetFor(spark, bad, s"$dir/t")))
    for ((entry, call) <- entryPoints) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("delta, hudi, iceberg"),
        s"$entry: ${e.getMessage}")
    }
  }

  test("format names resolve case-insensitively and detection follows the markers") {
    assert(FormatTable.all.map(_.marker) == Seq("_delta_log", ".hoodie", "metadata"))
    for (f <- FormatTable.all) assert(FormatTable(f.name.toUpperCase) eq f)
    val dir = tmpDir("fmt_detect")
    val df = spark.range(3).toDF("id")
    for (f <- FormatTable.all) {
      val path = s"$dir/${f.name}"
      f.open(spark, path).create(df, Seq.empty)
      assert(FormatTable.detect(spark, path) eq f)
      assert(FormatTable.all.filter(_.open(spark, path).exists) == Seq(f))
    }
  }

  test("no format-name dispatch outside the registry") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val registry = root.resolve("scala/graft/sync/FormatTable.scala")
    assert(Files.isRegularFile(registry))
    val name = "\"(?:delta|iceberg|hudi)\""
    val dispatch = (s"(?i)case\\s+$name|[=!]=\\s*$name|$name\\s*[=!]=" +
      s"|equals(?:IgnoreCase)?\\(\\s*$name").r
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != registry).toSeq
    val hits = for {
      p: Path <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if dispatch.findFirstIn(line).nonEmpty
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "format-name dispatch belongs in FormatTable:\n" + hits.mkString("\n"))
  }
}
