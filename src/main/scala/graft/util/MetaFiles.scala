package graft.util

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType

/**
 * Driver-side reads and writes of metadata files.
 *
 * Whole-file reads of small metadata files: Hudi instants and
 * `hoodie.properties`, Delta commits and `_last_checkpoint`, Iceberg
 * `metadata.json` and its version hint, stream-checkpoint state.
 * One `readAllBytes` pulls the file through the stream in buffer-sized
 * reads; Hadoop's `IOUtils` whole-file read takes a byte per call, each
 * through the checksum stream, and a sync reads hundreds of these
 * files. The read stays on the given `FileSystem` (never its raw one),
 * so a checksummed filesystem still verifies every chunk; a missing
 * file raises `FileNotFoundException` from `open`.
 *
 * The parquet codec: metadata kept as parquet (Delta checkpoints, the
 * Hudi col_stats index) is read and written in-process with
 * parquet-hadoop, never through a Spark job.
 */
object MetaFiles {

  def readUtf8(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Rows of parquet `files`, read on the driver, projected to `columns`
    * (a file lacking all of them is not scanned) and decoded as they are
    * read. `columns` maps a top-level column to the subfields decoded;
    * a flat primitive column is kept whole, whatever its set. */
  def parquetRows[A](conf: Configuration, files: Seq[Path], columns: Map[String, Set[String]])(
      decode: Group => IterableOnce[A]): Seq[A] = files.flatMap { file =>
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val kept = schema.getFields.asScala.toSeq.flatMap { f =>
        columns.get(f.getName).flatMap { subs =>
          if (f.isPrimitive) Some(f)
          else {
            val fields = f.asGroupType.getFields.asScala.filter(s => subs(s.getName))
            if (fields.isEmpty) None else Some(f.asGroupType.withNewFields(fields.asJava))
          }
        }
      }
      val out = Vector.newBuilder[A]
      if (kept.nonEmpty) {
        val projection = new MessageType(schema.getName, kept: _*)
        reader.setRequestedSchema(projection)
        val io = new ColumnIOFactory().getColumnIO(projection, schema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).foreach { pages =>
          val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
          var i = 0L
          while (i < pages.getRowCount) { out ++= decode(records.read()); i += 1 }
        }
      }
      out.result()
    } finally reader.close()
  }

  /** Writes `rows` as one parquet file at `target`: first to a
    * uuid-named hidden file in the target's directory, so writers racing
    * on one target never share a file, then renamed into place,
    * replacing any existing target. */
  def writeParquet(conf: Configuration, target: Path, schema: MessageType, rows: Iterable[Group]): Unit = {
    val fs = target.getFileSystem(conf)
    val tmp = new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf).withType(schema).build()
    try rows.foreach(writer.write) finally writer.close()
    fs.delete(target, false)
    require(fs.rename(tmp, target), s"failed to place $target")
  }
}
