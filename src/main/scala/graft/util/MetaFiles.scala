package graft.util

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}
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
 * In-place rewrites of a metadata file (`hoodie.properties`, Iceberg's
 * version hint, the Delta key-index config) go through [[replace]]. The
 * commit point of each commit log (a Delta JSON commit, an Iceberg
 * `vN.metadata.json`, a completed Hudi instant) goes through
 * [[createExclusive]].
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

  /** Replaces `target`'s content with `bytes` so a concurrent reader
    * sees the old file or the new one, never a torn one: the bytes are
    * written aside in the target's directory, then renamed over it. On a
    * checksummed filesystem the write and the rename go through its raw
    * filesystem with no `.crc` sidecar (a sidecar moves separately, so a
    * reader could pair old bytes with a new checksum), and the target's
    * old sidecar is deleted first. Where a plain rename does not replace
    * (HDFS), `FileContext` renames with OVERWRITE, which is atomic there. */
  def replace(fs: FileSystem, target: Path, bytes: Array[Byte]): Unit = {
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val tmp = new Path(target.getParent, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = raw.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs match {
      case c: ChecksumFileSystem => raw.delete(c.getChecksumFile(target), false)
      case _ => ()
    }
    if (!raw.rename(tmp, target))
      FileContext.getFileContext(raw.getUri, raw.getConf).rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** Creates `target` holding `bytes` unless it exists; false when it
    * does. The bytes are written aside in the target's directory, so a
    * crash mid-write never leaves a torn target, then published with
    * put-if-absent ([[AtomicPublish]]), so of two racing writers exactly
    * one wins. The publish consumes the file written aside whether it
    * wins or loses. */
  def createExclusive(fs: FileSystem, conf: Configuration, target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, s".tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    AtomicPublish.putIfAbsent(fs, conf, tmp, target)
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
