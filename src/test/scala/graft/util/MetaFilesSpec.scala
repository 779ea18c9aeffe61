package graft.util

import java.io.{FileNotFoundException, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The one whole-file metadata reader, on Hadoop's local checksummed
  * filesystem (512-byte checksum chunks, a `.crc` beside every file). */
class MetaFilesSpec extends AnyFunSuite {

  private val fs: LocalFileSystem = FileSystem.getLocal(new Configuration())
  private val dir = Files.createTempDirectory("metafiles")

  /** Writes `bytes` through the checksummed filesystem (so it keeps a `.crc`). */
  private def written(name: String, bytes: Array[Byte]): Path = {
    val p = new Path(dir.resolve(name).toUri)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
    assert(fs.exists(fs.getChecksumFile(p)), s"$name has no checksum file")
    p
  }

  private def onDisk(p: Path): Array[Byte] = Files.readAllBytes(Paths.get(p.toUri))

  test("content is byte-identical to the file at chunk and buffer edges") {
    val rnd = new scala.util.Random(7)
    def ascii(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toByte)
    val euro = "€".getBytes(UTF_8) // three bytes
    val cases = Seq(
      "empty" -> Array.emptyByteArray,
      "one_byte" -> ascii(1),
      "one_chunk" -> ascii(512),
      "one_mb_plus_one" -> ascii(1024 * 1024 + 1),
      // the multibyte character occupies bytes 511..513: it straddles
      // the first checksum chunk boundary
      "straddle" -> (ascii(511) ++ euro ++ ascii(600)))
    for ((name, bytes) <- cases) {
      val p = written(name, bytes)
      val read = MetaFiles.readUtf8(fs, p).getBytes(UTF_8)
      assert(read.length == bytes.length, name)
      assert(java.util.Arrays.equals(read, onDisk(p)), name)
    }
    assert(MetaFiles.readUtf8(fs, written("euro", ascii(511) ++ euro)).endsWith("€"))
  }

  test("a flipped data byte under a kept .crc raises ChecksumException") {
    val p = written("flipped", Array.fill(2000)('x'.toByte))
    val raf = new RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
    try { raf.seek(700); raf.write('y') } finally raf.close()
    assert(fs.exists(fs.getChecksumFile(p)))
    intercept[ChecksumException](MetaFiles.readUtf8(fs, p))
  }

  test("a missing file raises FileNotFoundException") {
    intercept[FileNotFoundException](MetaFiles.readUtf8(fs, new Path(dir.resolve("absent").toUri)))
  }

  private def srcMain = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    root
  }

  /** Lines of `files` containing any of `tokens`, as `path:line: text`. */
  private def sourceHits(files: Seq[java.nio.file.Path], tokens: String*): Seq[String] =
    for {
      p <- files
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if tokens.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"

  test("no byte-at-a-time whole-file read in src/main") {
    val sources = Files.walk(srcMain).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = sourceHits(sources, "readFullyToByteArray")
    assert(hits.isEmpty, "read whole metadata files through MetaFiles.readUtf8:\n" +
      hits.mkString("\n"))
  }

  test("Hudi col_stats and Delta checkpoint reads run no Spark job in src/main") {
    def src(f: String) = srcMain.resolve(s"scala/graft/$f")
    val hits =
      sourceHits(Seq(src("hudi/HudiColStats.scala"), src("hudi/HudiMetadataTable.scala")),
        "spark.read", "createDataFrame", "readColumnStatsDF") ++
        sourceHits(Seq(src("delta/DeltaLog.scala")), "spark.read")
    assert(hits.isEmpty, "read and write these metadata files through MetaFiles:\n" +
      hits.mkString("\n"))
  }
}
