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

  test("live-file lists stay Seqs: no DataFrame twin, and DeltaLog frames only its checkpoint") {
    val sources = Files.walk(srcMain).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // the deleted names, assembled so a grep of the tree finds no use of them
    val twins = sourceHits(sources, Seq("snapshotFiles", "fileSlices").map(_ + "DF"): _*)
    assert(twins.isEmpty, "read live files through DeltaLog.snapshot(...).files or " +
      "HudiTable.fileSlices:\n" + twins.mkString("\n"))
    // the checkpoint writer's one frame is built in checkpointAddsDF
    val deltaLog = srcMain.resolve("scala/graft/delta/DeltaLog.scala")
    val lines = Files.readAllLines(deltaLog).asScala.toSeq
    val start = lines.indexWhere(_.contains("def checkpointAddsDF"))
    val end = lines.indexWhere(_.contains(" def "), start + 1)
    assert(start >= 0 && end > start, s"no checkpointAddsDF in $deltaLog")
    val frames = lines.zipWithIndex.collect {
      case (l, i) if l.contains("createDataFrame") && (i < start || i >= end) =>
        s"$deltaLog:${i + 1}: ${l.trim}"
    }
    assert(frames.isEmpty, "DeltaLog builds a DataFrame only for the checkpoint write:\n" +
      frames.mkString("\n"))
  }

  test("one Delta snapshot: no per-fact replays of the log in src/main") {
    val sources = Files.walk(srcMain).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // the deleted names, assembled so a grep of the tree finds no use of them
    val replays = sourceHits(sources, Seq("metadata", "protocol").map(_ + "At("): _*) ++
      sourceHits(sources.filter(_.toString.contains("/graft/delta/")), "def snapshot" + "Files")
    assert(replays.isEmpty, "resolve one DeltaLog.snapshot(asOf) and read its metadata, " +
      "protocol and files:\n" + replays.mkString("\n"))
  }

  test("createExclusive publishes a target once and leaves no file written aside") {
    val sub = Files.createDirectory(dir.resolve("exclusive"))
    val target = new Path(sub.resolve("v1.metadata.json").toUri)
    val conf = new Configuration()
    assert(MetaFiles.createExclusive(fs, conf, target, "first".getBytes(UTF_8)))
    assert(!MetaFiles.createExclusive(fs, conf, target, "second".getBytes(UTF_8)))
    assert(new String(onDisk(target), UTF_8) == "first")
    val left = Files.list(sub).iterator.asScala.map(_.getFileName.toString).toSeq
    assert(left == Seq("v1.metadata.json"), s"files left beside the target: $left")
  }

  test("commit logs publish only through MetaFiles.createExclusive in src/main") {
    val sources = Files.walk(srcMain).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("MetaFiles.scala")).toSeq
    val hits = sourceHits(sources, "AtomicPublish.putIfAbsent(")
    assert(hits.isEmpty, "publish a commit-log file through MetaFiles.createExclusive:\n" +
      hits.mkString("\n"))
  }

  test("a rewritten hoodie.properties is read whole by concurrent readers") {
    val table = dir.resolve("hudi_props").toUri.toString
    val timeline = new graft.hudi.HudiTimeline(table, new Configuration())
    // two maps of several checksum chunks each, so a torn read shows
    val maps = Seq("a", "b").map(tag =>
      (1 to 120).map(i => f"hoodie.key.$i%03d" -> s"$tag-value-$i").toMap)
    timeline.writeProperties(maps(0))
    @volatile var writing = true
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 3).map { _ =>
      val t = new Thread(() =>
        while (writing) {
          try {
            val read = timeline.readProperties()
            if (!maps.contains(read)) errors.add(s"a partial map of ${read.size} keys")
          } catch { case e: Exception => errors.add(e.toString) }
        })
      t.start()
      t
    }
    try (1 to 300).foreach(i => timeline.writeProperties(maps(i % 2)))
    finally { writing = false; readers.foreach(_.join()) }
    if (!errors.isEmpty)
      fail(s"${errors.size} torn reads, e.g. ${errors.asScala.take(3).mkString("; ")}")
    assert(timeline.readProperties() == maps(0))
  }
}
