package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable
import graft.model.{ColumnStatRow, InternalDataFile}

/**
 * Metadata replay has one path per log shape, whatever the metadata
 * size: every format is built twice, identical except for padding that
 * puts one twin's metadata under 1 MB and the other's over 5 MB. Each
 * read call must launch the same number of Spark jobs on both twins and
 * return the file set the filesystem says it should.
 */
class MetadataReplaySizeSpec extends SparkTestBase {
  import MetadataReplaySizeSpec._

  private val SmallPad = 1 << 10
  private val BigPad = 6 << 20

  /** Random text: padding that neither JSON nor avro can shrink. */
  private def pad(chars: Int, seed: Int): String =
    new scala.util.Random(seed).alphanumeric.take(chars).mkString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every file under `dir`, recursively, as (path, length). */
  private def filesUnder(dir: String): Seq[(Path, Long)] = {
    val it = fs.listFiles(new Path(dir), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(s => (s.getPath, s.getLen)).toSeq
  }

  private def bytesUnder(dir: String): Long = filesUnder(dir).map(_._2).sum

  /** Data file names under a table, skipping its metadata directory. */
  private def dataFileNames(table: String, metaDir: String, p: String => Boolean): Set[String] =
    filesUnder(table).map(_._1).filterNot(_.toString.contains(s"/$metaDir/"))
      .map(_.getName).filter(n => !n.startsWith(".") || n.contains(".log.")).filter(p).toSet

  private def name(p: String): String = new Path(p).getName

  /** Spark jobs launched by `body`. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `calls` on both twins: equal job counts per call, and each
    * call's result passes its twin's check. */
  private def sameJobsAtBothSizes[W](small: W, big: W)(
      calls: (String, W => Unit)*): Unit = {
    val counts = calls.map { case (label, call) =>
      (label, jobsOf(call(small)), jobsOf(call(big)))
    }
    val diverged = counts.filter { case (_, s, b) => s != b }
    assert(diverged.isEmpty,
      "Spark jobs launched (label, small twin, big twin): " + diverged.mkString(", "))
  }

  private def base(from: Long, to: Long, v: String) =
    spark.range(from, to).select(col("id").as("k"), lit(v).as("s"))

  /** Synthetic data files whose string bounds carry `padChars` each. */
  private def synthetic(table: String, padChars: Int): Seq[InternalDataFile] =
    (0 until 40).map { i =>
      val bound = pad(padChars / 80, i)
      InternalDataFile(
        physicalPath = new Path(table, f"data/pad-$i%03d.parquet").toString,
        fileSizeBytes = 1000L, recordCount = 10L,
        columnStats = Seq(
          ColumnStatRow("k", Some(i.toString), Some(i.toString), 0L, 10L, 80L),
          ColumnStatRow("s", Some("a" + bound), Some("z" + bound), 0L, 10L, 80L)))
    }

  // ------------------------------------------------------------------ hudi

  /** MOR table: a base commit, an append whose extraMetadata carries the
    * padding, and an upsert that writes log files. */
  private def hudiTwin(padChars: Int): HudiTwin = {
    val path = s"${tmpDir("replay_hudi")}/t"
    val t = HudiTable.createMor(spark, path, base(0, 400, "v0").repartition(2), "k")
    val created = t.latestInstant
    val before = dataFileNames(path, ".hoodie", _.endsWith(".parquet"))
    val appended = t.append(base(400, 600, "v0"),
      commitProps = Map("replay.pad" -> pad(padChars, 7)))
    t.upsert(base(0, 50, "v1"))
    val bases = dataFileNames(path, ".hoodie", _.endsWith(".parquet"))
    val logs = dataFileNames(path, ".hoodie", _.contains(".log."))
    assert(logs.nonEmpty, "the upsert must write log files")
    HudiTwin(HudiTable.forPath(spark, path), created, appended, bases, bases -- before, logs)
  }

  test("hudi: timeline replay launches the same jobs under 1 MB and over 5 MB") {
    val small = hudiTwin(SmallPad)
    val big = hudiTwin(BigPad)
    assert(bytesUnder(s"${small.t.tablePath}/.hoodie") < (1L << 20))
    assert(bytesUnder(s"${big.t.tablePath}/.hoodie") > (5L << 20))
    sameJobsAtBothSizes(small, big)(
      "fileSlicesDF" -> { w =>
        val got = w.t.fileSlicesDF(None).select("path").collect().map(r => name(r.getString(0)))
        assert(got.toSet == w.bases && got.length == w.bases.size)
      },
      "fileSlices" -> { w =>
        val slices = w.t.fileSlices(None)
        assert(slices.map(s => name(s.basePath)).toSet == w.bases)
        assert(slices.flatMap(_.logs).map(l => name(l.path)).toSet == w.logs)
      },
      "changeFeed" -> { w =>
        // construction only: the metadata read happens here, the rows
        // are checked below outside the job count
        assert(w.t.changeFeed(w.created, w.t.latestInstant).columns.contains("_change_type"))
      },
      "changesAsDF" -> { w =>
        assert(w.t.changesAsDF(w.created, w.appended).inputFiles.map(name).toSet ==
          w.appendedBases)
      },
      "snapshotDataFiles" -> { w =>
        val files = w.t.snapshotDataFiles(readOptimized = true)
        assert(files.map(f => name(f.physicalPath)).toSet == w.bases)
        assert(files.map(_.recordCount).sum == 600L)
      })
    Seq(small, big).foreach { w =>
      val feed = w.t.changeFeed(w.created, w.t.latestInstant)
        .groupBy("_change_type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(feed == Map("insert" -> 200L, "upsert" -> 50L))
    }
  }

  // --------------------------------------------------------------- iceberg

  /** A written snapshot, then a metadata-only sync commit of synthetic
    * files whose column bounds carry the padding. */
  private def icebergTwin(padChars: Int): IcebergTwin = {
    val path = s"${tmpDir("replay_iceberg")}/t"
    val t = IcebergTable.create(spark, path, base(0, 400, "v0").repartition(2))
    val created = t.snapshotIds.last
    val real = dataFileNames(path, "metadata", _.endsWith(".parquet"))
    val adds = synthetic(path, padChars)
    val padded = t.syncCommit(t.sparkSchema, Seq.empty, path, adds, Seq.empty, Map.empty)
    IcebergTwin(IcebergTable.forPath(spark, path), created, padded, real,
      adds.map(f => name(f.physicalPath)).toSet)
  }

  test("iceberg: manifest reconcile launches the same jobs under 1 MB and over 5 MB") {
    val small = icebergTwin(SmallPad)
    val big = icebergTwin(BigPad)
    assert(bytesUnder(s"${small.t.tablePath}/metadata") < (1L << 20))
    assert(bytesUnder(s"${big.t.tablePath}/metadata") > (5L << 20))
    sameJobsAtBothSizes(small, big)(
      "snapshotDataFiles" -> { w =>
        assert(w.t.snapshotDataFiles().map(f => name(f.physicalPath)).toSet == w.real ++ w.pads)
      },
      "changeSet" -> { w =>
        val (adds, removed) = w.t.changeSet(w.padded)
        assert(adds.map(f => name(f.physicalPath)).toSet == w.pads && removed.isEmpty)
      },
      "changesAsDF" -> { w =>
        assert(w.t.changesAsDF(w.created, w.padded).inputFiles.map(name).toSet == w.pads)
      })
  }

  // ----------------------------------------------------------------- delta

  test("delta: JSON-only log replay launches the same jobs under 1 MB and over 5 MB") {
    def twin(padChars: Int): (DeltaTable, Set[String]) = {
      val path = s"${tmpDir("replay_delta")}/t"
      val t = DeltaTable.create(spark, path, base(0, 400, "v0").repartition(2))
      val real = dataFileNames(path, "_delta_log", _.endsWith(".parquet"))
      val adds = synthetic(path, padChars)
      t.syncCommit(t.schemaAt()._1, Seq.empty, path, adds, Seq.empty, Map.empty)
      (DeltaTable.forPath(spark, path), real ++ adds.map(f => name(f.physicalPath)))
    }
    val small = twin(SmallPad)
    val big = twin(BigPad)
    Seq(small, big).foreach { case (t, _) =>
      assert(t.log.lastCheckpoint().isEmpty, "the twins must stay JSON-only logs")
    }
    assert(bytesUnder(s"${small._1.tablePath}/_delta_log") < (1L << 20))
    assert(bytesUnder(s"${big._1.tablePath}/_delta_log") > (5L << 20))
    sameJobsAtBothSizes(small, big)(
      "snapshotDataFiles" -> { case (t, expected) =>
        assert(t.snapshotDataFiles().map(f => name(f.physicalPath)).toSet == expected)
      })
  }
}

object MetadataReplaySizeSpec {
  private final case class HudiTwin(
      t: HudiTable, created: String, appended: String,
      bases: Set[String], appendedBases: Set[String], logs: Set[String])

  private final case class IcebergTwin(
      t: IcebergTable, created: Long, padded: Long, real: Set[String], pads: Set[String])
}
