package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.delta.DeltaTable
import graft.hudi.{HudiColStats, HudiTable}
import graft.iceberg.IcebergTable
import graft.model.{ColumnStatRow, InternalDataFile}

/**
 * Metadata replay has one path per log shape, whatever the metadata
 * size: every format is built twice, identical except for padding that
 * puts one twin's metadata under 1 MB and the other's over 5 MB. Each
 * read call must launch the same number of Spark jobs on both twins and
 * return the file set the filesystem says it should. Delta's metadata
 * reads launch none at any log shape (JSON-only, classic, multi-part
 * and V2 checkpoints), nor do the live-file summaries built on them
 * (`snapshotFileCount`, `detail`, `planningFacts`), Hudi's `detail`, or
 * Hudi's col_stats reads and writes.
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
    * call's result passes its twin's check. Returns the counts as
    * (label, small twin, big twin). */
  private def sameJobsAtBothSizes[W](small: W, big: W)(
      calls: (String, W => Unit)*): Seq[(String, Int, Int)] = {
    val counts = calls.map { case (label, call) =>
      (label, jobsOf(call(small)), jobsOf(call(big)))
    }
    val diverged = counts.filter { case (_, s, b) => s != b }
    assert(diverged.isEmpty,
      "Spark jobs launched (label, small twin, big twin): " + diverged.mkString(", "))
    counts
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
    val counts = sameJobsAtBothSizes(small, big)(
      "fileSlices base paths" -> { w =>
        val got = w.t.fileSlices(None).map(s => name(s.basePath))
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
      },
      "detail" -> { w =>
        val d = w.t.detail().head
        assert(d.getLong(5) == w.bases.size && d.getLong(6) > 0L)
      })
    // the col_stats index is read on the driver, like the timeline, and
    // detail() sums the replayed slices there too
    Seq("snapshotDataFiles", "detail").foreach { label =>
      assert(counts.filter(_._1 == label) == Seq((label, 0, 0)))
    }
    Seq(small, big).foreach { w =>
      val feed = w.t.changeFeed(w.created, w.t.latestInstant)
        .groupBy("_change_type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(feed == Map("insert" -> 200L, "upsert" -> 50L))
    }
  }

  test("hudi: col_stats reads and writes launch no Spark job, from sidecars or the metadata table") {
    val path = s"${tmpDir("replay_hudi_stats")}/t"
    val t = HudiTable.create(spark, path, base(0, 400, "v0").repartitionByRange(4, col("k")))
    t.append(base(400, 600, "v0").repartitionByRange(2, col("k")))
    def statsByName = t.snapshotDataFiles().map(f => name(f.physicalPath) -> f.columnStats.toSet).toMap
    def index = HudiColStats.read(spark, path, t.instants).view.mapValues(_.toSet).toMap
    val (sidecarStats, sidecarIndex) = (statsByName, index)
    assert(sidecarStats.size >= 4 && sidecarStats.values.forall(_.exists(_.column == "k")))
    val sidecars = fs.listStatus(HudiColStats.dir(path)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(sidecars.length == 2)
    sidecars.foreach(fs.delete(_, false))
    // the metadata table's column_stats partition answers alike, on the driver
    var fallbackStats = Map.empty[String, Set[ColumnStatRow]]
    var fallbackIndex = Map.empty[(String, String), Set[ColumnStatRow]]
    assert(jobsOf { fallbackStats = statsByName; fallbackIndex = index } == 0)
    assert(fallbackStats == sidecarStats)
    assert(fallbackIndex == sidecarIndex)
    // a filtered read's planned scan lists its files, skipping by the
    // fallback's stats, without a job
    val filtered = spark.read.format("graft").load(path).filter(col("k") < 50)
    var scans = Seq.empty[FileSourceScanExec]
    assert(jobsOf {
      scans = filtered.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      scans.foreach(_.inputRDDs())
    } == 0)
    assert(scans.map(_.metrics("numFiles").value) == Seq(1L))
    assert(filtered.count() == 50L)
    // a stats-bearing sync commit writes its index file on the driver
    val target = HudiTable.forPath(spark, s"${tmpDir("replay_hudi_sync")}/t")
    val adds = synthetic(target.tablePath, SmallPad)
    val syncJobs = jobsOf(target.syncCommit(t.schemaAt(None), Seq.empty, target.tablePath,
      adds, Seq.empty, Map.empty))
    assert(syncJobs == 0, s"a Hudi sync commit launched $syncJobs Spark jobs")
    assert(HudiColStats.read(spark, target.tablePath, target.instants).size == adds.size)
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

  /** A written snapshot (v0), a metadata-only sync commit of synthetic
    * files whose stats carry the padding, the log shape `layout` makes
    * (a checkpoint, then expiry of the JSON it covers), and an append
    * after it. Metadata reads are checked at `base`, the version before
    * the append: for a checkpointed twin, the checkpoint's. */
  private def deltaTwin(padChars: Int, layout: DeltaLayout): DeltaTwin = {
    val path = s"${tmpDir("replay_delta")}/t"
    val t = DeltaTable.create(spark, path, base(0, 400, "v0").repartition(2))
    val created = t.latestVersion
    val adds = synthetic(path, padChars)
    t.syncCommit(t.schemaAt()._1, Seq.empty, path, adds, Seq.empty, Map.empty)
    layout.checkpoint(t)
    t.log.lastCheckpoint().foreach(t.log.expireLogBefore)
    val baseVersion = t.latestVersion
    val before = dataFileNames(path, "_delta_log", _.endsWith(".parquet"))
    t.append(base(400, 450, "v1"), Seq.empty)
    val real = dataFileNames(path, "_delta_log", _.endsWith(".parquet"))
    val pads = adds.map(f => name(f.physicalPath)).toSet
    // the change range: every commit the log still holds after v0
    val changesFrom = t.log.lastCheckpoint().getOrElse(created)
    DeltaTwin(DeltaTable.forPath(spark, path), baseVersion, changesFrom, real ++ pads,
      if (changesFrom == created) pads ++ (real -- before) else real -- before)
  }

  private def deltaReplayCase(layout: DeltaLayout): Unit = {
    val small = deltaTwin(SmallPad, layout)
    val big = deltaTwin(BigPad, layout)
    Seq(small, big).foreach { w =>
      assert(w.t.log.lastCheckpoint().isDefined == (layout != JsonOnly),
        s"${layout.label} twins must ${if (layout == JsonOnly) "stay JSON-only" else "checkpoint"}")
    }
    // the padded metadata lives where replay must read it: the commit
    // JSON of a JSON-only log, the checkpoint parquet of the others
    def metaBytes(w: DeltaTwin): Long =
      filesUnder(s"${w.t.tablePath}/_delta_log").filter { case (p, _) =>
        (layout == JsonOnly) != (p.getName.contains(".checkpoint.") ||
          p.getParent.getName == "_sidecars")
      }.map(_._2).sum
    assert(metaBytes(small) < (1L << 20))
    assert(metaBytes(big) > (5L << 20))
    val counts = sameJobsAtBothSizes(small, big)(
      "snapshotDataFiles" -> { w =>
        assert(w.t.snapshotDataFiles().map(f => name(f.physicalPath)).toSet == w.files)
      },
      "snapshot metadata" -> { w =>
        val meta = w.t.log.snapshot(Some(w.base)).metadata
        assert(meta.schemaString.contains("\"k\"") && meta.partitionColumns.isEmpty)
      },
      "snapshot protocol" -> { w =>
        assert(w.t.log.snapshot(Some(w.base)).protocol.readerFeatures.exists(_.contains("v2Checkpoint")) ==
          (layout == V2))
      },
      "changesAsDF" -> { w =>
        assert(w.t.changesAsDF(w.changesFrom, w.t.latestVersion).inputFiles.map(name).toSet ==
          w.changed)
      },
      "snapshotFileCount" -> { w =>
        assert(w.t.snapshotFileCount() == w.files.size)
      },
      "detail" -> { w =>
        val d = w.t.detail().head
        assert(d.getLong(5) == w.files.size && d.getLong(6) > 0L)
      },
      "planningFacts" -> { w =>
        // 400 written rows, 40 synthetic files of 10, 50 appended
        assert(w.t.planningFacts().map(_._1).contains(850.0))
      })
    val launched = counts.filter { case (_, s, b) => s + b > 0 }
    assert(launched.isEmpty,
      s"${layout.label}: Delta metadata reads launched Spark jobs (label, small, big): " +
        launched.mkString(", "))
  }

  test("delta: JSON-only log replay launches the same jobs under 1 MB and over 5 MB") {
    deltaReplayCase(JsonOnly)
  }

  Seq(Classic, MultiPart, V2).foreach { layout =>
    test(s"delta: ${layout.label} checkpoint replay launches no Spark job under 1 MB and over 5 MB") {
      deltaReplayCase(layout)
    }
  }
}

object MetadataReplaySizeSpec {
  private final case class HudiTwin(
      t: HudiTable, created: String, appended: String,
      bases: Set[String], appendedBases: Set[String], logs: Set[String])

  private final case class IcebergTwin(
      t: IcebergTable, created: Long, padded: Long, real: Set[String], pads: Set[String])

  /** `base`: the version metadata reads are checked at; `files`: the live
    * set; `changed`: the files added in (`changesFrom`, latest]. */
  private final case class DeltaTwin(
      t: DeltaTable, base: Long, changesFrom: Long, files: Set[String], changed: Set[String])

  /** A Delta log shape and how to make it. */
  private sealed abstract class DeltaLayout(val label: String, val checkpoint: DeltaTable => Unit)
  private case object JsonOnly extends DeltaLayout("JSON-only", _ => ())
  private case object Classic extends DeltaLayout("classic", _.checkpoint())
  private case object MultiPart extends DeltaLayout("multi-part", _.checkpoint(parts = 3))
  private case object V2 extends DeltaLayout("V2", _.checkpointV2(sidecarParts = 2))
}
