package syncbench

import java.io.File
import java.time.Instant

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.hudi.{HudiCommitCodec, HudiCommitMetadata, HudiTable, HudiTimeline, HudiWriteStat}
import graft.sync.{SyncEngine, SyncSource, SyncTarget}

/**
 * Metadata-plane sync over a timeline longer than the program's commit
 * memo. A Hudi COW source is synthesized at metadata level: its commits
 * describe data files that never exist, so any per-file filesystem
 * access during a sync fails.
 *
 * One operation (a repetition) on a fresh copy of the source:
 *  1. full sync of `Commits - Backlog` commits into fresh Delta and
 *     Iceberg targets (timed);
 *  2. the `Backlog` remaining commits land on the source (untimed);
 *  3. incremental catch-up of both targets (timed).
 * Target file sets and sync modes are checked after each step. The
 * first repetition warms up and is checked but not measured.
 */
final class SyncWide(ctx: Ctx) {
  import SyncWide._

  private val spark = ctx.spark
  private val log = new OpLog
  private val commits = synthesize(ctx.seed, Commits, Partitions)

  private def paths(srcDir: String, upTo: Int): Set[String] =
    commits.take(upTo).flatMap(_._2.partitionToWriteStats.values.flatten)
      .map(st => norm(s"$srcDir/${st.path}")).toSet

  /** Fixture: the template source holding the first `Commits - Backlog`
    * commits. */
  private def buildTemplate(dir: String): Unit = {
    Fs.deleteRecursively(new File(dir))
    createSource(spark, dir)
    writeCommits(dir, commits, 0 until Commits - Backlog)
  }

  private def source(srcDir: String, traced: Boolean): SyncSource = {
    val s = SyncEngine.hudiSource(ctx.span("hudi.for_path")(HudiTable.forPath(spark, srcDir)))
    if (traced) new TracedSource(s, ctx.tracer) else s
  }

  private def target(fmt: String, path: String, traced: Boolean): SyncTarget = {
    val t = SyncEngine.targetFor(spark, fmt, path)
    if (traced) new TracedTarget(t, ctx.tracer) else t
  }

  private def metaDir(fmt: String, path: String): File =
    new File(path, if (fmt == "delta") "_delta_log" else "metadata")

  private val metaBytesPerFile = scala.collection.mutable.Map[String, Seq[Double]]()

  /** One timed sync call; checks mode, version count and the target
    * file set. Returns the result and its time. */
  private def syncCall(rep: Int, srcDir: String, fmt: String, tgtPath: String,
      mode: SyncEngine.Mode, expected: Set[String], expectedVersions: Int)
      : Option[(SyncEngine.SyncResult, Long)] = {
    val traced = ctx.tracer.isActive
    val wantMode = if (mode == SyncEngine.Full) "full" else "incremental"
    val before = Fs.bytesUnder(metaDir(fmt, tgtPath))
    val t0 = System.nanoTime()
    val res = log.attempt(s"$fmt.$wantMode") {
      ctx.span("sync")(SyncEngine.sync(source(srcDir, traced), target(fmt, tgtPath, traced), mode))
    }
    val ns = System.nanoTime() - t0
    res.map { r =>
      log.check(r.mode == wantMode, s"rep $rep $fmt: sync mode ${r.mode}, expected $wantMode")
      log.check(r.versionsSynced.size == expectedVersions,
        s"rep $rep $fmt: ${r.versionsSynced.size} versions synced, expected $expectedVersions")
      val live = SyncEngine.targetFor(spark, fmt, tgtPath).livePaths().map(norm)
      log.check(live == expected, s"rep $rep $fmt $wantMode: target holds ${live.size} files " +
        s"(${(expected -- live).size} missing, ${(live -- expected).size} extra), expected ${expected.size}")
      val added = Fs.bytesUnder(metaDir(fmt, tgtPath)) - before
      metaBytesPerFile(fmt) = metaBytesPerFile.getOrElse(fmt, Nil) :+ added.toDouble / r.filesAdded
      (r, ns)
    }
  }

  def run(): Outcome = {
    val builds = (0 until FixtureBuilds).map { i =>
      val t0 = System.nanoTime()
      buildTemplate(ctx.dir(s"template$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val template = ctx.dir(s"template${FixtureBuilds - 1}")
    val opMs, tracedMs = scala.collection.mutable.ArrayBuffer[Double]()
    var fullFiles, fullNs, incrCommits, incrNs = 0L
    val pending = scala.collection.mutable.ArrayBuffer[Int]()
    var deadline = Long.MaxValue
    // repetition 0 warms up (JIT, lazy initialization) and is checked
    // but not measured; the traced run then alternates traced and
    // untraced repetitions
    val minReps = if (ctx.traced) 3 else 2
    var rep = 0
    while (rep < minReps || System.nanoTime() < deadline) {
      val warm = rep == 0
      val tracedRep = ctx.traced && rep % 2 == 1
      ctx.tracer.activate(tracedRep)
      val repDir = ctx.dir(s"rep$rep")
      val src = s"$repDir/src"
      Fs.copyTree(new File(template).toPath, new File(src).toPath)
      val base = paths(src, Commits - Backlog)
      val all = paths(src, Commits)
      val calls = ctx.tracer.inOp(rep) {
        val full = Seq("delta", "iceberg").flatMap(fmt =>
          syncCall(rep, src, fmt, s"$repDir/$fmt", SyncEngine.Full, base, 1))
        writeCommits(src, commits, Commits - Backlog until Commits)
        val incr = Seq("delta", "iceberg").flatMap(fmt =>
          syncCall(rep, src, fmt, s"$repDir/$fmt", SyncEngine.Incremental, all, Backlog))
        (full, incr)
      }
      val (full, incr) = calls
      if (!warm && full.size + incr.size == 4) {
        (if (tracedRep) tracedMs else opMs) += (full ++ incr).map(_._2).sum / 1e6
        if (!tracedRep) {
          full.foreach { case (r, ns) => fullFiles += r.filesAdded; fullNs += ns }
          incr.foreach { case (r, ns) => incrCommits += r.versionsSynced.size; incrNs += ns }
        } else pending ++= incr.map(_._1.versionsSynced.size)
      }
      ctx.tracer.activate(false)
      Fs.deleteRecursively(new File(repDir))
      if (warm) deadline = System.nanoTime() + ctx.seconds * 1000000000L
      rep += 1
    }
    val files = fullFiles + incrCommits * Partitions
    val figures = Seq(
      Figure("full_sync_files_per_s", fullFiles / (fullNs / 1e9), "files/s"),
      Figure("incr_sync_commits_per_s", incrCommits / (incrNs / 1e9), "commits/s"),
      Figure("target_meta_bytes_per_file",
        metaBytesPerFile.values.map(v => Summary.median(v)).sum, "B/file",
        "Delta _delta_log plus Iceberg metadata/ bytes per synced file"))
    Outcome(log, builds, opMs.toSeq, tracedMs.toSeq,
      throughput = files / ((fullNs + incrNs) / 1e9), throughputUnit = "files/s", figures,
      layers = Map("sync.versions_pending" ->
        (if (pending.isEmpty) 0.0 else pending.sum.toDouble / pending.size)) ++
        metaBytesPerFile.map { case (f, v) => s"$f.meta_bytes_written" -> Summary.median(v) })
  }
}

object SyncWide {
  /** 262 completed instants, 260 of them at the full sync: both above
    * the 256-entry commit-metadata memo of `HudiTimeline`, so replay
    * cannot serve from it. The instant JSON (about 1.5 KB each, 0.4 MB
    * in all) stays under the 4 MB driver-replay fence of `HudiTable`. */
  val Commits = 262
  val Partitions = 4
  val Backlog = 2
  /** Fixture builds per run; `setup_s` takes their median. */
  val FixtureBuilds = 3

  def norm(p: String): String = new Path(p).toUri.getPath

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType), StructField("level", StringType)))

  /** A seeded commit sequence, one file per partition per commit: instant
    * time and commit metadata. */
  def synthesize(seed: Long, commits: Int, partitions: Int): IndexedSeq[(String, HudiCommitMetadata)] = {
    val schemaJson = graft.schema.AvroSchemaConverters.toAvro(schema).toString
    val rnd = new Random(seed)
    val base = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(86400L * (seed & 1023))
    (0 until commits).map { c =>
      val instant = HudiTimeline.formatInstant(base.plusSeconds(60L * c))
      val stats = (0 until partitions).map { p =>
        val pp = f"level=partition-$p%04d"
        val fileId = new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString + "-0"
        pp -> Seq(HudiWriteStat(
          fileId = fileId,
          path = s"$pp/${fileId}_0-$c-${p}_$instant.parquet",
          prevCommit = "null",
          numWrites = 1000L + rnd.nextInt(100000),
          fileSizeInBytes = (1L << 20) + rnd.nextInt(127 << 20)))
      }.toMap
      instant -> HudiCommitMetadata(stats, Map.empty, Map("schema" -> schemaJson), "BULK_INSERT")
    }
  }

  /** An empty COW table partitioned on `level`. */
  def createSource(spark: SparkSession, dir: String): Unit =
    HudiTable.forPath(spark, dir).timeline.writeProperties(Map(
      "hoodie.table.name" -> new File(dir).getName,
      "hoodie.table.type" -> "COPY_ON_WRITE",
      "hoodie.table.version" -> "6",
      "hoodie.timeline.layout.version" -> "1",
      "hoodie.table.base.file.format" -> "PARQUET",
      "hoodie.datasource.write.hive_style_partitioning" -> "true",
      "hoodie.table.keygenerator.class" -> "org.apache.hudi.keygen.SimpleKeyGenerator",
      "hoodie.table.partition.fields" -> "level"))

  /** Publish completed instants the way a Hudi writer leaves them on
    * disk: one `<instant>.commit` JSON file each under `.hoodie/`. */
  def writeCommits(dir: String, commits: IndexedSeq[(String, HudiCommitMetadata)], range: Range): Unit =
    range.foreach { c =>
      val (instant, meta) = commits(c)
      java.nio.file.Files.writeString(new File(dir, s".hoodie/$instant.commit").toPath,
        HudiCommitCodec.toJson(meta), java.nio.file.StandardOpenOption.CREATE_NEW)
    }
}
