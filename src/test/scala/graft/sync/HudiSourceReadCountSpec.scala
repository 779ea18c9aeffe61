package graft.sync

import java.io.File
import java.time.Instant

import graft.SparkTestBase
import graft.hudi.{HudiCommitCodec, HudiCommitMetadata, HudiTable, HudiTimeline, HudiWriteStat}

/** A Hudi sync source reads each completed instant file once per sync
  * attempt: a full sync opens about N instant files (the snapshot replay;
  * the statistics walk reads the attempt's parses), an incremental sync
  * of k commits about N + O(k) (one statistics walk, then a few reads per
  * replayed commit). The timeline is longer than the 256-entry commit
  * memo, so the memo cannot hide repeated walks. */
class HudiSourceReadCountSpec extends SparkTestBase {

  private val schemaJson = graft.schema.AvroSchemaConverters.toAvro(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType))))
    .toString

  private val base = Instant.parse("2024-03-01T00:00:00Z")

  /** Completed COW commits `from until to`, each adding one file to each
    * of two partitions; the data files themselves never exist (the sync
    * is metadata-only). */
  private def writeCommits(dir: String, from: Int, to: Int): Unit =
    (from until to).foreach { c =>
      val instant = HudiTimeline.formatInstant(base.plusSeconds(c.toLong))
      val stats = Seq("p=a", "p=b").map { pp =>
        val fileId = f"$c%08d-$pp-0".replace("=", "")
        pp -> Seq(HudiWriteStat(fileId, s"$pp/${fileId}_0-0-0_$instant.parquet", "null",
          numWrites = 10L + c, fileSizeInBytes = 1000L + c))
      }.toMap
      val meta = HudiCommitMetadata(stats, Map.empty, Map("schema" -> schemaJson), "INSERT")
      java.nio.file.Files.writeString(new File(dir, s".hoodie/$instant.commit").toPath,
        HudiCommitCodec.toJson(meta), java.nio.file.StandardOpenOption.CREATE_NEW)
    }

  private def createSource(path: String): Unit =
    HudiTable.forPath(spark, path).timeline.writeProperties(Map(
      "hoodie.table.name" -> "src",
      "hoodie.table.type" -> "COPY_ON_WRITE",
      "hoodie.datasource.write.hive_style_partitioning" -> "true",
      "hoodie.table.partition.fields" -> "p"))

  private def opened[A](f: => A): (A, Long) = {
    val n0 = HudiTimeline.instantFilesOpened.get()
    val a = f
    (a, HudiTimeline.instantFilesOpened.get() - n0)
  }

  test("a full sync opens at most N + 10 instant files, an incremental one N + 4k + 10") {
    val dir = tmpDir("hudi_read_count")
    val src = s"$dir/src"
    val n = 300
    val k = 5
    createSource(src)
    writeCommits(src, 0, n)
    def source = SyncEngine.hudiSource(HudiTable.forPath(spark, src))
    val target = SyncEngine.deltaTarget(spark, s"$dir/delta")

    val (full, fullReads) = opened(SyncEngine.sync(source, target, SyncEngine.Full))
    info(s"full sync of N = $n instants opened $fullReads instant files")
    assert(full.mode == "full" && full.filesAdded == 2 * n)
    assert(fullReads <= n + 10L, s"full sync opened $fullReads instant files for N = $n")

    writeCommits(src, n, n + k)
    val (incr, incrReads) = opened(SyncEngine.sync(source, target, SyncEngine.Incremental))
    info(s"incremental sync of k = $k commits opened $incrReads instant files")
    assert(incr.mode == "incremental" && incr.versionsSynced.size == k)
    assert(target.livePaths().size == 2 * (n + k))
    assert(incrReads <= (n + k) + 4L * k + 10,
      s"incremental sync of $k commits opened $incrReads instant files for N = ${n + k}")
  }

  test("a full sync makes at most N + 20 source-side metadata read ops") {
    val dir = tmpDir("hudi_read_ops")
    val n = 300
    createSource(s"$dir/src")
    writeCommits(s"$dir/src", 0, n)
    val src = graft.util.CountedLocalFileSystem.path(spark.sparkContext.hadoopConfiguration, s"$dir/src")
    val source = SyncEngine.hudiSource(HudiTable.forPath(spark, src))
    val target = SyncEngine.deltaTarget(spark, s"$dir/delta")
    val (full, ops) = graft.util.CountedLocalFileSystem.readOps(
      SyncEngine.sync(source, target, SyncEngine.Full))
    info(s"full sync of N = $n instants made $ops read ops on the source")
    assert(full.mode == "full" && full.filesAdded == 2 * n)
    assert(ops <= n + 20L, s"full sync made $ops source read ops for N = $n")
  }
}
