package graft.sync

import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.hudi._
import graft.util.PhaseTimer

/**
 * The reference's only performance harness, reproduced shape-for-shape
 * (ref `core/src/test/java/io/onetable/loadtest/LoadTest.java:62-130`):
 * full sync of a Hudi source with 1,000 partitions × 100 files, and
 * incremental sync of 100 commits × 1,000 partitions (1 file each) —
 * Hudi → Delta + Iceberg, wall-clock printed.
 *
 * The source table is synthesized at the METADATA level: commit JSONs
 * carry write stats for fabricated paths and no data file ever exists,
 * which doubles as the planning guard — any per-file FS access
 * (footer read, stat call, listing) during sync would throw on the
 * nonexistent paths. Excluded from the default test run (scale
 * harness): set GRAFT_SCALE_TESTS=1 to run.
 */
class SyncLoadSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("level", StringType)))

  private def commitFiles(
      t: HudiTable, partitions: Range, filesPerPartition: Int, tag: String): String = {
    val instant = t.timeline.nextInstantTime()
    val stats = partitions.map { p =>
      val pp = s"level=partition$p"
      pp -> (0 until filesPerPartition).map { i =>
        HudiWriteStat(
          fileId = s"f-$tag-$p-$i",
          path = s"$pp/f-$tag-$p-${i}_0-0-0_$instant.parquet",
          prevCommit = "null", numWrites = 10L, fileSizeInBytes = 1024L)
      }
    }.toMap
    val meta = HudiCommitMetadata(stats, Map.empty,
      Map("schema" -> graft.schema.AvroSchemaConverters.toAvro(schema).toString),
      "BULK_INSERT")
    require(t.timeline.commit(HudiInstant(instant, "commit"), meta),
      s"lost commit race for synthetic instant $instant")
    instant
  }

  private def timed[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    info(f"$what took ${(System.nanoTime() - t0) / 1e3 / 1e3}%.0f ms")
    r
  }

  test("LoadTest shape: full sync of 1000 partitions x 100 files, no per-file FS access") {
    assume(sys.env.contains("GRAFT_SCALE_TESTS"),
      "scale harness — set GRAFT_SCALE_TESTS=1 to run")
    val dir = tmpDir("sync_load_full")
    val tp = s"$dir/src"
    val t = HudiTable.forPath(spark, tp)
    t.timeline.writeProperties(HudiTable.tableProperties(tp, Seq("level"), Map.empty))
    // the reference's insert loop: 100 commits each writing one file to
    // every one of 1,000 partitions → 100,000 files
    timed("building 100 synthetic commits x 1000 files") {
      (0 until 100).foreach(i => commitFiles(t, 0 until 1000, 1, s"c$i"))
    }
    val src = HudiTable.forPath(spark, tp)
    val r1 = timed("full sync -> delta (100k files)") {
      SyncEngine.sync(SyncEngine.hudiSource(src),
        SyncEngine.deltaTarget(spark, s"$dir/delta"), SyncEngine.Full)
    }
    val r2 = timed("full sync -> iceberg (100k files)") {
      SyncEngine.sync(SyncEngine.hudiSource(src),
        SyncEngine.icebergTarget(spark, s"$dir/iceberg"), SyncEngine.Full)
    }
    assert(r1.filesAdded == 100000 && r2.filesAdded == 100000)
    // the fabricated paths never existed: completing at all proves the
    // sync planned from commit metadata without touching data files
    assert(graft.delta.DeltaTable.forPath(spark, s"$dir/delta")
      .snapshotDataFiles().size == 100000)
  }

  test("LoadTest shape: incremental sync of 100 commits x 1000 partitions") {
    assume(sys.env.contains("GRAFT_SCALE_TESTS"),
      "scale harness — set GRAFT_SCALE_TESTS=1 to run")
    val dir = tmpDir("sync_load_incr")
    val tp = s"$dir/src"
    val t = HudiTable.forPath(spark, tp)
    t.timeline.writeProperties(HudiTable.tableProperties(tp, Seq("level"), Map.empty))
    commitFiles(t, 0 until 1, 1, "seed")
    // establish the watermark with one synced commit
    SyncEngine.sync(SyncEngine.hudiSource(HudiTable.forPath(spark, tp)),
      SyncEngine.deltaTarget(spark, s"$dir/delta"))
    SyncEngine.sync(SyncEngine.hudiSource(HudiTable.forPath(spark, tp)),
      SyncEngine.icebergTarget(spark, s"$dir/iceberg"))
    timed("building 100 synthetic commits x 1000 files") {
      (0 until 100).foreach(i => commitFiles(t, 0 until 1000, 1, s"i$i"))
    }
    val src = HudiTable.forPath(spark, tp)
    PhaseTimer.reset()
    val r1 = timed("incremental sync -> delta (100 commits, 100k adds)") {
      SyncEngine.sync(SyncEngine.hudiSource(src),
        SyncEngine.deltaTarget(spark, s"$dir/delta"))
    }
    val dPhases = PhaseTimer.millis
    info(dPhases.toSeq.sortBy(-_._2)
      .map { case (k, ms) => s"$k=${ms}ms" }.mkString("delta phases: ", " ", ""))
    PhaseTimer.reset()
    val r2 = timed("incremental sync -> iceberg (100 commits, 100k adds)") {
      SyncEngine.sync(SyncEngine.hudiSource(src),
        SyncEngine.icebergTarget(spark, s"$dir/iceberg"))
    }
    // per-phase attribution of the iceberg commit path (100 commits):
    // a future regression names the phase that moved instead of
    // re-measuring blind
    val phases = PhaseTimer.millis.filter(_._1.startsWith("iceberg:"))
    info(phases.toSeq.sortBy(-_._2)
      .map { case (k, ms) => s"$k=${ms}ms" }.mkString("iceberg phases: ", " ", ""))
    assert(r1.mode == "incremental" && r2.mode == "incremental")
    assert(r1.versionsSynced.size == 100 && r2.versionsSynced.size == 100)
    assert(r1.filesAdded == 100000 && r2.filesAdded == 100000)
  }
}
