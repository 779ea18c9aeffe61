package graft.iceberg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.sync.SyncEngine
import graft.util.CountedLocalFileSystem

/** One Iceberg operation resolves `metadata.json` once: each read opens
  * the version hint at most once and one `vN.metadata.json` at most once,
  * a sync attempt reads its Iceberg source's metadata once and the
  * current manifest list (behind the snapshot files and the live spec)
  * once, and a sync round reads its Iceberg target's metadata once to
  * plan plus once per commit. Measured on tables of nine snapshots read
  * through the `counted` scheme. Read plans are built, not executed. */
class IcebergReadOpsSpec extends SparkTestBase {

  private def rows(i: Int): DataFrame =
    spark.range(i * 10L, i * 10L + 10).withColumn("k", col("id") % 3)

  private def counted(local: String): String =
    CountedLocalFileSystem.path(spark.sparkContext.hadoopConfiguration, local)

  /** Snapshots 0..8, ten rows each, written through the counted scheme
    * (manifest lists are opened by the paths the metadata records).
    * Returns the counted path and the snapshot ids in commit order. */
  private def nineSnapshots(prefix: String): (String, Seq[Long]) = {
    val path = counted(s"${tmpDir(prefix)}/t")
    val t = IcebergTable.create(spark, path, rows(0))
    (1 to 8).foreach(i => t.append(rows(i)))
    (path, t.snapshotIds)
  }

  /** Opens under `table`'s `metadata/` directory, by file name. */
  private def metadataOpens(table: String, calls: Seq[(String, String)]): Seq[String] = {
    val dir = s"${new Path(table).toUri.getPath}/metadata/"
    calls.collect { case ("open", p) if p.startsWith(dir) => p.stripPrefix(dir) }
  }
  private def isMetadataJson(name: String) = name.matches("v\\d+\\.metadata\\.json")
  private def isManifestList(name: String) = name.startsWith("snap-") && name.endsWith(".avro")

  test("iceberg read ops open the version hint and metadata.json at most once") {
    val (path, ids) = nineSnapshots("iceberg_read_ops")
    def t = IcebergTable.forPath(spark, path)
    val ops: Seq[(String, () => Any)] = Seq(
      "toDF()" -> (() => t.toDF()),
      "toDF(Some(id3))" -> (() => t.toDF(Some(ids(3)))),
      "scan.range(...).toDF()" -> (() => t.scan.range("id", Some(20), Some(45)).toDF()),
      "format(\"graft\") plan" -> (() =>
        spark.read.format("graft").load(path).filter(col("id") > 30).queryExecution.analyzed),
      "snapshotDataFiles()" -> (() => t.snapshotDataFiles()),
      "changesAsDF(5, 8)" -> (() => t.changesAsDF(ids(5), ids(8))),
      "changeFeed(5, 8)" -> (() => t.changeFeed(ids(5), ids(8))),
      "detail()" -> (() => t.detail()))
    val broken = ops.flatMap { case (name, op) =>
      val (_, calls) = CountedLocalFileSystem.calls(op())
      val opens = metadataOpens(path, calls)
      val json = opens.count(isMetadataJson)
      val hint = opens.count(_ == "version-hint.text")
      info(s"$name: metadata.json opened $json time(s), version-hint.text $hint")
      Seq(
        (json > 1) -> s"opened metadata.json $json times",
        (hint > 1) -> s"opened version-hint.text $hint times"
      ).collect { case (true, why) => s"$name $why" }
    }
    assert(broken.isEmpty, broken.mkString("\n"))
    assert(t.toDF().count() == 90 && t.toDF(Some(ids(3))).count() == 40)
    assert(t.changesAsDF(ids(5), ids(8)).count() == 30)
  }

  /** A nine-snapshot Iceberg source under the counted scheme and a
    * local Delta target. The sourceId carries the scheme, so a
    * watermark-seeding sync reads through the counted path too. */
  private def icebergToDelta(prefix: String) = {
    val (path, _) = nineSnapshots(prefix)
    val t = IcebergTable.forPath(spark, path)
    val target = SyncEngine.deltaTarget(spark, s"${tmpDir(prefix)}/delta")
    (path, t, SyncEngine.icebergSource(t), target)
  }

  test("a full sync from iceberg opens metadata.json and the current manifest list once") {
    val (path, t, source, target) = icebergToDelta("iceberg_full_sync_ops")
    val (full, calls) = CountedLocalFileSystem.calls(SyncEngine.sync(source, target, SyncEngine.Full))
    val opens = metadataOpens(path, calls)
    info(s"full sync: metadata.json opened ${opens.count(isMetadataJson)} time(s), " +
      s"manifest lists ${opens.count(isManifestList)}")
    assert(full.mode == "full" && full.filesAdded == t.snapshotDataFiles().size)
    assert(opens.count(isMetadataJson) <= 1, opens)
    assert(opens.count(isManifestList) <= 1, opens)
  }

  test("an incremental sync of k iceberg commits opens metadata.json once and at most " +
      "k + 1 manifest lists") {
    val (path, t, source, target) = icebergToDelta("iceberg_incr_sync_ops")
    SyncEngine.sync(source, target, SyncEngine.Full)
    val k = 3
    (9 until 9 + k).foreach(i => t.append(rows(i)))
    val (incr, calls) =
      CountedLocalFileSystem.calls(SyncEngine.sync(source, target, SyncEngine.Incremental))
    val opens = metadataOpens(path, calls)
    info(s"incremental sync of k = $k: metadata.json opened ${opens.count(isMetadataJson)} " +
      s"time(s), manifest lists ${opens.count(isManifestList)}")
    assert(incr.mode == "incremental" && incr.versionsSynced.size == k)
    assert(target.livePaths().size == t.snapshotDataFiles().size)
    assert(opens.count(isMetadataJson) <= 1, opens)
    assert(opens.count(isManifestList) <= k + 1, opens)
  }

  test("an iceberg sync target reads metadata.json once to plan and once per commit") {
    val dir = tmpDir("iceberg_target_ops")
    val src = DeltaTable.create(spark, s"$dir/delta", rows(0))
    (1 to 8).foreach(i => src.append(rows(i), Seq.empty))
    def source = SyncEngine.deltaSource(DeltaTable.forPath(spark, s"$dir/delta"))
    val path = counted(s"$dir/iceberg")
    val target = SyncEngine.icebergTarget(spark, path)
    assert(SyncEngine.sync(source, target, SyncEngine.Full).filesAdded == src.snapshotDataFiles().size)

    val k = 3
    (9 until 9 + k).foreach(i => src.append(rows(i), Seq.empty))
    val (incr, calls) =
      CountedLocalFileSystem.calls(SyncEngine.sync(source, target, SyncEngine.Incremental))
    val json = metadataOpens(path, calls).count(isMetadataJson)
    info(s"incremental sync of k = $k into iceberg: metadata.json opened $json time(s)")
    assert(incr.mode == "incremental" && incr.versionsSynced.size == k)
    assert(json <= 1 + k, s"the target's metadata.json was opened $json times for k = $k")
    assert(IcebergTable.forPath(spark, path).toDF().count() == 10L * (9 + k))
  }
}
