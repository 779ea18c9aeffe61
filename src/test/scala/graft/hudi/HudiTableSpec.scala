package graft.hudi

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class HudiTableSpec extends SparkTestBase {

  test("create + read returns identical rows") {
    val dir = tmpDir("hudi_create")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    HudiTable.create(spark, s"$dir/t", src)
    val back = HudiTable.forPath(spark, s"$dir/t").toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("append produces a new instant; time travel sees the old one") {
    val dir = tmpDir("hudi_tt")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    assert(t.instants.size == 2)
    val c0 = t.toDF(asOf = Some(t.instants.head))
    assert(c0.filter(col("o_orderkey") % 2 === 1).count() == 0)
    assert(t.toDF().count() == src.count())
  }

  test("overwrite is a replacecommit; old instant stays time-travelable") {
    val dir = tmpDir("hudi_ow")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src)
    t.overwrite(src.limit(2))
    val actions = t.timeline.completedInstants().map(_.action)
    assert(actions == Seq("commit", "replacecommit"))
    assert(t.toDF().count() == 2)
    assert(t.toDF(asOf = Some(t.instants.head)).count() == src.count())
  }

  test("changesAsDF returns only rows added in the instant range") {
    val dir = tmpDir("hudi_cdf")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    val is = t.instants
    val changes = t.changesAsDF(is(0), is(1))
    assert(changes.count() == src.filter(col("o_orderkey") % 2 === 1).count())
    assert(changes.filter(col("o_orderkey") % 2 === 0).count() == 0)
  }

  test("partition pruning reduces the file manifest and keeps rows exact") {
    val dir = tmpDir("hudi_prune")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src, Seq("l_returnflag"))
    val all = t.scan.files().size
    val pruned = t.scan.partitionIn("l_returnflag", Set("A")).files().size
    assert(pruned < all, s"expected pruning: $pruned < $all")
    val rows = t.scan.partitionIn("l_returnflag", Set("A")).toDF()
    assert(rows.count() == src.filter(col("l_returnflag") === "A").count())
    assert(rows.filter(col("l_returnflag") =!= "A").count() == 0)
  }

  test("convertFromParquet is metadata-only and row-identical") {
    val dir = tmpDir("hudi_convert")
    val t = HudiTable.convertFromParquet(spark, s"$sf0001/supplier.parquet", s"$dir/t")
    val src = spark.read.parquet(s"$sf0001/supplier.parquet")
    val back = t.toDF()
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // no parquet copied under the table root (timeline metadata only)
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(root).filterNot(_.getPath.getName.startsWith("."))
    assert(dataFiles.isEmpty)
  }

  test("base files follow the <fileId>_<token>_<instant>.parquet convention") {
    val dir = tmpDir("hudi_naming")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src)
    val files = t.fileSlices()
    assert(files.nonEmpty)
    files.foreach { s =>
      val name = s.basePath.split("/").last
      assert(name == s"${s.fileId}_0-0-0_${s.baseInstant}.parquet", name)
    }
  }

  test("commit is put-if-absent: same instant commits only once") {
    val dir = tmpDir("hudi_race")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src)
    val existing = t.timeline.completedInstants().head
    assert(!t.timeline.commit(existing,
      HudiCommitMetadata(Map.empty, Map.empty, Map.empty, "INSERT")))
  }

  test("instant time parse: second and millis granularity") {
    val ms = HudiTimeline.parseInstant("20240301123045123").toEpochMilli
    val sec = HudiTimeline.parseInstant("20240301123045").toEpochMilli
    assert(sec - ms == 876) // second granularity maps to .999
    assert(HudiTimeline.formatInstant(java.time.Instant.ofEpochMilli(ms)) == "20240301123045123")
  }

  test("rollback revokes the latest commit, deletes its files, records removals") {
    val dir = tmpDir("hudi_rb")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    val doomed = t.instants.last
    val doomedFiles = t.changeSet(doomed)._1.map(_.physicalPath)
    assert(doomedFiles.nonEmpty)
    val rb = t.rollback()
    // snapshot: back to evens only; rolled-back instant gone from the timeline
    assert(t.instants.size == 1)
    assert(t.toDF().filter(col("o_orderkey") % 2 === 1).count() == 0)
    assert(t.toDF().count() == src.filter(col("o_orderkey") % 2 === 0).count())
    // the deleted base files are physically gone
    val fs = new org.apache.hadoop.fs.Path(s"$dir/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomedFiles.foreach(p => assert(!fs.exists(new org.apache.hadoop.fs.Path(p)), p))
    // change feed: the rollback instant carries exactly those removals
    val (adds, removes) = t.changeSet(rb)
    assert(adds.isEmpty)
    assert(removes.map(HudiTable.normalize).toSet ==
      doomedFiles.map(HudiTable.normalize).toSet)
    assert(t.syncInstants.contains(rb))
  }

  test("restoreTo rolls back every later commit in one restore instant") {
    val dir = tmpDir("hudi_restore")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src.filter(col("o_orderstatus") === "O"))
    val keep = t.instants.head
    t.append(src.filter(col("o_orderstatus") === "F"))
    t.append(src.filter(col("o_orderstatus") === "P"))
    val expectRemoved =
      (t.changeSet(t.instants(1))._1 ++ t.changeSet(t.instants(2))._1).map(_.physicalPath)
    val restore = t.restoreTo(keep)
    assert(t.instants == Seq(keep))
    assert(t.toDF().count() == src.filter(col("o_orderstatus") === "O").count())
    val (adds, removes) = t.changeSet(restore)
    assert(adds.isEmpty)
    assert(removes.map(HudiTable.normalize).toSet ==
      expectRemoved.map(HudiTable.normalize).toSet)
  }

  test("timeline archival bounds active instants and keeps replay exact") {
    val dir = tmpDir("hudi_archive")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src.limit(1))
    (1 until 8).foreach(i => t.append(src.limit(1)))
    assert(t.instants.size == 8)
    val archived = t.timeline.archiveIfNeeded(maxActive = 5, minActive = 3)
    assert(archived == 5)
    assert(t.timeline.activeCompletedInstants().size == 3)
    // replay still sees all 8 commits (archived instants stay readable)
    assert(t.instants.size == 8)
    assert(t.toDF().count() == 8)
    // time travel into the archived range still works
    assert(t.toDF(asOf = Some(t.instants(1))).count() == 2)
  }

  test("restore across archived instants revokes them from the archived timeline too") {
    val dir = tmpDir("hudi_restore_arch")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src.limit(1))
    (1 until 8).foreach(_ => t.append(src.limit(1)))
    val keep = t.instants.head
    // archive most of the timeline, THEN restore to the first instant:
    // the doomed instants include archived ones, whose copies must be
    // revoked as well or replay would reference deleted files
    assert(t.timeline.archiveIfNeeded(maxActive = 5, minActive = 3) == 5)
    t.restoreTo(keep)
    assert(t.instants == Seq(keep))
    assert(t.toDF().count() == 1)
    // a fresh handle replays the same (no stale archived instants)
    val t2 = HudiTable.forPath(spark, s"$dir/t")
    assert(t2.instants == Seq(keep))
    assert(t2.toDF().count() == 1)
  }

  test("col_stats index: written per commit, prunes range scans, dies with a rollback") {
    val dir = tmpDir("hudi_colstats")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .repartitionByRange(8, col("l_orderkey"))
    val t = HudiTable.create(spark, s"$dir/t", src)
    // every commit instant has an index file
    assert(HudiColStats.coveredInstants(spark, s"$dir/t", t.instants) == t.instants)
    // range scan drops files the index proves out of range
    val all = t.scan.files().size
    val pruned = t.scan.range("l_orderkey", Some(1L), Some(100L)).files().size
    assert(pruned < all, s"expected skipping: $pruned < $all")
    val rows = t.scan.range("l_orderkey", Some(1L), Some(100L)).toDF()
      .filter(col("l_orderkey").between(1, 100))
    val expected = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .filter(col("l_orderkey").between(1, 100))
    assert(rows.count() == expected.count())
    // snapshot descriptors now carry bounds from the index (no footer job)
    val withStats = t.snapshotDataFiles()
    assert(withStats.forall(_.columnStats.nonEmpty))
    assert(withStats.flatMap(_.columnStats).exists(_.column == "l_orderkey"))
    // a rolled-back instant's index file is deleted with the instant
    val before = t.instants.last
    t.append(src.limit(10))
    val appended = t.instants.last
    t.rollback()
    assert(HudiColStats.coveredInstants(spark, s"$dir/t", Seq(appended)).isEmpty)
    assert(HudiColStats.coveredInstants(spark, s"$dir/t", Seq(before)) == Seq(before))
  }

  test("an index-less table's stats read makes two metadata calls, no probe before a listing") {
    val dir = tmpDir("hudi_colstats_calls")
    // a metadata-only source, as a sync reads it: synthetic commits with
    // neither a col_stats index nor a metadata table
    val local = HudiTable.forPath(spark, s"$dir/t")
    local.timeline.writeProperties(HudiTable.tableProperties(s"$dir/t", Seq("level"), Map.empty))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, level STRING")
    (0 until 3).foreach { c =>
      val instant = local.timeline.nextInstantTime()
      val meta = HudiCommitMetadata(
        Map("level=a" -> Seq(HudiWriteStat(fileId = s"f$c", path = s"level=a/f${c}_0-0-0_$instant.parquet",
          prevCommit = "null", numWrites = 10L, fileSizeInBytes = 1024L))),
        Map.empty, Map("schema" -> graft.schema.AvroSchemaConverters.toAvro(schema).toString),
        "BULK_INSERT")
      assert(local.timeline.commit(HudiInstant(instant, "commit"), meta))
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val t = HudiTable.forPath(spark, graft.util.CountedLocalFileSystem.path(hconf, s"$dir/t"))
    val instants = t.instants
    val (index, readCalls) =
      graft.util.CountedLocalFileSystem.readOps(HudiColStats.read(spark, t.tablePath, instants))
    assert(index.isEmpty)
    // one listing of the absent col_stats dir, one probe for the
    // metadata table's column_stats partition
    assert(readCalls == 2, s"stats read made $readCalls metadata calls")
    val (files, snapshotCalls) =
      graft.util.CountedLocalFileSystem.readOps(t.snapshotDataFiles())
    assert(files.size == 3 && files.forall(_.columnStats.isEmpty))
    // the timeline replay plus the two calls above: 18 on this source
    assert(snapshotCalls <= 18, s"snapshotDataFiles made $snapshotCalls metadata calls")
  }

  test("sync target inherits column stats through the col_stats index") {
    val dir = tmpDir("hudi_colstats_sync")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .repartitionByRange(4, col("o_orderkey"))
    val d = graft.delta.DeltaTable.create(spark, s"$dir/src_delta", src)
    import graft.sync.SyncEngine
    SyncEngine.sync(SyncEngine.deltaSource(d), SyncEngine.hudiTarget(spark, s"$dir/tgt_hudi"))
    val t = HudiTable.forPath(spark, s"$dir/tgt_hudi")
    // the delta source's stats landed in the target's index and prune scans
    val all = t.scan.files().size
    val pruned = t.scan.range("o_orderkey", Some(1L), Some(50L)).files().size
    assert(pruned < all, s"expected skipping on the sync target: $pruned < $all")
    val rows = t.scan.range("o_orderkey", Some(1L), Some(50L)).toDF()
      .filter(col("o_orderkey").between(1, 50))
    assert(rows.count() == src.filter(col("o_orderkey").between(1, 50)).count())
  }

  test("replay reads the active copy, not a garbage archived twin") {
    val dir = tmpDir("hudi_twin")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src)
    val inst = t.timeline.completedInstants().last
    // mid-archival both copies exist; reads resolve the active one, so a
    // 5 MB archived twin that is not even JSON must never be parsed
    val fs = t.timeline.hoodieDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(t.timeline.archivedDir)
    val out = fs.create(new org.apache.hadoop.fs.Path(t.timeline.archivedDir, inst.fileName))
    try out.write(Array.fill(5 << 20)('#'.toByte)) finally out.close()
    val fresh = HudiTable.forPath(spark, s"$dir/t")
    assert(fresh.instants == Seq(inst.time))
    assert(fresh.fileSlices().map(_.basePath) == t.fileSlices().map(_.basePath))
    assert(fresh.toDF().except(src).isEmpty && src.except(fresh.toDF()).isEmpty)
    val feed = fresh.changeFeed("0", inst.time)
    assert(feed.filter(col("_change_type") === "insert").count() == src.count())
    assert(feed.count() == src.count())
  }

  test("instantForTimestamp resolves to the latest instant at or before") {
    val dir = tmpDir("hudi_ts")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src)
    val i0 = t.instants.head
    t.append(src.limit(1))
    val ts0 = HudiTimeline.parseInstant(i0).toEpochMilli
    assert(t.instantForTimestamp(ts0) == i0)
    assert(t.instantForTimestamp(System.currentTimeMillis() + 10000) == t.instants.last)
  }

  test("savepoint blocks rollback/restore of guarded instants; deleteSavepoint re-enables") {
    val dir = tmpDir("hudi_sp")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val t = HudiTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    val i0 = t.latestInstant
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    val sp = t.savepoint(None) // guards the odd-keys commit
    assert(t.savepoints == Seq(sp -> t.latestInstant))
    val before = t.toDF().count()
    // the guarded instant refuses rollback; restore across it refuses too
    val e = intercept[IllegalArgumentException](t.rollback())
    assert(e.getMessage.contains("savepointed"))
    val e2 = intercept[IllegalArgumentException](t.restoreTo(i0))
    assert(e2.getMessage.contains("savepointed"))
    assert(t.toDF().count() == before, "refused maintenance must not touch data")
    // an unguarded later commit still rolls back fine
    t.append(src.limit(50).withColumn("o_orderkey", col("o_orderkey") + 7000000L))
    t.rollback()
    assert(t.toDF().count() == before)
    // dropping the savepoint re-enables rollback of the guarded instant
    t.deleteSavepoint(sp)
    t.rollback()
    assert(t.toDF().count() == src.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("archival never moves a savepoint or the history it guards off the active timeline") {
    val dir = tmpDir("hudi_sp_archive")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus")).limit(200)
    val t = HudiTable.create(spark, s"$dir/t", src.limit(20))
    val guardedInstant = t.latestInstant
    t.savepoint(None) // guards the very first commit
    (1 to 12).foreach(_ => t.append(src.limit(5)))
    val archived = t.timeline.archiveIfNeeded(maxActive = 6, minActive = 3)
    val active = t.timeline.activeCompletedInstants()
    // the savepoint AND its guarded instant stay active
    assert(active.exists(_.action == "savepoint"))
    assert(active.exists(i => i.time == guardedInstant))
    // nothing at-or-after the guarded instant was archived — here that
    // means nothing at all, savepointing the first commit
    assert(archived == 0)
    // reads still correct with the savepoint on the timeline
    assert(t.toDF().count() == 20 + 12 * 5)
  }
}
