package graft.sync

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

class SyncEngineSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))

  private def checksum(df: org.apache.spark.sql.DataFrame): Long =
    df.select(sum(hash(df.columns.map(col): _*)).cast("long")).collect()(0).getLong(0)

  test("full Delta -> Iceberg sync produces a row-identical table with a watermark") {
    val dir = tmpDir("sync_d2i")
    val src = DeltaTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 2 === 0))
    val res = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(res.mode == "full" && res.filesAdded > 0)
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt.toDF().count() == src.toDF().count())
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
    assert(tgt.currentMetadata.properties(SyncEngine.VersionProp) == "0")
  }

  test("a partitionSpec override keeps the source's physical names and per-version schema") {
    val dir = tmpDir("sync_override_cm")
    val src = DeltaTable.create(spark, s"$dir/src", orders, Seq("o_orderstatus"))
    src.enableColumnMapping()
    src.renameColumn("o_totalprice", "price")
    val base = SyncEngine.sourceFor(spark, "delta", s"$dir/src")
    val wrapped = SyncEngine.sourceFor(spark, "delta", s"$dir/src", Some(Seq("o_orderstatus")))
    assert(wrapped.physicalNames.nonEmpty && wrapped.physicalNames == base.physicalNames)
    assert(wrapped.schemaAtVersion("0").fieldNames.contains("o_totalprice"))
    assert(wrapped.schema.fieldNames.contains("price"))
    // Delta and Hudi targets cannot carry the physical-name mapping
    for (fmt <- Seq("delta", "hudi")) {
      val e = intercept[IllegalArgumentException](
        SyncEngine.sync(wrapped, SyncEngine.targetFor(spark, fmt, s"$dir/$fmt")))
      assert(e.getMessage.contains("cannot sync a column-mapped"), s"$fmt: ${e.getMessage}")
    }
  }

  test("incremental re-sync after append replays only the pending commit") {
    val dir = tmpDir("sync_d2i_inc")
    val src = DeltaTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 2 === 0))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    src.append(orders.filter(col("o_orderkey") % 2 === 1), Seq.empty)
    val res = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(res.mode == "incremental" && res.versionsSynced == Seq("1"))
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt.toDF().count() == orders.count())
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
    // one target snapshot per source commit
    assert(tgt.snapshotIds.size == 2)
  }

  test("incremental sync replays removes: overwrite on source drops rows on target") {
    val dir = tmpDir("sync_d2i_ow")
    val src = DeltaTable.create(spark, s"$dir/src", orders)
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    src.overwrite(orders.filter(col("o_orderkey") % 2 === 0), Seq.empty)
    val res = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(res.mode == "incremental" && res.filesRemoved > 0)
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
  }

  test("schema drop + re-add replays deletes-first: target retires the field id") {
    val dir = tmpDir("sync_schema_drop")
    import org.apache.spark.sql.types._
    val src = DeltaTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 3 === 0))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val tgt0 = IcebergTable.forPath(spark, s"$dir/tgt")
    val priceId0 = graft.iceberg.IcebergSchemas.fieldId(
      tgt0.currentMetadata.schema("o_totalprice")).get
    // source: drop the column, overwrite with narrower files, re-add, append
    val narrow = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType)))
    src.replaceSchema(narrow)
    src.overwrite(orders.filter(col("o_orderkey") % 3 === 1)
      .drop("o_totalprice"), Seq.empty)
    src.replaceSchema(StructType(narrow.fields :+ StructField("o_totalprice", DoubleType)))
    src.append(orders.filter(col("o_orderkey") % 3 === 2)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), Seq.empty)
    val res = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(res.mode == "incremental")
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    // deletes-first: the re-added column is a NEW Iceberg column
    val priceId1 = graft.iceberg.IcebergSchemas.fieldId(
      tgt.currentMetadata.schema("o_totalprice")).get
    assert(priceId1 != priceId0, "re-added column kept its retired field id")
    // rows written while the column was dropped read back NULL
    val out = tgt.toDF()
    assert(out.filter(col("o_orderkey") % 3 === 1 && col("o_totalprice").isNotNull).count() == 0)
    assert(out.filter(col("o_orderkey") % 3 === 2 && col("o_totalprice").isNull).count() == 0)
    assert(out.count() == orders.filter(col("o_orderkey") % 3 =!= 0).count())
  }

  test("full Iceberg -> Delta sync round-trips stats so skipping still works") {
    val dir = tmpDir("sync_i2d")
    val src = IcebergTable.create(spark, s"$dir/src",
      orders.repartitionByRange(4, col("o_orderkey")))
    val res = SyncEngine.sync(
      SyncEngine.icebergSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    assert(res.mode == "full")
    val tgt = DeltaTable.forPath(spark, s"$dir/tgt")
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
    // translated stats (not recomputed) must still prune files
    val all = tgt.scan.files().size
    val pruned = tgt.scan.range("o_orderkey", Some(1L), Some(8L)).files().size
    assert(pruned < all)
  }

  test("partitioned Delta -> Iceberg sync keeps partition pruning") {
    val dir = tmpDir("sync_part")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val src = DeltaTable.create(spark, s"$dir/src", li, Seq("l_returnflag"))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt.currentMetadata.partitionSpec.map(_.name) == Seq("l_returnflag"))
    val pruned = tgt.scan.partitionIn("l_returnflag", Set("A")).toDF()
    assert(pruned.count() == li.filter(col("l_returnflag") === "A").count())
    assert(tgt.scan.partitionIn("l_returnflag", Set("A")).files().size <
      tgt.scan.files().size)
  }

  test("Hudi -> Delta sync and incremental replay") {
    val dir = tmpDir("sync_h2d")
    val src = HudiTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 2 === 0))
    val r1 = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    assert(r1.mode == "full")
    src.append(orders.filter(col("o_orderkey") % 2 === 1))
    val r2 = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    assert(r2.mode == "incremental" && r2.versionsSynced.size == 1)
    val tgt = DeltaTable.forPath(spark, s"$dir/tgt")
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
  }

  test("Delta -> Hudi sync targets a readable Hudi table with watermark in commit meta") {
    val dir = tmpDir("sync_d2h")
    val src = DeltaTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 2 === 0))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/tgt"))
    src.append(orders.filter(col("o_orderkey") % 2 === 1), Seq.empty)
    val r2 = SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/tgt"))
    assert(r2.mode == "incremental")
    val tgt = HudiTable.forPath(spark, s"$dir/tgt")
    assert(tgt.latestCommitExtraMetadata(SyncEngine.VersionProp) == "1")
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
  }

  test("a Hudi commit completing late (below the watermark) replays via the inflight backlog") {
    import org.apache.hadoop.fs.Path
    import graft.hudi.{HudiCommitMetadata, HudiInstant, HudiWriteStat}
    val dir = tmpDir("sync_late")
    val part1 = orders.filter(col("o_orderkey") % 3 === 0)
    val late  = orders.filter(col("o_orderkey") % 3 === 1)
    val part3 = orders.filter(col("o_orderkey") % 3 === 2)
    val src = HudiTable.create(spark, s"$dir/src", part1)
    // a writer STARTS instant B (markers on the timeline, no completion)
    val lateTime = src.timeline.nextInstantTime()
    val hoodie = new Path(s"$dir/src/.hoodie")
    val fs = hoodie.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(hoodie, s"$lateTime.commit.requested"), true).close()
    fs.create(new Path(hoodie, s"$lateTime.inflight"), true).close()
    Thread.sleep(5)
    // instant C completes normally; sync sees B in flight, watermark = C
    src.append(part3)
    val r1 = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(r1.mode == "full")
    val tgt0 = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt0.currentMetadata.properties(SyncEngine.InflightProp) == lateTime)
    // B completes LATE: its file lands with an instant time BELOW the watermark
    late.coalesce(1).write.parquet(s"$dir/stage")
    val part = fs.listStatus(new Path(s"$dir/stage")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dest = new Path(s"$dir/src", s"${java.util.UUID.randomUUID()}_0-0-0_$lateTime.parquet")
    require(fs.rename(part, dest))
    val meta = HudiCommitMetadata(
      partitionToWriteStats = Map("" -> Seq(HudiWriteStat(
        dest.getName.stripSuffix(".parquet"), dest.getName, "null",
        late.count(), fs.getFileStatus(dest).getLen))),
      partitionToReplaceFileIds = Map.empty,
      extraMetadata = Map(
        "schema" -> graft.schema.AvroSchemaConverters.toAvro(late.schema).toString),
      operationType = "INSERT")
    assert(src.timeline.commit(HudiInstant(lateTime, "commit"), meta))
    // next incremental sync replays the late B even though B < watermark
    val r2 = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(r2.mode == "incremental" && r2.versionsSynced == Seq(lateTime))
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
    assert(tgt.toDF().count() == orders.count())
    // watermark did not regress, and the inflight list is drained
    assert(tgt.currentMetadata.properties(SyncEngine.VersionProp) == src.latestInstant)
    assert(tgt.currentMetadata.properties(SyncEngine.InflightProp).isEmpty)
  }

  test("time-partitioned Delta -> Hudi sync lays out month dirs and prunes") {
    val dir = tmpDir("sync_tp_hudi")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val src = DeltaTable.create(spark, s"$dir/src", o, Seq("month(o_orderdate)"))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/tgt"))
    val tgt = HudiTable.forPath(spark, s"$dir/tgt")
    assert(tgt.partitionColumns == Seq("o_orderdate_month"))
    // the materialized month column is part of the Hudi schema and
    // reads back from the partition path
    assert(tgt.schemaAt(None).fieldNames.contains("o_orderdate_month"))
    assert(checksum(tgt.toDF().drop("o_orderdate_month")) == checksum(o))
    assert(tgt.toDF()
      .filter(col("o_orderdate_month") =!= date_format(col("o_orderdate"), "yyyy-MM"))
      .count() == 0)
    val month = o.filter(date_format(col("o_orderdate"), "yyyy-MM") === "1996-03")
    val pruned = tgt.scan.partitionIn("o_orderdate_month", Set("1996-03")).toDF()
    assert(pruned.count() == month.count())
    assert(tgt.scan.partitionIn("o_orderdate_month", Set("1996-03")).files().size <
      tgt.scan.files().size)
  }

  test("snapshot expiry trips the retention fence: next sync is full, not a broken replay") {
    val dir = tmpDir("sync_expire")
    val src = IcebergTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 2 === 0))
    SyncEngine.sync(SyncEngine.icebergSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    val wmSnapshot = src.snapshotIds.last
    src.append(orders.filter(col("o_orderkey") % 2 === 1))
    // expire everything but the current snapshot — the watermarked
    // snapshot is no longer listable
    assert(src.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    assert(!src.snapshotIds.contains(wmSnapshot))
    intercept[Exception] { src.toDF(snapshotAsOf = Some(wmSnapshot)).count() }
    val res = SyncEngine.sync(
      SyncEngine.icebergSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    assert(res.mode == "full")
    assert(checksum(DeltaTable.forPath(spark, s"$dir/tgt").toDF()) == checksum(src.toDF()))
  }

  test("record-key fields translate Hudi -> Delta -> Iceberg across sync hops") {
    val dir = tmpDir("sync_keys")
    val src = HudiTable.create(spark, s"$dir/src", orders)
    // declare a record key in the native Hudi convention
    src.timeline.writeProperties(
      src.properties + ("hoodie.table.recordkey.fields" -> "o_orderkey"))
    SyncEngine.sync(SyncEngine.hudiSource(src), SyncEngine.deltaTarget(spark, s"$dir/d"))
    val d = DeltaTable.forPath(spark, s"$dir/d")
    assert(d.log.snapshot().metadata.configuration(SyncEngine.RecordKeyProp) == "o_orderkey")
    // second hop: Delta -> Iceberg keeps the key; Iceberg -> Hudi would
    // restore the native convention (covered by HudiTarget creation)
    SyncEngine.sync(SyncEngine.deltaSource(d), SyncEngine.icebergTarget(spark, s"$dir/i"))
    val i = IcebergTable.forPath(spark, s"$dir/i")
    assert(i.currentMetadata.properties(SyncEngine.RecordKeyProp) == "o_orderkey")
    // ...and the metadata.json carries them as spec identifier-field-ids
    val keyId = graft.iceberg.IcebergSchemas.fieldId(
      i.currentMetadata.schema.fields.find(_.name == "o_orderkey").get).get
    val metaJson = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/i/metadata")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val latest = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.matches("v\\d+\\.metadata\\.json")).max
      val in = fs.open(new org.apache.hadoop.fs.Path(p, latest))
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    assert(("\"identifier-field-ids\"\\s*:\\s*\\[\\s*" + keyId + "\\s*\\]").r
      .findFirstIn(metaJson).isDefined, metaJson.take(400))
    SyncEngine.sync(SyncEngine.icebergSource(i), SyncEngine.hudiTarget(spark, s"$dir/h"))
    assert(HudiTable.forPath(spark, s"$dir/h")
      .properties("hoodie.table.recordkey.fields") == "o_orderkey")
  }

  test("a source rollback replays incrementally: the target drops the rolled-back rows") {
    val dir = tmpDir("sync_rollback")
    val src = HudiTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 2 === 0))
    SyncEngine.sync(SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    src.append(orders.filter(col("o_orderkey") % 2 === 1))
    SyncEngine.sync(SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(IcebergTable.forPath(spark, s"$dir/tgt").toDF().count() == orders.count())
    // the watermarked commit is revoked; the change feed must carry the
    // removals INCREMENTALLY (time-based watermark, not a full resync)
    val rb = src.rollback()
    val res = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(res.mode == "incremental" && res.versionsSynced == Seq(rb)
      && res.filesRemoved > 0, res.toString)
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt.toDF().filter(col("o_orderkey") % 2 === 1).count() == 0)
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
    // watermark advanced past the rollback; a further no-op sync stays quiet
    assert(tgt.currentMetadata.properties(SyncEngine.VersionProp) == rb)
    val again = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(again.versionsSynced.isEmpty)
  }

  test("a restore replays incrementally as removals of every rolled-back commit") {
    val dir = tmpDir("sync_restore")
    val src = HudiTable.create(spark, s"$dir/src", orders.filter(col("o_orderstatus") === "O"))
    val keep = src.instants.head
    src.append(orders.filter(col("o_orderstatus") === "F"))
    src.append(orders.filter(col("o_orderstatus") === "P"))
    SyncEngine.sync(SyncEngine.hudiSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    src.restoreTo(keep)
    val res = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    assert(res.mode == "incremental" && res.filesRemoved > 0, res.toString)
    val tgt = DeltaTable.forPath(spark, s"$dir/tgt")
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
    assert(tgt.toDF().count() == orders.filter(col("o_orderstatus") === "O").count())
  }

  test("Hudi sync target emits a synthetic clean for removals and archives its timeline") {
    val dir = tmpDir("sync_clean")
    val src = DeltaTable.create(spark, s"$dir/src", orders)
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/tgt"))
    src.overwrite(orders.filter(col("o_orderkey") % 2 === 0), Seq.empty)
    val res = SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/tgt"))
    assert(res.mode == "incremental" && res.filesRemoved > 0)
    val tgt = HudiTable.forPath(spark, s"$dir/tgt")
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
    // the removal sync wrote replacecommit + clean (ref HudiTargetClient.java:414-536)
    val actions = tgt.timeline.allCompletedInstants().map(_.action)
    assert(actions.count(_ == "clean") == 1, actions.toString)
    val clean = tgt.timeline.allCompletedInstants().filter(_.action == "clean").last
    val cleanMeta = graft.hudi.HudiMaintenanceCodec.cleanFromJson(
      tgt.timeline.readInstantJson(clean))
    assert(cleanMeta.deletedFiles.size == res.filesRemoved)
    assert(cleanMeta.earliestCommitToRetain.nonEmpty)
    // archival: drop the active-timeline caps, then drive more syncs —
    // the ACTIVE timeline stays bounded while reads remain exact
    tgt.timeline.writeProperties(tgt.properties +
      (HudiTable.MaxActiveInstantsProp -> "4") + (HudiTable.MinActiveInstantsProp -> "2"))
    (1 to 4).foreach { i =>
      src.append(orders.filter(col("o_orderkey") % 7 === i), Seq.empty)
      SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/tgt"))
    }
    val tgt2 = HudiTable.forPath(spark, s"$dir/tgt")
    assert(tgt2.timeline.activeCompletedInstants().size <= 4)
    assert(tgt2.timeline.allCompletedInstants().size >
      tgt2.timeline.activeCompletedInstants().size)
    assert(checksum(tgt2.toDF()) == checksum(src.toDF()))
    // the watermark survives archival (latest data commit is active)
    assert(tgt2.latestCommitExtraMetadata(SyncEngine.VersionProp) == src.latestVersion.toString)
  }

  test("a STILL-inflight Hudi instant stays in the backlog without wedging sync") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir("sync_stuck_inflight")
    val src = HudiTable.create(spark, s"$dir/src", orders.filter(col("o_orderkey") % 2 === 0))
    // a writer STARTS an instant and never completes it
    val stuckTime = src.timeline.nextInstantTime()
    val hoodie = new Path(s"$dir/src/.hoodie")
    val fs = hoodie.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(hoodie, s"$stuckTime.commit.requested"), true).close()
    fs.create(new Path(hoodie, s"$stuckTime.inflight"), true).close()
    Thread.sleep(5)
    src.append(orders.filter(col("o_orderkey") % 2 === 1))
    val r1 = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(r1.mode == "full")
    // second sync: the instant is STILL pending — it must neither drain
    // from the backlog (time-based versionExists would wrongly pass it
    // and changes() would throw) nor break the incremental path
    val r2 = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(r2.mode == "incremental" && r2.versionsSynced.isEmpty)
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt.currentMetadata.properties(SyncEngine.InflightProp) == stuckTime)
    assert(checksum(tgt.toDF()) == checksum(src.toDF()))
  }

  test("a sync-target clean does not fence off downstream incremental replay") {
    val dir = tmpDir("sync_clean_fence")
    val a = HudiTable.create(spark, s"$dir/a", orders.filter(col("o_orderkey") % 2 === 0))
    // A -> mid full, then downstream mid -> b establishes a watermark
    SyncEngine.sync(SyncEngine.hudiSource(a), SyncEngine.hudiTarget(spark, s"$dir/mid"))
    val mid = HudiTable.forPath(spark, s"$dir/mid")
    SyncEngine.sync(SyncEngine.hudiSource(mid), SyncEngine.icebergTarget(spark, s"$dir/b"))
    // an upstream overwrite produces removals -> mid emits a clean
    a.overwrite(orders.filter(col("o_orderkey") % 3 === 0))
    SyncEngine.sync(SyncEngine.hudiSource(a), SyncEngine.hudiTarget(spark, s"$dir/mid"))
    assert(HudiTable.forPath(spark, s"$dir/mid").timeline.allCompletedInstants()
      .exists(_.action == "clean"))
    // downstream must REPLAY incrementally — the synthetic clean deleted
    // nothing, so the old watermark is still replayable
    val r = SyncEngine.sync(
      SyncEngine.hudiSource(HudiTable.forPath(spark, s"$dir/mid")),
      SyncEngine.icebergTarget(spark, s"$dir/b"))
    assert(r.mode == "incremental", s"clean fence forced a full sync: $r")
    assert(checksum(IcebergTable.forPath(spark, s"$dir/b").toDF()) ==
      checksum(HudiTable.forPath(spark, s"$dir/mid").toDF()))
  }

  test("re-sync with nothing pending is a no-op: no commit, watermark unchanged") {
    val dir = tmpDir("sync_noop")
    val src = DeltaTable.create(spark, s"$dir/src", orders)
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val v1 = IcebergTable.forPath(spark, s"$dir/tgt").log.latestVersion()
    val res = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(res.mode == "incremental" && res.versionsSynced.isEmpty)
    assert(IcebergTable.forPath(spark, s"$dir/tgt").log.latestVersion() == v1)
  }

  test("a foreign watermark or vacuumed source version forces a full sync") {
    val dir = tmpDir("sync_fence")
    val srcA = DeltaTable.create(spark, s"$dir/srcA", orders.filter(col("o_orderkey") % 2 === 0))
    SyncEngine.sync(SyncEngine.deltaSource(srcA), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    // same target, different source identity -> watermark doesn't apply
    val srcB = DeltaTable.create(spark, s"$dir/srcB", orders)
    val res = SyncEngine.sync(
      SyncEngine.deltaSource(srcB), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    assert(res.mode == "full")
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(checksum(tgt.toDF()) == checksum(srcB.toDF()))
  }

  test("escapable partition values survive sync into every target format") {
    val dir = tmpDir("sync_escape")
    val hostile = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    // '4-NOT SPECIFIED' carries a space: hive-escaped on disk,
    // percent-encoded in the Delta log, raw in iceberg manifests and
    // hudi write stats — each layer must encode/decode exactly once
    val src = DeltaTable.create(spark, s"$dir/src", hostile, Seq("o_orderpriority"))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/ice"))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/hudi"))
    val want = checksum(src.toDF())
    assert(checksum(IcebergTable.forPath(spark, s"$dir/ice").toDF()) == want)
    assert(checksum(HudiTable.forPath(spark, s"$dir/hudi").toDF()) == want)
    // a second (incremental) round replays cleanly too — the diff keys
    // on paths, so an encoding mismatch would re-add every file
    src.append(hostile.limit(0), Seq.empty)
    val r = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/ice"))
    assert(r.mode == "incremental" && r.filesAdded == 0,
      s"clean replay expected, got $r")

    // fully adversarial values: every hive-escaped character class at
    // once (space, colon, literal percent, equals, slash) — one
    // mis-ordered escape/unescape anywhere in the chain shows up as a
    // checksum mismatch or an unreadable path
    // (non-ASCII values are excluded: this JVM's sun.jnu.encoding cannot
    // represent them in OS paths, so Spark's own partition write fails
    // before any engine code runs)
    val weird = spark.range(40).select(col("id").as("k"),
      expr("element_at(array('plain', 'with space', 'col:on', 'pct%20t', 'a=b', 'sla/sh'), " +
        "cast(id % 6 + 1 as int))").as("part"))
    val wsrc = DeltaTable.create(spark, s"$dir/wsrc", weird, Seq("part"))
    SyncEngine.sync(SyncEngine.deltaSource(wsrc), SyncEngine.icebergTarget(spark, s"$dir/wice"))
    val wantW = checksum(wsrc.toDF().select(col("k"), col("part")))
    assert(checksum(IcebergTable.forPath(spark, s"$dir/wice").toDF()
      .select(col("k"), col("part"))) == wantW)
  }

  test("spec-evolved iceberg source refuses to sync (mixed-spec files are unrepresentable)") {
    val dir = tmpDir("sync_specevo")
    val full = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"), col("o_orderpriority"))
    val src = IcebergTable.create(spark, s"$dir/src",
      full.filter(col("o_orderkey") % 2 === 0), Seq("o_orderstatus"))
    src.evolvePartitionSpec(Seq("o_orderpriority"))
    src.append(full.filter(col("o_orderkey") % 2 === 1))
    val e = intercept[IllegalArgumentException] {
      SyncEngine.sync(
        SyncEngine.icebergSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    }
    assert(e.getMessage.contains("multiple partition specs"))
    // rewriting onto the current spec makes it syncable again
    src.overwrite(src.toDF())
    val res = SyncEngine.sync(
      SyncEngine.icebergSource(src), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    assert(res.mode == "full")
    assert(checksum(DeltaTable.forPath(spark, s"$dir/tgt").toDF()) == checksum(src.toDF()))
  }
}
