package graft.iceberg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Puffin statistics files: container round-trip, metadata
  * registration, ancestor lookup, and expiry cleanup. */
class PuffinSpec extends SparkTestBase {

  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("puffin container round-trips blobs, magics and footer sizes") {
    val dir = tmpDir("puffin_rt")
    val path = new Path(s"$dir/s.stats")
    val payloadA = Array.tabulate[Byte](256)(i => (i % 57).toByte)
    val payloadB = "opaque-foreign-sketch".getBytes("UTF-8")
    val entry = Puffin.write(fs(path), path, snapshotId = 42L, sequenceNumber = 7L, Seq(
      (Puffin.HllBlobType, Seq(3), Map("ndv" -> "123.45"), payloadA),
      ("apache-datasketches-theta-v1", Seq(4, 5), Map.empty, payloadB)))
    assert(entry.fileSizeBytes == fs(path).getFileStatus(path).getLen)
    val blobs = Puffin.readFooter(fs(path), path)
    assert(blobs.size == 2)
    val a = blobs.find(_.blobType == Puffin.HllBlobType).get
    assert(a.fields == Seq(3) && a.snapshotId == 42L && a.sequenceNumber == 7L &&
      a.properties("ndv") == "123.45")
    assert(Puffin.blobPayload(fs(path), path, a).sameElements(payloadA))
    // a FOREIGN blob type reads back as opaque bytes with metadata intact
    val b = blobs.find(_.blobType == "apache-datasketches-theta-v1").get
    assert(b.fields == Seq(4, 5))
    assert(Puffin.blobPayload(fs(path), path, b).sameElements(payloadB))
    // blobs start right after the head magic, back to back
    assert(a.offset == 4 && b.offset == 4 + payloadA.length)
  }

  test("writeStatistics registers per-column sketches; re-analyze replaces; append keeps") {
    val dir = tmpDir("puffin_tbl")
    val src = spark.range(0, 1000).select(
      col("id").as("k"), (col("id") % 13).cast("string").as("s"))
    val t = IcebergTable.create(spark, s"$dir/t", src)
    val e1 = t.writeStatistics(Seq("k", "s"))
    assert(e1.blobs.size == 2 && e1.blobs.forall(_.blobType == Puffin.HllBlobType))
    // a 13-value column fills exactly 13 buckets; the LINEAR-COUNTING
    // branch (zero registers exist, raw est ≤ 2.5·m) puts the ndv
    // within ~3% instead of the raw estimator's ~190, and the property
    // must equal the SQL-path register replay exactly (driver and SQL
    // estimators share one arithmetic)
    val (regsS, ndvS) = t.statisticsRegisters("s")
    assert(regsS.size == 13, s"${regsS.size}")
    assert(math.abs(ndvS - 13.0) / 13.0 < 0.05, s"$ndvS")
    val replayS = graft.functions.PortableHll.estimate(
      spark.createDataFrame(regsS).toDF("bucket", "mr")).collect()(0).getDouble(0)
    assert(ndvS == replayS, s"($ndvS, $replayS)")
    // the 1000-distinct column lands within plain-HLL accuracy (~7%
    // at m=256; 15% bound keeps the test hash-stable)
    val (_, ndvK) = t.statisticsRegisters("k")
    assert(math.abs(ndvK - 1000.0) / 1000.0 < 0.15, s"$ndvK")
    // re-analyzing the same snapshot REPLACES its entry (no duplicates)
    // and deletes the superseded file — nothing references it anymore
    t.writeStatistics(Seq("k"))
    assert(IcebergTable.forPath(spark, s"$dir/t").currentMetadata.statistics.size == 1)
    assert(!fs(new Path(e1.path)).exists(new Path(e1.path)),
      "superseded stats file must be deleted on re-analyze")
    // a later append keeps the entry reachable via the ancestor walk
    t.append(src.limit(0))
    val t2 = IcebergTable.forPath(spark, s"$dir/t")
    assert(t2.statisticsFor().nonEmpty)
    assert(t2.statisticsFor().get.snapshotId != t2.currentMetadata.currentSnapshotId.get)
  }

  test("ANALYZE of many columns runs exactly ONE Spark job (one table scan)") {
    val dir = tmpDir("puffin_onepass")
    val src = spark.range(0, 2000).select(
      col("id").as("a"), (col("id") % 7).as("b"),
      (col("id") % 13).cast("string").as("c"), (col("id") % 97).as("d"))
    val t = IcebergTable.create(spark, s"$dir/t", src)
    val read = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      t.writeStatistics(Seq("a", "b", "c", "d"))
      // listener delivery is async: wait until the count stops moving
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // the stacked register aggregation is the ONLY action that touches
    // rows: 4 columns, ONE scan of the 2000-row table (the old shape
    // was 2 jobs PER column = 16000 records), one shuffle of ≤ 4×256
    // register rows, ndv computed driver-side from the collected
    // registers. Manifest/metadata reads contribute a handful of
    // records at most — well under the second-scan threshold.
    assert(read.get() < 2 * 2000,
      s"ANALYZE read ${read.get()} records — more than one table scan")
    assert(read.get() >= 2000, s"ANALYZE read ${read.get()} records — scan not observed")
    // and the registers must equal the per-column single-pass build
    Seq("a", "b", "c", "d").foreach { c =>
      val (regs, ndv) = t.statisticsRegisters(c)
      val one = graft.functions.PortableHll
        .registers(t.toDF(), col(c)).collect()
        .map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1).toSeq
      assert(regs.sortBy(_._1) == one, s"register mismatch for $c")
      assert(ndv == graft.functions.PortableHll.estimateLocal(one))
    }
  }

  test("ANALYZE of an all-NULL column records ndv 0.00 with empty registers") {
    val dir = tmpDir("puffin_null")
    val src = spark.range(0, 50).select(
      col("id").as("k"), lit(null).cast("string").as("s"))
    val t = IcebergTable.create(spark, s"$dir/t", src)
    t.writeStatistics(Seq("s", "k"))
    val (regs, ndv) = t.statisticsRegisters("s")
    assert(regs.isEmpty && ndv == 0.0, s"($regs, $ndv)")
    val (_, ndvK) = t.statisticsRegisters("k")
    assert(ndvK > 0.0)
  }

  test("registering stats for a snapshot expired mid-ANALYZE raises the typed race and cleans up") {
    val dir = tmpDir("puffin_race")
    val src = spark.range(0, 100).select(col("id").as("k"))
    val t = IcebergTable.create(spark, s"$dir/t", src)
    val doomed = t.currentMetadata.currentSnapshotId.get
    // the world moves between ANALYZE's scan and its registration CAS:
    // an append supersedes the analyzed snapshot and expiry kills it
    t.append(src)
    assert(t.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    val path = new Path(s"$dir/t/metadata/race.stats")
    val entry = Puffin.write(fs(path), path, doomed, 1L,
      Seq((Puffin.HllBlobType, Seq(1), Map("ndv" -> "1.00"),
        new Array[Byte](graft.functions.PortableHll.M))))
    val ex = intercept[graft.model.ConcurrentSyncException] {
      t.registerStatistics(doomed, entry)
    }
    assert(ex.getMessage.contains("expired"))
    // the unregistrable file must not be left orphaned on disk
    assert(!fs(path).exists(path))
    assert(IcebergTable.forPath(spark, s"$dir/t").currentMetadata.statistics.isEmpty)
  }

  test("partition statistics: spec-shaped rollup file, replace-on-reanalyze, expiry cleanup") {
    val dir = tmpDir("pstats")
    val src = spark.range(0, 300).select(
      col("id").as("k"),
      (col("id") % 3).cast("string").as("p"),
      (col("id") * 2).as("v"))
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("p"))
    val e1 = t.writePartitionStatistics()
    val df1 = t.readPartitionStatistics(e1)
    // spec row shape: typed unified partition struct + the counters
    assert(df1.schema.fieldNames.toSeq == Seq("partition", "spec_id",
      "data_record_count", "data_file_count", "total_data_file_size_in_bytes",
      "position_delete_record_count", "position_delete_file_count",
      "equality_delete_record_count", "equality_delete_file_count",
      "last_updated_snapshot_id"))
    val rows = df1.selectExpr("partition.p", "data_record_count", "data_file_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("0", "1", "2"))
    assert(rows.map(_._2).sum == 300 && rows.forall(_._2 == 100))
    assert(rows.forall(_._3 >= 1))
    // sorted by partition (spec requirement)
    val order = df1.select(col("partition.p")).collect().map(_.getString(0)).toSeq
    assert(order == order.sorted, s"file not sorted: $order")
    // re-analyze at the same snapshot replaces the entry + deletes the
    // superseded file; a later append keeps it via the ancestor walk
    val e2 = t.writePartitionStatistics()
    assert(!fs(new Path(e1.path)).exists(new Path(e1.path)))
    assert(IcebergTable.forPath(spark, s"$dir/t")
      .currentMetadata.partitionStatistics.size == 1)
    t.append(src.limit(0))
    val t2 = IcebergTable.forPath(spark, s"$dir/t")
    assert(t2.partitionStatisticsFor().map(_.path).contains(e2.path))
    // the entry survives the metadata.json emit/parse round trip
    assert(t2.currentMetadata.partitionStatistics ==
      Seq(IcebergPartitionStatisticsFile(e2.snapshotId, e2.path, e2.fileSizeBytes)))
    // expiry of the analyzed snapshot drops the entry and its file
    t2.writePartitionStatistics() // head analyzed too, so lookup survives
    assert(t2.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    val t3 = IcebergTable.forPath(spark, s"$dir/t")
    assert(t3.currentMetadata.partitionStatistics.size == 1)
    assert(!fs(new Path(e2.path)).exists(new Path(e2.path)))
    assert(fs(new Path(t3.partitionStatisticsFor().get.path))
      .exists(new Path(t3.partitionStatisticsFor().get.path)))
  }

  test("partition statistics: typed identity struct, numeric sort, spec parquet field ids") {
    val dir = tmpDir("pstats_typed")
    // identity INT partition with two-digit values: a string sort would
    // put "10" before "2" — the spec order is the TYPED order
    val src = spark.range(0, 260).select(
      (col("id") % 13).cast("int").as("p"), col("id").as("k"))
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("p"))
    val e = t.writePartitionStatistics()
    val df = t.readPartitionStatistics(e)
    assert(df.schema("partition").dataType.asInstanceOf[StructType]("p").dataType
      == IntegerType, "identity int partition must read back typed")
    val order = df.select(col("partition.p")).collect().map(_.getInt(0)).toSeq
    assert(order == order.sorted, s"file not in numeric order: $order")
    assert(order.indexOf(2) < order.indexOf(10), s"2 must sort before 10: $order")
    // the spec's parquet field IDs ride the file so engines resolving
    // columns BY ID can map it (stats schema ids 1-12; the partition
    // field's own spec id inside the struct)
    val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(e.path), spark.sparkContext.hadoopConfiguration))
    try {
      val mt = pf.getFooter.getFileMetaData.getSchema
      def fld(g: org.apache.parquet.schema.GroupType, n: String) =
        g.getType(g.getFieldIndex(n))
      assert(fld(mt, "partition").getId.intValue == 1)
      assert(fld(mt, "spec_id").getId.intValue == 2)
      assert(fld(mt, "data_record_count").getId.intValue == 3)
      assert(fld(mt, "total_data_file_size_in_bytes").getId.intValue == 5)
      assert(fld(mt, "last_updated_snapshot_id").getId.intValue == 12)
      assert(fld(fld(mt, "partition").asGroupType, "p").getId.intValue == 1000,
        "partition struct member must carry its spec field id")
    } finally pf.close()
  }

  test("partition statistics: time transforms emit spec RESULT types (month int, day date)") {
    val dir = tmpDir("pstats_time")
    val src = spark.range(0, 100).select(
      col("id").as("k"),
      date_add(lit("2021-11-20").cast("date"), (col("id") % 90).cast("int"))
        .cast("timestamp").as("ts"))
    val tm = IcebergTable.create(spark, s"$dir/tm", src, Seq("month(ts)"))
    val em = tm.writePartitionStatistics()
    val dfm = tm.readPartitionStatistics(em)
    assert(dfm.schema("partition").dataType.asInstanceOf[StructType]("ts_month").dataType
      == IntegerType, "month partition must emit the spec's int ordinal")
    val months = dfm.select(col("partition.ts_month"), col("data_record_count"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // months since epoch: 2021-11 = 622 … 2022-02 = 625, in typed order
    assert(months.map(_._1) == Seq(622, 623, 624, 625), s"$months")
    assert(months.map(_._2) == Seq(21L, 31L, 31L, 17L), s"$months")
    val td = IcebergTable.create(spark, s"$dir/td", src, Seq("day(ts)"))
    val ed = td.writePartitionStatistics()
    val dfd = td.readPartitionStatistics(ed)
    assert(dfd.schema("partition").dataType.asInstanceOf[StructType]("ts_day").dataType
      == DateType, "day partition must emit the spec's date type")
    val days = dfd.select(col("partition.ts_day")).collect().map(_.getDate(0).toString)
    assert(days.head == "2021-11-20" && days.last == "2022-02-17" &&
      days.length == 90 && days.toSeq == days.sorted.toSeq, s"${days.take(5).toSeq}…")
  }

  test("partition-prune row estimates come from the rollup — zero manifest opens") {
    val dir = tmpDir("pstats_est")
    val src = spark.range(0, 300).select(
      col("id").as("k"), (col("id") % 3).cast("string").as("p"))
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("p"))
    assert(t.scan.partitionIn("p", Set("1")).estimatedRows().isEmpty,
      "no rollup registered -> no estimate")
    t.writePartitionStatistics()
    val before = IcebergManifests.manifestReads.get()
    assert(t.scan.partitionIn("p", Set("1")).estimatedRows().contains(100L))
    assert(t.scan.partitionIn("p", Set("1", "2")).estimatedRows().contains(200L))
    assert(t.scan.estimatedRows().contains(300L), "unpredicated scan estimates all rows")
    // typed predicate over the rollup directly
    assert(t.estimatedRowsForPartition(col("partition.p") === "0").contains(100L))
    assert(t.estimatedRowsForPartition(col("partition.p") === "9").contains(0L),
      "a predicate matching no partition estimates zero, not None")
    assert(IcebergManifests.manifestReads.get() == before,
      "rollup-based estimates must not open manifests")
    // human month strings translate to the rollup's typed ordinals
    val srcT = spark.range(0, 100).select(
      col("id").as("k"),
      date_add(lit("2021-11-20").cast("date"), (col("id") % 90).cast("int"))
        .cast("timestamp").as("ts"))
    val tt = IcebergTable.create(spark, s"$dir/tt", srcT, Seq("month(ts)"))
    tt.writePartitionStatistics()
    val b2 = IcebergManifests.manifestReads.get()
    assert(tt.scan.partitionIn("ts_month", Set("2021-12")).estimatedRows().contains(31L))
    assert(IcebergManifests.manifestReads.get() == b2)
    // STALE rollup: the table doubles past the ANALYZE — the estimate
    // scales by the manifest-list's exact growth factor (still zero
    // manifest opens), so a grown partition is never under-costed
    t.append(src)
    val b3 = IcebergManifests.manifestReads.get()
    assert(t.scan.partitionIn("p", Set("1")).estimatedRows().contains(200L))
    assert(IcebergManifests.manifestReads.get() == b3,
      "stale-scaled estimate must not open manifests")
  }

  test("partition statistics: identity-timestamp partitions round-trip the hive value forms") {
    val dir = tmpDir("pstats_ts")
    // minute-aligned timestamps: the hive canonical form omits ":00"
    // seconds ("2021-01-01 00:00"), which a naive Timestamp.valueOf
    // rejects — the typed rollup must parse every emitted shape
    val src = spark.range(0, 60).select(
      col("id").as("k"),
      expr("timestamp'2021-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, cast(id % 3 as int), 0, 0)").as("ts"))
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("ts"))
    val e = t.writePartitionStatistics()
    val df = t.readPartitionStatistics(e)
    assert(df.schema("partition").dataType.asInstanceOf[StructType]("ts").dataType
      == TimestampType)
    val rows = df.select(col("partition.ts").cast("string"), col("data_record_count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.map(_._1) == Seq(
      "2021-01-01 00:00:00", "2021-01-01 01:00:00", "2021-01-01 02:00:00"), s"$rows")
    assert(rows.forall(_._2 == 20L), s"$rows")
  }

  test("partition statistics refuse an unpartitioned table") {
    val dir = tmpDir("pstats_unpart")
    val t = IcebergTable.create(spark, s"$dir/t",
      spark.range(0, 10).select(col("id").as("k")))
    val ex = intercept[IllegalArgumentException](t.writePartitionStatistics())
    assert(ex.getMessage.contains("unpartitioned"))
  }

  test("sync-carried statistics are ADOPTED: the target owns a copy no source op can dangle") {
    import graft.sync.SyncEngine
    val dir = tmpDir("pstats_sync")
    val srcData = spark.range(0, 500).select(
      col("id").as("k"), (col("id") % 10).cast("string").as("s"))
    val src = IcebergTable.create(spark, s"$dir/src", srcData)
    val e = src.writeStatistics(Seq("k"))
    val srcRegs = src.statisticsRegisters("k")
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    // promoted entry anchors at the target commit and points at the
    // target's OWN COPY of the source's Puffin file — never at the
    // source's file, which the source is free to delete at any time
    val carried = tgt.statisticsFor().get
    assert(carried.path != e.path && carried.path.contains("/tgt/"),
      s"promoted entry must point under the target root: ${carried.path}")
    assert(carried.snapshotId == tgt.currentMetadata.currentSnapshotId.get)
    assert(carried.blobs.map(_.blobType) == Seq(Puffin.HllBlobType))
    // the target's register replay equals the source's
    assert(tgt.statisticsRegisters("k") == srcRegs)
    // two more syncs of the same analyzed file re-use ONE copy
    src.append(srcData.limit(0))
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val tgt2 = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt2.currentMetadata.statistics.size == 2)
    assert(tgt2.currentMetadata.statistics.map(_.path).distinct == Seq(carried.path))
    // the ADVICE failure mode: the SOURCE re-analyzes at its head and
    // expires the analyzed ancestor, deleting its own original file —
    // the target's adopted entry must keep resolving
    val e2 = src.writeStatistics(Seq("k", "s"))
    assert(src.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    assert(e2.path != e.path && !fs(new Path(e.path)).exists(new Path(e.path)),
      "source expiry should have deleted its superseded original file")
    assert(tgt2.statisticsRegisters("k") == srcRegs,
      "target's adopted stats must survive the source deleting the original")
    // expiring the OLD target snapshot drops its entry but must NOT
    // delete the copy: a live entry still references it
    assert(tgt2.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    val tgt3 = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt3.currentMetadata.statistics.size == 1)
    assert(fs(new Path(carried.path)).exists(new Path(carried.path)),
      "target expiry deleted a still-referenced adopted copy")
    // re-analyzing the TARGET replaces the adopted entry with its own
    // fresh file and — owning the copy — cleans the now-unreferenced
    // copy up; the source's statistics are untouched throughout
    val own = tgt3.writeStatistics(Seq("k"))
    assert(own.path != carried.path && own.path.contains("/tgt/"))
    assert(!fs(new Path(carried.path)).exists(new Path(carried.path)),
      "unreferenced adopted copy should be cleaned up on target re-analyze")
    assert(src.statisticsFor().map(_.path).contains(e2.path))
  }

  test("sync adopts partition statistics on an Iceberg target as its own copy") {
    import graft.sync.SyncEngine
    val dir = tmpDir("pstats_sync2")
    val srcData = spark.range(0, 300).select(
      col("id").as("k"), (col("id") % 4).cast("string").as("p"))
    val src = IcebergTable.create(spark, s"$dir/src", srcData, Seq("p"))
    val pe = src.writePartitionStatistics()
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    val carried = tgt.partitionStatisticsFor().get
    assert(carried.path != pe.path && carried.path.contains("/tgt/"),
      s"promoted entry must point at the target's own copy: ${carried.path}")
    assert(carried.snapshotId == tgt.currentMetadata.currentSnapshotId.get)
    // the rollup reads back identically on the target
    val back = tgt.readPartitionStatistics(carried)
      .selectExpr("partition.p", "data_record_count")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(back.map(_._1).toSeq == Seq("0", "1", "2", "3") && back.forall(_._2 == 75))
    // the source expiring ITS analyzed snapshot (deleting its file)
    // cannot dangle the target's adopted entry
    src.append(srcData.limit(0))
    src.writePartitionStatistics() // head analyzed, old entry expirable
    assert(src.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    assert(!fs(new Path(pe.path)).exists(new Path(pe.path)),
      "source expiry should have deleted its own superseded rollup")
    val again = IcebergTable.forPath(spark, s"$dir/tgt")
      .readPartitionStatistics(carried)
      .selectExpr("partition.p", "data_record_count")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(again.toSeq == back.toSeq,
      "target's adopted rollup must survive source expiry")
    // target re-analyze swaps in its own rollup; the source stays intact
    tgt.writePartitionStatistics()
    assert(src.partitionStatisticsFor().nonEmpty)
  }

  test("expiry drops statistics of expired snapshots and deletes their files") {
    val dir = tmpDir("puffin_exp")
    val src = spark.range(0, 100).select(col("id").as("k"))
    val t = IcebergTable.create(spark, s"$dir/t", src)
    val e1 = t.writeStatistics(Seq("k"))
    t.append(src)
    t.writeStatistics(Seq("k")) // analyzed at the NEW head too
    assert(t.currentMetadata.statistics.size == 2)
    assert(t.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    val after = IcebergTable.forPath(spark, s"$dir/t").currentMetadata
    assert(after.statistics.size == 1, s"${after.statistics}")
    assert(after.statistics.head.snapshotId == after.currentSnapshotId.get)
    // the expired snapshot's stats FILE went with it; the live one stays
    assert(!fs(new Path(e1.path)).exists(new Path(e1.path)))
    assert(fs(new Path(after.statistics.head.path)).exists(
      new Path(after.statistics.head.path)))
  }

  test("partition statistics: pre-1970 day-transform ordinals type as dates") {
    val dir = tmpDir("pstats_pre1970")
    // day(ts) ordinals for 1969 dates are NEGATIVE epoch days ("-31"):
    // the typed-value parse must read them numerically, not as a date
    // string (the '-' is a sign, not a field separator)
    val src = spark.range(0, 40).select(
      col("id").as("k"),
      expr("timestamp'1969-12-01 00:00:00' + " +
        "make_interval(0, 0, 0, cast(id % 2 as int) * 45, 0, 0, 0)").as("ts"))
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("day(ts)"))
    val e = t.writePartitionStatistics()
    val rows = t.readPartitionStatistics(e)
      .select(col("partition.ts_day").cast("string"), col("data_record_count"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("1969-12-01", 20L), ("1970-01-15", 20L)), s"$rows")
  }

  test("identity-time literals estimate in ANY human form against the typed rollup") {
    val dir = tmpDir("pstats_identlit")
    val src = spark.range(0, 60).select(
      col("id").as("k"),
      expr("timestamp'2021-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, 0, cast(id % 3 as int), 0, 0)").as("ts"))
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("ts"))
    t.writePartitionStatistics()
    // the rollup stores a TYPED timestamp; every literal form the
    // engine's own codecs emit must canonicalize to it — the
    // seconds-less hive form, the full cast form, canonical
    // epoch-micros — instead of silently estimating 0 for a live
    // partition (ADVICE r15)
    assert(t.scan.partitionIn("ts", Set("2021-01-01 01:00")).estimatedRows()
      .contains(20L), "seconds-less hive form")
    assert(t.scan.partitionIn("ts", Set("2021-01-01 01:00:00")).estimatedRows()
      .contains(20L), "full form")
    val micros = java.time.LocalDateTime.of(2021, 1, 1, 2, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(t.scan.partitionIn("ts", Set(micros.toString)).estimatedRows()
      .contains(20L), "canonical epoch-micros")
    assert(t.scan.partitionIn("ts", Set("2021-01-01 03:00")).estimatedRows()
      .contains(0L), "an absent partition estimates zero, not a parse error")
    // identity DATE partitions take date strings and epoch-day ordinals
    val srcD = spark.range(0, 40).select(
      col("id").as("k"),
      expr("date_add(date'2021-06-01', cast(id % 2 as int))").as("d"))
    val td = IcebergTable.create(spark, s"$dir/td", srcD, Seq("d"))
    td.writePartitionStatistics()
    assert(td.scan.partitionIn("d", Set("2021-06-02")).estimatedRows().contains(20L))
    val epochDay = java.time.LocalDate.of(2021, 6, 1).toEpochDay
    assert(td.scan.partitionIn("d", Set(epochDay.toString)).estimatedRows()
      .contains(20L), "epoch-day ordinal form")
  }

  test("hudi ANALYZE anchors the analyzed instant in the Puffin header") {
    val dir = tmpDir("puffin_hudi_anchor")
    val t = graft.hudi.HudiTable.create(spark, s"$dir/t",
      spark.range(0, 100).select(col("id").as("k")))
    val analyzed = t.latestInstant.toLong
    val p = new Path(t.writeStatistics(Seq("k")))
    val blobs = Puffin.readFooter(fs(p), p)
    // a foreign Puffin reader must see a truthful snapshot anchor —
    // the analyzed instant's numeric form, not 0L — exactly like the
    // Iceberg writer anchors the analyzed snapshot id
    assert(blobs.nonEmpty && blobs.forall(b =>
      b.snapshotId == analyzed && b.sequenceNumber == analyzed),
      s"${blobs.map(b => (b.snapshotId, b.sequenceNumber))} != $analyzed")
  }

  test("delta RESTORE across a re-analyze drops the dangling pointer, orphans nothing") {
    import graft.delta.DeltaTable
    val dir = tmpDir("delta_restore_stats")
    val mk = spark.range(0, 300).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("g"))
    val t = DeltaTable.create(spark, s"$dir/t", mk)
    t.writeStatistics(Seq("k"))
    val vAnalyzed = t.latestVersion // the registration commit
    def conf() = t.log.snapshot().metadata.configuration
    val p1 = conf()(DeltaTable.StatsPathKey)
    t.append(mk, Seq.empty)
    t.writeStatistics(Seq("k")) // replace-on-reanalyze deletes p1
    val p2 = conf()(DeltaTable.StatsPathKey)
    assert(p1 != p2 && !fs(new Path(p1)).exists(new Path(p1)))
    t.restoreTo(vAnalyzed)
    // the restored config pointed at the DELETED p1 — the pointer (and
    // its freshness twin) must be dropped, not restored dangling; and
    // p2, unreachable from the live config now, must not orphan
    assert(!conf().contains(DeltaTable.StatsPathKey) &&
      !conf().contains(DeltaTable.StatsVersionKey), s"${conf()}")
    assert(!fs(new Path(p2)).exists(new Path(p2)),
      "sidecar unreachable from the restored config must be deleted")
    val sdir = new Path(s"$dir/t/_graft_stats")
    assert(!fs(sdir).exists(sdir) || fs(sdir).listStatus(sdir).isEmpty,
      "_graft_stats must hold no orphans after the restore")
    intercept[IllegalStateException](t.statisticsRegisters("k"))
    assert(graft.plans.StatsJoin.plannedSize(t, "k").isEmpty)
    // a restore that does NOT cross a re-analyze keeps the pointer: the
    // analyzed sidecar still exists, so the restored config resolves
    val t2 = DeltaTable.create(spark, s"$dir/t2", mk)
    t2.writeStatistics(Seq("k"))
    val v2 = t2.latestVersion
    t2.append(mk, Seq.empty)
    t2.restoreTo(v2)
    assert(t2.statisticsRegisters("k")._1.nonEmpty,
      "restore within one analyze generation must keep the stats readable")
  }

  test("hudi rollback revokes the registration and deletes the orphaned sidecar") {
    import graft.hudi.HudiTable
    val dir = tmpDir("hudi_rollback_stats")
    val mk = spark.range(0, 200).select(
      col("id").as("k"), (col("id") % 4).cast("string").as("g"))
    val t = HudiTable.create(spark, s"$dir/t", mk)
    val p = new Path(t.writeStatistics(Seq("k")))
    t.append(mk, Seq.empty)
    // rolling back the DATA commit leaves the older registration as the
    // newest resolvable pointer — the sidecar stays, and the sketch is
    // fresh again (the table is back to its analyzed row set)
    t.rollback()
    assert(t.statisticsRegisters("k")._1.nonEmpty && fs(p).exists(p))
    assert(t.statisticsFresh, "rollback to the analyzed state reads fresh")
    // rolling back the REGISTRATION instant itself: the walk-back no
    // longer reaches the pointer, so the sidecar must go too — clean
    // degradation to analyzed-never, no orphan under .graft_stats
    t.rollback()
    intercept[IllegalStateException](t.statisticsRegisters("k"))
    assert(!fs(p).exists(p), "revoked registration must delete its sidecar")
    val sdir = new Path(s"$dir/t/.hoodie/.graft_stats")
    assert(!fs(sdir).exists(sdir) || fs(sdir).listStatus(sdir).isEmpty)
    assert(graft.plans.StatsJoin.plannedSize(t, "k").isEmpty)
  }
}
