package graft.delta

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class DeltaTableSpec extends SparkTestBase {

  test("create + read returns identical rows") {
    val dir = tmpDir("delta_create")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    DeltaTable.create(spark, s"$dir/t", src)
    val back = DeltaTable.forPath(spark, s"$dir/t").toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("append produces a new version; time travel sees the old one") {
    val dir = tmpDir("delta_tt")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1), Seq.empty)
    assert(t.latestVersion == 1L)
    val v0 = t.toDF(versionAsOf = Some(0L))
    assert(v0.filter(col("o_orderkey") % 2 === 1).count() == 0)
    assert(t.toDF().count() == src.count())
  }

  test("overwrite keeps old files readable via time travel") {
    val dir = tmpDir("delta_ow")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    t.overwrite(src.limit(2), Seq.empty)
    assert(t.toDF().count() == 2)
    assert(t.toDF(versionAsOf = Some(0L)).count() == src.count())
  }

  test("changesAsDF returns only rows added in the version range") {
    val dir = tmpDir("delta_cdf")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1), Seq.empty)
    val changes = t.changesAsDF(0L, 1L)
    assert(changes.count() == src.filter(col("o_orderkey") % 2 === 1).count())
    assert(changes.filter(col("o_orderkey") % 2 === 0).count() == 0)
  }

  test("partition pruning reduces the file manifest") {
    val dir = tmpDir("delta_prune")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src, Seq("l_returnflag"))
    val all = t.scan.files().size
    val pruned = t.scan.partitionIn("l_returnflag", Set("A")).files().size
    assert(pruned < all, s"expected pruning: $pruned < $all")
    val rows = t.scan.partitionIn("l_returnflag", Set("A")).toDF()
    assert(rows.count() == src.filter(col("l_returnflag") === "A").count())
  }

  test("min/max stats skipping drops files outside the key range") {
    val dir = tmpDir("delta_skip")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .repartitionByRange(8, col("l_orderkey"))
    val t = DeltaTable.create(spark, s"$dir/t", src)
    val all = t.scan.files().size
    val skipped = t.scan.range("l_orderkey", Some(1L), Some(100L)).files().size
    assert(all == 8L, s"expected 8 range files, got $all")
    assert(skipped < all, s"expected skipping: $skipped < $all")
    val rows = t.scan.range("l_orderkey", Some(1L), Some(100L)).toDF()
      .filter(col("l_orderkey").between(1, 100))
    val expected = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .filter(col("l_orderkey").between(1, 100))
    assert(rows.count() == expected.count())
  }

  test("convertFromParquet is metadata-only and row-identical") {
    val dir = tmpDir("delta_convert")
    val t = DeltaTable.convertFromParquet(spark, s"$sf0001/supplier.parquet", s"$dir/t")
    val src = spark.read.parquet(s"$sf0001/supplier.parquet")
    val back = t.toDF()
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // no parquet was copied under the table root
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(DeltaTable.walkParquet(fs, root).isEmpty)
  }

  test("convertFromParquet records hive partition columns and values") {
    val dir = tmpDir("delta_convert_part")
    // build a hive-partitioned source layout
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .write.partitionBy("l_returnflag").parquet(s"$dir/src")
    val t = DeltaTable.convertFromParquet(spark, s"$dir/src", s"$dir/t")
    val (_, partCols) = t.schemaAt()
    assert(partCols == Seq("l_returnflag"))
    val back = t.toDF()
    val src = spark.read.parquet(s"$dir/src")
    assert(back.filter(col("l_returnflag").isNull).count() == 0)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // partition values present in the manifest enable log-level pruning
    val pruned = t.scan.partitionIn("l_returnflag", Set("A")).toDF()
    assert(pruned.count() == src.filter(col("l_returnflag") === "A").count())
  }

  test("commit is put-if-absent: second commit of same version fails") {
    val dir = tmpDir("delta_race")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    assert(!t.log.commit(0L, Seq(CommitInfo(1L, "X", Map.empty))))
    assert(t.log.commit(1L, Seq(CommitInfo(1L, "X", Map.empty))))
  }

  test("timestampAsOf resolves to the right version") {
    val dir = tmpDir("delta_ts")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    val ts0 = t.log.commitTimestamps().head._2
    t.append(src.limit(1), Seq.empty)
    assert(t.versionForTimestamp(ts0) == 0L)
    assert(t.versionForTimestamp(System.currentTimeMillis() + 10000) == 1L)
  }

  test("reads plan a FileSourceScan with pushed filters over the manifest index") {
    val dir = tmpDir("delta_plan")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val t = DeltaTable.create(spark, s"$dir/t", src, Seq("l_returnflag"))
    val df = t.toDF().filter(col("l_orderkey") === 1L && col("l_returnflag") === "A")
    val planned = df.queryExecution.executedPlan.toString
    // data filter reaches the parquet scan...
    assert(planned.contains("PushedFilters") && planned.contains("l_orderkey"), planned)
    assert(df.count() ==
      src.filter(col("l_orderkey") === 1L && col("l_returnflag") === "A").count())
    val withPartFilter = t.toDF().filter(col("l_returnflag") === "A")
    val filesRead = withPartFilter.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles")
    }
    withPartFilter.count()
    assert(filesRead.exists(_.value < t.scan.files().size),
      s"partition filter did not prune files: ${filesRead.map(_.value)}")
  }

  test("checkpoints: 25-commit table replays from checkpoint, survives log expiry") {
    val dir = tmpDir("delta_cp")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src.limit(1))
    (1 to 24).foreach(_ => t.append(src.limit(1), Seq.empty))
    assert(t.latestVersion == 24L)
    // auto-checkpoint every 10 commits
    assert(t.log.lastCheckpoint().contains(20L))
    assert(t.toDF().count() == 25L)
    // expire pre-checkpoint JSON: snapshot must still reconstruct from
    // checkpoint + tail through a FRESH handle (no cached state)
    val removed = t.log.expireLogBefore(20L)
    assert(removed == 20)
    val t2 = DeltaTable.forPath(spark, s"$dir/t")
    assert(t2.toDF().count() == 25L)
    assert(t2.schemaAt(None)._1.fieldNames.sameElements(src.schema.fieldNames))
    // time travel within retained history still works
    assert(t2.toDF(versionAsOf = Some(22L)).count() == 23L)
    // expired history correctly refuses
    intercept[Exception] { t2.toDF(versionAsOf = Some(5L)).count() }
    // appends after expiry keep working and checkpoint again at 30
    (25 to 30).foreach(_ => t2.append(src.limit(1), Seq.empty))
    assert(t2.log.lastCheckpoint().contains(30L))
    assert(t2.toDF().count() == 31L)
  }

  test("vacuum deletes only unreferenced files older than retention") {
    val dir = tmpDir("delta_vacuum")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    t.overwrite(src.limit(3), Seq.empty) // v0 files now unreferenced
    val before = t.toDF().count()
    // dry run reports candidates without deleting
    val candidates = t.vacuum(retentionMs = 0L, dryRun = true)
    assert(candidates.nonEmpty)
    assert(t.toDF(versionAsOf = Some(0L)).count() == src.count()) // still readable
    // fresh files survive a 1-day retention window
    assert(t.vacuum(retentionMs = 24L * 3600 * 1000).isEmpty)
    // zero retention deletes the tombstoned v0 files; current read intact
    val deleted = t.vacuum(retentionMs = 0L)
    assert(deleted.toSet == candidates.toSet)
    assert(t.toDF().count() == before)
    // vacuuming again finds nothing
    assert(t.vacuum(retentionMs = 0L).isEmpty)
  }

  test("removes across a checkpoint resolve correctly (overwrite after cp)") {
    val dir = tmpDir("delta_cp_rm")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    (1 to 9).foreach(_ => t.append(src.limit(2), Seq.empty))
    // v10 checkpoint exists; overwrite at v11 removes checkpointed adds
    t.append(src.limit(1), Seq.empty) // v10 -> checkpoint
    assert(t.log.lastCheckpoint().contains(10L))
    t.overwrite(src.limit(3), Seq.empty) // v11
    assert(t.toDF().count() == 3L)
    val t2 = DeltaTable.forPath(spark, s"$dir/t")
    assert(t2.toDF().count() == 3L)
  }

  test("reads a column-mapped table (name mode): physical parquet names, logical output") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("delta-colmap")
    val root = s"$dir/t"
    // data files speak PHYSICAL names, incl. a nested struct field
    val physA = spark.range(0, 50).selectExpr(
      "id AS `col-aaa111`",
      "named_struct('col-ccc333', CAST(id * 2 AS LONG)) AS `col-bbb222`")
    val physB = spark.range(50, 100).selectExpr(
      "id AS `col-aaa111`",
      "named_struct('col-ccc333', CAST(id * 2 AS LONG)) AS `col-bbb222`")
    physA.coalesce(1).write.parquet(s"$root/fa")
    physB.coalesce(1).write.parquet(s"$root/fb")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileOf(sub: String): org.apache.hadoop.fs.FileStatus =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$sub"))
        .filter(_.getPath.getName.endsWith(".parquet")).head
    val (fa, fb) = (fileOf("fa"), fileOf("fb"))
    // logical schema: id / payload.inner, physical names in metadata —
    // exactly what Delta Lake writes in delta.columnMapping.mode=name
    def meta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-aaa111", 1)),
      StructField("payload", StructType(Seq(
        StructField("inner", LongType, nullable = true, meta("col-ccc333", 3)))),
        nullable = true, meta("col-bbb222", 2))))
    val statsA = """{"numRecords":50,"minValues":{"col-aaa111":0,"col-bbb222":{"col-ccc333":0}},"maxValues":{"col-aaa111":49,"col-bbb222":{"col-ccc333":98}}}"""
    val statsB = """{"numRecords":50,"minValues":{"col-aaa111":50,"col-bbb222":{"col-ccc333":100}},"maxValues":{"col-aaa111":99,"col-bbb222":{"col-ccc333":198}}}"""
    val t = DeltaTable.forPath(spark, root)
    assert(t.log.commit(0L, Seq(
      Protocol(minReaderVersion = 2, minWriterVersion = 5),
      DeltaMetadata(
        id = java.util.UUID.randomUUID().toString,
        schemaString = logical.json,
        partitionColumns = Seq.empty,
        configuration = Map("delta.columnMapping.mode" -> "name",
          "delta.columnMapping.maxColumnId" -> "3"),
        createdTime = 0L),
      AddFile(s"fa/${fa.getPath.getName}", Map.empty, fa.getLen, 0L,
        dataChange = true, stats = Some(statsA)),
      AddFile(s"fb/${fb.getPath.getName}", Map.empty, fb.getLen, 0L,
        dataChange = true, stats = Some(statsB)))))
    // logical column names out, physical data in
    val back = t.toDF()
    assert(back.columns.toSeq == Seq("id", "payload"))
    assert(back.count() == 100)
    assert(back.select(sum(col("id"))).head.getLong(0) == (0L until 100L).sum)
    assert(back.select(sum(col("payload.inner"))).head.getLong(0) == 2L * (0L until 100L).sum)
    // stats skipping translates the logical predicate to physical keys
    val pruned = t.scan.range("id", Some(75L), Some(80L)).files().size
    assert(pruned == 1, s"expected 1 surviving file, got $pruned")
    assert(t.scan.range("id", Some(75L), Some(80L)).toDF()
      .filter(col("id").between(75, 80)).count() == 6)
    // sync plane speaks logical names: stats and partition keys of a
    // column-mapped SOURCE translate before they reach a target
    val files = t.snapshotDataFiles()
    assert(files.flatMap(_.columnStats.map(_.column)).toSet == Set("id", "payload.inner"))
    val tgt = s"$dir/ice"
    graft.sync.SyncEngine.sync(
      graft.sync.SyncEngine.deltaSource(t),
      graft.sync.SyncEngine.icebergTarget(spark, tgt))
    val ice = graft.iceberg.IcebergTable.forPath(spark, tgt).toDF()
    assert(ice.count() == 100)
    assert(ice.select(sum(col("id"))).head.getLong(0) == (0L until 100L).sum)
  }
}
