package graft.hudi

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * Real-layout `.hoodie/metadata` files partition: its own MOR timeline
 * of deltacommits at the data commits' instant times, log files in the
 * documented naming convention, HoodieMetadataRecord-shaped listings,
 * and merge semantics (tombstones drop replaced / rolled-back files).
 */
class HudiMetadataTableSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"))

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listing(t: HudiTable): Map[String, Map[String, Long]] =
    HudiMetadataTable.readFiles(
      fs(t.tablePath), spark.sparkContext.hadoopConfiguration, t.tablePath)

  test("layout: metadata table dir, own timeline, log naming, per-commit deltacommits") {
    val dir = tmpDir("hmt_layout")
    val t = HudiTable.create(spark, s"$dir/t", orders.limit(100))
    t.append(orders.limit(50))
    val f = fs(s"$dir/t")
    val props = new Path(s"$dir/t/.hoodie/metadata/.hoodie/hoodie.properties")
    assert(f.exists(props), "metadata table needs its own hoodie.properties")
    val filesDir = new Path(s"$dir/t/.hoodie/metadata/files")
    val logs = f.listStatus(filesDir).map(_.getPath.getName)
      .filter(HudiLogFormat.isLogPath)
    assert(logs.length == 2, s"one files-partition log per data commit: $logs")
    logs.foreach(n => assert(HudiLogFormat.parseLogFileName(n).nonEmpty,
      s"log name $n must follow the Hudi convention"))
    // metadata timeline mirrors the data timeline's instant times
    val metaTimeline = new HudiTimeline(
      s"$dir/t/.hoodie/metadata", spark.sparkContext.hadoopConfiguration)
    assert(metaTimeline.completedInstants().map(_.time) == t.instants)
    assert(metaTimeline.completedInstants().forall(_.action == "deltacommit"))
  }

  test("listing matches the live file set; overwrite tombstones replaced files") {
    val dir = tmpDir("hmt_listing")
    val t = HudiTable.create(spark, s"$dir/t", orders.limit(100).repartition(2))
    t.append(orders.limit(40))
    val live0 = t.fileSlices().map(s => new Path(s.basePath).getName).toSet
    assert(listing(t).values.flatMap(_.keys).toSet == live0)
    t.overwrite(orders.limit(10))
    val live1 = t.fileSlices().map(s => new Path(s.basePath).getName).toSet
    assert(listing(t).values.flatMap(_.keys).toSet == live1,
      "replaced files must be tombstoned out of the listing")
    // sizes come from the write stats, not stat calls
    val sizes = listing(t).values.flatten.toMap
    t.fileSlices().foreach(s =>
      assert(sizes(new Path(s.basePath).getName) == s.baseSize))
  }

  test("partitioned table: listing keyed by partition path") {
    val dir = tmpDir("hmt_part")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val t = HudiTable.create(spark, s"$dir/t", src, Seq("o_orderstatus"))
    val byPart = listing(t)
    assert(byPart.keySet == t.fileSlices().map(_.partitionPath).toSet)
    assert(byPart.keys.forall(_.startsWith("o_orderstatus=")))
  }

  test("column_stats partition: real layout, hash-concat keys, ranges match footers") {
    val dir = tmpDir("hmt_colstats")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val t = HudiTable.create(spark, s"$dir/t", src, Seq("o_orderstatus"))
    val f = fs(s"$dir/t")
    val csDir = new Path(s"$dir/t/.hoodie/metadata/column_stats")
    assert(f.exists(csDir), "stats-bearing commits must maintain column_stats")
    val logs = f.listStatus(csDir).map(_.getPath.getName).filter(HudiLogFormat.isLogPath)
    assert(logs.nonEmpty && logs.forall(n => HudiLogFormat.parseLogFileName(n).nonEmpty))
    // the deltacommit carries the column_stats write stat alongside files
    val metaTimeline = new HudiTimeline(
      s"$dir/t/.hoodie/metadata", spark.sparkContext.hadoopConfiguration)
    val lastMeta = metaTimeline.readCommitMetadata(metaTimeline.completedInstants().last)
    assert(lastMeta.partitionToWriteStats.keySet ==
      Set(HudiMetadataTable.FilesPartition, HudiMetadataTable.ColumnStatsPartition))
    // replayed rows agree with the parquet-footer sidecar on every range
    val hconf = spark.sparkContext.hadoopConfiguration
    val replayed = HudiMetadataTable.readColumnStats(f, hconf, s"$dir/t")
    assert(replayed.nonEmpty)
    val sidecar = HudiColStats.read(spark, s"$dir/t", t.instants).toSeq
      .flatMap { case ((_, fileName), cols) => cols.map(c => (fileName, c.column) ->
        (c.minValue, c.maxValue, c.numNulls, c.numValues)) }.toMap
    replayed.foreach { case (fileName, c) =>
      val s = sidecar((fileName, c.column))
      assert((c.minValue, c.maxValue, c.numNulls, c.numValues) == s,
        s"column_stats row for ($fileName, ${c.column}) diverges from the sidecar")
    }
    // keys follow Hudi's concatenated index-ID scheme (3 × base64 of an
    // 8-byte hash = 3 × 12 chars)
    val key = HudiMetadataTable.columnStatsKey("o_orderkey", "o_orderstatus=F", "x.parquet")
    assert(key.length == 36 && key == HudiMetadataTable.columnStatsKey(
      "o_orderkey", "o_orderstatus=F", "x.parquet"))
    assert(key != HudiMetadataTable.columnStatsKey("o_orderkey", "o_orderstatus=O", "x.parquet"))
  }

  test("column_stats min/max encode as Hudi's typed wrapper records per column type") {
    import spark.implicits._
    val dir = tmpDir("hmt_typed")
    val df = Seq(
      (1, 10L, 1.5d, BigDecimal("12.34"), java.sql.Date.valueOf("2023-10-05"),
        java.sql.Timestamp.valueOf("2023-10-05 12:00:00"), "alpha"),
      (5, 99L, 9.75d, BigDecimal("99.01"), java.sql.Date.valueOf("2024-01-31"),
        java.sql.Timestamp.valueOf("2024-01-31 23:59:59"), "zulu")
    ).toDF("i", "l", "d", "dec", "dt", "ts", "s")
    // one data file → one stats record per column (the wrappers map
    // below keys by column name). Timestamps must land as int64 micros:
    // the INT96 legacy form carries no usable footer range, so its
    // bounds are (correctly) never indexed.
    val prevTs = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try HudiTable.create(spark, s"$dir/t", df.coalesce(1))
    finally prevTs match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val f = fs(s"$dir/t")
    val hconf = spark.sparkContext.hadoopConfiguration
    val csDir = new Path(s"$dir/t/.hoodie/metadata/column_stats")
    val logs = f.listStatus(csDir).map(_.getPath)
      .filter(p => HudiLogFormat.isLogPath(p.getName))
    // raw records: minValue must be the per-type wrapper record a native
    // Hudi reader unwraps (HoodieMetadata.avsc union; ref
    // HudiFileStatsExtractor.java:196-210)
    val wrappers = logs.flatMap { p =>
      HudiLogFormat.readBlocks(f, p).flatMap { b =>
        val schema = new org.apache.avro.Schema.Parser()
          .parse(b.headers(HudiLogFormat.HeaderSchema))
        HudiLogFormat.decodeAvroBlock(b.content, schema)
      }
    }.flatMap { rec =>
      Option(rec.get("ColumnStatsMetadata"))
        .map(_.asInstanceOf[org.apache.avro.generic.GenericRecord])
    }.map { cs =>
      cs.get("columnName").toString ->
        cs.get("minValue").asInstanceOf[org.apache.avro.generic.GenericRecord]
    }.toMap
    assert(wrappers("i").getSchema.getName == "IntWrapper")
    assert(wrappers("l").getSchema.getName == "LongWrapper")
    assert(wrappers("d").getSchema.getName == "DoubleWrapper")
    assert(wrappers("dec").getSchema.getName == "DecimalWrapper")
    assert(wrappers("dt").getSchema.getName == "DateWrapper")
    assert(wrappers("ts").getSchema.getName == "TimestampMicrosWrapper")
    assert(wrappers("s").getSchema.getName == "StringWrapper")
    assert(wrappers("i").get("value") == 1)
    assert(wrappers("l").get("value") == 10L)
    assert(wrappers("d").get("value") == 1.5d)
    assert(wrappers("dt").get("value") ==
      java.time.LocalDate.parse("2023-10-05").toEpochDay.toInt)
    assert(wrappers("s").get("value").toString == "alpha")
    val decBuf = wrappers("dec").get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
    val decBytes = new Array[Byte](decBuf.remaining()); decBuf.get(decBytes)
    assert(new java.math.BigDecimal(new java.math.BigInteger(decBytes),
      HudiMetadataTable.DecimalWrapperScale).compareTo(new java.math.BigDecimal("12.34")) == 0)
    // the replay unwraps back to this engine's canonical stat strings
    val replayed = HudiMetadataTable.readColumnStats(f, hconf, s"$dir/t")
      .map { case (_, c) => c.column -> c.minValue.get }.toMap
    assert(replayed("i") == "1" && replayed("l") == "10")
    assert(replayed("dec") == "12.34")
    assert(replayed("dt") ==
      java.time.LocalDate.parse("2023-10-05").toEpochDay.toString)
    assert(replayed("ts") == wrappers("ts").get("value").toString)
    assert(replayed("s") == "alpha")
  }

  test("xxhash64 index IDs match Spark's reference XXH64 implementation") {
    for (s <- Seq("", "a", "abc", "o_orderkey", "a-longer-string-over-32-bytes-to-hit-the-stripe-loop",
        "o_orderstatus=F", "2023/10/05")) {
      val bytes = s.getBytes("UTF-8")
      val expected = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 0L)
      assert(graft.util.XxHash64.hash(bytes) == expected, s"hash mismatch for '$s'")
    }
  }

  test("stats skipping answers from the column_stats partition when the sidecar is gone") {
    val dir = tmpDir("hmt_skip")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    // range-cluster into 4 disjoint files so min/max skipping can prune
    val t = HudiTable.create(spark, s"$dir/t",
      src.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    val expected = src.filter(col("o_orderkey") <= lit(100)).count()
    val allFiles = t.scan.files().size
    def prunedScan() = t.scan.range("o_orderkey", None, Some(100L))
    val filesSidecar = prunedScan().files().size
    val rowsSidecar = prunedScan().toDF().filter(col("o_orderkey") <= 100).count()
    assert(filesSidecar < allFiles, s"expected file skipping: $filesSidecar < $allFiles")
    // remove the parquet sidecar: the scan must fall back to the
    // metadata table's column_stats partition and prune identically
    val f = fs(s"$dir/t")
    f.listStatus(HudiColStats.dir(s"$dir/t")).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach(p => f.delete(p, false))
    val filesMeta = prunedScan().files().size
    val rowsMeta = prunedScan().toDF().filter(col("o_orderkey") <= 100).count()
    assert(filesMeta == filesSidecar, "either index must prune the same files")
    assert(rowsSidecar == expected && rowsMeta == expected)
    // and the fallback path genuinely engages
    assert(HudiColStats.read(spark, s"$dir/t", t.instants).nonEmpty)
  }

  test("col_stats sidecars from Spark's parquet writer and the driver writer read back alike") {
    import graft.model.ColumnStatRow
    val dir = tmpDir("hmt_sidecar_compat")
    val table = s"$dir/t"
    val files = Seq(
      ("", "a.parquet", Seq(
        ColumnStatRow("k", Some("1"), Some("9"), 0L, 10L, 80L),
        ColumnStatRow("s", None, None, 10L, 10L, 40L))),
      ("p=1", "b.parquet", Seq(ColumnStatRow("k", Some("-5"), Some("20"), 1L, 5L, 60L))))
    val expected = files.map { case (pp, fn, cols) => (pp, fn) -> cols }.toMap
    val rows = for ((pp, fn, cols) <- files; c <- cols) yield org.apache.spark.sql.Row(
      pp, fn, c.column, c.minValue.orNull, c.maxValue.orNull, c.numNulls, c.numValues, c.totalSize)
    // a sidecar as Spark's writer leaves it: one part file, renamed into place
    val staging = s"$dir/staging"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), HudiColStats.IndexSchema)
      .coalesce(1).write.parquet(staging)
    val f = fs(dir)
    val part = f.listStatus(new Path(staging)).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(part.length == 1)
    f.mkdirs(HudiColStats.dir(table))
    assert(f.rename(part.head, HudiColStats.indexFile(table, "001")))
    assert(HudiColStats.read(spark, table, Seq("001")) == expected)
    // the driver writer's sidecar reads back through Spark's parquet reader
    HudiColStats.write(spark, table, "002", files)
    val back = spark.read.schema(HudiColStats.IndexSchema)
      .parquet(HudiColStats.indexFile(table, "002").toString).collect().toSeq
    assert(back == rows)
    assert(HudiColStats.read(spark, table, Seq("002")) == expected)
  }

  test("rollback tombstones the revoked files; MOR upsert lists its log files") {
    val dir = tmpDir("hmt_roll")
    val t = HudiTable.createMor(spark, s"$dir/t", orders.limit(100), "o_orderkey")
    t.upsert(orders.limit(20).withColumn("o_orderstatus", lit("Z")))
    val withLogs = listing(t).values.flatMap(_.keys).toSet
    assert(withLogs.exists(HudiLogFormat.isLogPath),
      "the files partition must list MOR log files too")
    t.rollback() // revokes the upsert's log files
    val after = listing(t).values.flatMap(_.keys).toSet
    assert(!after.exists(HudiLogFormat.isLogPath), s"rolled-back logs must drop out: $after")
    assert(after == t.fileSlices().map(s => new Path(s.basePath).getName).toSet)
  }
}
