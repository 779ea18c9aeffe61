package graft.iceberg

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class IcebergTableSpec extends SparkTestBase {

  test("create + read returns identical rows") {
    val dir = tmpDir("ice_create")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    IcebergTable.create(spark, s"$dir/t", src)
    val back = IcebergTable.forPath(spark, s"$dir/t").toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("append produces a new snapshot; time travel sees the old one") {
    val dir = tmpDir("ice_tt")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = IcebergTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    val ids = t.snapshotIds
    assert(ids.size == 2)
    val v0 = t.toDF(snapshotAsOf = Some(ids.head))
    assert(v0.filter(col("o_orderkey") % 2 === 1).count() == 0)
    assert(t.toDF().count() == src.count())
  }

  test("overwrite keeps old snapshots readable") {
    val dir = tmpDir("ice_ow")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = IcebergTable.create(spark, s"$dir/t", src)
    t.overwrite(src.limit(2))
    assert(t.toDF().count() == 2)
    assert(t.toDF(snapshotAsOf = Some(t.snapshotIds.head)).count() == src.count())
  }

  test("changesAsDF returns only rows added in the snapshot range") {
    val dir = tmpDir("ice_cdf")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val t = IcebergTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    val ids = t.snapshotIds
    val changes = t.changesAsDF(ids(0), ids(1))
    assert(changes.count() == src.filter(col("o_orderkey") % 2 === 1).count())
    assert(changes.filter(col("o_orderkey") % 2 === 0).count() == 0)
  }

  test("partition pruning via manifest partition struct") {
    val dir = tmpDir("ice_prune")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("l_returnflag"))
    val all = t.scan.files().size
    val pruned = t.scan.partitionIn("l_returnflag", Set("A")).files().size
    assert(pruned < all, s"expected pruning: $pruned < $all")
    val rows = t.scan.partitionIn("l_returnflag", Set("A")).toDF()
    assert(rows.count() == src.filter(col("l_returnflag") === "A").count())
  }

  test("min/max bounds skipping drops files outside the key range") {
    val dir = tmpDir("ice_skip")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .repartitionByRange(8, col("l_orderkey"))
    val t = IcebergTable.create(spark, s"$dir/t", src)
    val all = t.scan.files().size
    val skipped = t.scan.range("l_orderkey", Some(1L), Some(100L)).files().size
    assert(skipped < all, s"expected skipping: $skipped < $all")
    val rows = t.scan.range("l_orderkey", Some(1L), Some(100L)).toDF()
      .filter(col("l_orderkey").between(1, 100))
    val expected = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .filter(col("l_orderkey").between(1, 100))
    assert(rows.count() == expected.count())
  }

  test("convertFromParquet is metadata-only and row-identical") {
    val dir = tmpDir("ice_convert")
    val t = IcebergTable.convertFromParquet(spark, s"$sf0001/supplier.parquet", s"$dir/t")
    val src = spark.read.parquet(s"$sf0001/supplier.parquet")
    val back = t.toDF()
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("convertFromParquet records hive partition columns") {
    val dir = tmpDir("ice_convert_part")
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .write.partitionBy("l_returnflag").parquet(s"$dir/src")
    val t = IcebergTable.convertFromParquet(spark, s"$dir/src", s"$dir/t")
    assert(t.currentMetadata.partitionSpec.map(_.name) == Seq("l_returnflag"))
    val src = spark.read.parquet(s"$dir/src")
    val back = t.toDF()
    assert(back.filter(col("l_returnflag").isNull).count() == 0)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    val pruned = t.scan.partitionIn("l_returnflag", Set("A")).toDF()
    assert(pruned.count() == src.filter(col("l_returnflag") === "A").count())
  }

  test("metadata json round-trips through the codec") {
    val dir = tmpDir("ice_codec")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = IcebergTable.create(spark, s"$dir/t", src)
    val m = t.currentMetadata
    val back = IcebergMetadataCodec.fromJson(IcebergMetadataCodec.toJson(m))
    assert(back.tableUuid == m.tableUuid)
    assert(back.schema.fieldNames.toSeq == m.schema.fieldNames.toSeq)
    assert(back.snapshots.map(_.snapshotId) == m.snapshots.map(_.snapshotId))
    assert(back.currentSnapshotId == m.currentSnapshotId)
  }

  test("append without repeating partition columns inherits the table spec") {
    val dir = tmpDir("ice_spec_inherit")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val t = IcebergTable.create(spark, s"$dir/t",
      src.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"))
    t.append(src.filter(col("l_orderkey") % 2 === 1)) // no partition cols passed
    assert(t.currentMetadata.partitionSpec.map(_.name) == Seq("l_returnflag"))
    val back = t.toDF()
    assert(back.count() == src.count())
    // older hive-laid-out files still resolve their partition column
    assert(back.filter(col("l_returnflag").isNull).count() == 0)
    intercept[IllegalArgumentException] {
      t.append(src.limit(1), Seq("l_linestatus")) // mismatching spec rejected
    }
  }

  test("date-partitioned table round-trips values and prunes") {
    val dir = tmpDir("ice_date_part")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("o_date", to_date(col("o_orderdate")))
    val t = IcebergTable.create(spark, s"$dir/t", src, Seq("o_date"))
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.filter(col("o_date").isNull).count() == 0)
    val firstDay = src.agg(min(col("o_date"))).collect()(0).getDate(0).toString
    val pruned = t.scan.partitionIn("o_date", Set(firstDay))
    assert(pruned.files().size < t.scan.files().size)
    assert(pruned.toDF().count() == src.filter(col("o_date") === firstDay).count())
  }

  test("hive %XX unescaping: '+' stays literal, %3A decodes, bare % survives") {
    import graft.util.PathCodec
    assert(PathCodec.unescapePathName("a+b") == "a+b")
    assert(PathCodec.unescapePathName("12%3A34") == "12:34")
    assert(PathCodec.unescapePathName("100%") == "100%")
    assert(PathCodec.unescapePathName("%2Fx%25") == "/x%")
    assert(PathCodec.escapePathName("a/b:c") == "a%2Fb%3Ac")
    val roundTrip = "sp ace+plus%pct:colon/slash"
    assert(PathCodec.unescapePathName(PathCodec.escapePathName(roundTrip)) == roundTrip)
  }

  test("appending a new column evolves the schema with stable field ids") {
    val dir = tmpDir("ice_evolve")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val base = src.select(col("o_orderkey"), col("o_totalprice"))
    val t = IcebergTable.create(spark, s"$dir/t", base.filter(col("o_orderkey") % 2 === 0))
    val idsBefore = t.schema.fields.map(f => f.name -> IcebergSchemas.fieldId(f).get).toMap
    val schemaIdBefore = t.currentMetadata.currentSchemaId
    t.append(base.filter(col("o_orderkey") % 2 === 1)
      .withColumn("o_flag", lit("NEW")))
    // fresh handle sees the evolved schema; old ids stable, new id fresh
    val t2 = IcebergTable.forPath(spark, s"$dir/t")
    val idsAfter = t2.schema.fields.map(f => f.name -> IcebergSchemas.fieldId(f).get).toMap
    assert(idsAfter("o_orderkey") == idsBefore("o_orderkey"))
    assert(idsAfter("o_totalprice") == idsBefore("o_totalprice"))
    assert(idsAfter("o_flag") > idsBefore.values.max)
    assert(t2.currentMetadata.currentSchemaId == schemaIdBefore + 1)
    // pre-evolution rows read back with NULL for the new column
    val back = t2.toDF()
    assert(back.columns.contains("o_flag"))
    assert(back.filter(col("o_flag").isNull).count() == base.filter(col("o_orderkey") % 2 === 0).count())
    assert(back.filter(col("o_flag") === "NEW").count() == base.filter(col("o_orderkey") % 2 === 1).count())
    // time travel to the pre-evolution snapshot still answers
    val v0 = t2.toDF(snapshotAsOf = Some(t2.snapshotIds.head))
    assert(v0.count() == base.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("type widening on append: int column evolves to long with a stable id") {
    val dir = tmpDir("ice_widen")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val narrow = src.select(col("o_orderkey").cast("int").as("k"), col("o_totalprice"))
    val wide = src.select(col("o_orderkey").cast("long").as("k"), col("o_totalprice"))
    val t = IcebergTable.create(spark, s"$dir/t", narrow.filter(col("k") % 2 === 0))
    val idBefore = IcebergSchemas.fieldId(t.schema("k")).get
    t.append(wide.filter(col("k") % 2 === 1))
    val t2 = IcebergTable.forPath(spark, s"$dir/t")
    assert(t2.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(IcebergSchemas.fieldId(t2.schema("k")).contains(idBefore))
    // INT32 files null-free read through the widened LONG schema
    assert(t2.toDF().count() == src.count())
    assert(t2.toDF().filter(col("k").isNull).count() == 0)
  }

  test("commit is put-if-absent: stale metadata version loses the race") {
    val dir = tmpDir("ice_race")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = IcebergTable.create(spark, s"$dir/t", src)
    val (v, m) = t.log.readLatest().get
    assert(!t.log.commit(v, m)) // same version again → lost
    assert(t.log.commit(v + 1, m))
  }

  test("avro conversion under an escapable source dir keeps raw paths and sizes") {
    // input_file_name() URL-encodes ("a b" → "a%20b"); the stats job
    // must decode before the manifests carry the path, or the scan
    // opens a nonexistent encoded path and every size resolves to 0
    val dir = tmpDir("ice_avro_esc")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice").repartition(2)
    graft.sources.AvroDataFiles.write(src, s"$dir/a b%25/avro")
    val t = IcebergTable.convertFromAvro(spark, s"$dir/a b%25/avro", s"$dir/t")
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    assert(t.scan.files().forall(_.fileSizeBytes > 0L), "sizes must key through decoded paths")
  }

  test("avro data files: distributed write, metadata-only convert, identical read, stats prune") {
    val dir = tmpDir("ice_avro")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .repartitionByRange(4, col("o_orderkey"))
    val files = graft.sources.AvroDataFiles.write(src, s"$dir/avro")
    assert(files.size == 4 && files.forall(_.endsWith(".avro")))
    val t = IcebergTable.convertFromAvro(spark, s"$dir/avro", s"$dir/t")
    // schema round-trips through the avro container header
    assert(t.sparkSchema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // agg-job stats landed in the manifests and prune range scans
    val all = t.scan.files().size
    val pruned = t.scan.range("o_orderkey", Some(1L), Some(8L)).files().size
    assert(pruned < all, s"expected bounds pruning on avro stats: $pruned < $all")
    // no parquet/avro copied under the table root (metadata only)
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(root).forall(_.getPath.getName == "metadata"))
  }

  test("orc data files: native write, metadata-only convert, identical read, footer-stats prune") {
    val dir = tmpDir("ice_orc")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .repartitionByRange(4, col("o_orderkey"))
    val files = graft.sources.OrcDataFiles.write(src, s"$dir/orc")
    assert(files.size == 4 && files.forall(_.endsWith(".orc")))
    val t = IcebergTable.convertFromOrc(spark, s"$dir/orc", s"$dir/t")
    assert(t.sparkSchema.fieldNames.toSeq == src.schema.fieldNames.toSeq)
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // ORC footer stats landed in the manifests and prune range scans
    val all = t.scan.files().size
    val pruned = t.scan.range("o_orderkey", Some(1L), Some(8L)).files().size
    assert(pruned < all, s"expected bounds pruning on orc footer stats: $pruned < $all")
    // timestamp/date bounds canonicalized like parquet footers
    val stats = graft.sources.OrcDataFiles.collectStats(spark, files, src.schema)
    val dateCol = stats.flatMap(_.columns).filter(_.column == "o_orderdate")
    assert(dateCol.nonEmpty && dateCol.forall(c => c.minValue.exists(_.forall(ch =>
      ch.isDigit || ch == '-'))), s"o_orderdate bounds not canonical: ${dateCol.take(2)}")
    // no data copied under the table root (metadata only)
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(root).forall(_.getPath.getName == "metadata"))
  }

  test("written parquet footers carry iceberg field ids; metadata carries a name mapping") {
    val dir = tmpDir("ice_fieldids")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    val t = IcebergTable.create(spark, s"$dir/t", src)
    // footer schema: every column tagged with its iceberg id
    val expected = t.schema.fields.map(f => f.name -> IcebergSchemas.fieldId(f).get).toMap
    val file = new org.apache.hadoop.fs.Path(t.scan.files().head.filePath)
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val msgType = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    expected.foreach { case (name, id) =>
      val pf = msgType.getType(Seq(name): _*)
      assert(pf.getId != null && pf.getId.intValue() == id,
        s"column $name: footer id ${pf.getId} != iceberg id $id")
    }
    // name-mapping property present and naming every field
    val nm = t.currentMetadata.properties("schema.name-mapping.default")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(nm)
    assert(parsed.isArray && parsed.size() == src.schema.size)
    expected.foreach { case (name, id) =>
      val entry = (0 until parsed.size()).map(parsed.get)
        .find(_.get("names").get(0).asText() == name).get
      assert(entry.get("field-id").asInt() == id)
    }
  }

  test("name mapping covers nested collection ids") {
    import org.apache.spark.sql.types._
    val schema = IcebergSchemas.assignFieldIds(StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, ArrayType(IntegerType))),
      StructField("loc", StructType(Seq(
        StructField("lat", DoubleType), StructField("lon", DoubleType)))))))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergSchemas.nameMappingJson(schema))
    def entryOf(node: com.fasterxml.jackson.databind.JsonNode, name: String) =
      (0 until node.size()).map(node.get).find(_.get("names").get(0).asText() == name).get
    // list element rides the stamped collection id
    val tags = entryOf(parsed, "tags")
    assert(entryOf(tags.get("fields"), "element").get("field-id").asInt() ==
      IcebergSchemas.collIdsOf(schema("tags")).head)
    // map key/value/element-of-value in depth-first stamped order
    val attrs = entryOf(parsed, "attrs")
    val attrIds = IcebergSchemas.collIdsOf(schema("attrs"))
    assert(entryOf(attrs.get("fields"), "key").get("field-id").asInt() == attrIds(0))
    val value = entryOf(attrs.get("fields"), "value")
    assert(value.get("field-id").asInt() == attrIds(1))
    assert(entryOf(value.get("fields"), "element").get("field-id").asInt() == attrIds(2))
    // nested struct children carry their own field ids
    val loc = entryOf(parsed, "loc")
    assert(entryOf(loc.get("fields"), "lat").get("field-id").asInt() ==
      IcebergSchemas.fieldId(schema("loc").dataType.asInstanceOf[StructType]("lat")).get)
  }

  test("corrupt current snapshot recovers to the parent and clears sync state") {
    val dir = tmpDir("ice_recover")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val even = src.filter(col("o_orderkey") % 2 === 0)
    val t = IcebergTable.create(spark, s"$dir/t", even)
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    // plant a watermark property like a sync target would carry
    val (v, m) = t.log.readLatest().get
    assert(t.log.commit(v + 1, m.copy(properties =
      m.properties + ("graft.sync.last.synced.version" -> "1"))))
    val healthy = t.recoverIfCorrupt()
    assert(!healthy) // intact table → no repair commit
    // crashed writer: the newest snapshot's manifest list vanishes
    val snap = t.currentMetadata.currentSnapshot.get
    val fs = new org.apache.hadoop.fs.Path(s"$dir/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(snap.manifestList), false))
    intercept[Exception] { t.toDF().count() }
    assert(t.recoverIfCorrupt())
    val meta = t.currentMetadata
    assert(meta.currentSnapshotId == snap.parentId)
    assert(!meta.snapshots.exists(_.snapshotId == snap.snapshotId))
    assert(meta.properties.keys.forall(!_.startsWith("graft.sync.")))
    // the recovered table reads at the parent snapshot's content
    val back = t.toDF()
    assert(back.count() == even.count())
    assert(back.filter(col("o_orderkey") % 2 === 1).count() == 0)
  }

  test("iceberg bucket hashing matches the spec's Appendix B test vectors") {
    import graft.functions.IcebergMurmur3
    assert(IcebergMurmur3.hashLong(34L) == 2017239379)          // int and long 34
    assert(IcebergMurmur3.hashBytes(
      "iceberg".getBytes(java.nio.charset.StandardCharsets.UTF_8)) == 1210000089)
    assert(IcebergMurmur3.hashLong(17486L) == -653330422)       // date 2017-11-16
    assert(IcebergMurmur3.hashLong(1510871468000000L) == -2047944441) // timestamp micros
  }

  test("bucket and truncate hidden partitioning: full round trip plus pruning") {
    val dir = tmpDir("iceberg-bucket")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
    val t = IcebergTable.create(spark, s"$dir/t", src.repartition(4),
      Seq("bucket[4](o_custkey)", "truncate[2](o_orderpriority)"))
    // completeness: every row comes back exactly once
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.agg(sum(col("o_custkey"))).head.getLong(0) ==
      src.agg(sum(col("o_custkey"))).head.getLong(0))
    // bucket pruning: equality on the SOURCE column scans only that
    // bucket's files
    val all = t.scan.files()
    val key = src.select("o_custkey").head.getLong(0)
    val pruned = t.scan.range("o_custkey", Some(key), Some(key)).files()
    assert(pruned.size < all.size, s"bucket prune did not drop files: ${pruned.size}/${all.size}")
    val expectBucket = graft.functions.IcebergMurmur3
      .bucketValue(org.apache.spark.sql.types.LongType, key.toString, 4).toString
    assert(pruned.forall(_.partitionValues("o_custkey_bucket") == expectBucket))
    assert(t.entriesDF(t.currentMetadata, pruned).filter(col("o_custkey") === key).count() ==
      src.filter(col("o_custkey") === key).count())
    // truncate pruning: priority equality scans only its prefix dirs
    val pr = src.select("o_orderpriority").head.getString(0)
    val prunedT = t.scan.range("o_orderpriority", Some(pr), Some(pr)).files()
    assert(prunedT.size < all.size)
    assert(prunedT.forall(_.partitionValues("o_orderpriority_trunc") == pr.take(2)))
  }

  test("removeOrphanFiles deletes stranded files but keeps every retained snapshot's data") {
    val dir = tmpDir("iceberg-orphan")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val t = IcebergTable.create(spark, s"$dir/t", src.filter(col("o_orderkey") % 2 === 0))
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    // a failed writer's leftover parquet no snapshot references
    val fs = new org.apache.hadoop.fs.Path(s"$dir/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/t/part-orphan-deadbeef.parquet")
    val out = fs.create(orphan, true); out.write(Array.fill(64)(7.toByte)); out.close()
    val dry = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000, dryRun = true)
    assert(dry.exists(_.endsWith("part-orphan-deadbeef.parquet")))
    assert(fs.exists(orphan)) // dry run touches nothing
    val gone = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000)
    assert(gone.exists(_.endsWith("part-orphan-deadbeef.parquet")))
    assert(!fs.exists(orphan))
    // both snapshots still read fully (their files were pinned)
    assert(t.toDF().count() == src.count())
    assert(t.toDF(snapshotAsOf = Some(t.snapshotIds.head)).count() ==
      src.filter(col("o_orderkey") % 2 === 0).count())
  }

  test("reads a format-version-1 table: singular schema, no sequence numbers, v1 manifest names") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = tmpDir("iceberg-v1")
    val root = s"$dir/t"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/metadata"))
    // one real parquet data file
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    src.coalesce(1).write.parquet(s"$root/data")
    val dataFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .filter(_.getPath.getName.endsWith(".parquet")).head
    // v1 manifest: no sequence-number fields anywhere
    val entrySchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin.replace("\n",""))
    val manifestPath = new org.apache.hadoop.fs.Path(s"$root/metadata/m0.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](entrySchema))
      val out = fs.create(manifestPath, true)
      w.create(entrySchema, out)
      val rec = new GenericData.Record(entrySchema)
      rec.put("status", 1)
      rec.put("snapshot_id", 77L)
      val df = new GenericData.Record(entrySchema.getField("data_file").schema())
      df.put("file_path", dataFile.getPath.toUri.getPath)
      df.put("file_format", "PARQUET")
      df.put("partition", new GenericData.Record(
        entrySchema.getField("data_file").schema().getField("partition").schema()))
      df.put("record_count", src.count())
      df.put("file_size_in_bytes", dataFile.getLen)
      rec.put("data_file", df)
      w.append(rec)
      w.close()
    }
    // v1 manifest list: v1 field names (added_data_files_count), no seq
    val listSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null},
        |{"name":"added_data_files_count","type":["null","int"],"default":null},
        |{"name":"existing_data_files_count","type":["null","int"],"default":null},
        |{"name":"deleted_data_files_count","type":["null","int"],"default":null}]}"""
        .stripMargin.replace("\n",""))
    val listPath = new org.apache.hadoop.fs.Path(s"$root/metadata/snap-77.avro")
    locally {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](listSchema))
      val out = fs.create(listPath, true)
      w.create(listSchema, out)
      val rec = new GenericData.Record(listSchema)
      rec.put("manifest_path", manifestPath.toString)
      rec.put("manifest_length", fs.getFileStatus(manifestPath).getLen)
      rec.put("partition_spec_id", 0)
      rec.put("added_snapshot_id", 77L)
      rec.put("added_data_files_count", 1)
      rec.put("existing_data_files_count", 0)
      rec.put("deleted_data_files_count", 0)
      w.append(rec)
      w.close()
    }
    // v1 metadata.json: format-version 1, singular schema + partition-spec
    val schemaJson = graft.iceberg.IcebergSchemas.toJson(
      graft.iceberg.IcebergSchemas.assignFieldIds(src.schema), 0).toString
    val metaJson =
      s"""{"format-version":1,"table-uuid":"11111111-2222-3333-4444-555555555555",
         |"location":"$root","last-updated-ms":1700000000000,"last-column-id":2,
         |"schema":$schemaJson,
         |"partition-spec":[],
         |"properties":{},
         |"current-snapshot-id":77,
         |"snapshots":[{"snapshot-id":77,"timestamp-ms":1700000000000,
         |"manifest-list":"$listPath","summary":{"operation":"append"}}],
         |"snapshot-log":[{"timestamp-ms":1700000000000,"snapshot-id":77}]}"""
        .stripMargin.replace("\n","")
    val mf = fs.create(new org.apache.hadoop.fs.Path(s"$root/metadata/v1.metadata.json"), true)
    mf.write(metaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)); mf.close()
    // the engine reads the v1 table like any other
    val t = IcebergTable.forPath(spark, root)
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.agg(sum(col("o_orderkey"))).head.getLong(0) ==
      src.agg(sum(col("o_orderkey"))).head.getLong(0))
    assert(t.snapshotIds == Seq(77L))
  }

  test("spec-evolved table plans from metadata only: file selection with data deleted") {
    val dir = tmpDir("ice_specevo_plan")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    val t = IcebergTable.create(spark, s"$dir/t",
      src.filter(col("o_orderkey") % 2 === 0), Seq("o_orderstatus"))
    t.evolvePartitionSpec(Seq("o_orderpriority"))
    t.append(src.filter(col("o_orderkey") % 2 === 1))
    val nLive = t.scan.files().size
    // constructive zero-FS-planning proof (the ManifestFileIndexSpec
    // pattern applied to a REAL mixed-spec table): delete every data
    // file; planning — including each era relation's file selection —
    // must still succeed because it reads only manifests
    val root = new org.apache.hadoop.fs.Path(s"$dir/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).filter(_.getPath.getName != "metadata")
      .foreach(st => fs.delete(st.getPath, true))
    val scans = t.toDF().queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 2, s"one relation per spec era, got ${scans.size}")
    val selected = scans.map(_.selectedPartitions.toPartitionArray.length).sum
    assert(selected == nLive, s"planned $selected of $nLive live files")
  }

  test("branch writes: isolation, stacking, fast-forward publish, divergence refused") {
    val dir = tmpDir("ice_wap")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
    val even = src.filter(col("o_orderkey") % 2 === 0)
    val odd = src.filter(col("o_orderkey") % 2 === 1)
    val t = IcebergTable.create(spark, s"$dir/t", even)

    // two stacked branch appends; main never moves
    t.appendToBranch(odd.filter(col("o_orderkey") % 4 === 1), "audit")
    t.appendToBranch(odd.filter(col("o_orderkey") % 4 === 3), "audit")
    assert(t.toDF().count() == even.count())
    assert(t.scanRef("audit").toDF().count() == src.count())
    // the branch head's parent chain reaches main's current snapshot
    val m = t.currentMetadata
    assert(m.refs("audit").refType == "branch")

    // publish: main == full data; time travel to the pre-publish head
    // still answers the even half
    val preMain = t.currentMetadata.currentSnapshotId.get
    t.fastForward("audit")
    assert(t.toDF().count() == src.count())
    assert(t.toDF(snapshotAsOf = Some(preMain)).count() == even.count())

    // a branch created BEFORE main advanced no longer fast-forwards
    val t2 = IcebergTable.create(spark, s"$dir/t2", even.limit(10))
    t2.appendToBranch(odd.limit(5), "stale")
    t2.append(even.limit(3).withColumn("o_orderkey", col("o_orderkey") + 5000000L))
    val e = intercept[IllegalArgumentException](t2.fastForward("stale"))
    assert(e.getMessage.contains("not a fast-forward"))

    // a tag cannot be written to
    t2.createTag("pin")
    val e2 = intercept[IllegalArgumentException](
      t2.appendToBranch(odd.limit(1), "pin"))
    assert(e2.getMessage.contains("not a branch"))
  }

  test("partition-spec evolution: both eras read, per-spec pruning, ids reused") {
    val dir = tmpDir("ice_specevo")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    val t = IcebergTable.create(spark, s"$dir/t",
      src.filter(col("o_orderkey") % 2 === 0), Seq("o_orderstatus"))
    t.evolvePartitionSpec(Seq("o_orderpriority"))

    // metadata carries both specs; the new one is default with a fresh
    // field id, the retired one keeps id 1000
    val m1 = t.currentMetadata
    assert(m1.defaultSpecId == 1)
    assert(m1.partitionSpec.map(f => (f.name, f.fieldId)) == Seq(("o_orderpriority", 1001)))
    assert(m1.olderSpecs == Seq(0 -> Seq(
      m1.olderSpecs.head._2.head)) && m1.olderSpecs.head._2.map(_.name) == Seq("o_orderstatus"))

    t.append(src.filter(col("o_orderkey") % 2 === 1))

    // full read: both eras' identity columns materialize correctly
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)

    // the manifest list references both spec ids
    val listPath = new org.apache.hadoop.fs.Path(
      t.currentMetadata.currentSnapshot.get.manifestList)
    val specIds = IcebergManifests.readManifestList(
      spark.sparkContext.hadoopConfiguration, listPath).map(_.partitionSpecId).toSet
    assert(specIds == Set(0, 1), s"manifest list spec ids: $specIds")

    // pruning on the OLD field: old-spec files of other statuses drop,
    // every new-spec file survives (it cannot be pruned on a field it
    // was never partitioned by) — and the row answer stays exact
    val all = t.scan.files()
    val pruned = t.scan.partitionIn("o_orderstatus", Set("O")).files()
    val oldSpecAll = all.count(_.partitionValues.contains("o_orderstatus"))
    val oldSpecPruned = pruned.count(_.partitionValues.contains("o_orderstatus"))
    val newSpecAll = all.count(_.partitionValues.contains("o_orderpriority"))
    val newSpecPruned = pruned.count(_.partitionValues.contains("o_orderpriority"))
    assert(oldSpecPruned < oldSpecAll, "old-spec files were not pruned on the old field")
    assert(newSpecPruned == newSpecAll, "new-spec files must survive old-field pruning")
    val got = t.scan.partitionIn("o_orderstatus", Set("O")).toDF()
      .filter(col("o_orderstatus") === "O")
      .agg(count(lit(1)), sum(col("o_orderkey"))).head
    val want = src.filter(col("o_orderstatus") === "O")
      .agg(count(lit(1)), sum(col("o_orderkey"))).head
    assert(got == want)

    // pruning on the NEW field symmetrically keeps all old-spec files
    val prunedNew = t.scan.partitionIn("o_orderpriority", Set("1-URGENT")).files()
    assert(prunedNew.count(_.partitionValues.contains("o_orderstatus")) == oldSpecAll,
      "old-spec files must survive new-field pruning")

    // evolving BACK to the original spec reactivates id 0 (no spec spam)
    t.evolvePartitionSpec(Seq("o_orderstatus"))
    val m2 = t.currentMetadata
    assert(m2.defaultSpecId == 0)
    assert(m2.allSpecs.map(_._1) == Seq(0, 1))
  }
}
