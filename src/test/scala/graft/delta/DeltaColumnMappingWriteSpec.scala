package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Column-mapping WRITE plane: enableColumnMapping / renameColumn /
  * dropColumn / addColumn DDL, physical-name staging for appends and
  * upserts, row-level deletes and change feeds on mapped tables —
  * the write-side twin of the existing read interop. */
class DeltaColumnMappingWriteSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def keys(t: DeltaTable): Seq[Long] =
    t.toDF().select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq

  test("enableColumnMapping is metadata-only: protocol 2/5, reads unchanged") {
    val dir = tmpDir("cm_enable")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    val before = keys(t)
    t.enableColumnMapping()
    val p = t.log.snapshot().protocol
    assert(p.minReaderVersion == 2 && p.minWriterVersion == 5)
    val meta = t.log.snapshot().metadata
    assert(meta.configuration.get("delta.columnMapping.mode").contains("name"))
    assert(meta.configuration("delta.columnMapping.maxColumnId").toLong == 3L)
    assert(keys(t) == before)
    // every field carries id + physicalName (logical-as-physical)
    val schema = DataType.fromJson(meta.schemaString).asInstanceOf[StructType]
    assert(schema.fields.forall(f =>
      f.metadata.contains("delta.columnMapping.id") &&
        f.metadata.getString("delta.columnMapping.physicalName") == f.name))
  }

  test("renameColumn is logical-only; history and new appends keep reading") {
    val dir = tmpDir("cm_rename")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    t.enableColumnMapping()
    val vRename = t.renameColumn("o_totalprice", "price")
    assert(t.toDF().columns.toSeq == Seq("o_orderkey", "o_orderstatus", "price"))
    // values survive the rename (files untouched)
    val sumBefore = orders.select(sum(col("o_totalprice").cast("decimal(18,2)"))).head.getDecimal(0)
    assert(t.toDF().select(sum(col("price").cast("decimal(18,2)"))).head.getDecimal(0) == sumBefore)
    // time travel to before the rename still shows the old name
    assert(t.toDF(versionAsOf = Some(vRename - 1)).columns.contains("o_totalprice"))
    // an append under the NEW logical name stages the OLD physical name
    val extra = orders.limit(10)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumnRenamed("o_totalprice", "price")
    t.append(extra, Seq.empty)
    assert(t.toDF().count() == orders.count() + 10)
    val newest = t.scan.files().maxBy(_.modificationTime).path
    val filePath = if (newest.startsWith("/")) newest else s"$dir/t/$newest"
    assert(spark.read.parquet(filePath).schema.fieldNames.contains("o_totalprice"),
      "staged file must carry the physical name")
  }

  test("dropColumn then addColumn of the same name reads old rows as NULL") {
    val dir = tmpDir("cm_drop")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    t.enableColumnMapping()
    t.dropColumn("o_orderstatus")
    assert(t.toDF().columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    t.addColumn(StructField("o_orderstatus", StringType))
    // fresh physical name + id: historical values do NOT resurrect
    assert(t.toDF().filter(col("o_orderstatus").isNotNull).count() == 0)
    val meta = t.log.snapshot().metadata
    val schema = DataType.fromJson(meta.schemaString).asInstanceOf[StructType]
    val readded = schema.fields.find(_.name == "o_orderstatus").get
    assert(readded.metadata.getString("delta.columnMapping.physicalName").startsWith("col-"))
    assert(readded.metadata.getLong("delta.columnMapping.id") == 4L)
    // new rows DO carry values for it
    val extra = orders.limit(5).withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    t.append(extra.select("o_orderkey", "o_totalprice", "o_orderstatus"), Seq.empty)
    assert(t.toDF().filter(col("o_orderstatus").isNotNull).count() == 5)
  }

  test("row-level delete and upsert work on a mapped, renamed table") {
    val dir = tmpDir("cm_rowlevel")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(3))
    t.enableColumnMapping()
    t.renameColumn("o_totalprice", "price")
    val all = keys(t)
    t.delete(col("o_orderkey") % 10 === 0)
    assert(keys(t) == all.filterNot(_ % 10 == 0))
    // upsert: update surviving % 4 keys via the renamed column
    val src = t.toDF().filter(col("o_orderkey") % 4 === 0)
      .withColumn("price", col("price") + 7.0)
    val n = src.count()
    t.upsert(src, Seq("o_orderkey"))
    assert(keys(t) == all.filterNot(_ % 10 == 0)) // same key set
    val bumped = t.toDF().filter(col("o_orderkey") % 4 === 0)
    assert(bumped.count() == n)
  }

  test("compact and purgeDeletes keep a mapped table's renamed column") {
    val dir = tmpDir("cm_rewrite")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(3))
    t.append(orders.repartition(3), Seq.empty)
    t.enableColumnMapping()
    t.renameColumn("o_orderkey", "key")
    t.delete(col("key") % 5 === 0)
    def live = t.toDF().select("key", "o_totalprice").collect().map(r => (r.getLong(0), r.get(1)))
      .sortBy(_._1).toSeq
    val before = live
    assert(t.purgeDeletes().isDefined)
    assert(live == before, "purgeDeletes changed the rows of the renamed column")
    assert(t.compact(smallFileBytes = 1L << 30).isDefined)
    assert(live == before, "compact changed the rows of the renamed column")
    assert(t.toDF().filter(col("key").isNull).count() == 0)
  }

  test("partitioned mapped table: physical partition dirs, pruning intact") {
    val dir = tmpDir("cm_part")
    val t = DeltaTable.create(spark, s"$dir/t", orders, Seq("o_orderstatus"))
    t.enableColumnMapping()
    t.renameColumn("o_orderstatus", "status")
    val extra = orders.limit(20)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumnRenamed("o_orderstatus", "status")
    t.append(extra, Seq.empty)
    assert(t.toDF().count() == orders.count() + 20)
    // partitionValues keyed by the physical name
    val pv = t.scan.files().head.partitionValues
    assert(pv.keySet == Set("o_orderstatus"))
    // pruning through the scan builder still speaks the LOGICAL name
    val f = t.scan.partitionIn("status", Set("F")).toDF()
    assert(f.count() == t.toDF().filter(col("status") === "F").count())
  }

  test("changeFeed on a mapped table: derive path and cdc path both project logical") {
    val dir = tmpDir("cm_feed")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    t.enableColumnMapping()
    t.renameColumn("o_totalprice", "price")
    // derive path: plain append
    val extra = orders.limit(8)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      .withColumnRenamed("o_totalprice", "price")
    val vAppend = t.append(extra, Seq.empty)
    val feed1 = t.changeFeed(vAppend - 1, vAppend)
    assert(feed1.columns.contains("price") && !feed1.columns.contains("o_totalprice"))
    assert(feed1.filter(col("_change_type") === "insert").count() == 8)
    // cdc path: CDF-enabled row-level delete
    t.setProperties(Map("delta.enableChangeDataFeed" -> "true"))
    val vDel = t.delete(col("o_orderkey") % 5 === 0)
    val cdcs = t.log.readActions(vDel).collect { case c: AddCDCFile => c }
    assert(cdcs.nonEmpty)
    val feed2 = t.changeFeed(vDel - 1, vDel)
    val expect = t.toDF(versionAsOf = Some(vDel - 1))
      .filter(col("o_orderkey") % 5 === 0).count()
    assert(feed2.filter(col("_change_type") === "delete").count() == expect)
    assert(feed2.columns.contains("price"))
  }

  test("rename of a generated column's source and drops of partition columns are refused") {
    val dir = tmpDir("cm_guard")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
    val t = DeltaTable.create(spark, s"$dir/t", o, Seq("month(o_orderdate)"))
    t.enableColumnMapping()
    intercept[IllegalArgumentException](t.renameColumn("o_orderdate", "od"))
    intercept[IllegalArgumentException](t.dropColumn("o_orderdate_month"))
    // unmapped tables refuse the mapped-only DDL
    val t2 = DeltaTable.create(spark, s"$dir/t2", orders.limit(5))
    intercept[IllegalArgumentException](t2.renameColumn("o_totalprice", "x"))
    intercept[IllegalArgumentException](t2.dropColumn("o_totalprice"))
  }
}
