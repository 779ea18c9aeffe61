package graft.model

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.delta.{AddFile, DeltaTable}
import graft.iceberg.IcebergTable
import graft.sync.SyncEngine

class PartitionTransformSpec extends SparkTestBase {

  test("spec parse / emit round-trips") {
    assert(PartitionTransform.parse("c") == PartitionFieldDef("c", "identity"))
    assert(PartitionTransform.parse("identity(c)") == PartitionFieldDef("c", "identity"))
    assert(PartitionTransform.parse("month(ts)") == PartitionFieldDef("ts", "month"))
    assert(PartitionTransform.parse("HOUR(ts) as h") == PartitionFieldDef("ts", "hour", Some("h")))
    assert(PartitionTransform.parse("month(ts)").fieldName == "ts_month")
    assert(PartitionTransform.parse(PartitionTransform.parse("month(ts) as m").spec)
      == PartitionFieldDef("ts", "month", Some("m")))
    // reference CLI `path:type[:format]` shape
    assert(PartitionTransform.parse("o_orderdate:MONTH:yyyy-MM")
      == PartitionFieldDef("o_orderdate", "month"))
    assert(PartitionTransform.parse("region:VALUE") == PartitionFieldDef("region", "identity"))
    assert(PartitionTransform.parse("ts:hour") == PartitionFieldDef("ts", "hour"))
    intercept[IllegalArgumentException] {
      PartitionTransform.parse("o_orderdate:MONTH:yyyy/MM")
    }
  }

  test("ordinal codecs match the Iceberg spec forms") {
    import TimeGranularity._
    assert(PartitionTransform.toOrdinal(Year, "1970") == 0)
    assert(PartitionTransform.toOrdinal(Year, "2024") == 54)
    assert(PartitionTransform.toOrdinal(Month, "1970-01") == 0)
    assert(PartitionTransform.toOrdinal(Month, "1995-03") == 302)
    assert(PartitionTransform.toOrdinal(Day, "1970-01-02") == 1)
    assert(PartitionTransform.toOrdinal(Hour, "1970-01-01-05") == 5)
    for (g <- TimeGranularity.all; ord <- Seq(0, 17, 302, 9999))
      assert(PartitionTransform.toOrdinal(g, PartitionTransform.fromOrdinal(g, ord)) == ord)
  }

  test("truncate maps literals to canonical partition strings") {
    import TimeGranularity._
    assert(PartitionTransform.truncate(Month, "1995-03-17 10:22:33") == "1995-03")
    assert(PartitionTransform.truncate(Month, "1995-03-17") == "1995-03")
    assert(PartitionTransform.truncate(Year, "1995-03") == "1995")
    assert(PartitionTransform.truncate(Day, "1995-03-17 10:22:33") == "1995-03-17")
    assert(PartitionTransform.truncate(Hour, "1995-03-17 10:22:33") == "1995-03-17-10")
    // canonical epoch-micros form (stat strings)
    assert(PartitionTransform.truncate(Day, "794400000000000") == "1995-03-05")
  }

  test("Delta month partitioning: generated column + partition prune on source range") {
    val dir = tmpDir("delta_month")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val t = DeltaTable.create(spark, s"$dir/t", o, Seq("month(o_orderdate)"))
    val (schema, partCols) = t.schemaAt(None)
    assert(partCols == Seq("o_orderdate_month"))
    assert(schema("o_orderdate_month").metadata.contains("delta.generationExpression"))
    // full read round-trips
    assert(t.toDF().count() == o.count())
    // range on the SOURCE column prunes partitions
    val all = t.scan.files().size
    val pruned = t.scan
      .range("o_orderdate", Some("1995-06-01 00:00:00"), Some("1995-08-31 23:59:59"))
      .files().size
    assert(pruned < all)
    val expected = o.filter(col("o_orderdate").between("1995-06-01", "1995-08-31 23:59:59"))
    val got = t.scan
      .range("o_orderdate", Some("1995-06-01 00:00:00"), Some("1995-08-31 23:59:59"))
      .toDF().filter(col("o_orderdate").between("1995-06-01", "1995-08-31 23:59:59"))
    assert(got.count() == expected.count())
    // append without repeating the spec inherits it
    t.append(o.limit(10), Seq.empty)
    assert(t.schemaAt(None)._2 == Seq("o_orderdate_month"))
  }

  test("Delta scan: null or missing partition values under partitionIn and time ranges; chunks") {
    val dir = tmpDir("delta_null_part")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
    val t = DeltaTable.create(spark, s"$dir/t", o.repartition(2),
      Seq("month(o_orderdate)", "o_orderstatus"))
    def name(p: String) = new org.apache.hadoop.fs.Path(p).getName
    // chunk k of n holds the files at positions k, k + n, ... of the
    // path-sorted manifest, so the chunks partition it
    val sorted = t.log.snapshot().files.map(_.path).sorted.map(name)
    assert(sorted.size > 3)
    (0 until 3).foreach { k =>
      assert(t.scan.chunk(k, 3).toDF().inputFiles.map(name).toSet ==
        sorted.zipWithIndex.collect { case (n, i) if i % 3 == k => n }.toSet)
    }
    // files whose partition values are null, or missing from the map
    val real = t.log.snapshot().files
    val nulls = AddFile("nulls.parquet",
      Map("o_orderdate_month" -> null, "o_orderstatus" -> null), 10L, 0L, dataChange = true)
    val missing = AddFile("missing.parquet", Map.empty, 10L, 0L, dataChange = true)
    assert(t.log.commit(t.latestVersion + 1, Seq(nulls, missing)))
    def paths(b: graft.delta.DeltaScanBuilder) = b.files().map(_.path).toSet
    val statusF = real.filter(_.partitionValues("o_orderstatus") == "F").map(_.path).toSet
    assert(statusF.nonEmpty)
    // partitionIn never selects a null or missing value, even when asked for null
    assert(paths(t.scan.partitionIn("o_orderstatus", Set("F"))) == statusF)
    assert(paths(t.scan.partitionIn("o_orderstatus", Set("F", null))) == statusF)
    // a time-transform bound keeps them: nothing proves they fall outside
    val summer = real.filter(a => Set("1995-06", "1995-07", "1995-08")(
      a.partitionValues("o_orderdate_month"))).map(_.path).toSet
    assert(summer.nonEmpty && summer.size < real.size)
    assert(paths(t.scan.range("o_orderdate", Some("1995-06-01"), Some("1995-08-31"))) ==
      summer ++ Set(nulls.path, missing.path))
  }

  test("Iceberg hidden month partitioning: source column intact, ordinal prune") {
    val dir = tmpDir("ice_month")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val t = IcebergTable.create(spark, s"$dir/t", o, Seq("month(o_orderdate)"))
    // hidden partitioning: table schema is the source schema
    assert(t.schema.fieldNames.toSeq == o.schema.fieldNames.toSeq)
    assert(t.currentMetadata.partitionSpec.map(f => (f.name, f.transform))
      == Seq(("o_orderdate_month", "month")))
    assert(t.toDF().count() == o.count())
    // manifest partition values are ordinals
    val entries = t.scan.files()
    assert(entries.forall(_.partitionValues("o_orderdate_month").matches("\\d+")))
    // range on the source column prunes by ordinal
    val pruned = t.scan
      .range("o_orderdate", Some("1995-06-01 00:00:00"), Some("1995-08-31 23:59:59")).files()
    assert(pruned.size < entries.size)
    // partitionIn with human strings
    val one = t.scan.partitionIn("o_orderdate_month", Set("1995-06")).toDF()
    assert(one.count() ==
      o.filter(date_format(col("o_orderdate"), "yyyy-MM") === "1995-06").count())
  }

  test("time-partitioned Delta table syncs to Iceberg with transform spec intact") {
    val dir = tmpDir("sync_month")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    val src = DeltaTable.create(spark, s"$dir/src", o, Seq("month(o_orderdate)"))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    assert(tgt.currentMetadata.partitionSpec.map(f => (f.name, f.transform))
      == Seq(("o_orderdate_month", "month")))
    assert(tgt.toDF().count() == o.count())
    // translated partition values prune on the target
    assert(tgt.scan.partitionIn("o_orderdate_month", Set("1995-06")).files().size <
      tgt.scan.files().size)
    // and the reverse direction: Iceberg transform table -> Delta
    val back = tmpDir("sync_month_back")
    SyncEngine.sync(SyncEngine.icebergSource(tgt), SyncEngine.deltaTarget(spark, s"$back/tgt"))
    val d2 = DeltaTable.forPath(spark, s"$back/tgt")
    assert(d2.schemaAt(None)._2 == Seq("o_orderdate_month"))
    assert(d2.toDF().drop("o_orderdate_month").count() == o.count())
  }
}
