package graft.sync

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

/** A type widen at any sync source propagates to every target format:
  * the widened schema flows through the canonical model, targets adopt
  * it keeping their field identities, and post-widen wide values
  * round-trip. Incremental sync carries the widen commit itself. */
class SyncTypeWideningSpec extends SparkTestBase {

  private def items = spark.read.parquet(s"$sf0001/lineitem.parquet")
    .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    .limit(20)

  private def checksum(df: org.apache.spark.sql.DataFrame): Long =
    df.select(sum(col("l_orderkey") * 31 + col("l_linenumber")).cast("long"))
      .head.getLong(0)

  test("delta source widen propagates incrementally to iceberg and hudi targets") {
    val dir = tmpDir("wsync_delta_src")
    val src = DeltaTable.create(spark, s"$dir/src", items.limit(10))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/i"))
    SyncEngine.sync(SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/h"))
    src.widenColumn("l_linenumber", LongType)
    src.append(items.limit(3)
      .withColumn("l_orderkey", col("l_orderkey") + 2000000L)
      .withColumn("l_linenumber", lit(4000000000L)), Seq.empty)
    val ri = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.icebergTarget(spark, s"$dir/i"))
    val rh = SyncEngine.sync(
      SyncEngine.deltaSource(src), SyncEngine.hudiTarget(spark, s"$dir/h"))
    assert(ri.mode == "incremental" && rh.mode == "incremental")
    val i = IcebergTable.forPath(spark, s"$dir/i")
    val h = HudiTable.forPath(spark, s"$dir/h")
    assert(i.currentMetadata.schema("l_linenumber").dataType == LongType)
    assert(h.schemaAt(None)("l_linenumber").dataType == LongType)
    assert(checksum(i.toDF()) == checksum(src.toDF()))
    assert(checksum(h.toDF()) == checksum(src.toDF()))
  }

  test("hudi source widen instant rides the incremental feed to both targets") {
    val dir = tmpDir("wsync_hudi_src")
    val src = HudiTable.create(spark, s"$dir/src", items.limit(10))
    SyncEngine.sync(SyncEngine.hudiSource(src), SyncEngine.deltaTarget(spark, s"$dir/d"))
    SyncEngine.sync(SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/i"))
    src.widenColumn("l_linenumber", LongType)
    src.append(items.limit(3)
      .withColumn("l_orderkey", col("l_orderkey") + 2000000L)
      .withColumn("l_linenumber", lit(4000000000L)))
    val rd = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.deltaTarget(spark, s"$dir/d"))
    val ri = SyncEngine.sync(
      SyncEngine.hudiSource(src), SyncEngine.icebergTarget(spark, s"$dir/i"))
    assert(rd.mode == "incremental" && ri.mode == "incremental")
    val d = DeltaTable.forPath(spark, s"$dir/d")
    val i = IcebergTable.forPath(spark, s"$dir/i")
    assert(d.schemaAt(None)._1("l_linenumber").dataType == LongType)
    assert(i.currentMetadata.schema("l_linenumber").dataType == LongType)
    assert(checksum(d.toDF()) == checksum(src.toDF()))
    assert(checksum(i.toDF()) == checksum(src.toDF()))
  }

  test("iceberg source widen propagates, keeping the target field identities") {
    val dir = tmpDir("wsync_ice_src")
    val src = IcebergTable.create(spark, s"$dir/src", items.limit(10))
    SyncEngine.sync(SyncEngine.icebergSource(src), SyncEngine.deltaTarget(spark, s"$dir/d"))
    src.widenColumn("l_linenumber", LongType)
    src.append(items.limit(3)
      .withColumn("l_orderkey", col("l_orderkey") + 2000000L)
      .withColumn("l_linenumber", lit(4000000000L)))
    SyncEngine.sync(SyncEngine.icebergSource(src), SyncEngine.deltaTarget(spark, s"$dir/d"))
    val d = DeltaTable.forPath(spark, s"$dir/d")
    assert(d.schemaAt(None)._1("l_linenumber").dataType == LongType)
    assert(checksum(d.toDF()) == checksum(src.toDF()))
    // the mirrored widen carries Delta's full bookkeeping on the TARGET:
    // typeChanges history + the typeWidening protocol feature, so a
    // non-widening Delta reader refuses the table instead of misreading
    // the narrower pre-widen files the target shares with the source
    val tc = d.schemaAt(None)._1("l_linenumber").metadata.getMetadataArray("delta.typeChanges")
    assert(tc.exists(e => e.getString("fromType") == "integer" && e.getString("toType") == "long"))
    val p = d.log.snapshot().protocol
    assert(p.readerFeatures.exists(_.contains("typeWidening")))
    assert(p.writerFeatures.exists(_.contains("typeWidening")))
  }
}
