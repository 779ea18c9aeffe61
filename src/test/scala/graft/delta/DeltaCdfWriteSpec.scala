package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** CDF WRITE path (Delta protocol "Change Data Files"): enabling
  * `delta.enableChangeDataFeed` makes row-level commits produce real
  * `_change_data` parquet + cdc actions, the protocol upgrade declares
  * the writer feature, and changeFeed reads cdc commits exclusively
  * from those files. */
class DeltaCdfWriteSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def cdfTable(dir: String, partCols: Seq[String] = Seq.empty): DeltaTable = {
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(3), partCols)
    t.setProperties(Map("delta.enableChangeDataFeed" -> "true"))
    t
  }

  private def cdcActionsOf(t: DeltaTable, v: Long): Seq[AddCDCFile] =
    t.log.readActions(v).collect { case c: AddCDCFile => c }

  private def feedKeys(df: DataFrame, changeType: String): Seq[Long] =
    df.filter(col("_change_type") === changeType)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq

  test("setProperties enables CDF and upgrades the protocol to writer v4") {
    val dir = tmpDir("cdf_props")
    val t = cdfTable(dir)
    val p = t.log.snapshot().protocol
    assert(p.minWriterVersion == 4 && p.writerFeatures.isEmpty)
    assert(t.log.snapshot().metadata.configuration
      .get("delta.enableChangeDataFeed").contains("true"))
  }

  test("delete writes _change_data files + cdc actions; snapshot unaffected by them") {
    val dir = tmpDir("cdf_delete")
    val t = cdfTable(dir)
    val all = orders.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val v = t.delete(col("o_orderkey") % 10 === 0)
    val cdcs = cdcActionsOf(t, v)
    assert(cdcs.nonEmpty)
    assert(cdcs.forall(_.path.startsWith("_change_data/")))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(cdcs.forall(c => fs.exists(new Path(s"$dir/t/${c.path}"))))
    // snapshot read ignores cdc entirely
    assert(t.toDF().select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      == all.filterNot(_ % 10 == 0))
    // the feed for the delete commit comes from the cdc files
    val feed = t.changeFeed(v - 1, v)
    assert(feedKeys(feed, "delete") == all.filter(_ % 10 == 0))
    assert(feed.filter(col("_change_type") =!= "delete").count() == 0)
  }

  test("second delete emits only newly-dead rows (old-DV anti-join)") {
    val dir = tmpDir("cdf_twice")
    val t = cdfTable(dir)
    val all = orders.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    t.delete(col("o_orderkey") % 10 === 0)
    // matches overlap at multiples of 30; those are already dead
    val v = t.delete(col("o_orderkey") % 15 === 0)
    val feed = t.changeFeed(v - 1, v)
    assert(feedKeys(feed, "delete") == all.filter(k => k % 15 == 0 && k % 10 != 0))
  }

  test("upsert feed carries delete pre-images and insert rows; values correct") {
    val dir = tmpDir("cdf_merge")
    val t = cdfTable(dir)
    val all = orders.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val src = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)
    val v = t.upsert(src, Seq("o_orderkey"))
    val feed = t.changeFeed(v - 1, v)
    assert(feedKeys(feed, "delete") == all.filter(_ % 4 == 0))
    assert(feedKeys(feed, "insert") == all.filter(_ % 4 == 0))
    // pre-image price vs post-image price differ by exactly +5
    val sums = feed.groupBy("_change_type")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val diff = sums("insert").subtract(sums("delete")).doubleValue()
    assert(math.abs(diff - 5.0 * all.count(_ % 4 == 0)) < 1e-6)
  }

  test("partitioned CDF table: cdc actions carry partitionValues; feed reads them back") {
    val dir = tmpDir("cdf_part")
    val t = cdfTable(dir, Seq("o_orderstatus"))
    val v = t.delete(col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0)
    val cdcs = cdcActionsOf(t, v)
    assert(cdcs.nonEmpty && cdcs.forall(_.partitionValues.get("o_orderstatus").contains("F")))
    val feed = t.changeFeed(v - 1, v)
    assert(feed.select("o_orderstatus").distinct().collect().map(_.getString(0)).toSeq == Seq("F"))
    val expect = orders.filter(col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(feedKeys(feed, "delete") == expect)
  }

  test("plain append on a CDF table emits no cdc action; feed derives inserts from adds") {
    val dir = tmpDir("cdf_append")
    val t = cdfTable(dir)
    val extra = orders.limit(50).withColumn("o_orderkey", col("o_orderkey") + 50000000L)
    val v = t.append(extra, Seq.empty)
    assert(cdcActionsOf(t, v).isEmpty)
    val feed = t.changeFeed(v - 1, v)
    assert(feed.filter(col("_change_type") === "insert").count() == 50)
  }

  test("non-CDF table still writes no cdc actions on delete") {
    val dir = tmpDir("cdf_off")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    val v = t.delete(col("o_orderkey") % 11 === 0)
    assert(cdcActionsOf(t, v).isEmpty)
  }

  test("cdc action JSON round-trips and foreign cdc lines are tolerated by replay") {
    val a = AddCDCFile("_change_data/x=1/f.parquet", Map("x" -> "1"), 123L)
    val line = DeltaActionCodec.toJsonLine(a)
    assert(line.contains("\"dataChange\":false"))
    assert(DeltaActionCodec.fromJsonLine(line).contains(a))
  }
}
