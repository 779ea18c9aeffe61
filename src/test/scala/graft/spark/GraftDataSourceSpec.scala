package graft.spark

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

class GraftDataSourceSpec extends SparkTestBase {

  private def checksum(df: org.apache.spark.sql.DataFrame): Long =
    df.select(sum(hash(df.columns.map(col): _*)).cast("long")).collect()(0).getLong(0)

  test("format(\"graft\") writes and reads all three formats") {
    val dir = tmpDir("ds_roundtrip")
    val src = spark.read.parquet(s"$sf0001/nation.parquet")
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      src.write.format("graft").option("format", fmt).save(s"$dir/$fmt")
      // explicit format and marker-detected format both resolve
      val explicit = spark.read.format("graft").option("format", fmt).load(s"$dir/$fmt")
      val detected = spark.read.format("graft").load(s"$dir/$fmt")
      assert(checksum(explicit.select(src.columns.map(col).toSeq: _*)) == checksum(src))
      assert(checksum(detected.select(src.columns.map(col).toSeq: _*)) == checksum(src))
    }
  }

  test("save modes: append accumulates, overwrite replaces, errorIfExists throws") {
    val dir = tmpDir("ds_modes")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val even = o.filter(col("o_orderkey") % 2 === 0)
    val odd = o.filter(col("o_orderkey") % 2 === 1)
    even.write.format("graft").option("format", "delta").save(s"$dir/t")
    odd.write.format("graft").option("format", "delta").mode("append").save(s"$dir/t")
    assert(spark.read.format("graft").load(s"$dir/t").count() == o.count())
    even.write.format("graft").option("format", "delta").mode("overwrite").save(s"$dir/t")
    assert(spark.read.format("graft").load(s"$dir/t").count() == even.count())
    intercept[IllegalArgumentException] {
      odd.write.format("graft").option("format", "delta").save(s"$dir/t")
    }
  }

  test("versionAsOf time-travels through the option") {
    val dir = tmpDir("ds_timetravel")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val even = o.filter(col("o_orderkey") % 2 === 0)
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      val path = s"$dir/$fmt"
      even.write.format("graft").option("format", fmt).save(path)
      o.filter(col("o_orderkey") % 2 === 1).write.format("graft")
        .option("format", fmt).mode("append").save(path)
      // the first commit's token: a Delta version, an Iceberg snapshot
      // id, a Hudi instant time
      val first = fmt match {
        case "delta"   => "0"
        case "iceberg" => IcebergTable.forPath(spark, path).snapshotIds.head.toString
        case "hudi"    => HudiTable.forPath(spark, path).instants.head
      }
      val v0 = spark.read.format("graft").option("versionAsOf", first).load(path)
      assert(v0.count() == even.count(), s"$fmt versionAsOf")
      assert(spark.read.format("graft").load(path).count() == o.count(), s"$fmt latest")
    }
  }

  test("timestampAsOf resolves the latest commit at-or-before, per format") {
    val dir = tmpDir("ds_tsasof")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val even = o.filter(col("o_orderkey") % 2 === 0)
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      even.write.format("graft").option("format", fmt).save(s"$dir/$fmt")
      val between = System.currentTimeMillis()
      Thread.sleep(1200) // hudi instants have second granularity
      o.filter(col("o_orderkey") % 2 === 1).write.format("graft")
        .option("format", fmt).mode("append").save(s"$dir/$fmt")
      val past = spark.read.format("graft")
        .option("timestampAsOf", between.toString).load(s"$dir/$fmt")
      assert(past.count() == even.count(), s"$fmt timestampAsOf")
      assert(spark.read.format("graft").load(s"$dir/$fmt").count() == o.count(), s"$fmt latest")
    }
  }

  test("partition filters prune at plan time through the relation") {
    val dir = tmpDir("ds_prune")
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    li.write.format("graft").option("format", "iceberg")
      .option("partitionBy", "l_returnflag").save(s"$dir/t")
    val scan = spark.read.format("graft").load(s"$dir/t")
      .filter(col("l_returnflag") === "A")
    // the filter must reach the scan as a partition filter (plan-time
    // prune), not just a post-scan filter
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("l_returnflag"),
      s"expected l_returnflag in PartitionFilters:\n$plan")
    assert(scan.count() == li.filter(col("l_returnflag") === "A").count())
  }
}
