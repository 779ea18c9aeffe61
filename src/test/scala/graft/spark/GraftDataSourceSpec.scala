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

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Files the executed scans of `df` read (the scan's `numFiles`). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  test("data filters skip files by min/max stats through the relation") {
    val dir = tmpDir("ds_skip")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    // range-clustered on o_orderkey: each file holds a narrow key range
    def clustered(df: org.apache.spark.sql.DataFrame) =
      df.repartitionByRange(6, col("o_orderkey")).sortWithinPartitions("o_orderkey")
    val even = o.filter(col("o_orderkey") % 2 === 0)
    val keys = o.agg(min("o_orderkey"), max("o_orderkey")).head
    val (lo, hi) = (keys.getLong(0), keys.getLong(0) + (keys.getLong(1) - keys.getLong(0)) / 5)
    val inRange = col("o_orderkey").between(lo, hi)
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      val path = s"$dir/$fmt"
      clustered(even).write.format("graft").option("format", fmt).save(path)
      clustered(o.filter(col("o_orderkey") % 2 === 1)).write.format("graft")
        .option("format", fmt).mode("append").save(path)
      val (first, files, firstFiles) = fmt match {
        case "delta" =>
          val t = graft.delta.DeltaTable.forPath(spark, path)
          ("0", t.snapshotFileCount(None), t.snapshotFileCount(Some(0L)))
        case "iceberg" =>
          val t = IcebergTable.forPath(spark, path)
          (t.snapshotIds.head.toString, t.snapshotFileCount(None),
            t.snapshotFileCount(Some(t.snapshotIds.head)))
        case "hudi" =>
          val t = HudiTable.forPath(spark, path)
          (t.instants.head, t.snapshotFileCount(None), t.snapshotFileCount(Some(t.instants.head)))
      }
      val latest = spark.read.format("graft").load(path).filter(inRange)
      val n = scannedFiles(latest)
      assert(n > 0 && n < files, s"$fmt scanned $n of $files files")
      assert(latest.count() == o.filter(inRange).count(), fmt)
      assert(checksum(latest.select(o.columns.map(col).toSeq: _*)) ==
        checksum(o.filter(inRange)), fmt)
      // time travel skips on the stats of what was visible at the version
      // (for Hudi: the col_stats of the instants up to it)
      val past = spark.read.format("graft").option("versionAsOf", first).load(path).filter(inRange)
      val m = scannedFiles(past)
      assert(m > 0 && m < firstFiles, s"$fmt versionAsOf scanned $m of $firstFiles files")
      assert(checksum(past.select(o.columns.map(col).toSeq: _*)) ==
        checksum(even.filter(inRange)), s"$fmt versionAsOf")
    }
    // a column-mapped Delta table: its stats carry the physical names
    // the read uses, whatever the logical names are. The relation would
    // expose the physical names, so the DataSource refuses it
    val mapped = graft.delta.DeltaTable.forPath(spark, s"$dir/delta")
    mapped.enableColumnMapping()
    mapped.renameColumn("o_totalprice", "price")
    intercept[UnsupportedOperationException](spark.read.format("graft").load(s"$dir/delta"))
    val viaMapped = mapped.toDF().filter(inRange)
    val n = scannedFiles(viaMapped)
    assert(n > 0 && n < mapped.snapshotFileCount(None), s"column-mapped delta scanned $n files")
    assert(checksum(viaMapped) == checksum(o.filter(inRange)))
    // the key's logical name now differs from the physical name of its stats
    mapped.renameColumn("o_orderkey", "key")
    val viaTable = mapped.toDF().filter(col("key").between(lo, hi))
    val m = scannedFiles(viaTable)
    assert(m > 0 && m < mapped.snapshotFileCount(None), s"renamed key scanned $m files")
    assert(checksum(viaTable) == checksum(o.filter(inRange)))
  }

  test("a table read the relation would change is refused, never read wrong") {
    val dir = tmpDir("ds_refuse")
    // 1,500 rows over three files per table
    val rows = spark.range(0, 1500).repartition(3, col("id") % 3)
      .select(col("id"), (col("id") % 3).as("k"))
    def refused(path: String, fmt: String, toDF: => org.apache.spark.sql.DataFrame,
        rows: Long, names: Seq[String]): Unit = {
      assert(toDF.count() == rows && toDF.columns.toSeq == names)
      val e = intercept[UnsupportedOperationException](spark.read.format("graft").load(path))
      assert(e.getMessage.contains(path) && e.getMessage.contains(s"${fmt}Table.forPath"),
        e.getMessage)
    }

    // deletion vectors on every file
    val dAll = graft.delta.DeltaTable.create(spark, s"$dir/dv_all", rows)
    dAll.delete(col("id") % 2 === 0)
    refused(s"$dir/dv_all", "Delta", dAll.toDF(), 750, Seq("id", "k"))
    // a write through the DataSource still lands on such a table
    rows.limit(10).write.format("graft").option("format", "delta").mode("append")
      .save(s"$dir/dv_all")
    assert(dAll.toDF().count() == 760)
    // deletion vectors on some files only
    val dSome = graft.delta.DeltaTable.create(spark, s"$dir/dv_some", rows, Seq("k"))
    dSome.delete(col("k") === 0 && col("id") % 2 === 0)
    assert(dSome.scan.files().exists(_.deletionVector.isEmpty))
    refused(s"$dir/dv_some", "Delta", dSome.toDF(), 1250, Seq("id", "k"))
    // Iceberg position deletes
    val ice = IcebergTable.create(spark, s"$dir/ice", rows)
    ice.deleteWhere(col("id") < 100)
    refused(s"$dir/ice", "Iceberg", ice.toDF(), 1400, Seq("id", "k"))
    // a renamed column of a column-mapped Delta table
    val mapped = graft.delta.DeltaTable.create(spark, s"$dir/mapped", rows)
    mapped.enableColumnMapping()
    mapped.renameColumn("id", "ident")
    refused(s"$dir/mapped", "Delta", mapped.toDF(), 1500, Seq("ident", "k"))
    // a plain table, latest and time-travelled, still reads as a relation
    val plain = graft.delta.DeltaTable.create(spark, s"$dir/plain", rows)
    plain.append(rows, Seq.empty)
    assert(spark.read.format("graft").load(s"$dir/plain").count() == 3000)
    assert(spark.read.format("graft").option("versionAsOf", "0").load(s"$dir/plain").count() == 1500)
  }
}
