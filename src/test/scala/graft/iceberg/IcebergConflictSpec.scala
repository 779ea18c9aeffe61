package graft.iceberg

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * RewriteFiles-style conflict validation: a replace snapshot must abort
 * when row-level deletes landed after the rewrite read its inputs —
 * committing would leave the racer's delete files inert (their targets
 * replaced) and silently resurrect the deleted rows.
 */
class IcebergConflictSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  test("replace aborts when a concurrent row-level delete targets rewritten files") {
    val dir = tmpDir("ice_conflict")
    val t = IcebergTable.create(spark, s"$dir/t", orders.repartition(4))
    // the rewrite's stale view: four data files, no delete files yet
    val stale = t.liveEntries(t.currentMetadata, None)
    val df = t.toDF()
    t.deleteWhere(col("o_orderkey") % 2 === 0) // racer's position deletes land
    val e = intercept[IllegalArgumentException](
      t.write(df, Seq.empty, overwrite = false,
        replacing = stale, consumedDeletes = Seq.empty))
    assert(e.getMessage.contains("replace conflict"))
    // deleted rows must still be gone
    assert(t.toDF().filter(col("o_orderkey") % 2 === 0).count() == 0)
  }

  test("replace aborts on a racing EQUALITY delete (global scope conflicts everywhere)") {
    val dir = tmpDir("ice_conflict_eq")
    val t = IcebergTable.create(spark, s"$dir/t", orders.repartition(3))
    val stale = t.liveEntries(t.currentMetadata, None)
    val df = t.toDF()
    val someKeys = orders.select("o_orderkey").limit(10)
    t.deleteByEquality(someKeys)
    val e = intercept[IllegalArgumentException](
      t.write(df, Seq.empty, overwrite = false,
        replacing = stale, consumedDeletes = Seq.empty))
    assert(e.getMessage.contains("replace conflict"))
  }

  test("compaction that consumed the existing deletes still commits cleanly") {
    val dir = tmpDir("ice_conflict_ok")
    val t = IcebergTable.create(spark, s"$dir/t", orders.repartition(4))
    val before = t.toDF().count()
    t.deleteWhere(col("o_orderkey") % 2 === 0)
    val expect = t.toDF().collect().map(_.getLong(0)).sorted.toSeq
    // compact reads smalls ++ dels and passes dels as consumed: no conflict
    assert(t.compact(smallFileBytes = 1L << 30).nonEmpty)
    assert(t.toDF().collect().map(_.getLong(0)).sorted.toSeq == expect)
    assert(t.toDF().count() < before)
  }
}
