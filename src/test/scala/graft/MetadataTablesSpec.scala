package graft

import org.apache.spark.sql.functions._

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

/** history()/filesDF() inspection tables across the three formats —
  * the DESCRIBE HISTORY / `files` metadata-table surface. */
class MetadataTablesSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  test("delta history and files reflect commits, operations, and DVs") {
    val dir = tmpDir("meta_delta")
    val t = DeltaTable.create(spark, s"$dir/t", orders)
    t.append(orders.limit(10), Seq.empty)
    t.delete(col("o_orderkey") % 50 === 0)
    val h = t.history().collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L)) // newest first
    assert(h.map(_.getString(2)).toSet == Set("APPEND", "DELETE"))
    val f = t.filesDF()
    assert(f.count() > 0)
    assert(f.filter(col("deleted_rows") > 0).count() > 0)
  }

  test("iceberg history carries lineage and sequence; files carries content kind") {
    val dir = tmpDir("meta_ice")
    val t = IcebergTable.create(spark, s"$dir/t", orders)
    t.append(orders.limit(10))
    t.deleteWhere(col("o_orderkey") % 50 === 0)
    val h = t.history().collect()
    assert(h.length == 3)
    assert(h.head.getString(4) == "delete") // newest first
    assert(h.map(_.getLong(2)).toSeq == Seq(3L, 2L, 1L)) // sequence numbers
    // parent chain links each snapshot to its predecessor
    assert(h.init.zip(h.tail).forall { case (child, parent) =>
      child.getLong(1) == parent.getLong(0) })
    val f = t.filesDF()
    assert(f.filter(col("content") === 1).count() > 0) // position-delete file
    assert(f.filter(col("content") === 0).count() > 0)
  }

  test("hudi history lists all actions; files counts MOR logs per slice") {
    val dir = tmpDir("meta_hudi")
    val t = HudiTable.createMor(spark, s"$dir/t", orders, "o_orderkey")
    t.upsert(orders.limit(20).withColumn("o_orderstatus", lit("Q")))
    val h = t.history().collect()
    assert(h.map(_.getString(1)).toSet == Set("deltacommit"))
    assert(h.head.getString(2) == "UPSERT")
    val f = t.filesDF()
    assert(f.filter(col("log_files") > 0 && col("log_bytes") > 0).count() > 0)
  }

  test("detail() reports one truthful summary row per format") {
    val dir = tmpDir("meta_detail")
    val td = DeltaTable.create(spark, s"$dir/d", orders, Seq("o_orderstatus"))
    val dd = td.detail().head
    assert(dd.getString(0) == "delta")
    assert(dd.getSeq[String](4) == Seq("o_orderstatus"))
    assert(dd.getLong(5) == td.scan.files().size)
    assert(dd.getLong(6) > 0L)

    val ti = IcebergTable.create(spark, s"$dir/i", orders, Seq("o_orderstatus"))
    val di = ti.detail().head
    assert(di.getString(0) == "iceberg")
    assert(di.getSeq[String](4) == Seq("identity(o_orderstatus)"))
    assert(di.getLong(5) == ti.filesDF().filter(col("content") === 0).count())

    val th = HudiTable.create(spark, s"$dir/h", orders)
    val dh = th.detail().head
    assert(dh.getString(0) == "hudi" && dh.getString(3) == "COPY_ON_WRITE")
    assert(dh.getLong(5) > 0L && dh.getString(8).nonEmpty)
  }
}
