package graft

import org.apache.spark.sql.functions._

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

/** Small-file compaction (OPTIMIZE / replace / clustering) across the
  * three formats: one atomic commit, identical data, history intact. */
class CompactionSpec extends SparkTestBase {

  private def checksum(df: org.apache.spark.sql.DataFrame): Long =
    df.select(sum(hash(df.columns.map(col): _*)).cast("long")).collect()(0).getLong(0)

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  test("delta compact: bin-packs small files in one OPTIMIZE commit, history intact") {
    val dir = tmpDir("compact_delta")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(8))
    val before = checksum(t.toDF())
    val filesBefore = t.scan.files().size
    val v = t.compact(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30)
    assert(v.nonEmpty)
    assert(t.scan.files().size < filesBefore)
    assert(checksum(t.toDF()) == before)
    // pre-compaction version still reads all rows (old files retained)
    assert(checksum(t.toDF(versionAsOf = Some(v.get - 1))) == before)
    // nothing left to compact
    assert(t.compact(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30).isEmpty)
  }

  test("delta compact respects partition boundaries") {
    val dir = tmpDir("compact_delta_part")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(4), Seq("o_orderstatus"))
    val before = checksum(t.toDF())
    val perPartBefore = t.scan.files().length
    assert(t.compact(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30).nonEmpty)
    assert(checksum(t.toDF()) == before)
    // each partition collapses to one file
    val byPart = t.scan.files().groupBy(_.partitionValues).view.mapValues(_.length)
    assert(byPart.values.forall(_ == 1), s"expected 1 file/partition, got $byPart")
    assert(byPart.size < perPartBefore)
  }

  test("iceberg compact: replace snapshot, time travel intact, sort clustering prunes") {
    val dir = tmpDir("compact_ice")
    val t = IcebergTable.create(spark, s"$dir/t", orders.repartition(8))
    val before = checksum(t.toDF())
    val snapBefore = t.snapshotIds.last
    val filesBefore = t.scan.files().size
    // sort-cluster into ~4 files so bounds skipping has ranges to prove
    val bytes = t.scan.files().map(_.fileSizeBytes).sum
    val v = t.compact(
      targetFileBytes = math.max(1, bytes / 4), smallFileBytes = 1L << 30,
      sortBy = Seq("o_orderkey"))
    assert(v.nonEmpty)
    assert(checksum(t.toDF()) == before)
    assert(t.scan.files().size < filesBefore)
    assert(checksum(t.toDF(snapshotAsOf = Some(snapBefore))) == before)
    // disjoint o_orderkey ranges per file now: a narrow range scan
    // touches fewer files than the table has
    val all = t.scan.files().size
    val pruned = t.scan.range("o_orderkey", Some(1L), Some(50L)).files().size
    assert(pruned < all, s"sort clustering should enable pruning: $pruned < $all")
  }

  test("hudi compact: clustering replacecommit, reads stay identical") {
    val dir = tmpDir("compact_hudi")
    val t = HudiTable.create(spark, s"$dir/t", orders.repartition(8))
    val before = checksum(t.toDF())
    val instBefore = t.instants.last
    val filesBefore = t.scan.files().size
    val inst = t.compact(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30)
    assert(inst.nonEmpty)
    assert(t.scan.files().size < filesBefore)
    assert(checksum(t.toDF()) == before)
    // pre-compaction instant still reads everything (COW time travel)
    assert(checksum(t.toDF(asOf = Some(instBefore))) == before)
    // the commit is a replacecommit (clustering shape)
    assert(t.instants.size == 2)
  }

  test("z-order compaction clusters two dimensions so a 2-d box prunes files") {
    val dir = tmpDir("compact_zorder")
    // two independent uniform dims; row order is scattered in both
    val src = spark.range(0, 4096).select(
      (col("id") * 2654435761L % 4096L).as("x"),
      (col("id") * 40503L % 4096L).as("y"))
    val t = DeltaTable.create(spark, s"$dir/t", src.repartition(16))
    val before = checksum(t.toDF())
    assert(t.compact(targetFileBytes = 8L << 10, smallFileBytes = 1L << 30,
      zorderBy = Seq("x", "y")).nonEmpty)
    assert(checksum(t.toDF()) == before)
    val total = t.scan.files().size
    assert(total >= 4, s"need several output files to prove pruning, got $total")
    // a box covering ~1/16 of each dimension: z-order keeps it in a
    // small fraction of files; a single-dim sort could not prune on y
    val boxX = t.scan.range("x", Some(0L), Some(1023L)).files().size
    val boxXY = t.scan
      .range("x", Some(0L), Some(1023L))
      .range("y", Some(0L), Some(1023L)).files().size
    assert(boxXY < total, s"2-d box did not prune: $boxXY/$total")
    assert(boxXY <= boxX, s"adding the y bound must not widen the scan")
    // correctness of the pruned read
    val got = t.scan
      .range("x", Some(0L), Some(1023L))
      .range("y", Some(0L), Some(1023L)).toDF()
      .filter(col("x") <= 1023 && col("y") <= 1023).count()
    assert(got == src.filter(col("x") <= 1023 && col("y") <= 1023).count())
  }

  test("hudi z-order clustering: CLUSTER replacecommit, 2-d box prunes via col_stats") {
    val dir = tmpDir("compact_zorder_hudi")
    val src = spark.range(0, 4096).select(
      (col("id") * 2654435761L % 4096L).as("x"),
      (col("id") * 40503L % 4096L).as("y"))
    val t = HudiTable.create(spark, s"$dir/t", src.repartition(16))
    val before = checksum(t.toDF())
    assert(t.compact(targetFileBytes = 8L << 10, smallFileBytes = 1L << 30,
      zorderBy = Seq("x", "y")).nonEmpty)
    assert(checksum(t.toDF()) == before)
    // the rewrite is a replacecommit (Hudi's clustering shape) and the
    // pre-clustering instant still reads everything (COW time travel)
    assert(t.instants.size == 2)
    val total = t.scan.files().size
    assert(total >= 4, s"need several output files to prove pruning, got $total")
    // a box covering ~1/16 of each dimension: the col_stats index's
    // per-file min/max prunes it to a small fraction; a single-dim
    // sort could not prune on y
    val boxX = t.scan.range("x", Some(0L), Some(1023L)).files().size
    val boxXY = t.scan
      .range("x", Some(0L), Some(1023L))
      .range("y", Some(0L), Some(1023L)).files().size
    assert(boxXY < total, s"2-d box did not prune: $boxXY/$total")
    assert(boxXY <= boxX, s"adding the y bound must not widen the scan")
    val got = t.scan
      .range("x", Some(0L), Some(1023L))
      .range("y", Some(0L), Some(1023L)).toDF()
      .filter(col("x") <= 1023 && col("y") <= 1023).count()
    assert(got == src.filter(col("x") <= 1023 && col("y") <= 1023).count())
  }

  test("iceberg z-order rewrite: 2-d box prunes manifests; sort order rides metadata.json") {
    val dir = tmpDir("compact_zorder_ice")
    val src = spark.range(0, 4096).select(
      (col("id") * 2654435761L % 4096L).as("x"),
      (col("id") * 40503L % 4096L).as("y"))
    val t = graft.iceberg.IcebergTable.create(spark, s"$dir/t", src.repartition(16))
    val before = checksum(t.toDF())
    assert(t.compact(targetFileBytes = 8L << 10, smallFileBytes = 1L << 30,
      zorderBy = Seq("x", "y")).nonEmpty)
    assert(checksum(t.toDF()) == before)
    // the rewrite declared its layout: sort-orders carries the order,
    // default-sort-order-id points at it, the zorder kind is marked
    val (orderCols, isZ) = t.defaultSortOrder()
    assert(orderCols == Seq("x", "y") && isZ, s"($orderCols, $isZ)")
    val meta = t.currentMetadata
    assert(meta.defaultSortOrderId > 0)
    assert(meta.sortOrders.exists(_.orderId == 0), "unsorted order 0 must stay present")
    // ... and SURVIVES later metadata rewrites (parse→emit round-trip)
    t.append(src.limit(0))
    val t2 = graft.iceberg.IcebergTable.forPath(spark, s"$dir/t")
    assert(t2.defaultSortOrder() == ((Seq("x", "y"), true)))
    assert(t2.currentMetadata.defaultSortOrderId == meta.defaultSortOrderId)
    // bounds-based 2-d pruning on the rewritten manifests (the
    // StatsSkipping rule over per-file lower/upper bounds)
    val total = t2.scan.files().size
    assert(total >= 4, s"need several output files to prove pruning, got $total")
    val boxX = t2.scan.range("x", Some(0L), Some(1023L)).files().size
    val boxXY = t2.scan
      .range("x", Some(0L), Some(1023L))
      .range("y", Some(0L), Some(1023L)).files().size
    assert(boxXY < total, s"2-d box did not prune: $boxXY/$total")
    assert(boxXY <= boxX, s"adding the y bound must not widen the scan")
    val got = t2.scan
      .range("x", Some(0L), Some(1023L))
      .range("y", Some(0L), Some(1023L)).toDF()
      .filter(col("x") <= 1023 && col("y") <= 1023).count()
    assert(got == src.filter(col("x") <= 1023 && col("y") <= 1023).count())
    // a PLAIN sorted rewrite records a lexicographic (non-zorder) order
    val t3 = graft.iceberg.IcebergTable.create(spark, s"$dir/t3", src.repartition(4))
    assert(t3.compact(targetFileBytes = 8L << 10, smallFileBytes = 1L << 30,
      sortBy = Seq("x")).nonEmpty)
    assert(t3.defaultSortOrder() == ((Seq("x"), false)))
  }
}
