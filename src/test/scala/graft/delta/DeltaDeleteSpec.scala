package graft.delta

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Row-level DELETE via deletion vectors: log wiring, scan application,
  * merge-on-second-delete, whole-file drop, purge, checkpoint carry,
  * compaction interaction, and interop-shaped JSON. */
class DeltaDeleteSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def keys(t: DeltaTable): Seq[Long] =
    t.toDF().select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq

  test("delete removes matching rows; time travel still sees them") {
    val dir = tmpDir("dv_basic")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(4))
    val all = keys(t)
    val v = t.delete(col("o_orderkey") % 10 === 0)
    assert(keys(t) == all.filterNot(_ % 10 == 0))
    // physical files unchanged (no rewrite), deletes live in the log
    assert(t.scan.files().count(_.deletionVector.isDefined) > 0)
    // pre-delete version unaffected
    assert(t.toDF(versionAsOf = Some(v - 1)).count() == all.size)
  }

  test("second delete merges bitmaps (union, idempotent re-marking)") {
    val dir = tmpDir("dv_merge")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    val all = keys(t)
    t.delete(col("o_orderkey") % 10 === 0)
    t.delete(col("o_orderkey") % 15 === 0) // overlaps at multiples of 30
    assert(keys(t) == all.filterNot(k => k % 10 == 0 || k % 15 == 0))
    // exactly one DV per live file (merged, not chained)
    val dvs = t.scan.files().count(_.deletionVector.isDefined)
    assert(dvs > 0 && dvs <= t.scan.files().size)
  }

  test("deleting every row of a file drops the file from the snapshot") {
    val dir = tmpDir("dv_gone")
    // partition by status so one partition = one file group we can empty
    val t = DeltaTable.create(spark, s"$dir/t", orders, Seq("o_orderstatus"))
    val before = t.scan.files().size
    t.delete(col("o_orderstatus") === "F")
    assert(t.scan.files().size < before)
    assert(t.toDF().filter(col("o_orderstatus") === "F").count() == 0)
    assert(t.scan.files().count(_.deletionVector.isDefined) == 0)
  }

  test("deleteMatching tombstones by key set; absent keys are no-ops") {
    val dir = tmpDir("dv_delkeys")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    val all = keys(t)
    import spark.implicits._
    t.deleteMatching((all.filter(_ % 9 == 0) :+ 99999999L).toDF("o_orderkey"), Seq("o_orderkey"))
    assert(keys(t) == all.filterNot(_ % 9 == 0))
  }

  test("delete returns current version and commits nothing when no row matches") {
    val dir = tmpDir("dv_nomatch")
    val t = DeltaTable.create(spark, s"$dir/t", orders)
    val v0 = t.latestVersion
    assert(t.delete(col("o_orderkey") === -1) == v0)
    assert(t.latestVersion == v0)
  }

  test("purgeDeletes rewrites DV files; data identical; sync possible again") {
    val dir = tmpDir("dv_purge")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(3))
    t.delete(col("o_totalprice") > 200000.0)
    val expect = keys(t)
    intercept[IllegalArgumentException](t.snapshotDataFiles())
    val v = t.purgeDeletes()
    assert(v.nonEmpty)
    assert(keys(t) == expect)
    assert(t.scan.files().count(_.deletionVector.isDefined) == 0)
    assert(t.snapshotDataFiles().nonEmpty) // sync plane accepts again
    assert(t.purgeDeletes().isEmpty) // nothing left to purge
  }

  test("checkpoint written after a delete preserves deletion vectors") {
    val dir = tmpDir("dv_cp")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    val v = t.delete(col("o_orderkey") % 7 === 0)
    val expect = keys(t)
    t.log.writeCheckpoint(v)
    t.log.expireLogBefore(v) // force replay through the checkpoint
    val reread = DeltaTable.forPath(spark, s"$dir/t")
    assert(keys(reread) == expect)
    assert(reread.scan.files().count(_.deletionVector.isDefined) > 0)
  }

  test("compaction of DV files does not resurrect deleted rows") {
    val dir = tmpDir("dv_compact")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(6))
    t.delete(col("o_orderkey") % 3 === 0)
    val expect = keys(t)
    assert(t.compact(targetFileBytes = 1L << 30, smallFileBytes = 1L << 30).nonEmpty)
    assert(keys(t) == expect)
    assert(t.scan.files().count(_.deletionVector.isDefined) == 0)
  }

  test("vacuum keeps referenced DV sidecars") {
    val dir = tmpDir("dv_vacuum")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    t.delete(col("o_orderkey") % 5 === 0)
    val expect = keys(t)
    val deleted = t.vacuum(retentionMs = -1000) // everything eligible by age
    assert(!deleted.exists(_.contains("deletion_vector_")))
    assert(keys(t) == expect)
  }

  test("the add action JSON carries the spec's deletionVector shape") {
    val dir = tmpDir("dv_json")
    val t = DeltaTable.create(spark, s"$dir/t", orders)
    val v = t.delete(col("o_orderkey") % 11 === 0)
    val adds = t.log.readActions(v).collect { case a: AddFile => a }
    assert(adds.nonEmpty)
    val dv = adds.head.deletionVector.get
    assert(dv.storageType == "u")
    assert(dv.pathOrInlineDv.length == 20) // bare z85 uuid, no prefix
    assert(dv.cardinality > 0)
    // protocol upgraded to table features
    val proto = t.log.readActions(v).collectFirst { case p: Protocol => p }
    assert(proto.exists(p => p.minReaderVersion == 3 &&
      p.readerFeatures.exists(_.contains("deletionVectors"))))
  }

  test("upsert merges in one commit: updates replace, inserts append, history intact") {
    val dir = tmpDir("dv_upsert")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(3))
    val all = keys(t)
    val v0 = t.latestVersion
    val source = orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .unionByName(orders.limit(5).withColumn("o_orderkey", col("o_orderkey") + 5000000L))
    val v = t.upsert(source, Seq("o_orderkey"))
    assert(v == v0 + 1) // exactly one commit
    val now = t.toDF()
    assert(now.count() == all.size + 5)
    // every matched key carries the update exactly once
    val updated = now.filter(col("o_orderkey") % 4 === 0 && col("o_orderkey") < 5000000L)
    assert(updated.count() == all.count(_ % 4 == 0))
    assert(updated.filter(col("o_orderstatus") =!= "U").count() == 0)
    // pre-merge version unchanged
    assert(t.toDF(versionAsOf = Some(v0)).count() == all.size)
  }

  test("upsert after delete: matched rows replaced, deleted keys in the source re-insert") {
    val dir = tmpDir("dv_upsert_after_del")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2))
    val all = keys(t)
    t.delete(col("o_orderkey") % 10 === 0)
    t.upsert(orders.filter(col("o_orderkey") % 4 === 0)
      .withColumn("o_orderstatus", lit("W")), Seq("o_orderkey"))
    // a key deleted earlier but present in the MERGE source is NOT
    // MATCHED -> it inserts (e.g. 20, 40); others stay deleted (10, 30)
    assert(keys(t) == all.filter(k => k % 10 != 0 || k % 4 == 0))
    val w = t.toDF().filter(col("o_orderkey") % 4 === 0)
    assert(w.filter(col("o_orderstatus") =!= "W").count() == 0)
    assert(w.count() == all.count(_ % 4 == 0))
  }

  test("upsert on a partitioned table routes inserts into partition dirs") {
    val dir = tmpDir("dv_upsert_part")
    val t = DeltaTable.create(spark, s"$dir/t", orders, Seq("o_orderstatus"))
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", lit(1.0))
    t.upsert(src, Seq("o_orderkey"))
    assert(t.toDF().count() == orders.count())
    assert(t.toDF().filter(col("o_orderkey") % 10 === 0 && col("o_totalprice") =!= 1.0)
      .count() == 0)
    // partition pruning still correct after the merge
    val f = t.scan.partitionIn("o_orderstatus", Set("O")).toDF()
    assert(f.count() == orders.filter(col("o_orderstatus") === "O").count())
  }

  test("changeFeed reconstructs inserts, DV-diff deletes, and full-file deletes") {
    val dir = tmpDir("dv_cdf")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(2)) // v0
    val all = keys(t)
    t.append(orders.limit(0), Seq.empty) // v1: empty append (no rows)
    t.delete(col("o_orderkey") % 10 === 0) // v2: DV rewrite
    t.delete(col("o_orderkey") % 10 =!= 0) // v3: finishes both files -> pure removes
    val feed = t.changeFeed(0L, 3L)
    // v2: exactly the %10 keys deleted
    val v2 = feed.filter(col("_commit_version") === 2 && col("_change_type") === "delete")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(v2 == all.filter(_ % 10 == 0))
    // v3: the remaining rows, via the full-file-remove path (old DV honored)
    val v3 = feed.filter(col("_commit_version") === 3 && col("_change_type") === "delete")
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(v3 == all.filterNot(_ % 10 == 0))
    assert(feed.filter(col("_change_type") === "insert").count() == 0)
    // a merge shows both sides
    val t2 = DeltaTable.create(spark, s"$dir/t2", orders)
    t2.upsert(orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("M")), Seq("o_orderkey"))
    val f2 = t2.changeFeed(0L, 1L)
    val n7 = all.count(_ % 7 == 0)
    assert(f2.filter(col("_change_type") === "delete").count() == n7)
    assert(f2.filter(col("_change_type") === "insert" && col("o_orderstatus") === "M")
      .count() == n7)
  }

  test("inline DVs read back (the storage form other writers may emit)") {
    val dir = tmpDir("dv_inline")
    val t = DeltaTable.create(spark, s"$dir/t", orders.coalesce(1))
    // hand-swap the on-disk DV for an inline one pointing at the same rows
    val v = t.delete(col("o_orderkey") <= 32)
    val adds = t.log.readActions(v).collect { case a: AddFile => a }
    val expect = keys(t)
    val conf = spark.sparkContext.hadoopConfiguration
    val inlineActions: Seq[DeltaAction] = adds.map { a =>
      val pos = a.deletionVector.get.positions(s"$dir/t", conf)
      val data = RoaringBitmapArray.serialize(pos)
      a.copy(deletionVector = Some(DeletionVectorDescriptor(
        "i", Z85.encode(data), None, data.length, pos.length.toLong)))
    } ++ adds.map(a => RemoveFile(a.path, 1L, dataChange = true))
    assert(t.log.commit(v + 1, inlineActions))
    assert(keys(DeltaTable.forPath(spark, s"$dir/t")) == expect)
  }

  test("MERGE prunes non-candidate files by key stats (proved: pruned file is never read)") {
    val dir = tmpDir("merge_prune")
    // 8 range-clustered files → disjoint o_orderkey stats ranges
    val t = DeltaTable.create(spark, s"$dir/t",
      orders.repartitionByRange(8, col("o_orderkey")))
    val files = t.scan.files().map(_.path)
    assert(files.length >= 8)
    // physically delete the file holding the HIGHEST keys; its log entry
    // (and stats) stay — any scan touching it would fail loudly
    val withMax = t.filesDF()
      .select(col("path"), get_json_object(col("stats"), "$.maxValues.o_orderkey").cast("long").as("mx"))
      .orderBy(col("mx").desc).limit(1).collect()(0)
    val victim = new org.apache.hadoop.fs.Path(s"$dir/t", withMax.getString(0))
    val fs = victim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(victim, false))
    // an upsert touching only LOW keys succeeds — the stats prune keeps
    // the missing file out of the matched-scan entirely
    val low = orders.orderBy(col("o_orderkey")).limit(10)
      .withColumn("o_totalprice", col("o_totalprice") + 500000.0)
    t.upsert(low, Seq("o_orderkey"))
    val lowKeys = low.select("o_orderkey").collect().map(_.getLong(0)).toSet
    // (full reads would now fail on the missing file, so check the
    // touched band through the pruned scan)
    val gotMin = t.scan.range("o_orderkey", Some(lowKeys.min), Some(lowKeys.max)).toDF()
      .filter(col("o_orderkey").isInCollection(lowKeys))
      .agg(min(col("o_totalprice"))).collect()(0).getDouble(0)
    assert(gotMin >= 500000.0, s"low-band keys not merged: $gotMin")
    // and an upsert touching the victim's band DOES try to read it
    val high = orders.orderBy(col("o_orderkey").desc).limit(5)
    intercept[Exception](t.upsert(high, Seq("o_orderkey")))
  }

  test("MERGE with a null incoming key still rewrites files holding null-key rows") {
    val dir = tmpDir("merge_prune_null")
    import spark.implicits._
    // file A: low keys only; file B: high keys plus a null-key row.
    // B's [min,max] misses every non-null incoming key, so a range-only
    // prune would drop B and leave its null-key row as a stale duplicate.
    val t = DeltaTable.create(spark, s"$dir/t",
      (1L to 100L).map(k => (Option(k), s"a$k")).toDF("k", "v").coalesce(1))
    t.append(((1000L to 1100L).map(k => (Option(k), s"b$k")) :+
      ((Option.empty[Long], "stale"))).toDF("k", "v").coalesce(1), Seq.empty)
    assert(t.scan.files().size == 2)
    t.upsert(Seq((Option(1L), "A1"), (Option.empty[Long], "fresh")).toDF("k", "v"), Seq("k"))
    val nullRows = t.toDF().filter(col("k").isNull).select("v")
      .collect().map(_.getString(0)).toSeq
    assert(nullRows == Seq("fresh"), s"stale null-key row survived: $nullRows")
    assert(t.toDF().filter(col("k") === 1L).select("v").collect().map(_.getString(0)).toSeq
      == Seq("A1"))
    // the range prune still works for the all-non-null file on non-null keys
    assert(t.toDF().count() == 100 + 101 + 1)
  }
}
