package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.SparkTestBase

/**
 * Protocol discipline: reads fail FAST on tables whose protocol demands
 * reader behavior this engine doesn't implement (the alternative is
 * silently wrong rows), writes refuse features they can't honor, the
 * current protocol is derived by snapshot replay (not version 0), and
 * table-features upgrades preserve previously-implied features. The
 * reference gets all of this from the linked Delta runtime (ref
 * `core/.../delta/DeltaClient.java:215-296`); we enforce it natively.
 */
class DeltaProtocolSpec extends SparkTestBase {

  // o_orderdate casts to DateType: the raw column reads as TimestampNTZ
  // (parquet timestamp[ms] not adjusted to UTC), which would rightly
  // trigger the timestampNtz table feature and mask the cases below
  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
      col("o_totalprice"))

  private def upgrade(t: DeltaTable, p: Protocol): Unit = {
    val v = t.latestVersion + 1
    assert(t.log.commit(v, Seq(p,
      CommitInfo(System.currentTimeMillis(), "UPGRADE", Map.empty))))
  }

  test("unsupported reader feature fails fast, feature named; writes refuse too") {
    val dir = tmpDir("proto_reader")
    val t = DeltaTable.create(spark, s"$dir/t", orders.limit(100))
    upgrade(t, Protocol(3, 7,
      Some(Seq("deletionVectors", "variantType")),
      Some(Seq("deletionVectors", "variantType"))))
    val e = intercept[IllegalArgumentException](t.toDF().collect())
    assert(e.getMessage.contains("variantType"))
    assert(e.getMessage.contains("unsupported Delta reader feature"))
    intercept[IllegalArgumentException](t.append(orders.limit(1), Seq.empty))
    intercept[IllegalArgumentException](t.changeFeed(0L, t.latestVersion))
    intercept[IllegalArgumentException](t.snapshotDataFiles())
  }

  test("minReaderVersion above 3 fails fast; supported features read fine") {
    val dir = tmpDir("proto_v4")
    val t = DeltaTable.create(spark, s"$dir/t", orders.limit(100))
    upgrade(t, Protocol(3, 7,
      Some(Seq("deletionVectors", "columnMapping", "timestampNtz", "vacuumProtocolCheck")),
      Some(Seq("deletionVectors"))))
    assert(t.toDF().count() == 100) // all-supported feature set is fine
    upgrade(t, Protocol(4, 7, Some(Seq.empty), Some(Seq.empty)))
    val e = intercept[IllegalArgumentException](t.toDF().collect())
    assert(e.getMessage.contains("minReaderVersion 4"))
  }

  test("DV upgrade derives from replayed protocol, commits once, keeps implied features") {
    val dir = tmpDir("proto_upgrade")
    // generated-column partitioning => legacy writer v4 at create
    val t = DeltaTable.create(spark, s"$dir/t", orders, Seq("month(o_orderdate)"))
    assert(t.log.snapshot().protocol == Protocol(1, 4))
    t.delete(col("o_orderkey") % 10 === 0)
    val p = t.log.snapshot().protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.get.contains("deletionVectors"))
    // the upgrade must not strip what minWriterVersion 4 implied
    assert(p.writerFeatures.get.contains("generatedColumns"))
    // second delete sees the upgraded protocol and does NOT re-commit it
    val v2 = t.delete(col("o_orderkey") % 15 === 0)
    assert(t.log.readActions(v2).collect { case pr: Protocol => pr }.isEmpty)
  }

  test("protocol survives checkpoint + log expiry; later deletes still work") {
    val dir = tmpDir("proto_expire")
    val t = DeltaTable.create(spark, s"$dir/t", orders.limit(200)) // v0
    t.delete(col("o_orderkey") % 7 === 0) // v1: table-features upgrade
    (2 to 10).foreach(i => t.append(orders.limit(10), Seq.empty)) // v10 checkpoints
    assert(t.log.lastCheckpoint().contains(10L))
    t.log.expireLogBefore(10L) // v0..v9 JSON gone, incl. the upgrade commit
    val p = t.log.snapshot().protocol
    assert(p.readerFeatures.exists(_.contains("deletionVectors")),
      s"checkpoint lost the feature lists: $p")
    // this crashed before: the old code read the (now deleted) v0 JSON
    val v = t.delete(col("o_orderkey") % 11 === 0)
    assert(t.log.readActions(v).collect { case pr: Protocol => pr }.isEmpty)
    assert(t.toDF().filter(col("o_orderkey") % 11 === 0).count() == 0)
  }

  test("timestampNtz schema declares the table feature and round-trips") {
    val dir = tmpDir("proto_ntz")
    val df = spark.range(0, 5).select(col("id"),
      lit("2024-03-01 10:30:00").cast(TimestampNTZType).as("ts"))
    val t = DeltaTable.create(spark, s"$dir/t", df)
    val p = t.log.snapshot().protocol
    assert(p.minReaderVersion == 3)
    assert(p.readerFeatures.get == Seq("timestampNtz"))
    assert(p.writerFeatures.get.contains("timestampNtz"))
    assert(t.toDF().count() == 5)
    assert(t.schemaAt(None)._1("ts").dataType == TimestampNTZType)
  }

  test("metadata-activated switches: appendOnly blocks deletes, constraints validate rows") {
    val dir = tmpDir("proto_meta")
    val t = DeltaTable.create(spark, s"$dir/t", orders.limit(100))
    val meta = t.log.snapshot().metadata
    val v = t.latestVersion + 1
    assert(t.log.commit(v, Seq(
      meta.copy(configuration = meta.configuration + ("delta.appendOnly" -> "true")),
      CommitInfo(System.currentTimeMillis(), "SET TBLPROPERTIES", Map.empty))))
    val e = intercept[IllegalArgumentException](t.delete(col("o_orderkey") === 1L))
    assert(e.getMessage.contains("delta.appendOnly"))
    t.append(orders.limit(5), Seq.empty) // appends stay allowed
    val v2 = t.latestVersion + 1
    assert(t.log.commit(v2, Seq(
      meta.copy(configuration =
        meta.configuration + ("delta.constraints.minprice" -> "o_totalprice > 0")),
      CommitInfo(System.currentTimeMillis(), "ADD CONSTRAINT", Map.empty))))
    // conforming rows append fine; violating rows fail with the
    // constraint NAMED and nothing committed (SQL CHECK: NULL passes)
    val okV = t.append(orders.limit(5), Seq.empty)
    val e2 = intercept[IllegalArgumentException](
      t.append(orders.limit(5).withColumn("o_totalprice", lit(-1.0)), Seq.empty))
    assert(e2.getMessage.contains("minprice") && e2.getMessage.contains("o_totalprice > 0"))
    assert(t.latestVersion == okV, "violating append must not commit")
    t.append(orders.limit(3).withColumn("o_totalprice", lit(null).cast("double")), Seq.empty)
  }

  test("column invariants validate like constraints; upserts validate too") {
    val dir = tmpDir("proto_inv")
    val t = DeltaTable.create(spark, s"$dir/t", orders.limit(50))
    val meta = t.log.snapshot().metadata
    val schema = t.schemaAt(None)._1
    val withInv = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (f.name == "o_orderkey")
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("delta.invariants",
            """{"expression":{"expression":"o_orderkey < 1000000"}}""").build())
      else f
    })
    val v = t.latestVersion + 1
    assert(t.log.commit(v, Seq(
      meta.copy(schemaString = withInv.json),
      CommitInfo(System.currentTimeMillis(), "ADD INVARIANT", Map.empty))))
    t.append(orders.limit(5), Seq.empty)
    val e = intercept[IllegalArgumentException](
      t.append(orders.limit(2).withColumn("o_orderkey", lit(2000000L)), Seq.empty))
    assert(e.getMessage.contains("invariant(o_orderkey)"))
    // the MERGE path validates its source the same way
    val e2 = intercept[IllegalArgumentException](
      t.upsert(orders.limit(2).withColumn("o_orderkey", lit(3000000L)), Seq("o_orderkey")))
    assert(e2.getMessage.contains("invariant(o_orderkey)"))
  }

  test("compaction aborts when a concurrent delete changed a replaced file's DV") {
    val dir = tmpDir("proto_conflict")
    val t = DeltaTable.create(spark, s"$dir/t", orders.repartition(4))
    // the rewrite's stale view: all four files, no deletion vectors
    val stale = t.log.snapshot().files.map(_.path -> (None: Option[DeletionVectorDescriptor]))
    val df = t.toDF()
    t.delete(col("o_orderkey") % 2 === 0) // racer lands: files now carry DVs
    val e = intercept[IllegalArgumentException](
      t.write(df, Seq.empty, overwrite = false, replacing = stale))
    assert(e.getMessage.contains("deletion vector"))
  }
}
