package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Delta `typeWidening` plane: metadata-only widenColumn DDL, reads
  * over mixed-width files, stats coercion, time travel / RESTORE across
  * the widen, protocol gating, and the refusal matrix (partition /
  * key-indexed columns, non-promotions). */
class DeltaTypeWideningSpec extends SparkTestBase {

  // l_linenumber is INT in the testdata
  private def items = spark.read.parquet(s"$sf0001/lineitem.parquet")
    .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
    .limit(40)

  test("widenColumn int->long is metadata-only and old files read widened") {
    val dir = tmpDir("widen_basic")
    val t = DeltaTable.create(spark, s"$dir/t", items.repartition(2))
    val before = t.toDF().count()
    val filesBefore = t.log.snapshot().files.map(_.path).sorted
    val v = t.widenColumn("l_linenumber", LongType)
    assert(v == 1L)
    // no data moved
    val filesAfter = t.log.snapshot().files.map(_.path).sorted
    assert(filesAfter.sameElements(filesBefore))
    val (schema, _) = t.schemaAt(None)
    assert(schema("l_linenumber").dataType == LongType)
    // typeChanges history stamped the way the STABLE feature records it:
    // a metadata ARRAY of {fromType,toType} entries (no preview-era
    // tableVersion key) — parseable by external typeWidening readers
    val tc = schema("l_linenumber").metadata.getMetadataArray("delta.typeChanges")
    assert(tc.length == 1)
    assert(tc(0).getString("fromType") == "integer" && tc(0).getString("toType") == "long")
    assert(!tc(0).contains("tableVersion") && !tc(0).contains("fieldPath"))
    // protocol carries the reader+writer feature
    val p = t.log.snapshot().protocol
    assert(p.readerFeatures.exists(_.contains("typeWidening")))
    assert(p.writerFeatures.exists(_.contains("typeWidening")))
    assert(t.toDF().count() == before)
    assert(t.toDF().schema("l_linenumber").dataType == LongType)
  }

  test("appends after the widen: narrower AND wider batches coexist") {
    val dir = tmpDir("widen_appends")
    val t = DeltaTable.create(spark, s"$dir/t", items.limit(10))
    t.widenColumn("l_linenumber", LongType)
    // a narrower (still-int) writer keeps working; declared type stays long
    t.append(items.limit(5).withColumn("l_orderkey", col("l_orderkey") + 1000000L), Seq.empty)
    assert(t.schemaAt(None)._1("l_linenumber").dataType == LongType)
    // a batch with values beyond int range lands losslessly
    val big = items.limit(3)
      .withColumn("l_orderkey", col("l_orderkey") + 2000000L)
      .withColumn("l_linenumber", lit(4000000000L))
    t.append(big, Seq.empty)
    val got = t.toDF().select("l_linenumber").collect().map(_.getLong(0))
    assert(got.length == 18)
    assert(got.count(_ == 4000000000L) == 3)
  }

  test("implicit widen via a wider append carries the same bookkeeping as widenColumn") {
    val dir = tmpDir("widen_implicit")
    val t = DeltaTable.create(spark, s"$dir/t", items.limit(10))
    // an incoming batch with a LONG l_linenumber widens the declared
    // schema through SchemaMerge.promote — the commit must stamp
    // typeChanges and upgrade the protocol exactly like widenColumn
    t.append(items.limit(3)
      .withColumn("l_orderkey", col("l_orderkey") + 2000000L)
      .withColumn("l_linenumber", lit(4000000000L)), Seq.empty)
    val (schema, _) = t.schemaAt(None)
    assert(schema("l_linenumber").dataType == LongType)
    val tc = schema("l_linenumber").metadata.getMetadataArray("delta.typeChanges")
    assert(tc.length == 1)
    assert(tc(0).getString("fromType") == "integer" && tc(0).getString("toType") == "long")
    val p = t.log.snapshot().protocol
    assert(p.readerFeatures.exists(_.contains("typeWidening")))
    assert(p.writerFeatures.exists(_.contains("typeWidening")))
    // mixed-width files read under the wide schema
    assert(t.toDF().select("l_linenumber").collect().map(_.getLong(0)).count(_ == 4000000000L) == 3)
    // a second, already-covered wide append must NOT re-stamp history
    t.append(items.limit(2)
      .withColumn("l_orderkey", col("l_orderkey") + 3000000L)
      .withColumn("l_linenumber", lit(5L)), Seq.empty)
    val tc2 = t.schemaAt(None)._1("l_linenumber").metadata.getMetadataArray("delta.typeChanges")
    assert(tc2.toSeq == tc.toSeq, s"history re-stamped: ${tc2.mkString(",")}")
  }

  test("widen history: time travel reads the pre-widen schema, RESTORE rolls it back") {
    val dir = tmpDir("widen_history")
    val t = DeltaTable.create(spark, s"$dir/t", items.limit(10))
    val vWiden = t.widenColumn("l_linenumber", LongType)
    assert(t.schemaAt(Some(vWiden - 1))._1("l_linenumber").dataType == IntegerType)
    assert(t.toDF(Some(vWiden - 1)).schema("l_linenumber").dataType == IntegerType)
    // the widen is metadata-only, so this exercises the metadata-only
    // RESTORE path (the seed-127 class): schema must roll back
    t.restoreTo(vWiden - 1)
    assert(t.schemaAt(None)._1("l_linenumber").dataType == IntegerType)
    assert(t.toDF().count() == 10)
  }

  test("float->double and decimal precision widen") {
    val dir = tmpDir("widen_kinds")
    import spark.implicits._
    val df = Seq((1L, 1.5f, BigDecimal("12.34")), (2L, 2.5f, BigDecimal("99.99")))
      .toDF("id", "f", "d").select($"id", $"f", $"d".cast(DecimalType(6, 2)).as("d"))
    val t = DeltaTable.create(spark, s"$dir/t", df)
    t.widenColumn("f", DoubleType)
    t.widenColumn("d", DecimalType(12, 2))
    val out = t.toDF().orderBy("id").collect()
    assert(out.map(_.getDouble(1)).toSeq == Seq(1.5d, 2.5d))
    assert(out.map(_.getDecimal(2).toPlainString).toSeq == Seq("12.34", "99.99"))
    // scale change is not a widen
    intercept[IllegalArgumentException](t.widenColumn("d", DecimalType(12, 4)))
  }

  test("refusal matrix: non-promotions, partition columns, key-indexed columns") {
    val dir = tmpDir("widen_refuse")
    val t = DeltaTable.create(spark, s"$dir/t", items.limit(20), Seq("l_linenumber"))
    intercept[IllegalArgumentException](t.widenColumn("l_linenumber", LongType)) // partition col
    intercept[IllegalArgumentException](t.widenColumn("l_returnflag", LongType)) // not a promotion
    intercept[IllegalArgumentException](t.widenColumn("l_orderkey", IntegerType)) // narrowing
    intercept[IllegalArgumentException](t.widenColumn("nope", LongType))
    // the key index pins its build type: widen of the key column refuses
    // loudly, directing a rebuild
    val t2 = DeltaTable.create(spark, s"$dir/t2",
      items.limit(20).withColumn("key_int",
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("int")))
    t2.buildKeyIndex("key_int")
    val e = intercept[IllegalArgumentException](t2.widenColumn("key_int", LongType))
    assert(e.getMessage.contains("key index"))
    // non-indexed columns of the same table still widen
    t2.widenColumn("l_linenumber", LongType)
  }

  test("change feed spans the widen: mixed-width commits read under the wide schema") {
    val dir = tmpDir("widen_cdf")
    val t = DeltaTable.create(spark, s"$dir/t", items.limit(10))
    t.widenColumn("l_linenumber", LongType)
    t.append(items.limit(3)
      .withColumn("l_orderkey", col("l_orderkey") + 2000000L)
      .withColumn("l_linenumber", lit(4000000000L)), Seq.empty)
    // range spans narrow v0 files AND wide v2 files: one frame, the
    // range-end (wide) schema, every value exact
    val feed = t.changeFeed(-1L, t.latestVersion)
    assert(feed.schema("l_linenumber").dataType == LongType)
    val vals = feed.select("l_linenumber").collect().map(_.getLong(0))
    assert(vals.length == 13 && vals.count(_ == 4000000000L) == 3)
  }

  test("streaming across the widen: wide pin up-casts old files; narrow pin refuses loudly") {
    val dir = tmpDir("widen_stream")
    val t = DeltaTable.create(spark, s"$dir/t", items.limit(10))
    t.widenColumn("l_linenumber", LongType)
    t.append(items.limit(3)
      .withColumn("l_orderkey", col("l_orderkey") + 2000000L)
      .withColumn("l_linenumber", lit(4000000000L)), Seq.empty)
    // a stream started AFTER the widen pins the wide schema; the
    // initial snapshot replays pre-widen narrow files — they up-cast
    val sink = s"widen_stream_${System.nanoTime()}"
    val q = spark.readStream.format("graft").load(s"$dir/t")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", s"$dir/ckpt1")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(300000)
    val got = spark.table(sink)
    assert(got.schema("l_linenumber").dataType == LongType)
    assert(got.count() == 13)
    assert(got.select("l_linenumber").collect().map(_.getLong(0)).count(_ == 4000000000L) == 3)
    // a stream PINNED NARROW (pre-widen schema passed explicitly, as a
    // restarted old checkpoint would) must refuse the widened batches
    // loudly instead of silently narrowing 4e9 into an int
    val narrowPin = StructType(t.schemaAt(Some(0L))._1.fields)
    val sink2 = s"widen_stream2_${System.nanoTime()}"
    val q2 = spark.readStream.format("graft").schema(narrowPin).load(s"$dir/t")
      .writeStream.format("memory").queryName(sink2)
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(300000)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("without narrowing"), msgs)
  }

  test("stats survive the widen: old int-written stats parse under the long schema") {
    val dir = tmpDir("widen_stats")
    val t = DeltaTable.create(spark, s"$dir/t", items.repartition(4))
    val statsBefore = t.snapshotDataFiles().flatMap(_.columnStats.filter(_.column == "l_linenumber"))
      .flatMap(s => s.minValue ++ s.maxValue).map(_.toLong).sorted
    t.widenColumn("l_linenumber", LongType)
    val statsAfter = t.snapshotDataFiles().flatMap(_.columnStats.filter(_.column == "l_linenumber"))
      .flatMap(s => s.minValue ++ s.maxValue).map(_.toLong).sorted
    assert(statsAfter.nonEmpty && statsAfter == statsBefore)
  }
}
