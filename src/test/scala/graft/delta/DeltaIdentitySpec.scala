package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Identity columns: createEmpty declaration, gap-free watermarked
  * assignment on append, GENERATED ALWAYS refusal, explicit-insert
  * ratcheting, and the concurrent-assignment abort path. */
class DeltaIdentitySpec extends SparkTestBase {

  private def identityField(
      name: String, start: Long, step: Long, explicitOk: Boolean = false): StructField = {
    val b = new MetadataBuilder()
      .putLong("delta.identity.start", start)
      .putLong("delta.identity.step", step)
    if (explicitOk) b.putBoolean("delta.identity.allowExplicitInsert", true)
    StructField(name, LongType, nullable = false, metadata = b.build())
  }

  private def schemaWithId(explicitOk: Boolean = false) = StructType(Seq(
    identityField("id", 100L, 10L, explicitOk),
    StructField("tag", StringType)))

  private def ids(t: DeltaTable): Seq[Long] =
    t.toDF().select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def watermark(t: DeltaTable): Long = {
    val (schema, _) = t.schemaAt(None)
    schema.fields.find(_.name == "id").get.metadata.getLong("delta.identity.highWaterMark")
  }

  test("appends assign gap-free values from start, watermark advances per commit") {
    val dir = tmpDir("ident_basic")
    val t = DeltaTable.createEmpty(spark, s"$dir/t", schemaWithId())
    assert(t.log.snapshot().protocol.minWriterVersion == 6)
    import spark.implicits._
    t.append(Seq("a", "b", "c").toDF("tag"), Seq.empty)
    assert(ids(t) == Seq(100L, 110L, 120L))
    assert(watermark(t) == 120L)
    t.append(Seq("d", "e").toDF("tag"), Seq.empty)
    assert(ids(t) == Seq(100L, 110L, 120L, 130L, 140L))
    assert(watermark(t) == 140L)
  }

  test("GENERATED ALWAYS: explicit values are refused") {
    val dir = tmpDir("ident_always")
    val t = DeltaTable.createEmpty(spark, s"$dir/t", schemaWithId())
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      t.append(Seq((999L, "x")).toDF("id", "tag"), Seq.empty))
    assert(e.getMessage.contains("GENERATED ALWAYS"))
  }

  test("allowExplicitInsert ratchets the watermark past explicit values") {
    val dir = tmpDir("ident_explicit")
    val t = DeltaTable.createEmpty(spark, s"$dir/t", schemaWithId(explicitOk = true))
    import spark.implicits._
    t.append(Seq((500L, "x"), (130L, "y")).toDF("id", "tag"), Seq.empty)
    assert(watermark(t) == 500L)
    // generated values continue after the explicit maximum
    t.append(Seq("z").toDF("tag"), Seq.empty)
    assert(ids(t) == Seq(130L, 500L, 510L))
  }

  test("negative step descends; partitioned identity tables work") {
    val dir = tmpDir("ident_neg")
    val schema = StructType(Seq(
      identityField("id", -1L, -5L),
      StructField("tag", StringType)))
    val t = DeltaTable.createEmpty(spark, s"$dir/t", schema, Seq("tag"))
    import spark.implicits._
    t.append(Seq("a", "a", "b").toDF("tag"), Seq.empty)
    assert(ids(t).toSet == Set(-1L, -6L, -11L))
    assert(watermark(t) == -11L)
    assert(t.toDF().filter(col("tag") === "a").count() == 2)
  }

  test("upsert refuses GENERATED ALWAYS; ratchets watermark when explicit insert allowed") {
    val dir = tmpDir("ident_merge")
    import spark.implicits._
    val tAlways = DeltaTable.createEmpty(spark, s"$dir/always", schemaWithId())
    tAlways.append(Seq("a", "b").toDF("tag"), Seq.empty)
    val e = intercept[IllegalArgumentException](
      tAlways.upsert(Seq((100L, "a2")).toDF("id", "tag"), Seq("id")))
    assert(e.getMessage.contains("GENERATED ALWAYS"))

    val t = DeltaTable.createEmpty(spark, s"$dir/ok", schemaWithId(explicitOk = true))
    t.append(Seq("a", "b").toDF("tag"), Seq.empty) // ids 100, 110
    t.upsert(Seq((110L, "b2"), (900L, "new")).toDF("id", "tag"), Seq("id"))
    assert(ids(t) == Seq(100L, 110L, 900L))
    assert(watermark(t) == 900L)
    // generated values continue past the merged maximum
    t.append(Seq("c").toDF("tag"), Seq.empty)
    assert(ids(t) == Seq(100L, 110L, 900L, 910L))
  }

  test("identity survives row-level delete and restore") {
    val dir = tmpDir("ident_delete")
    val t = DeltaTable.createEmpty(spark, s"$dir/t", schemaWithId())
    import spark.implicits._
    t.append((1 to 20).map(i => s"r$i").toDF("tag"), Seq.empty)
    t.delete(col("id") % 20 === 0)
    assert(ids(t).size == 10)
    // next append continues from the watermark, not from the live max
    t.append(Seq("tail").toDF("tag"), Seq.empty)
    assert(ids(t).max == 100L + 20 * 10L)
  }
}
