package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.{IcebergSchemas, IcebergTable}

/** Nested type widening: `widenColumn` takes dot-paths on all three
  * formats (struct fields, array elements, map values — the reference's
  * evolution plane is fully recursive, `IcebergSchemaSync.java:46-217`).
  * Pre-widen files keep their narrow physical type and read widened;
  * Delta stamps `delta.typeChanges` on the DEEPEST struct-field
  * ancestor with any container tail as `fieldPath`; Iceberg keeps the
  * nested field's id. */
class NestedWidenSpec extends SparkTestBase {

  /** id, s:struct<x:int,y:string>, arr:array<int>, m:map<string,float>,
    * aos:array<struct<q:int,r:string>> */
  private def nestedDf(tag: Int): DataFrame = {
    import spark.implicits._
    Seq(
      (1L + tag * 10, (7 + tag, "a"), Seq(1 + tag, 2), Map("k1" -> 1.5f), Seq((100 + tag, "r1"))),
      (2L + tag * 10, (8 + tag, "b"), Seq(3, 4), Map("k2" -> 2.5f), Seq((200 + tag, "r2"))))
      .toDF("id", "s", "arr", "m", "aos")
      .select($"id",
        $"s".cast("struct<x:int,y:string>").as("s"),
        $"arr", $"m",
        $"aos".cast("array<struct<q:int,r:string>>").as("aos"))
  }

  // ----------------------------------------------------- shared walker

  test("widenAt: struct field, array element, map value, struct-in-array paths") {
    val base = nestedDf(0).schema
    val w1 = SchemaMerge.widenAt(base, "s.x", LongType, "t")()
    assert(w1("s").dataType.asInstanceOf[StructType]("x").dataType == LongType)
    val w2 = SchemaMerge.widenAt(base, "arr.element", LongType, "t")()
    assert(w2("arr").dataType.asInstanceOf[ArrayType].elementType == LongType)
    val w3 = SchemaMerge.widenAt(base, "m.value", DoubleType, "t")()
    assert(w3("m").dataType.asInstanceOf[MapType].valueType == DoubleType)
    val w4 = SchemaMerge.widenAt(base, "aos.element.q", LongType, "t")()
    assert(w4("aos").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("q").dataType == LongType)
    // anchor/fieldPath contract: the deepest struct-field ancestor takes
    // the stamp; container tails ride fieldPath
    var seen = List.empty[(String, String, String)]
    SchemaMerge.widenAt(base, "aos.element.q", LongType, "t") { (f, from, fp) =>
      seen ::= ((f.name, from.simpleString, fp)); f
    }
    assert(seen == List(("q", "int", "")))
    SchemaMerge.widenAt(base, "arr.element", LongType, "t") { (f, from, fp) =>
      seen ::= ((f.name, from.simpleString, fp)); f
    }
    assert(seen.head == (("arr", "int", "element")))
    // refusals: bad paths, non-promotions, map keys
    intercept[IllegalArgumentException](SchemaMerge.widenAt(base, "s.z", LongType, "t")())
    intercept[IllegalArgumentException](SchemaMerge.widenAt(base, "s.y", LongType, "t")())
    intercept[IllegalArgumentException](SchemaMerge.widenAt(base, "arr.item", LongType, "t")())
    intercept[IllegalArgumentException](SchemaMerge.widenAt(base, "m.key", LongType, "t")())
    intercept[IllegalArgumentException](SchemaMerge.widenAt(base, "s.x.deeper", LongType, "t")())
  }

  // ------------------------------------------------------------ delta

  test("delta: nested widens are metadata-only, stamp the right anchor, and read exactly") {
    val dir = tmpDir("nested_widen_delta")
    val t = DeltaTable.create(spark, s"$dir/t", nestedDf(0))
    val filesBefore = t.log.snapshot().files.map(_.path).sorted
    t.widenColumn("s.x", LongType)
    t.widenColumn("arr.element", LongType)
    t.widenColumn("m.value", DoubleType)
    t.widenColumn("aos.element.q", LongType)
    assert(t.log.snapshot().files.map(_.path).sorted
      .sameElements(filesBefore)) // zero data rewrite
    val schema = t.schemaAt(None)._1
    // nested struct field: history on the field ITSELF, no fieldPath
    val sx = schema("s").dataType.asInstanceOf[StructType]("x")
    assert(sx.dataType == LongType)
    val sxTc = sx.metadata.getMetadataArray("delta.typeChanges")
    assert(sxTc.length == 1 && sxTc(0).getString("fromType") == "integer"
      && sxTc(0).getString("toType") == "long" && !sxTc(0).contains("fieldPath"))
    // array element: history on the OUTER field with fieldPath=element
    val arrTc = schema("arr").metadata.getMetadataArray("delta.typeChanges")
    assert(arrTc.length == 1 && arrTc(0).getString("fieldPath") == "element"
      && arrTc(0).getString("toType") == "long")
    val mTc = schema("m").metadata.getMetadataArray("delta.typeChanges")
    assert(mTc.length == 1 && mTc(0).getString("fieldPath") == "value"
      && mTc(0).getString("toType") == "double")
    // struct-in-array: history on the INNER field q (nearest struct
    // field ancestor), not on aos
    val q = schema("aos").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("q")
    assert(q.dataType == LongType)
    val qTc = q.metadata.getMetadataArray("delta.typeChanges")
    assert(qTc.length == 1 && qTc(0).getString("fromType") == "integer"
      && !qTc(0).contains("fieldPath"))
    assert(!schema("aos").metadata.contains("delta.typeChanges"))
    // protocol gate + pre-widen files read under the wide schema
    assert(t.log.snapshot().protocol.readerFeatures.exists(_.contains("typeWidening")))
    val out = t.toDF().orderBy("id").collect()
    assert(out.map(_.getStruct(1).getLong(0)).toSeq == Seq(7L, 8L))
    assert(out(0).getSeq[Long](2) == Seq(1L, 2L))
    assert(out(0).getMap[String, Double](3)("k1") == 1.5d)
    assert(out(0).getSeq[org.apache.spark.sql.Row](4).head.getLong(0) == 100L)
    // a post-widen append lands beyond-int-range values losslessly
    import spark.implicits._
    val wide = Seq((99L, (4100000000L, "w"), Seq(5000000000L), Map("k9" -> 9.5d),
      Seq((6000000000L, "r9")))).toDF("id", "s", "arr", "m", "aos")
      .select($"id", $"s".cast("struct<x:long,y:string>").as("s"), $"arr", $"m",
        $"aos".cast("array<struct<q:long,r:string>>").as("aos"))
    t.append(wide, Seq.empty)
    val got = t.toDF().filter($"id" === 99L).head
    assert(got.getStruct(1).getLong(0) == 4100000000L)
    assert(got.getSeq[org.apache.spark.sql.Row](4).head.getLong(0) == 6000000000L)
  }

  test("delta: an implicit wider append stamps nested container-struct fields too") {
    // the ADVICE-r12 gap: array<struct<q:int>> -> array<struct<q:long>>
    // arriving via SchemaMerge.promote on an append must stamp
    // delta.typeChanges on the nested field and upgrade the protocol,
    // or non-widening readers are not forced to refuse
    val dir = tmpDir("nested_widen_implicit")
    val t = DeltaTable.create(spark, s"$dir/t", nestedDf(0))
    import spark.implicits._
    val wide = Seq((50L, (9, "c"), Seq(1), Map("k3" -> 3.5f), Seq((7000000000L, "r3"))))
      .toDF("id", "s", "arr", "m", "aos")
      .select($"id", $"s".cast("struct<x:int,y:string>").as("s"), $"arr", $"m",
        $"aos".cast("array<struct<q:long,r:string>>").as("aos"))
    t.append(wide, Seq.empty)
    val schema = t.schemaAt(None)._1
    val q = schema("aos").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("q")
    assert(q.dataType == LongType)
    val qTc = q.metadata.getMetadataArray("delta.typeChanges")
    assert(qTc.length == 1 && qTc(0).getString("fromType") == "integer"
      && qTc(0).getString("toType") == "long")
    assert(t.log.snapshot().protocol.readerFeatures.exists(_.contains("typeWidening")))
    assert(t.toDF().filter($"id" === 50L).head
      .getSeq[org.apache.spark.sql.Row](4).head.getLong(0) == 7000000000L)
  }

  // ---------------------------------------------------------- iceberg

  test("iceberg: nested widens keep field ids; time travel presents the narrow schema") {
    val dir = tmpDir("nested_widen_ice")
    val t = IcebergTable.create(spark, s"$dir/t", nestedDf(0))
    val snapBefore = t.currentMetadata.currentSnapshotId.get
    def sxField(tt: IcebergTable) =
      tt.currentMetadata.schema("s").dataType.asInstanceOf[StructType]("x")
    val idBefore = IcebergSchemas.fieldId(sxField(t))
    assert(idBefore.nonEmpty)
    t.widenColumn("s.x", LongType)
    t.widenColumn("arr.element", LongType)
    t.widenColumn("aos.element.q", LongType)
    val t2 = IcebergTable.forPath(spark, s"$dir/t")
    assert(sxField(t2).dataType == LongType)
    assert(IcebergSchemas.fieldId(sxField(t2)) == idBefore) // promotion keeps the id
    assert(t2.currentMetadata.schema("arr").dataType
      .asInstanceOf[ArrayType].elementType == LongType)
    // data written narrow reads wide
    val out = t2.toDF().orderBy("id").collect()
    assert(out.map(_.getStruct(1).getLong(0)).toSeq == Seq(7L, 8L))
    assert(out(0).getSeq[Long](2) == Seq(1L, 2L))
    // snapshots before the widen still present the narrow schema
    assert(t2.toDF(snapshotAsOf = Some(snapBefore))
      .schema("s").dataType.asInstanceOf[StructType]("x").dataType == IntegerType)
    // wide append reads exactly
    import spark.implicits._
    val wide = Seq((99L, (4100000000L, "w"), Seq(5000000000L), Map("k9" -> 9.5f),
      Seq((6000000000L, "r9")))).toDF("id", "s", "arr", "m", "aos")
      .select($"id", $"s".cast("struct<x:long,y:string>").as("s"), $"arr", $"m",
        $"aos".cast("array<struct<q:long,r:string>>").as("aos"))
    t2.append(wide)
    assert(t2.toDF().filter($"id" === 99L).head.getStruct(1).getLong(0) == 4100000000L)
  }

  // ------------------------------------------------------------- hudi

  test("hudi: nested widens ride the ALTER_SCHEMA instant; old files read wide") {
    val dir = tmpDir("nested_widen_hudi")
    val t = HudiTable.create(spark, s"$dir/t", nestedDf(0))
    t.widenColumn("s.x", LongType)
    t.widenColumn("m.value", DoubleType)
    t.widenColumn("aos.element.q", LongType)
    val schema = t.schemaAt(None)
    assert(schema("s").dataType.asInstanceOf[StructType]("x").dataType == LongType)
    assert(schema("m").dataType.asInstanceOf[MapType].valueType == DoubleType)
    assert(schema("aos").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("q").dataType == LongType)
    val out = t.toDF().orderBy("id").collect()
    assert(out.map(_.getStruct(1).getLong(0)).toSeq == Seq(7L, 8L))
    assert(out(0).getMap[String, Double](3)("k1") == 1.5d)
    import spark.implicits._
    val wide = Seq((99L, (4100000000L, "w"), Seq(1), Map("k9" -> 9.5d),
      Seq((6000000000L, "r9")))).toDF("id", "s", "arr", "m", "aos")
      .select($"id", $"s".cast("struct<x:long,y:string>").as("s"), $"arr", $"m",
        $"aos".cast("array<struct<q:long,r:string>>").as("aos"))
    t.append(wide, Seq.empty)
    val got = t.toDF().filter($"id" === 99L).head
    assert(got.getStruct(1).getLong(0) == 4100000000L)
    assert(got.getSeq[org.apache.spark.sql.Row](4).head.getLong(0) == 6000000000L)
  }

  // ------------------------------------------- stale-history pruning

  test("stampTypeChanges drops history entries a narrowing restore falsified") {
    // sync-mirror carry path: the target's old field history claims
    // toType=long, but the restored source narrowed the schema back to
    // int — carrying the stale claim forward would mislead
    // typeWidening-aware readers
    val withHist = StructType(Seq(
      StructField("a", LongType, nullable = true, metadata =
        DeltaTable.appendTypeChanges(Metadata.empty,
          Seq(DeltaTable.typeChangeEntry(IntegerType, LongType, "")))),
      StructField("b", StringType)))
    // narrowed back: the carried entry must be DROPPED
    val narrow = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val (stamped, widened) = DeltaTable.stampTypeChanges(withHist, narrow)
    assert(!widened)
    assert(!stamped("a").metadata.contains("delta.typeChanges"))
    // still-wide: the carried entry survives
    val stillWide = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val (stamped2, widened2) = DeltaTable.stampTypeChanges(withHist, stillWide)
    assert(!widened2)
    val kept = stamped2("a").metadata.getMetadataArray("delta.typeChanges")
    assert(kept.length == 1 && kept(0).getString("toType") == "long")
    // mid-promotion restore (long -> int history carried onto a SHORT
    // column after a deeper narrow): dropped too
    val shortNow = StructType(Seq(StructField("a", ShortType), StructField("b", StringType)))
    val (stamped3, _) = DeltaTable.stampTypeChanges(withHist, shortNow)
    assert(!stamped3("a").metadata.contains("delta.typeChanges"))
  }
}
