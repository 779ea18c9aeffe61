package graft.iceberg

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/**
 * Iceberg schema JSON codec + single-value binary codec, implemented
 * from the public Iceberg table spec (format v2). The engine's analog of
 * the reference's `IcebergSchemaExtractor` (ref
 * `core/.../iceberg/IcebergSchemaExtractor.java:132-369`) and
 * `IcebergColumnStatsConverter` value encoding (ref
 * `core/.../iceberg/IcebergColumnStatsConverter.java:90-134` which
 * delegates to Iceberg's `Conversions.fromByteBuffer`; here the codec is
 * written out, spec Appendix D "Single-value serialization").
 *
 * Field ids: assigned when absent with the reference's rule — top-level
 * fields first, then nested fields, via a single counter
 * (ref `IcebergSchemaExtractor.java:144-166`). Ids are carried in
 * `StructField.metadata` under [[IcebergSchemas.FieldIdKey]] so the
 * assignment is stable across round-trips.
 */
object IcebergSchemas {

  val FieldIdKey = "graft.iceberg.field.id"
  /** Collection element/key/value ids owned by a field's type, comma-
    * joined depth-first (stops at struct boundaries — struct children
    * carry their own). Stamped at assignment time and carried through
    * evolution, so nested ids are STABLE across schema versions (the
    * spec's requirement; previously synthesized per serialization). */
  val CollIdsKey = "graft.iceberg.coll.ids"

  private val mapper = new ObjectMapper()

  private[iceberg] def collIdsOf(f: StructField): Seq[Int] =
    if (f.metadata.contains(CollIdsKey))
      f.metadata.getString(CollIdsKey).split(",").filter(_.nonEmpty).map(_.toInt).toSeq
    else Seq.empty

  /** Collection slots a field's type owns directly (array element = 1,
    * map key+value = 2, recursing through non-struct nesting). */
  private def slotCount(dt: DataType): Int = dt match {
    case a: ArrayType => 1 + slotCount(a.elementType)
    case m: MapType => 2 + slotCount(m.valueType)
    case _ => 0
  }

  /** Slot SHAPE signature — stored ids are only reused when the nesting
    * shape is unchanged (array<array<int>> vs map<_,string> both have 2
    * slots but must not share ids across a type rewrite). */
  private val CollShapeKey = "graft.iceberg.coll.shape"
  private def slotShape(dt: DataType): String = dt match {
    case a: ArrayType => "a" + slotShape(a.elementType)
    case m: MapType => "m" + slotShape(m.valueType)
    case _ => ""
  }

  /** Allocate stable collection ids for any field lacking them (or
    * whose stored shape no longer matches the type). `floor` is the
    * highest id EVER assigned in the table's history — allocating above
    * the current schema's max alone could resurrect a dropped field's
    * retired id. */
  def ensureCollectionIds(schema: StructType, floor: Int = 0): StructType = {
    var next = math.max(lastColumnId(schema), floor)
    def nextId(): Int = { next += 1; next }
    def walkStruct(s: StructType): StructType = StructType(s.fields.map { f =>
      val shape = slotShape(f.dataType)
      val stored = if (f.metadata.contains(CollShapeKey))
        f.metadata.getString(CollShapeKey) else ""
      val meta =
        if (shape.isEmpty)
          if (f.metadata.contains(CollIdsKey))
            new MetadataBuilder().withMetadata(f.metadata)
              .remove(CollIdsKey).remove(CollShapeKey).build()
          else f.metadata
        else if (stored == shape && collIdsOf(f).size == slotCount(f.dataType)) f.metadata
        else new MetadataBuilder().withMetadata(f.metadata)
          .putString(CollIdsKey, Seq.fill(slotCount(f.dataType))(nextId()).mkString(","))
          .putString(CollShapeKey, shape).build()
      f.copy(metadata = meta, dataType = walkNested(f.dataType))
    })
    def walkNested(dt: DataType): DataType = dt match {
      case s: StructType => walkStruct(s)
      case a: ArrayType => a.copy(elementType = walkNested(a.elementType))
      case m: MapType => m.copy(valueType = walkNested(m.valueType))
      case other => other
    }
    walkStruct(schema)
  }

  // --------------------------------------------------- field-id assignment

  /** Stamp every field (incl. nested) with a stable iceberg field id:
    * top level first, then nested, one counter — reference rule. */
  def assignFieldIds(schema: StructType): StructType = {
    var next = 0
    def nextId(): Int = { next += 1; next }
    // top-level pass
    val top = schema.fields.map { f =>
      val id = fieldId(f).getOrElse(nextId())
      (f, id)
    }
    def nested(dt: DataType): DataType = dt match {
      case s: StructType =>
        val withIds = s.fields.map { f =>
          val id = fieldId(f).getOrElse(nextId())
          f.copy(metadata = withFieldId(f.metadata, id), dataType = nested(f.dataType))
        }
        StructType(withIds)
      case a: ArrayType => a.copy(elementType = nested(a.elementType))
      case m: MapType => m.copy(valueType = nested(m.valueType))
      case other => other
    }
    ensureCollectionIds(StructType(top.map { case (f, id) =>
      f.copy(metadata = withFieldId(f.metadata, id), dataType = nested(f.dataType))
    }))
  }

  /**
   * Evolve an id-stamped schema to an incoming (unstamped) one: fields
   * matching by name (recursively, by path) keep their existing ids —
   * the rename-stability rule real engines depend on — and new fields
   * get fresh ids above every previously-assigned id, so ids are never
   * reused even across drops (ref add-column path
   * `core/.../iceberg/IcebergSchemaSync.java:46-135`). Dropped columns
   * simply leave the current schema; their ids stay retired.
   *
   * `historicalLastId` is the table's persisted `last-column-id`: after
   * a DROP, the current schema's max id can be LOWER than ids the table
   * once assigned, and flooring only at the schema would let a re-added
   * column resurrect a retired id (found by SchemaCodecProperties).
   */
  def evolveSchema(
      existing: StructType, incoming: StructType,
      historicalLastId: Int = 0): StructType = {
    var next = math.max(lastAssignedId(existing), historicalLastId)
    def nextId(): Int = { next += 1; next }
    // type-change compatibility (spec "Schema Evolution"): equal types,
    // the widening promotions (either direction — a narrower write
    // keeps the declared wide type), and same-shape containers whose
    // interiors are compatible. Anything else under the SAME name is a
    // DROP + ADD (deletes-first): the old id retires and the column
    // gets a fresh id, so old manifests' bounds are never decoded
    // under an unrelated new type.
    def compatible(ex: DataType, in: DataType): Boolean = (ex, in) match {
      case (_: StructType, _: StructType) => true
      case (a: ArrayType, b: ArrayType) => compatible(a.elementType, b.elementType)
      case (a: MapType, b: MapType) =>
        a.keyType == b.keyType && compatible(a.valueType, b.valueType)
      case (a, b) => a == b ||
        graft.model.SchemaMerge.widens(a, b) || graft.model.SchemaMerge.widens(b, a)
    }
    def walkStruct(ex: Option[StructType], in: StructType): StructType =
      StructType(in.fields.map { f =>
        val prior = ex.flatMap(_.fields.find(_.name == f.name))
          .filter(p => compatible(p.dataType, f.dataType))
        val id = prior.flatMap(fieldId).getOrElse(nextId())
        // carry the prior field's metadata so its collection ids stay
        // stable; ensureCollectionIds below reallocates only when the
        // type's slot shape actually changed
        val baseMeta = prior.map(_.metadata).getOrElse(f.metadata)
        f.copy(
          metadata = withFieldId(baseMeta, id),
          dataType = walkType(prior.map(_.dataType), f.dataType))
      })
    def walkType(ex: Option[DataType], in: DataType): DataType = (ex, in) match {
      case (Some(ps: StructType), s: StructType) => walkStruct(Some(ps), s)
      case (_, s: StructType) => walkStruct(None, s)
      case (Some(pa: ArrayType), a: ArrayType) =>
        a.copy(elementType = walkType(Some(pa.elementType), a.elementType))
      case (_, a: ArrayType) => a.copy(elementType = walkType(None, a.elementType))
      case (Some(pm: MapType), m: MapType) =>
        m.copy(valueType = walkType(Some(pm.valueType), m.valueType))
      case (_, m: MapType) => m.copy(valueType = walkType(None, m.valueType))
      case (Some(prior), other) =>
        // primitive change legality: walkStruct already re-idd any
        // incompatible change as a drop+add, so a surviving prior is
        // equal or a promotion. A NARROWER incoming type keeps the
        // stored wider type (never narrow a declared schema — the
        // reader widens the physical values); a wider one evolves it.
        if (prior == other) other
        else if (graft.model.SchemaMerge.widens(other, prior)) prior
        else if (graft.model.SchemaMerge.widens(prior, other)) other
        else throw new IllegalStateException(
          s"unreachable: incompatible ${prior.simpleString} -> ${other.simpleString} " +
            "must have been re-idd by walkStruct")
      case (None, other) => other
    }
    // floor at the table's historical max id so reallocation (new
    // fields, shape changes) can never resurrect a retired id
    ensureCollectionIds(walkStruct(Some(existing), incoming),
      math.max(lastAssignedId(existing), historicalLastId))
  }

  def fieldId(f: StructField): Option[Int] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey).toInt) else None

  /** Parquet's field-id metadata key — Spark's parquet writer stamps a
    * field id into the footer schema for every StructField carrying it
    * (`spark.sql.parquet.fieldId.write.enabled`, on by default). */
  val ParquetFieldIdKey = "parquet.field.id"

  /** Copy each stamped Iceberg field id into [[ParquetFieldIdKey]] so
    * data files written through Spark carry ids in their footers and
    * id-based readers (real Iceberg engines) resolve columns without
    * name mapping (ref `hudi-support/extensions/.../
    * HoodieAvroWriteSupportWithFieldIds.java` — same goal, parquet-mr
    * write support there, Spark-native metadata here). Collection
    * element/key/value ids have no StructField to ride on — Spark's
    * converter only stamps struct fields — so those stay name-mapped. */
  def withParquetFieldIds(schema: StructType): StructType = {
    def walkType(dt: DataType): DataType = dt match {
      case s: StructType => walkStruct(s)
      case a: ArrayType  => a.copy(elementType = walkType(a.elementType))
      case m: MapType    =>
        m.copy(keyType = walkType(m.keyType), valueType = walkType(m.valueType))
      case other         => other
    }
    def walkStruct(s: StructType): StructType = StructType(s.fields.map { f =>
      val meta = fieldId(f) match {
        case Some(id) =>
          new MetadataBuilder().withMetadata(f.metadata).putLong(ParquetFieldIdKey, id.toLong).build()
        case None => f.metadata
      }
      f.copy(dataType = walkType(f.dataType), metadata = meta)
    })
    walkStruct(schema)
  }

  /** Iceberg name-mapping JSON (table spec "Name Mapping Serialization")
    * for `schema.name-mapping.default`, so id-less data files written by
    * other engines still resolve by name (ref
    * `core/.../iceberg/IcebergTableManager.java:103-107`, which uses
    * `MappingUtil.create` + `NameMappingParser.toJson`). */
  /** `physicalNames` (logical dot-path → name the parquet files carry,
    * e.g. Delta column-mapping `col-<uuid>`s) lists the physical name
    * FIRST so readers resolve id-less files written under it; the
    * logical name rides second. */
  def nameMappingJson(
      schema: StructType,
      physicalNames: Map[String, String] = Map.empty): String = {
    val root = mapper.createArrayNode()
    def entry(parent: com.fasterxml.jackson.databind.node.ArrayNode,
        name: String, path: String, id: Option[Int], dt: DataType, collIds: Seq[Int]): Unit = {
      val n = parent.addObject()
      id.foreach(n.put("field-id", _))
      val names = n.putArray("names")
      physicalNames.get(path).filter(_ != name).foreach(names.add)
      names.add(name)
      nested(n, path, dt, collIds)
    }
    def nested(n: ObjectNode, path: String, dt: DataType, collIds: Seq[Int]): Unit = dt match {
      case s: StructType =>
        val fields = n.putArray("fields")
        s.fields.foreach(f =>
          entry(fields, f.name, s"$path.${f.name}", fieldId(f), f.dataType, collIdsOf(f)))
      case a: ArrayType =>
        val fields = n.putArray("fields")
        entry(fields, "element", s"$path.element", collIds.headOption, a.elementType, collIds.drop(1))
      case m: MapType =>
        val fields = n.putArray("fields")
        entry(fields, "key", s"$path.key", collIds.headOption, m.keyType, Seq.empty)
        entry(fields, "value", s"$path.value", collIds.drop(1).headOption, m.valueType, collIds.drop(2))
      case _ => ()
    }
    schema.fields.foreach(f => entry(root, f.name, f.name, fieldId(f), f.dataType, collIdsOf(f)))
    root.toString
  }

  /** Inverse read: dot-path → physical name for every mapping entry
    * whose first listed name differs from the schema (field) name. */
  def physicalNamesFromMapping(mappingJson: String): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    def walk(arr: com.fasterxml.jackson.databind.JsonNode, prefix: String): Unit =
      if (arr != null && arr.isArray) arr.forEach { n =>
        val names = n.get("names")
        if (names != null && names.size() >= 1) {
          val first = names.get(0).asText()
          val logical = names.get(names.size() - 1).asText()
          val path = if (prefix.isEmpty) logical else s"$prefix.$logical"
          if (first != logical) out += path -> first
          walk(n.get("fields"), path)
        }
      }
    walk(mapper.readTree(mappingJson), "")
    out.toMap
  }

  private def withFieldId(m: Metadata, id: Int): Metadata =
    new MetadataBuilder().withMetadata(m).putLong(FieldIdKey, id.toLong).build()

  /** Highest id assigned anywhere — field ids AND the stamped
    * collection ids — the value `last-column-id` must carry so a future
    * writer never reuses them. */
  def lastAssignedId(schema: StructType): Int = lastColumnId(schema)

  /** Highest id used anywhere in an id-stamped schema (field ids and
    * stamped collection element/key/value ids). */
  def lastColumnId(schema: StructType): Int = {
    def walk(dt: DataType): Int = dt match {
      case s: StructType =>
        (0 +: s.fields.toSeq.map(f => math.max(
          math.max(fieldId(f).getOrElse(0), (0 +: collIdsOf(f)).max),
          walk(f.dataType)))).max
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.valueType)
      case _ => 0
    }
    walk(schema)
  }

  // ------------------------------------------------------------- to JSON

  /** Iceberg type string / object for a Spark type. List/map
    * element/key/value ids come from each field's stamped
    * [[CollIdsKey]] metadata (stable across schema versions); a legacy
    * schema without stamps falls back to synthesis above the last id. */
  def toJson(schema: StructType, schemaId: Int): ObjectNode = {
    var nextFallbackId = lastColumnId(schema)
    def fallbackId(): Int = { nextFallbackId += 1; nextFallbackId }
    // per-field queue of stamped collection ids, dequeued depth-first
    // in the same order ensureCollectionIds allocated them
    var collQueue: scala.collection.mutable.Queue[Int] = scala.collection.mutable.Queue.empty
    def collId(): Int = if (collQueue.nonEmpty) collQueue.dequeue() else fallbackId()

    def typeNode(dt: DataType): Object = dt match {
      case BooleanType => "boolean"
      case ByteType | ShortType | IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case StringType => "string"
      case BinaryType => "binary"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case s: StructType =>
        val n = mapper.createObjectNode()
        n.put("type", "struct")
        val arr = n.putArray("fields")
        s.fields.foreach { f =>
          val fn = arr.addObject()
          val id: Int = fieldId(f).getOrElse(
            throw new IllegalStateException(s"field ${f.name} missing iceberg id"))
          fn.put("id", id)
          fn.put("name", f.name)
          fn.put("required", !f.nullable)
          val saved = collQueue
          collQueue = scala.collection.mutable.Queue(collIdsOf(f): _*)
          fn.set[com.fasterxml.jackson.databind.JsonNode]("type", asJsonNode(typeNode(f.dataType)))
          collQueue = saved
        }
        n
      case a: ArrayType =>
        val n = mapper.createObjectNode()
        n.put("type", "list")
        n.put("element-id", collId())
        n.set[com.fasterxml.jackson.databind.JsonNode]("element", asJsonNode(typeNode(a.elementType)))
        n.put("element-required", !a.containsNull)
        n
      case m: MapType =>
        require(m.keyType == StringType || m.keyType == IntegerType || m.keyType == LongType,
          s"unsupported map key type ${m.keyType}")
        val n = mapper.createObjectNode()
        n.put("type", "map")
        n.put("key-id", collId())
        n.set[com.fasterxml.jackson.databind.JsonNode]("key", asJsonNode(typeNode(m.keyType)))
        n.put("value-id", collId())
        n.set[com.fasterxml.jackson.databind.JsonNode]("value", asJsonNode(typeNode(m.valueType)))
        n.put("value-required", !m.valueContainsNull)
        n
      case other => throw new IllegalArgumentException(s"unsupported type for iceberg: $other")
    }

    val root = typeNode(schema).asInstanceOf[ObjectNode]
    // schema-id precedes fields in spirit; Jackson keeps insertion order,
    // spec does not require field order
    root.put("schema-id", schemaId)
    root
  }

  private def asJsonNode(o: Object): JsonNode = o match {
    case s: String => mapper.getNodeFactory.textNode(s)
    case n: JsonNode => n
  }

  // ----------------------------------------------------------- from JSON

  def fromJson(node: JsonNode): StructType =
    parseType(node).asInstanceOf[StructType]

  private def parseType(node: JsonNode): DataType =
    parseTypeCollecting(node, null)

  /** When `collect` is non-null, list/map element/key/value ids found in
    * this field's (non-struct) type chain accumulate into it so the
    * round-trip restores [[CollIdsKey]] exactly. */
  private def parseTypeCollecting(
      node: JsonNode,
      collect: scala.collection.mutable.ArrayBuffer[Int]): DataType = {
    if (node.isTextual) return parsePrimitive(node.asText())
    node.get("type").asText() match {
      case "struct" =>
        StructType(node.get("fields").elements().asScala.map { f =>
          val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
          val dt = parseTypeCollecting(f.get("type"), ids)
          val mb = new MetadataBuilder().putLong(FieldIdKey, f.get("id").asLong())
          if (ids.nonEmpty) {
            mb.putString(CollIdsKey, ids.mkString(","))
            mb.putString(CollShapeKey, slotShape(dt))
          }
          StructField(
            f.get("name").asText(), dt,
            nullable = !f.get("required").asBoolean(),
            metadata = mb.build())
        }.toSeq)
      case "list" =>
        if (collect != null) collect += node.get("element-id").asInt()
        ArrayType(parseTypeCollecting(node.get("element"), collect),
          !node.get("element-required").asBoolean())
      case "map" =>
        if (collect != null) {
          collect += node.get("key-id").asInt()
          collect += node.get("value-id").asInt()
        }
        MapType(
          parseType(node.get("key")),
          parseTypeCollecting(node.get("value"), collect),
          !node.get("value-required").asBoolean())
      case other => throw new IllegalArgumentException(s"unknown iceberg type: $other")
    }
  }

  private val DecimalRe = "decimal\\((\\d+),\\s*(\\d+)\\)".r
  private val FixedRe = "fixed\\[(\\d+)\\]".r

  private def parsePrimitive(s: String): DataType = s match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "date" => DateType
    case "timestamp" => TimestampNTZType
    case "timestamptz" => TimestampType
    case "string" => StringType
    case "uuid" => StringType
    case "binary" => BinaryType
    case DecimalRe(p, sc) => DecimalType(p.toInt, sc.toInt)
    case FixedRe(_) => BinaryType
    case other => throw new IllegalArgumentException(s"unknown iceberg primitive: $other")
  }

  // ---------------------------------------- single-value (bounds) codec

  /**
   * Iceberg single-value serialization (spec Appendix D): little-endian
   * fixed width for numerics, UTF-8 for strings, unscaled big-endian
   * bytes for decimals. Values here arrive in the engine's canonical
   * stat-string form (dates epoch-days, timestamps epoch-micros —
   * `graft.stats.ParquetFooterStats`).
   */
  def encodeBound(dt: DataType, canonical: String): Array[Byte] = dt match {
    case BooleanType => Array[Byte](if (canonical.toBoolean) 1 else 0)
    case ByteType | ShortType | IntegerType | DateType =>
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(canonical.toInt).array()
    case LongType | TimestampType | TimestampNTZType =>
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(canonical.toLong).array()
    case FloatType =>
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putFloat(canonical.toFloat).array()
    case DoubleType =>
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(canonical.toDouble).array()
    case StringType => canonical.getBytes(StandardCharsets.UTF_8)
    case d: DecimalType =>
      new java.math.BigDecimal(canonical).setScale(d.scale).unscaledValue().toByteArray
    case _ => throw new IllegalArgumentException(s"no bound encoding for $dt")
  }

  /** Decode back to the engine's canonical stat-string form. Bounds
    * written BEFORE a type widen keep their narrower physical width
    * (manifests are immutable — a carried manifest's 4-byte int bounds
    * survive an int→long widen), so integer/float decode is
    * length-aware: a 4-byte buffer under a long/double field is the
    * pre-widen encoding and its value is exact under the promotion. */
  def decodeBound(dt: DataType, bytes: Array[Byte]): String = dt match {
    case BooleanType => (bytes(0) != 0).toString
    case ByteType | ShortType | IntegerType | DateType =>
      ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt.toString
    case LongType | TimestampType | TimestampNTZType =>
      if (bytes.length == 4)
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt.toLong.toString
      else ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getLong.toString
    case FloatType => ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat.toString
    case DoubleType =>
      // a pre-widen 4-byte bound must decode to the float's EXACT double
      // value: consumers parse the string with toDouble, and a
      // float's shortest-decimal string parsed as a double can differ from
      // the float by ~half a float-ulp — enough to wrongly prune a file
      // whose rows fall in that gap
      if (bytes.length == 4)
        ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getFloat.toDouble.toString
      else ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getDouble.toString
    case StringType => new String(bytes, StandardCharsets.UTF_8)
    case d: DecimalType =>
      new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale).toPlainString
    case _ => throw new IllegalArgumentException(s"no bound decoding for $dt")
  }
}
