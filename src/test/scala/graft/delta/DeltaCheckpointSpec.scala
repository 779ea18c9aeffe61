package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/**
 * Multi-part and V2 checkpoint layouts (Delta PROTOCOL.md): naming,
 * `_last_checkpoint` discovery, sidecar resolution, replay after log
 * expiry, protocol gating, tolerance for foreign checkpoint shapes
 * (missing or extra add subfields, tombstones, parsed-stats columns, a
 * parquet V2 top-level), and change reads over an expired range.
 */
class DeltaCheckpointSpec extends SparkTestBase {

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logFiles(table: String): Seq[String] =
    fs(table).listStatus(new Path(table, "_delta_log")).toSeq.map(_.getPath.getName)

  test("multi-part checkpoint: spec naming, replay, survives log expiry") {
    val dir = tmpDir("delta_mp")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val t = DeltaTable.create(spark, s"$dir/t", src.limit(20))
    (1 to 11).foreach(_ => t.append(src.limit(5), Seq.empty))
    val before = t.toDF().count()
    t.checkpoint(parts = 3)
    val parts = logFiles(s"$dir/t").filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
    assert(parts.size == 3, s"expected 3 spec-named parts, got $parts")
    assert(parts.forall(_.startsWith(f"${11L}%020d")))
    // a fresh handle replays from the parts after pre-checkpoint expiry
    assert(t.log.expireLogBefore(11L) == 11)
    val t2 = DeltaTable.forPath(spark, s"$dir/t")
    assert(t2.toDF().count() == before)
    assert(t2.schemaAt(None)._1.fieldNames.sameElements(Array("o_orderkey", "o_totalprice")))
    // appends keep working on top of the multi-part base
    t2.append(src.limit(5), Seq.empty)
    assert(t2.toDF().count() == before + 5)
  }

  test("v2 checkpoint: protocol upgrade commit, sidecar layout, replay after expiry") {
    val dir = tmpDir("delta_v2cp")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val t = DeltaTable.create(spark, s"$dir/t", src.limit(30))
    (1 to 4).foreach(_ => t.append(src.limit(10), Seq.empty))
    val before = t.toDF().count()
    t.checkpointV2(sidecarParts = 2)
    // the upgrade landed as its own commit BEFORE the checkpoint
    val p = t.log.snapshot().protocol
    assert(p.minReaderVersion == 3)
    assert(p.readerFeatures.exists(_.contains("v2Checkpoint")))
    assert(p.writerFeatures.exists(_.contains("v2Checkpoint")))
    val top = logFiles(s"$dir/t").filter(_.matches("\\d{20}\\.checkpoint\\.[^.]+\\.json"))
    assert(top.size == 1, s"expected one top-level v2 file, got $top")
    val sidecars = fs(s"$dir/t").listStatus(new Path(s"$dir/t/_delta_log/_sidecars"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(sidecars.length == 2, s"expected 2 sidecars, got ${sidecars.toSeq}")
    // expire everything below the checkpoint: snapshot, schema, and
    // protocol all reconstruct from the top-level file + sidecars
    val cpV = t.log.lastCheckpoint().get
    t.log.expireLogBefore(cpV)
    val t2 = DeltaTable.forPath(spark, s"$dir/t")
    assert(t2.toDF().count() == before)
    assert(t2.log.snapshot().protocol.readerFeatures.exists(_.contains("v2Checkpoint")))
    // writes continue on top of a v2 base
    t2.append(src.limit(10), Seq.empty)
    assert(t2.toDF().count() == before + 10)
  }

  test("v2 checkpoint carries deletion vectors through the sidecars") {
    val dir = tmpDir("delta_v2dv")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val t = DeltaTable.create(spark, s"$dir/t", src.limit(50))
    t.delete(col("o_orderkey") % 2 === 0)
    val expect = t.toDF().count()
    t.checkpointV2()
    t.log.expireLogBefore(t.log.lastCheckpoint().get)
    val t2 = DeltaTable.forPath(spark, s"$dir/t")
    assert(t2.toDF().count() == expect, "DV must survive the sidecar round-trip")
    assert(t2.toDF().filter(col("o_orderkey") % 2 === 0).count() == 0)
  }

  /** Replace a parquet file with `df`'s rows (one part, same name). */
  private def rewriteParquet(df: DataFrame, target: Path, staging: String): Unit = {
    df.coalesce(1).write.parquet(staging)
    val part = fs(staging).listStatus(new Path(staging))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs(staging).delete(target, false)
    assert(fs(staging).rename(part, target))
  }

  private def livePaths(t: DeltaTable): Set[String] =
    t.log.snapshot().files.map(_.path).toSet

  /** Checkpoint shapes other writers emit, each a rewrite of this
    * engine's classic checkpoint: (label, table carries a DV, rewrite). */
  private val foreignShapes: Seq[(String, Boolean, DataFrame => DataFrame)] = Seq(
    ("without stats/deletionVector subfields", false, cp => cp.select(
      when(col("add.path").isNotNull, struct(
        col("add.path").as("path"),
        col("add.partitionValues").as("partitionValues"),
        col("add.size").as("size"))).as("add"),
      col("metaData"), col("protocol"))),
    ("with extra tags/baseRowId add fields and a maxRowIndex DV", true, cp => cp.withColumn("add",
      col("add")
        .withField("tags", typedlit(Map("INSERTION_TIME" -> "1700000000000")))
        .withField("baseRowId", lit(7L))
        .withField("deletionVector", col("add.deletionVector").withField("maxRowIndex", lit(4L))))),
    ("with remove tombstone rows", true, { cp =>
      // a tombstone per live path (the DV-rewritten entry's old identity)
      // plus one for a file removed long ago
      val tombstones = cp.filter(col("add.path").isNotNull).select(col("add.path").as("path"))
        .union(spark.range(1).select(lit("part-long-gone.parquet").as("path")))
        .select(struct(col("path"), lit(1L).as("deletionTimestamp"),
          lit(true).as("dataChange")).as("remove"))
      cp.unionByName(tombstones, allowMissingColumns = true)
    }),
    ("with stats_parsed/partitionValues_parsed columns", true, cp => cp.withColumn("add",
      col("add")
        .withField("stats_parsed", struct(lit(3L).as("numRecords"),
          struct(lit(0L).as("r_regionkey")).as("minValues")))
        .withField("partitionValues_parsed", struct(lit(null).cast("string").as("p"))))))

  foreignShapes.foreach { case (label, withDv, rewrite) =>
    test(s"foreign checkpoint $label reads fine") {
      val dir = tmpDir("delta_foreign")
      val src = spark.read.parquet(s"$sf0001/region.parquet")
      val t = DeltaTable.create(spark, s"$dir/t", src)
      t.append(src.limit(2), Seq.empty)
      if (withDv) t.delete(col("r_regionkey") === 1)
      val before = t.toDF().count()
      val live = livePaths(t)
      t.checkpoint()
      val v = t.log.lastCheckpoint().get
      val cp = new Path(s"$dir/t/_delta_log/${f"$v%020d"}.checkpoint.parquet")
      rewriteParquet(rewrite(spark.read.parquet(cp.toString)), cp, s"$dir/rewritten")
      t.log.expireLogBefore(v)
      val t2 = DeltaTable.forPath(spark, s"$dir/t")
      assert(livePaths(t2) == live)
      assert(t2.toDF().count() == before)
    }
  }

  /** A V2 checkpoint whose top-level file is parquet: the JSON top this
    * engine writes, re-encoded row for row, with the file actions either
    * behind sidecar pointers or inline in the top-level file. */
  Seq("sidecar pointers" -> false, "inline file actions" -> true).foreach { case (label, inline) =>
    test(s"v2 checkpoint with a parquet top-level file ($label) replays after expiry") {
      val dir = tmpDir("delta_v2parquet")
      val src = spark.read.parquet(s"$sf0001/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val t = DeltaTable.create(spark, s"$dir/t", src.limit(30))
      (1 to 3).foreach(_ => t.append(src.limit(10), Seq.empty))
      val before = t.toDF().count()
      val live = livePaths(t)
      t.checkpointV2(sidecarParts = 2)
      val v = t.log.lastCheckpoint().get
      val log = new Path(s"$dir/t/_delta_log")
      val jsonTop = fs(dir).listStatus(log).map(_.getPath)
        .find(_.getName.matches("\\d{20}\\.checkpoint\\.[^.]+\\.json")).get
      val strings = ArrayType(StringType)
      val top = spark.read.schema(StructType(Seq(
        StructField("protocol", StructType(Seq(
          StructField("minReaderVersion", IntegerType),
          StructField("minWriterVersion", IntegerType),
          StructField("readerFeatures", strings), StructField("writerFeatures", strings)))),
        StructField("metaData", StructType(Seq(
          StructField("id", StringType), StructField("schemaString", StringType),
          StructField("partitionColumns", strings),
          StructField("configuration", MapType(StringType, StringType)),
          StructField("createdTime", LongType)))),
        StructField("checkpointMetadata", StructType(Seq(StructField("version", LongType)))),
        StructField("sidecar", StructType(Seq(
          StructField("path", StringType), StructField("sizeInBytes", LongType),
          StructField("modificationTime", LongType))))))).json(jsonTop.toString)
      val rows =
        if (!inline) top
        else top.filter(col("sidecar").isNull).unionByName(
          spark.read.parquet(s"$log/_sidecars").select("add"), allowMissingColumns = true)
      rewriteParquet(rows, new Path(log, f"$v%020d.checkpoint.parquet-top.parquet"),
        s"$dir/top")
      assert(fs(dir).delete(jsonTop, false))
      if (inline) assert(fs(dir).delete(new Path(log, "_sidecars"), true))
      t.log.expireLogBefore(v)
      val t2 = DeltaTable.forPath(spark, s"$dir/t")
      assert(livePaths(t2) == live)
      assert(t2.toDF().count() == before)
      assert(t2.schemaAt(None)._1.fieldNames.sameElements(Array("o_orderkey", "o_orderstatus")))
      assert(t2.log.snapshot().protocol.readerFeatures.exists(_.contains("v2Checkpoint")))
    }
  }

  test("change reads over expired or uncommitted versions fail naming the first missing one") {
    val dir = tmpDir("delta_expired_changes")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    (1 to 3).foreach(_ => t.append(src.limit(1), Seq.empty))
    t.checkpoint() // v3
    (1 to 2).foreach(_ => t.append(src.limit(1), Seq.empty)) // v4, v5
    assert(t.log.expireLogBefore(3L) == 3)
    def missing(read: => Unit): String = intercept[IllegalStateException](read).getMessage
    assert(missing(t.changesAsDF(0L, 5L)).contains("version 1 "))
    assert(missing(t.changeFeed(1L, 5L)).contains("version 2 "))
    assert(missing(t.changesAsDF(4L, 7L)).contains("version 6 "))
    // a range the log still holds reads as before
    assert(t.changesAsDF(2L, 5L).count() == 3)
    assert(t.changeFeed(3L, 5L).count() == 2)
  }

  test("_last_checkpoint naming a missing checkpoint fails with the version named") {
    val dir = tmpDir("delta_dangling")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    t.checkpoint()
    // delete the checkpoint file but leave the pointer
    val cp = new Path(s"$dir/t/_delta_log/${f"${0L}%020d"}.checkpoint.parquet")
    assert(fs(dir).delete(cp, false))
    val e = intercept[IllegalArgumentException] {
      DeltaTable.forPath(spark, s"$dir/t").log.snapshot()
    }
    assert(e.getMessage.contains("v0"))
  }

  test("repeated metadata and protocol lookups read a checkpoint's parquet once") {
    val dir = tmpDir("delta_cp_header")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val t = DeltaTable.create(spark, s"$dir/t", src)
    (1 to 2).foreach(_ => t.append(src.limit(1), Seq.empty))
    t.checkpoint() // v2, with an empty JSON tail after it
    val log = DeltaTable.forPath(spark, s"$dir/t").log
    // local-file bytes read by this thread (Hadoop FS statistics)
    def bytesRead(): Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getThreadStatistics.getBytesRead).sum
    }
    def lookup(): Unit = {
      assert(log.snapshot().version == 2L)
      assert(log.snapshot().protocol.minReaderVersion == 1)
    }
    val first = bytesRead()
    lookup()
    val firstBytes = bytesRead() - first
    val pointer = Seq("_last_checkpoint", "._last_checkpoint.crc")
      .map(n => new Path(s"$dir/t/_delta_log/$n")).filter(fs(dir).exists(_))
      .map(fs(dir).getFileStatus(_).getLen).sum
    val before = bytesRead()
    (1 to 5).foreach(_ => lookup())
    val later = bytesRead() - before
    // each later lookup re-resolves the checkpoint (the `_last_checkpoint`
    // pointer and its checksum: under twice their bytes per call) but
    // reads none of its parquet (kilobytes per call)
    assert(firstBytes > 20 * pointer, s"first lookup read $firstBytes bytes")
    assert(later <= 10 * 2 * pointer,
      s"5 later lookups read $later bytes; pointer and checksum are $pointer")
    // a newer checkpoint is still resolved and read
    t.enableColumnMapping() // v3: protocol 2/5
    t.checkpoint()
    assert(log.snapshot().protocol.minReaderVersion == 2)
    assert(log.snapshot().metadata.configuration.get("delta.columnMapping.mode").contains("name"))
  }
}
