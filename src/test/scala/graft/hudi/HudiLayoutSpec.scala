package graft.hudi

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.model.PartitionTransform

/** DIR_HIERARCHY_PARTITION_VALUES layout + keygen matrix (ref
  * `api/.../storage/DataLayoutStrategy.java:29-33`,
  * `core/.../hudi/HudiTableManager.java:123-152`,
  * `core/.../hudi/HudiPartitionValuesExtractor.java:47-118`). */
class HudiLayoutSpec extends SparkTestBase {

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("non-hive layout: partition dirs are raw values, rows identical, pruning exact") {
    val dir = tmpDir("hudi_nonhive")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val t = HudiTable.create(spark, s"$dir/t", src, Seq("l_returnflag"),
      hiveStylePartitioning = false)
    assert(!t.hiveStyleLayout)
    // physical dirs are bare values — no `l_returnflag=` prefix anywhere
    val partDirs = fs.listStatus(new Path(s"$dir/t")).toSeq
      .filter(_.isDirectory).map(_.getPath.getName).filterNot(_.startsWith("."))
    assert(partDirs.nonEmpty && partDirs.forall(!_.contains("=")), partDirs.toString)
    assert(partDirs.toSet == src.select("l_returnflag").distinct()
      .collect().map(_.getString(0)).toSet)
    // read back full fidelity
    val back = t.toDF()
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // partition pruning prunes the manifest and keeps rows exact
    val all = t.scan.files().size
    val pruned = t.scan.partitionIn("l_returnflag", Set("A")).files().size
    assert(pruned < all, s"expected pruning: $pruned < $all")
    val rows = t.scan.partitionIn("l_returnflag", Set("A")).toDF()
    assert(rows.count() == src.filter(col("l_returnflag") === "A").count())
  }

  test("partitionIn on a null or missing partition value selects it only when null is wanted") {
    val dir = tmpDir("hudi_null_part")
    val src = spark.range(0, 9).select(col("id"),
      when(col("id") % 3 === 0, lit(null).cast("string"))
        .otherwise(when(col("id") % 3 === 1, lit("a")).otherwise(lit("b"))).as("k"))
    val t = HudiTable.create(spark, s"$dir/t", src.repartition(1), Seq("k"))
    // a write stat outside every partition dir: its `k` is missing
    assert(t.timeline.commit(HudiInstant(t.timeline.nextInstantTime(), "commit"),
      HudiCommitMetadata(Map("" -> Seq(HudiWriteStat("loose", "loose.parquet", "null", 1L, 10L))),
        Map.empty, Map.empty, "INSERT")))
    val all = t.fileSlices()
    val byValue = all.groupBy(s =>
      HudiTable.parsePartitionPath(s.partitionPath, Seq("k")).get("k").map(Option(_)))
    // one slice per value: a, b, null, and the loose one with no value
    assert(byValue.keySet == Set(Some(Some("a")), Some(Some("b")), Some(None), None))
    def picked(vs: Set[String]) = t.scan.partitionIn("k", vs).files().map(_.basePath).toSet
    def pathsOf(keys: Option[Option[String]]*) = keys.flatMap(byValue(_)).map(_.basePath).toSet
    assert(picked(Set("a")) == pathsOf(Some(Some("a"))))
    assert(picked(Set("a", null)) == pathsOf(Some(Some("a")), Some(None), None))
    assert(picked(Set(null)) == pathsOf(Some(None), None))
  }

  test("non-hive layout: appends inherit the layout; multi-field paths parse positionally") {
    val dir = tmpDir("hudi_nonhive_multi")
    val src = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
    val t = HudiTable.create(spark, s"$dir/t", src.filter(col("l_orderkey") % 2 === 0),
      Seq("l_returnflag", "l_linestatus"), hiveStylePartitioning = false)
    t.append(src.filter(col("l_orderkey") % 2 === 1))
    val back = t.toDF()
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // two-level value-only dirs: A/F, N/O, R/F
    val lvl1 = fs.listStatus(new Path(s"$dir/t")).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("."))
    assert(lvl1.forall(!_.contains("=")))
    // pruning on the SECOND field uses its positional segment
    val rows = t.scan.partitionIn("l_linestatus", Set("O")).toDF()
    assert(rows.count() == src.filter(col("l_linestatus") === "O").count())
  }

  test("non-hive layout round-trips through sync metadata (internalDataFiles values)") {
    val dir = tmpDir("hudi_nonhive_files")
    val src = spark.read.parquet(s"$sf0001/orders.parquet")
      .withColumn("o_year", year(col("o_orderdate")).cast("string"))
    val t = HudiTable.create(spark, s"$dir/t", src, Seq("o_year"),
      hiveStylePartitioning = false)
    val vals = t.snapshotDataFiles().flatMap(_.partitionValues.get("o_year")).toSet
    assert(vals == src.select("o_year").distinct().collect().map(_.getString(0)).toSet)
  }

  test("parsePartitionPath handles hive, value-only, mixed and default-partition paths") {
    val cols = Seq("a", "b")
    assert(HudiTable.parsePartitionPath("a=1/b=2", cols) == Map("a" -> "1", "b" -> "2"))
    assert(HudiTable.parsePartitionPath("1/2", cols) == Map("a" -> "1", "b" -> "2"))
    assert(HudiTable.parsePartitionPath("a=1/2", cols) == Map("a" -> "1", "b" -> "2"))
    assert(HudiTable.parsePartitionPath("__HIVE_DEFAULT_PARTITION__/2", cols) ==
      Map("a" -> null, "b" -> "2"))
    // a single partition field swallows slashes (custom partition logic,
    // ref HudiPartitionValuesExtractor.java:96-103)
    assert(HudiTable.parsePartitionPath("2023/10/05", Seq("dt")) == Map("dt" -> "2023/10/05"))
    assert(HudiTable.parsePartitionPath("", cols) == Map.empty)
  }

  test("build→parse round trip: both layouts, every hostile-value pair") {
    val hostile = Seq("plain", "a=b", "x:y", "50%", "a,b", "sp ace", "%41",
      "a/b", "q=", "2023-10-05", "__HIVE_DEFAULT_PARTITION__")
    for (v1 <- hostile; v2 <- hostile; hive <- Seq(true, false)) {
      val cols = Seq("p", "q")
      val vals = Map("p" -> v1, "q" -> v2)
      val pp = HudiTable.buildPartitionPath(vals, cols, hive)
      val parsed = HudiTable.parsePartitionPath(pp, cols)
      val expected = vals.map { case (k, v) =>
        k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
      }
      assert(parsed == expected, s"v1=$v1 v2=$v2 pp=$pp hive=$hive")
    }
    // single-field tables additionally round-trip raw (unescaped-slash)
    // values when PARSING foreign paths (custom partition logic);
    // engine-built paths escape the slash, so both spellings parse
    assert(HudiTable.parsePartitionPath(
      HudiTable.buildPartitionPath(Map("dt" -> "2023/10/05"), Seq("dt"), false),
      Seq("dt")) == Map("dt" -> "2023/10/05"))
  }

  test("foreign table: absent hive_style key sniffs the layout; raw slash segments prune decoded") {
    import spark.implicits._
    val dir = tmpDir("hudi_foreign")
    val tp = s"$dir/t"
    val full = Seq((1L, "a", "2023/10/05"), (2L, "b", "2023/10/05"),
      (3L, "c", "2023/11/07")).toDF("id", "v", "dt")
    val t = HudiTable.forPath(spark, tp)
    t.timeline.writeProperties(HudiTable.tableProperties(tp, Seq("dt"), Map.empty))
    val instant = t.timeline.nextInstantTime()
    val fsys = fs
    // a foreign writer's layout: RAW (unescaped) value-only partition
    // dirs — a slash-valued partition spans real subdirectories
    val stats = Seq("2023/10/05", "2023/11/07").zipWithIndex.map { case (pv, i) =>
      val rows = full.filter(col("dt") === pv).drop("dt")
      val staging = new Path(s"$tp/.staging$i")
      rows.coalesce(1).write.parquet(staging.toString)
      val part = fsys.listStatus(staging).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val fileId = s"foreign-$i"
      val rel = s"$pv/${fileId}_0-0-0_$instant.parquet"
      val dest = new Path(tp, rel)
      fsys.mkdirs(dest.getParent)
      require(fsys.rename(part, dest), s"rename $part -> $dest")
      fsys.delete(staging, true)
      pv -> HudiWriteStat(fileId = fileId, path = rel, prevCommit = "null",
        numWrites = rows.count(), fileSizeInBytes = fsys.getFileStatus(dest).getLen)
    }
    val meta = HudiCommitMetadata(
      partitionToWriteStats = stats.groupBy(_._1).view.mapValues(_.map(_._2)).toMap,
      partitionToReplaceFileIds = Map.empty,
      extraMetadata = Map("schema" ->
        graft.schema.AvroSchemaConverters.toAvro(full.schema).toString),
      operationType = "BULK_INSERT")
    assert(t.timeline.commit(HudiInstant(instant, "commit"), meta))
    // foreign tables often never persisted the hive_style key — strip it
    val propsFile = new Path(tp, ".hoodie/hoodie.properties")
    val lines = scala.io.Source.fromInputStream(fsys.open(propsFile)).getLines().toSeq
    val out = fsys.create(propsFile, true)
    try out.write(lines
      .filterNot(_.startsWith("hoodie.datasource.write.hive_style_partitioning"))
      .mkString("\n").getBytes("UTF-8")) finally out.close()

    val ft = HudiTable.forPath(spark, tp)
    // Hudi's table-config default is value-only; the sniff on a committed
    // partition path (no `dt=` prefix) agrees
    assert(!ft.hiveStyleLayout)
    val back = ft.toDF()
    assert(back.count() == 3)
    assert(back.select("dt").distinct().as[String].collect().toSet ==
      Set("2023/10/05", "2023/11/07"))
    // pruning on the RAW wanted value: the plan-side filter decodes the
    // positional segments, so unescaped foreign paths match exactly
    assert(ft.scan.partitionIn("dt", Set("2023/10/05")).files().size == 1)
    assert(ft.scan.partitionIn("dt", Set("2023/10/05")).toDF().count() == 2)
    assert(ft.scan.partitionIn("dt", Set("2023/11/07")).toDF().count() == 1)

    // the hive counterpart: strip the key from a hive-layout table and
    // the `field=` prefix sniff keeps the hive branch
    val tp2 = s"$dir/t2"
    HudiTable.create(spark, tp2,
      spark.read.parquet(s"$sf0001/nation.parquet"), Seq("n_regionkey"))
    val props2 = new Path(tp2, ".hoodie/hoodie.properties")
    val lines2 = scala.io.Source.fromInputStream(fsys.open(props2)).getLines().toSeq
    val out2 = fsys.create(props2, true)
    try out2.write(lines2
      .filterNot(_.startsWith("hoodie.datasource.write.hive_style_partitioning"))
      .mkString("\n").getBytes("UTF-8")) finally out2.close()
    val ft2 = HudiTable.forPath(spark, tp2)
    assert(ft2.hiveStyleLayout)
    assert(ft2.scan.partitionIn("n_regionkey", Set("0")).toDF().count() ==
      spark.read.parquet(s"$sf0001/nation.parquet")
        .filter(col("n_regionkey") === 0).count())
  }

  test("unescape_path expression matches PathCodec on hostile values") {
    import spark.implicits._
    val hostile = Seq("plain", "a=b", "x:y", "50%", "a,b", "sp ace", "%41",
      "a/b", "%", "%G1", "%2F", "2023%2F10%2F05", "__HIVE_DEFAULT_PARTITION__")
    val vals = hostile ++ hostile.map(graft.util.PathCodec.escapePathName)
    val got = vals.toDF("s").select(
      org.apache.spark.sql.graftshim.GraftExpr.column(graft.functions.UnescapePath(
        org.apache.spark.sql.graftshim.GraftExpr.expression(col("s")))).as("d"))
      .as[String].collect().toSeq
    assert(got == vals.map(graft.util.PathCodec.unescapePathName))
  }

  test("keygen matrix matches the reference's class choices") {
    def defs(specs: String*) = PartitionTransform.parseAll(specs.toSeq)
    val kg = HudiTable.keyGeneratorClass _
    assert(kg(Nil, Nil) == "org.apache.hudi.keygen.NonpartitionedKeyGenerator")
    assert(kg(Nil, Seq("id")) == "org.apache.hudi.keygen.NonpartitionedKeyGenerator")
    assert(kg(defs("c"), Seq("id")) == "org.apache.hudi.keygen.SimpleKeyGenerator")
    assert(kg(defs("c"), Nil) == "org.apache.hudi.keygen.SimpleKeyGenerator")
    assert(kg(defs("c", "d"), Seq("id")) == "org.apache.hudi.keygen.ComplexKeyGenerator")
    assert(kg(defs("c"), Seq("id", "id2")) == "org.apache.hudi.keygen.ComplexKeyGenerator")
    assert(kg(defs("month(ts)"), Seq("id")) ==
      "org.apache.hudi.keygen.TimestampBasedKeyGenerator")
    assert(kg(defs("month(ts)", "c"), Seq("id")) ==
      "org.apache.hudi.keygen.CustomKeyGenerator")
  }

  test("created tables stamp hoodie.table.keygenerator.class") {
    val dir = tmpDir("hudi_keygen")
    val src = spark.read.parquet(s"$sf0001/region.parquet")
    val flat = HudiTable.create(spark, s"$dir/flat", src)
    assert(flat.properties("hoodie.table.keygenerator.class") ==
      "org.apache.hudi.keygen.NonpartitionedKeyGenerator")
    val part = HudiTable.create(spark, s"$dir/part",
      spark.read.parquet(s"$sf0001/nation.parquet"), Seq("n_regionkey"))
    assert(part.properties("hoodie.table.keygenerator.class") ==
      "org.apache.hudi.keygen.SimpleKeyGenerator")
    val mor = HudiTable.createMor(spark, s"$dir/mor",
      spark.read.parquet(s"$sf0001/nation.parquet"), "n_nationkey", Seq("n_regionkey"))
    assert(mor.properties("hoodie.table.keygenerator.class") ==
      "org.apache.hudi.keygen.SimpleKeyGenerator")
  }
}
