package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.delta.DeltaTable
import graft.sources.Tables

/**
 * Format-layer verification: every query routes through our native Delta
 * codec (convert → log → snapshot replay → read) and must produce rows
 * identical to DuckDB reading the original parquet — the engine analog
 * of the reference's cross-format equality ITs
 * (ref `ITOneTableClient.java:748-813`).
 */
object FormatQueries {

  /** Per-sfDir fixture tables, built once per JVM. */
  private object Fixtures {
    private val built = scala.collection.mutable.Map[String, String]()

    def dir(spark: SparkSession, sfDir: String): String = synchronized {
      built.getOrElseUpdate(sfDir, {
        val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
        val root = Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_delta", name).toString
        // clean rebuild per JVM so reruns aren't corrupted by stale logs
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)

        // 1. metadata-only conversion of lineitem.parquet (no data rewrite)
        DeltaTable.convertFromParquet(
          spark, s"$sfDir/lineitem.parquet", s"$root/converted_lineitem")

        // 2. two-commit orders table: v0 = even orderkeys, v1 += odd
        val o = Tables.orders(spark, sfDir)
        val t2 = DeltaTable.create(
          spark, s"$root/orders_2commit", o.filter(col("o_orderkey") % 2 === 0))
        t2.append(o.filter(col("o_orderkey") % 2 === 1), Seq.empty)

        // 3. lineitem partitioned by l_returnflag (hive-style layout)
        DeltaTable.create(
          spark, s"$root/lineitem_part",
          Tables.lineitem(spark, sfDir), Seq("l_returnflag"))

        // 4. unpartitioned lineitem range-clustered by l_orderkey so the
        //    log's min/max stats give disjoint per-file key ranges —
        //    the layout that makes stats skipping effective at scale
        DeltaTable.create(
          spark, s"$root/lineitem_ranged",
          Tables.lineitem(spark, sfDir).repartitionByRange(8, col("l_orderkey")))

        // 5. orders partitioned by month(o_orderdate) — a generated
        //    column (ref `DeltaPartitionExtractor.java:227-323`)
        DeltaTable.create(
          spark, s"$root/orders_bymonth",
          Tables.orders(spark, sfDir), Seq("month(o_orderdate)"))

        // 6. schema-evolved orders: v0 lacks o_flag, v1 adds it
        val oBase = o.select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val t6 = DeltaTable.create(
          spark, s"$root/orders_evolved",
          oBase.filter(col("o_orderkey") % 2 === 0).drop("o_orderstatus"))
        t6.append(oBase.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_flag", upper(col("o_orderstatus"))).drop("o_orderstatus"), Seq.empty)

        // 7. row-level DELETE via deletion vectors: no file rewritten,
        //    deleted positions tombstoned in the log (Delta DV protocol)
        val t7 = DeltaTable.create(
          spark, s"$root/lineitem_dv",
          Tables.lineitem(spark, sfDir).repartition(4))
        t7.delete(col("l_quantity") >= 45.0)

        // 8. same delete, then REORG-style purge: DV files physically
        //    rewritten, snapshot DV-free again
        val t8 = DeltaTable.create(
          spark, s"$root/lineitem_dv_purged",
          Tables.lineitem(spark, sfDir).repartition(4))
        t8.delete(col("l_quantity") >= 45.0)
        t8.purgeDeletes()

        // 9. single-commit MERGE-by-key: matched keys tombstoned by DV,
        //    source rows (updates + shifted inserts) added atomically
        val t9 = DeltaTable.create(
          spark, s"$root/orders_merged", o.repartition(4))
        t9.upsert(
          o.filter(col("o_orderkey") % 3 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
            .unionByName(o.filter(col("o_orderkey") % 100 === 0)
              .withColumn("o_orderkey", col("o_orderkey") + 10000000L)),
          Seq("o_orderkey"))

        // 10. CDF-enabled orders: after the property flips on, every
        //     row-level commit writes real `_change_data` parquet + cdc
        //     actions (Delta CDF write path). v1 = SET TBLPROPERTIES,
        //     v2 = DELETE (keys % 7), v3 = MERGE over the surviving rows
        val t10 = DeltaTable.create(spark, s"$root/orders_cdf", o.repartition(4))
        t10.setProperties(Map("delta.enableChangeDataFeed" -> "true"))
        t10.delete(col("o_orderkey") % 7 === 0)
        t10.upsert(
          o.filter(col("o_orderkey") % 3 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 100000.0)
            .unionByName(o.filter(col("o_orderkey") % 100 === 0)
              .withColumn("o_orderkey", col("o_orderkey") + 10000000L)),
          Seq("o_orderkey"))

        // 11. column-mapped orders: mapping enabled on an existing
        //     table, o_totalprice RENAMED to price (logical-only),
        //     o_orderstatus DROPPED then re-added as o_note with a
        //     fresh field id (old rows read NULL — true drop
        //     semantics), % 5 keys deleted row-level, shifted rows
        //     appended under the evolved logical names
        val oSlim = o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val t11 = DeltaTable.create(spark, s"$root/orders_mapped", oSlim.repartition(4))
        t11.enableColumnMapping()
        t11.renameColumn("o_totalprice", "price")
        t11.dropColumn("o_orderstatus")
        t11.addColumn(StructField("o_note", StringType))
        t11.delete(col("o_orderkey") % 5 === 0)
        t11.append(oSlim.filter(col("o_orderkey") % 100 === 0)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            (col("o_totalprice") * 2).as("price"),
            upper(col("o_orderstatus")).as("o_note")), Seq.empty)

        // 12. RESTORE: v0 = even keys, v1 += odd, v2 = row-level DELETE
        //     (% 3 keys behind DVs), v3 = restore to v1 — one commit
        //     re-adds the files at their pre-delete DV state
        val t12 = DeltaTable.create(
          spark, s"$root/orders_restored", o.filter(col("o_orderkey") % 2 === 0))
        t12.append(o.filter(col("o_orderkey") % 2 === 1), Seq.empty)
        t12.delete(col("o_orderkey") % 3 === 0)
        t12.restoreTo(1L)

        // 13. identity column: empty-create with a GENERATED ALWAYS
        //     row_id (start 1000, step 2), then two sorted appends —
        //     assignment is watermarked and gap-free across commits,
        //     and sorting the frames makes it a deterministic function
        //     of o_orderkey the oracle can replay with ROW_NUMBER
        val t13 = DeltaTable.createEmpty(spark, s"$root/orders_identity", StructType(Seq(
          StructField("row_id", LongType, nullable = false,
            metadata = new MetadataBuilder()
              .putLong("delta.identity.start", 1000L)
              .putLong("delta.identity.step", 2L).build()),
          StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType))))
        val oId = o.select(col("o_orderkey"), col("o_totalprice").cast(DoubleType))
        t13.append(oId.filter(col("o_orderkey") % 2 === 0).orderBy(col("o_orderkey")), Seq.empty)
        t13.append(oId.filter(col("o_orderkey") % 2 === 1).orderBy(col("o_orderkey")), Seq.empty)

        // 14. VACUUM: v0 = full orders, v1 = logical overwrite keeping
        //     % 3 keys — vacuum at retention 0 physically deletes v0's
        //     unreferenced files (verified by count), and the CURRENT
        //     snapshot answers unchanged. Time travel to v0 is
        //     legitimately dead after this (the vacuum trade).
        val t14 = DeltaTable.create(spark, s"$root/orders_vacuumed", o)
        t14.overwrite(o.filter(col("o_orderkey") % 3 === 0), Seq.empty)
        val vacuumed = t14.vacuum(retentionMs = 0L)
        require(vacuumed.nonEmpty, "f21 fixture: vacuum(0) must delete v0's files")

        // 15. RENAME COLUMN via column mapping: files written BEFORE the
        //     rename keep their physical column names; reads resolve
        //     through the mapping under the new logical name, and an
        //     append AFTER the rename round-trips too
        val t15 = DeltaTable.create(
          spark, s"$root/orders_renamed", o.filter(col("o_orderkey") % 2 === 0))
        t15.enableColumnMapping()
        t15.renameColumn("o_totalprice", "o_amount")
        t15.append(o.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "o_amount"), Seq.empty)

        // 16. record-key index MERGE (DeltaKeyIndex): keys interleave
        //     across files by residue (every file's [min,max] spans the
        //     whole domain, so RANGE pruning keeps every file for any
        //     key set) and the MERGE's keys are one residue class. The
        //     exactness proof is constructive, the h14 victim trick:
        //     every live file holding NO incoming key is physically
        //     hidden during the MERGE — index routing never opens them
        //     (range pruning provably would: each victim's range
        //     overlaps the keys, checked below) — then restored for the
        //     oracle read.
        val o16 = o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val t16 = DeltaTable.create(spark, s"$root/orders_keyindex",
          o16.repartition(4, pmod(col("o_orderkey"), lit(4))))
        t16.buildKeyIndex("o_orderkey")
        val incoming16 = o16.filter(col("o_orderkey") % 4 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 50000.0)
          .localCheckpoint()
        val kMin = incoming16.agg(min("o_orderkey")).head.getLong(0)
        val kMax = incoming16.agg(max("o_orderkey")).head.getLong(0)
        val fs16 = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files16 = t16.log.snapshot().files.map(a => s"$root/orders_keyindex/${a.path}")
        val victims16 = files16.filter { f =>
          val mm = spark.read.parquet(f)
            .agg(min("o_orderkey"), max("o_orderkey"),
              sum((col("o_orderkey") % 4 === 1).cast("int"))).head
          mm.getLong(2) == 0L && mm.getLong(0) <= kMax && mm.getLong(1) >= kMin
        }
        require(victims16.nonEmpty,
          "f23 fixture: residue layout must yield range-overlapping non-hit files")
        val aside16 = victims16.map { v =>
          val p = new org.apache.hadoop.fs.Path(v)
          val a = new org.apache.hadoop.fs.Path(v + ".aside")
          require(fs16.rename(p, a), s"f23 fixture: cannot hide $v"); (a, p)
        }
        try t16.upsert(incoming16, Seq("o_orderkey"))
        finally aside16.foreach { case (a, p) => require(fs16.rename(a, p)) }

        // 17. z-order clustering: lineitem fragmented into 16 scattered
        //     files, then zorder-compacted on (l_partkey, l_suppkey) —
        //     the multi-dimension layout whose per-file min/max stats
        //     prune 2-d boxes where a lexicographic sort only prunes its
        //     leading column (Delta OPTIMIZE ZORDER BY shape; pruning
        //     fractions pinned by CompactionSpec)
        val zt = DeltaTable.create(spark, s"$root/lineitem_zorder",
          Tables.lineitem(spark, sfDir).repartition(16))
        require(zt.compact(targetFileBytes = 1L << 19, smallFileBytes = 1L << 30,
          zorderBy = Seq("l_partkey", "l_suppkey")).nonEmpty,
          "f24 fixture: zorder compact was a no-op")

        // 18. Delta statistics plane (f25): native ANALYZE lands a
        //     Puffin sidecar under _graft_stats + a property pointer;
        //     a later append must leave the registration resolvable
        //     (configuration persists across commits)
        val t18 = DeltaTable.create(spark, s"$root/orders_stats", o)
        t18.writeStatistics(Seq("o_custkey", "o_orderkey"))
        t18.append(o.limit(0), Seq.empty)
        require(DeltaTable.forPath(spark, s"$root/orders_stats")
          .statisticsVersion.nonEmpty,
          "f25 fixture: statistics pointer lost after the follow-up append")

        root
      })
    }

    def table(spark: SparkSession, sfDir: String, name: String): DeltaTable =
      DeltaTable.forPath(spark, s"${dir(spark, sfDir)}/$name")
  }

  /** Fixture root for cross-format queries (builds fixtures if needed). */
  def fixtureDir(spark: SparkSession, sfDir: String): String = Fixtures.dir(spark, sfDir)

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "f01_delta_convert_read",
      (spark, dir) =>
        Fixtures.table(spark, dir, "converted_lineitem").toDF()
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    QueryDef.sql(
      "f02_delta_write_read",
      (spark, dir) =>
        Fixtures.table(spark, dir, "lineitem_part").toDF()
          .groupBy(col("l_linestatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .orderBy(col("l_linestatus")),
      """SELECT l_linestatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    QueryDef.sql(
      "f03_delta_time_travel",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_2commit").toDF(versionAsOf = Some(0L))
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    QueryDef.sql(
      "f04_delta_incremental_changes",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_2commit").changesAsDF(0L, 1L)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 1 ORDER BY o_orderkey""".stripMargin),

    QueryDef.sql(
      "f05_delta_partition_prune",
      (spark, dir) =>
        Fixtures.table(spark, dir, "lineitem_part").scan
          .partitionIn("l_returnflag", Set("A"))
          .toDF()
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_linestatus")),
      """SELECT l_linestatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'A'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    QueryDef.sql(
      "f06_delta_stats_skipping",
      (spark, dir) => {
        val t = Fixtures.table(spark, dir, "lineitem_ranged")
        // file skipping drops range-files that can't contain the keys;
        // the row-level filter still applies on what's left
        t.scan.range("l_orderkey", Some(1000L), Some(2000L)).toDF()
          .filter(col("l_orderkey") >= 1000 && col("l_orderkey") <= 2000)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("l_returnflag"))
      },
      """SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 2000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Multi-dimensional stats skipping over the z-ordered layout: BOTH
    // range bounds prune files (a single-dim sort could only prune the
    // leading column), then the row filter applies on survivors.
    QueryDef.sql(
      "f24_zorder_clustering",
      (spark, dir) => {
        val t = Fixtures.table(spark, dir, "lineitem_zorder")
        t.scan
          .range("l_partkey", Some(100L), Some(400L))
          .range("l_suppkey", Some(10L), Some(40L)).toDF()
          .filter(col("l_partkey").between(100, 400) && col("l_suppkey").between(10, 40))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 10 AND 40
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // The statistics plane on DELTA (read side of x16's carry): the
    // ANALYZE sidecar's register set — resolved through the table
    // property, one follow-up append later — must replay to DuckDB's
    // from-raw-data HLL exactly, with the exact distinct count beside
    // it as the accuracy witness.
    QueryDef.sql(
      "f25_delta_statistics",
      (spark, dir) => {
        val t = Fixtures.table(spark, dir, "orders_stats")
        val (regs, ndv) = t.statisticsRegisters("o_custkey")
        graft.functions.PortableHll.estimate(
            spark.createDataFrame(regs).toDF("bucket", "mr"))
          .select(lit("o_custkey").as("column_name"),
            col("est").as("est_distinct"), lit(ndv).as("ndv_property"))
          .join(t.toDF().agg(countDistinct(col("o_custkey")).as("exact_distinct"))
            .withColumn("column_name", lit("o_custkey")), Seq("column_name"))
          .select(col("column_name"), col("est_distinct"),
            col("ndv_property"), col("exact_distinct"))
      },
      s"""WITH reg AS (
         |  SELECT bucket, MAX(rho) AS mr FROM (
         |    SELECT
         |      (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + instr('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket,
         |      ${graft.functions.PortableHll.rhoSql.replace("regexp_extract(rest, '^0*', 0)", "regexp_extract(rest, '^0*')")} AS rho
         |    FROM (
         |      SELECT md5(CAST(o_custkey AS VARCHAR)) AS h,
         |        substr(md5(CAST(o_custkey AS VARCHAR)), 3, 14) AS rest
         |      FROM orders WHERE o_custkey IS NOT NULL))
         |  GROUP BY bucket),
         |est AS (
         |  SELECT COUNT(*) AS nb,
         |    SUM(CAST((1::BIGINT << (60 - mr)) AS DECIMAL(38,0))) AS sp
         |  FROM reg),
         |e2 AS (
         |  SELECT ${graft.functions.PortableHll.estimateSql} AS est_distinct
         |  FROM est)
         |SELECT 'o_custkey' AS column_name, est_distinct,
         |  est_distinct AS ndv_property,
         |  CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT) AS exact_distinct
         |FROM e2""".stripMargin),

    // Time-transform partitioning: a range predicate on the SOURCE
    // timestamp prunes month partitions (generated-column hidden
    // partitioning; ref `DeltaPartitionExtractor.java:104-323`), then
    // the row filter applies on survivors.
    QueryDef.sql(
      "f07_delta_time_partition_prune",
      (spark, dir) => {
        val t = Fixtures.table(spark, dir, "orders_bymonth")
        t.scan
          .range("o_orderdate", Some("1995-06-01 00:00:00"), Some("1995-08-31 23:59:59"))
          .toDF()
          .filter(col("o_orderdate").between("1995-06-01", "1995-08-31 23:59:59"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderdate BETWEEN '1995-06-01' AND '1995-08-31 23:59:59'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Schema evolution: rows written before the column existed read
    // back as NULL through the evolved schema (same shape as Iceberg's
    // i06; the log's newest metaData governs the read schema).
    QueryDef.sql(
      "f08_delta_schema_evolution",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_evolved").toDF()
          .select(col("o_orderkey"), col("o_totalprice"), col("o_flag"))
          .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN UPPER(o_orderstatus) END AS o_flag
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // Row-level DELETE applied at read time from deletion vectors: the
    // parquet files still hold every row; the anti-join against the
    // decoded (file, position) tombstones must hide exactly the deleted
    // ones (Delta protocol "Deletion Vectors"; engine surface beyond the
    // reference, which has no row-level delete plane).
    QueryDef.sql(
      "f13_delta_deletion_vectors",
      (spark, dir) =>
        Fixtures.table(spark, dir, "lineitem_dv").toDF()
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_returnflag")),
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_quantity < 45
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // The REORG/purge path: deletes materialized by rewriting only the
    // DV-carrying files; results identical, snapshot DV-free.
    QueryDef.sql(
      "f14_delta_dv_purge",
      (spark, dir) =>
        Fixtures.table(spark, dir, "lineitem_dv_purged").toDF()
          .groupBy(col("l_linestatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .orderBy(col("l_linestatus")),
      """SELECT l_linestatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity < 45
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // MERGE-by-key in one commit: matched rows vanish behind deletion
    // vectors, the source's updates and inserts land as new files — the
    // oracle reconstructs the merge algebraically over the raw parquet.
    QueryDef.sql(
      "f15_delta_upsert",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_merged").toDF()
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus")),
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100000.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Change data feed reconstructed purely from the log: the MERGE
    // commit's feed is the matched keys' pre-images as `delete` rows
    // (DV-diff positions) plus the source rows as `insert`s — the
    // oracle rebuilds both sides algebraically.
    QueryDef.sql(
      "f16_delta_change_feed",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_merged").changeFeed(0L, 1L)
          .groupBy(col("_change_type"), col("o_orderstatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
          .orderBy(col("_change_type"), col("o_orderstatus")),
      """WITH feed AS (
        |  SELECT 'delete' AS _change_type, o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'insert', o_orderkey, o_orderstatus, o_totalprice + 100000.0
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'insert', o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT _change_type, o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM feed GROUP BY _change_type, o_orderstatus
        |ORDER BY _change_type, o_orderstatus""".stripMargin),

    // CDF WRITE path: unlike f16's log-derived feed, these commits carry
    // real `_change_data` files + cdc actions (the table enables
    // delta.enableChangeDataFeed), and the feed reads them exclusively.
    // v2's DELETE pre-images are the % 7 keys; v3's MERGE deletes only
    // the % 3 keys still live (% 21 died at v2 — the already-deleted
    // anti-join must keep them out) and inserts every source row.
    QueryDef.sql(
      "f17_delta_cdf_write",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_cdf").changeFeed(1L, 3L)
          .groupBy(col("_change_type"), col("_commit_version"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
          .orderBy(col("_change_type"), col("_commit_version")),
      """WITH feed AS (
        |  SELECT 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version,
        |    o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'delete', 3, o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT 'insert', 3, o_orderkey, o_totalprice + 100000.0
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'insert', 3, o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT _change_type, _commit_version, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM feed GROUP BY _change_type, _commit_version
        |ORDER BY _change_type, _commit_version""".stripMargin),

    // Column-mapping write plane: rename + true drop + re-add + row-level
    // delete + append, all through physical-name staging; the oracle
    // rebuilds the surviving rows algebraically (dropped o_orderstatus
    // must NOT resurrect into o_note for historical rows).
    QueryDef.sql(
      "f18_delta_column_mapping",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_mapped").toDF()
          .select(col("o_orderkey"), col("price"), col("o_note"))
          .orderBy(col("o_orderkey")),
      """SELECT o_orderkey, price, o_note FROM (
        |  SELECT o_orderkey, o_totalprice AS price,
        |    CAST(NULL AS VARCHAR) AS o_note
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 20000000, o_totalprice * 2, UPPER(o_orderstatus)
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |ORDER BY o_orderkey""".stripMargin),

    // RESTORE TABLE ... VERSION AS OF: the row-level delete's deletion
    // vectors unwind in one commit, so the table reads as the full
    // orders set again (the oracle is the raw table — the % 3 delete
    // must leave no trace).
    QueryDef.sql(
      "f19_delta_restore",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_restored").toDF()
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Identity columns: GENERATED ALWAYS row_id assigned from the high
    // watermark across two commits — the oracle replays the exact
    // assignment (commit 1 = even keys in key order, commit 2 = odd
    // keys continuing where the watermark left off).
    QueryDef.sql(
      "f20_delta_identity",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_identity").toDF()
          .select(col("row_id"), col("o_orderkey"))
          .orderBy(col("row_id")),
      """WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
        |b AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 1),
        |ids AS (
        |  SELECT 998 + 2 * ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id,
        |    o_orderkey FROM a
        |  UNION ALL
        |  SELECT 998 + 2 * (SELECT COUNT(*) FROM a)
        |    + 2 * ROW_NUMBER() OVER (ORDER BY o_orderkey), o_orderkey FROM b)
        |SELECT row_id, o_orderkey FROM ids ORDER BY row_id""".stripMargin),

    // VACUUM physically removed the overwritten files (fixture asserts
    // the deletion count), and the live snapshot still answers exactly.
    QueryDef.sql(
      "f21_delta_vacuum",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_vacuumed").toDF()
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // RENAME COLUMN: pre-rename files answer under the new logical name
    // through the column mapping; post-rename appends join them.
    QueryDef.sql(
      "f22_delta_rename_column",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_renamed").toDF()
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_amount").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_amount"))
          .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Record-key-index MERGE: the fixture ran the upsert with every
    // non-hit file physically hidden (index routing opened only true
    // hit files — range pruning provably keeps every file, their key
    // ranges all overlap). The oracle replays the MERGE arithmetic:
    // +50000 on exactly the keys ≡ 1 (mod 4).
    QueryDef.sql(
      "f23_delta_key_index_merge",
      (spark, dir) =>
        Fixtures.table(spark, dir, "orders_keyindex").toDF()
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(SUM(CAST(CASE WHEN o_orderkey % 4 = 1
        |    THEN o_totalprice + 50000.0 ELSE o_totalprice END
        |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  )
}
