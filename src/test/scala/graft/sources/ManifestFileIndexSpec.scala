package graft.sources

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.model.{ColumnStatRow, InternalDataFile}

/**
 * The 100×-scale planning guard: scans plan from table-format metadata
 * (the [[ManifestFileIndex]]), never by listing or stat-ing the
 * filesystem. The proof is constructive — every file path below is
 * NONEXISTENT, so any `listStatus`/`getFileStatus` during planning
 * would throw; planning succeeding at all means zero FS calls.
 */
class ManifestFileIndexSpec extends SparkTestBase {

  private val nFiles = 10000
  private val nPartitions = 50

  private def syntheticFiles: Seq[InternalDataFile] =
    (0 until nFiles).map { i =>
      val p = i % nPartitions
      InternalDataFile(
        physicalPath = s"/nonexistent/graft_plan_guard/p=$p/part-$i.parquet",
        fileSizeBytes = 1000L + i,
        lastModified = 0L,
        partitionValues = Map("p" -> p.toString))
    }

  test("10k-file scan plans from metadata only: no FS access, pruned, bounded time") {
    val schema = StructType(Seq(
      StructField("x", LongType), StructField("p", IntegerType)))
    val t0 = System.nanoTime()
    val df = ManifestFileIndex.read(
      spark, "/nonexistent/graft_plan_guard", syntheticFiles, schema, Seq("p"))
    val pruned = df.filter(col("p") === 7).select(col("x"))
    // force FULL planning, including the scan's file selection — this
    // is where an InMemoryFileIndex would stampede the metadata store
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    val selected = scan.selectedPartitions.toPartitionArray
    val planMs = (System.nanoTime() - t0) / 1e6
    // partition pruning happened at PLAN time: exactly one partition's
    // files survive, out of 10k
    assert(selected.length == nFiles / nPartitions,
      s"expected ${nFiles / nPartitions} files after pruning, got ${selected.length}")
    assert(selected.forall(f =>
      f.urlEncodedPath.contains("/p%3D7/") || f.urlEncodedPath.contains("/p=7/")))
    // sizes came from the manifest, not stat calls
    assert(selected.map(_.fileSize).sum == syntheticFiles
      .filter(_.partitionValues("p") == "7").map(_.fileSizeBytes).sum)
    // and column pruning reached the reader: only `x` is read
    assert(scan.requiredSchema.fieldNames.toSeq == Seq("x"))
    assert(planMs < 30000, s"10k-file planning took ${planMs}ms")
  }

  test("unpartitioned 10k-file scan also plans without FS access") {
    val schema = StructType(Seq(StructField("x", LongType)))
    val files = (0 until nFiles).map(i => InternalDataFile(
      s"/nonexistent/graft_plan_guard_flat/part-$i.parquet", fileSizeBytes = 10L))
    val df = ManifestFileIndex.read(
      spark, "/nonexistent/graft_plan_guard_flat", files, schema, Seq.empty)
    val scan = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.totalNumberOfFiles == nFiles.toLong)
  }

  // min/max skipping over canonical column stats: file i holds x in
  // [100i, 100i + 99] and d in [day 1000 + 10i, day 1000 + 10i + 9];
  // `nostats` carries no stats, `nullmin` a null lower bound on x (and a
  // maximum above every filter literal), so both are always kept
  private val statsRoot = "/nonexistent/graft_stats_guard"
  private val statsSchema = StructType(Seq(
    StructField("x", LongType), StructField("d", DateType), StructField("s", StringType)))
  private def statsFiles: Seq[InternalDataFile] =
    (0 until 10).map { i =>
      InternalDataFile(s"$statsRoot/f$i.parquet", fileSizeBytes = 100L, columnStats = Seq(
        ColumnStatRow("x", Some(s"${100 * i}"), Some(s"${100 * i + 99}"), 0L, 100L, 0L),
        ColumnStatRow("d", Some(s"${1000 + 10 * i}"), Some(s"${1009 + 10 * i}"), 0L, 100L, 0L)))
    } ++ Seq(
      InternalDataFile(s"$statsRoot/nostats.parquet", fileSizeBytes = 100L),
      InternalDataFile(s"$statsRoot/nullmin.parquet", fileSizeBytes = 100L, columnStats = Seq(
        ColumnStatRow("x", None, Some("100000"), 0L, 100L, 0L))))

  /** File names the planned scan selects under `filter`. */
  private def selectedUnder(filter: org.apache.spark.sql.Column,
      stats: InternalDataFile => Seq[ColumnStatRow] = _.columnStats): Set[String] = {
    val df = ManifestFileIndex.read(spark, statsRoot, statsFiles, statsSchema, Seq.empty,
      columnStats = stats).filter(filter)
    df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }.head
      .selectedPartitions.toPartitionArray
      .map(_.urlEncodedPath.split("/").last.stripSuffix(".parquet")).toSet
  }

  private val kept = Set("nostats", "nullmin")

  test("a data filter on a stats column selects only the overlapping files") {
    assert(selectedUnder(col("x") >= 250L && col("x") < 420L) == Set("f2", "f3", "f4") ++ kept)
    assert(selectedUnder(col("x") === 700L) == Set("f7") ++ kept)
    // dates decode from epoch-days
    val day = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(1035))
    assert(selectedUnder(col("d") === lit(day)) == Set("f3") ++ kept)
    assert(selectedUnder(col("d") > lit(day)) == (3 until 10).map(i => s"f$i").toSet ++ kept)
  }

  test("reversed-literal comparisons, IN and OR skip files") {
    assert(selectedUnder(lit(850L) < col("x")) == Set("f8", "f9") ++ kept)
    assert(selectedUnder(lit(150L) >= col("x")) == Set("f0", "f1") ++ kept)
    assert(selectedUnder(col("x").isin(150L, 720L)) == Set("f1", "f7") ++ kept)
    // a long IN list reaches the index in the optimizer's InSet form
    assert(selectedUnder(col("x").isin((0 until 20).map(i => 500L + i): _*)) == Set("f5") ++ kept)
    assert(selectedUnder(col("x") < 50L || col("x") > 950L) == Set("f0", "f9") ++ kept)
  }

  test("an unsupported predicate, or a column without stats, keeps every file") {
    val all = (0 until 10).map(i => s"f$i").toSet ++ kept
    assert(selectedUnder((col("x") % 7L) === 3L) == all)
    assert(selectedUnder(col("s") === "a") == all)
    // an unsupported disjunct makes the whole OR unprovable
    assert(selectedUnder(col("x") === 5L || (col("x") % 7L) === 3L) == all)
    // one supported conjunct still prunes
    assert(selectedUnder(col("x") < 50L && (col("x") % 7L) === 3L) == Set("f0") ++ kept)
  }

  test("stats are decoded only for a scan that carries a data filter") {
    val boom: InternalDataFile => Seq[ColumnStatRow] =
      _ => throw new IllegalStateException("stats decoded")
    val df = ManifestFileIndex.read(spark, statsRoot, statsFiles, statsSchema, Seq.empty,
      columnStats = boom)
    val scan = df.select(col("x")).queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.totalNumberOfFiles == statsFiles.size.toLong)
    val e = intercept[IllegalStateException](selectedUnder(col("x") === 5L, boom))
    assert(e.getMessage.contains("stats decoded"))
  }
}
