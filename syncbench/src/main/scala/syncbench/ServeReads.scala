package syncbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable
import graft.sync.SyncEngine

/**
 * Read-heavy serving after sync, no writes in the timed loop. Set-up
 * writes seeded `lineitem` to Delta in [[ServeReads.Slices]] commits,
 * partitioned on `l_shipmode` and range-clustered on `l_shipdate`, and
 * syncs each commit into Iceberg and Hudi, so every format has the same
 * versions to travel to. The loop sends a closed-loop mix of five query
 * shapes over the three formats; each answer must equal the same query
 * computed on the raw parquet of the generated rows.
 */
final class ServeReads(ctx: Ctx) {
  import ServeReads._

  private val spark = ctx.spark
  private val log = new OpLog
  private val rnd = new Random(ctx.seed)

  /** Disjoint 30-day `l_shipdate` windows, one per 60-day bucket drawn. */
  private val windows: IndexedSeq[(java.time.LocalDate, java.time.LocalDate)] =
    rnd.shuffle((0 until Lineitem.ShipDays / 60).toIndexedSeq).take(Windows).sorted.map { b =>
      val lo = Lineitem.FirstShipDate.plusDays(b * 60L + rnd.nextInt(30))
      (lo, lo.plusDays(29))
    }

  /** Version pairs (from exclusive, to inclusive) for `changes`. */
  private val changePairs: IndexedSeq[(Int, Int)] =
    for (a <- 0 until Slices - 1; b <- a + 1 until Slices) yield (a, b)

  private def aggregate(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("l_quantity")), sum(col("l_extendedprice")))

  private def build(root: String): Tables = {
    Fs.deleteRecursively(new File(root))
    val deltaPath = s"$root/delta"
    (0 until Slices).foreach { s =>
      val df = Lineitem.rows(spark, ctx.seed, s.toLong * SliceRows, SliceRows, Main.Cores)
        .repartitionByRange(FilesPerModePerCommit, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
      if (s == 0) DeltaTable.create(spark, deltaPath, df, Seq("l_shipmode"))
      else DeltaTable.forPath(spark, deltaPath).append(df, Seq("l_shipmode"))
      Seq("iceberg", "hudi").foreach { f =>
        val r = SyncEngine.sync(SyncEngine.deltaSource(DeltaTable.forPath(spark, deltaPath)),
          SyncEngine.targetFor(spark, f, s"$root/$f"),
          if (s == 0) SyncEngine.Full else SyncEngine.Incremental)
        log.check(r.versionsSynced == Seq(s.toString), s"set-up sync of version $s into $f: $r")
      }
    }
    val ice = IcebergTable.forPath(spark, s"$root/iceberg")
    val hudi = HudiTable.forPath(spark, s"$root/hudi")
    val tokens = Map(
      "delta" -> (0 until Slices).map(_.toString),
      "iceberg" -> ice.snapshotIds.map(_.toString).toIndexedSeq,
      "hudi" -> hudi.instants.toIndexedSeq)
    tokens.foreach { case (f, t) =>
      log.check(t.size == Slices, s"$f target has ${t.size} versions, expected $Slices")
    }
    val delta = DeltaTable.forPath(spark, deltaPath)
    val counts = (0 until Slices).flatMap { v =>
      Seq(
        ("delta", v) -> delta.snapshotFileCount(Some(v.toLong)),
        ("iceberg", v) -> ice.snapshotFileCount(Some(tokens("iceberg")(v).toLong)),
        ("hudi", v) -> hudi.snapshotFileCount(Some(tokens("hudi")(v))))
    }.toMap
    Tables(root, tokens, counts)
  }

  /** Reference answers from the raw parquet of the same rows: partial
    * aggregates per (slice, ship mode, window), summed per query. */
  private def reference(rawPath: String): Query => String = {
    Lineitem.rows(spark, ctx.seed, 0, SliceRows.toLong * Slices, Main.Cores).write.parquet(rawPath)
    val raw = spark.read.parquet(rawPath)
    val rowId = (col("l_orderkey") - 1) * 4 + col("l_linenumber") - 1
    val win = windows.zipWithIndex.foldLeft(lit(-1)) { case (acc, ((lo, hi), i)) =>
      when(col("l_shipdate").between(lit(lo), lit(hi)), lit(i)).otherwise(acc)
    }
    val parts = raw.select((rowId / SliceRows).cast("int").as("slice"), col("l_shipmode"),
        win.as("win"), col("l_quantity"), col("l_extendedprice"))
      .groupBy("slice", "l_shipmode", "win")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"), sum(col("l_extendedprice")).as("p"))
      .collect().toSeq
    def answer(keep: Row => Boolean): String = {
      val sel = parts.filter(keep)
      val n = sel.map(_.getAs[Long]("n")).sum
      def total(c: String) =
        if (sel.isEmpty) null else sel.map(_.getAs[java.math.BigDecimal](c)).reduce(_ add _)
      Rows.key(Row(n, total("q"), total("p")))
    }
    q => q.shape match {
      case "partition_eq" => answer(_.getAs[String]("l_shipmode") == Lineitem.ShipModes(q.param))
      case "range_data" => answer(_.getAs[Int]("win") == q.param)
      case "time_travel" => answer(_.getAs[Int]("slice") <= q.param)
      case "changes" =>
        val (a, b) = changePairs(q.param)
        answer { r => val s = r.getAs[Int]("slice"); s > a && s <= b }
      case "full_agg" => answer(_ => true)
    }
  }

  private def load(t: Tables, fmt: String, asOf: Option[String] = None): DataFrame =
    ctx.span("spark.load") {
      val r = spark.read.format("graft")
      asOf.fold(r)(v => r.option("versionAsOf", v)).load(t.path(fmt))
    }

  private def changes(t: Tables, fmt: String, a: Int, b: Int): DataFrame = {
    val ta = t.tokens(fmt)(a)
    val tb = t.tokens(fmt)(b)
    val p = t.path(fmt)
    fmt match {
      case "delta" =>
        val tbl = ctx.span("delta.for_path")(DeltaTable.forPath(spark, p))
        ctx.span("delta.changes_df")(tbl.changesAsDF(ta.toLong, tb.toLong))
      case "iceberg" =>
        val tbl = ctx.span("iceberg.for_path")(IcebergTable.forPath(spark, p))
        ctx.span("iceberg.changes_df")(tbl.changesAsDF(ta.toLong, tb.toLong))
      case "hudi" =>
        val tbl = ctx.span("hudi.for_path")(HudiTable.forPath(spark, p))
        ctx.span("hudi.changes_df")(tbl.changesAsDF(ta, tb))
    }
  }

  private def plan(t: Tables, q: Query): (DataFrame, Int) = {
    val latest = Slices - 1
    q.shape match {
      case "partition_eq" =>
        (aggregate(load(t, q.fmt).filter(col("l_shipmode") === Lineitem.ShipModes(q.param))), latest)
      case "range_data" =>
        val (lo, hi) = windows(q.param)
        (aggregate(load(t, q.fmt).filter(col("l_shipdate").between(lit(lo), lit(hi)))), latest)
      case "time_travel" =>
        (aggregate(load(t, q.fmt, Some(t.tokens(q.fmt)(q.param)))), q.param)
      case "changes" =>
        val (a, b) = changePairs(q.param)
        (aggregate(changes(t, q.fmt, a, b)), b)
      case "full_agg" => (aggregate(load(t, q.fmt)), latest)
    }
  }

  private def params(shape: String): Int = shape match {
    case "partition_eq" => Lineitem.ShipModes.size
    case "range_data" => Windows
    case "time_travel" => Slices - 1
    case "changes" => changePairs.size
    case "full_agg" => 1
  }

  /** Round `r`: every (shape, format) once, in a seeded order. Ship mode
    * and date window are seeded; the version-dependent shapes cycle
    * through their versions, so every seed reads the same amount of
    * data. Whole rounds keep the mix fixed. */
  private def round(r: Int): Seq[Query] =
    rnd.shuffle(for (s <- Shapes; f <- Formats) yield Query(s, f, s match {
      case "time_travel" | "changes" => r % params(s)
      case _ => rnd.nextInt(params(s))
    }))

  def run(): Outcome = {
    val b0 = System.nanoTime()
    val tables = build(ctx.dir("tables"))
    val expected = reference(ctx.dir("raw"))
    val buildS = (System.nanoTime() - b0) / 1e9
    val untraced, traced = mutable.ArrayBuffer[Double]()
    val byShape = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val scanned = mutable.Map[String, (Long, Long)]()
    // untimed rounds first: JIT and lazy initialization of every query
    // path (latencies kept falling through the first timed round after
    // one warm-up round), answers still checked
    (0 until WarmRounds).flatMap(round).foreach { q =>
      val (df, _) = plan(tables, q)
      log.check(Rows.key(df.collect().head) == expected(q), s"warm-up $q: wrong answer")
    }
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val minRounds = if (ctx.traced) 2 else 1
    var r = 0
    var op = 0L
    while (r < minRounds || System.nanoTime() < deadline) {
      val tracedRound = ctx.traced && r % 2 == 0
      ctx.tracer.activate(tracedRound)
      round(r).foreach { q =>
        op += 1
        val t0 = System.nanoTime()
        val res = ctx.tracer.inOp(op)(log.attempt(q.shape) {
          val (df, version) = plan(tables, q)
          val executed = ctx.span("sources.plan")(df.queryExecution.executedPlan)
          val row = ctx.span("exec")(df.collect().head)
          (Rows.key(row), executed, version)
        })
        val ms = (System.nanoTime() - t0) / 1e6
        res.foreach { case (got, executed, version) =>
          (if (tracedRound) traced else untraced) += ms
          log.check(got == expected(q), s"$q answered $got, raw parquet gives ${expected(q)}")
          if (tracedRound) {
            byShape.getOrElseUpdate(q.shape, mutable.ArrayBuffer()) += ms
            val files = ScanFiles.collectWithSubqueries(executed) {
              case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
            }.sum
            val (n, d) = scanned.getOrElse(q.shape, (0L, 0L))
            scanned(q.shape) = (n + files, d + tables.fileCounts((q.fmt, version)))
          }
        }
      }
      r += 1
    }
    ctx.tracer.activate(true)
    Fs.deleteRecursively(new File(ctx.dir("tables")))
    val qs = Summary.dist(untraced.toSeq)
    Outcome(log, Seq(buildS), untraced.toSeq, traced.toSeq,
      throughput = untraced.size / (untraced.sum / 1e3), throughputUnit = "queries/s",
      figures = Seq(Figure("query_p50_ms", qs.p50, "ms", s"n=${qs.n}")) ++
        qs.tail.map { case (q, v) =>
          Figure(f"query_p${q * 100}%.4g_ms", v, "ms", s"${Summary.beyond(qs.n, q)} samples beyond")
        } :+ Figure("queries_per_s", untraced.size / (untraced.sum / 1e3), "queries/s",
          s"${untraced.size} queries, closed loop, one client"),
      layers = Shapes.flatMap { s =>
        Seq(s"serve.$s.p50_ms" -> byShape.get(s).map(v => Summary.median(v.toSeq)).getOrElse(0.0),
          s"sources.files_scanned_ratio.$s" -> scanned.get(s)
            .map { case (n, d) => n.toDouble / d }.getOrElse(0.0))
      }.toMap)
  }
}

object ServeReads {
  val Shapes: Seq[String] = Seq("partition_eq", "range_data", "time_travel", "changes", "full_agg")
  val Formats: Seq[String] = Seq("delta", "iceberg", "hudi")
  /** Rows per Delta commit; three commits hold a fifth of TPC-H sf0.1
    * `lineitem`. */
  val SliceRows = 40000
  val Slices = 3
  val Windows = 6
  val WarmRounds = 2
  /** Range partitions per commit: each ship mode gets this many files
    * per commit, each holding a narrow `l_shipdate` range. */
  val FilesPerModePerCommit = 8

  private object ScanFiles extends AdaptiveSparkPlanHelper

  private final case class Query(shape: String, fmt: String, param: Int)

  /** Per-format version tokens (index = Delta version) and live file counts. */
  private final case class Tables(root: String, tokens: Map[String, IndexedSeq[String]],
      fileCounts: Map[(String, Int), Int]) {
    def path(fmt: String) = s"$root/$fmt"
  }
}
