package syncbench

import java.io.File
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** What every workload gets: the session, the tracer, its own scratch
  * directory inside the checkout, and the run's settings. */
final case class Ctx(
    spark: SparkSession,
    tracer: Tracer,
    workDir: File,
    seed: Long,
    seconds: Int) {

  def traced: Boolean = tracer.enabled

  def dir(name: String): String = new File(workDir, name).getAbsolutePath

  /** Run `f` as one span when tracing, else just run it. */
  def span[A](name: String)(f: => A): A = tracer.span(name)(f)
}

/**
 * Operation accounting for the closed loop. A thrown operation counts as
 * attempted and failed and its time is dropped, so a crash can never
 * shorten a latency. A wrong result is a mismatch, which fails the run.
 */
final class OpLog {
  var attempted = 0L
  var failed = 0L
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap()
  private val errors = mutable.ArrayBuffer[String]()

  def add(series: String, value: Double): Unit =
    samples.getOrElseUpdate(series, mutable.ArrayBuffer()) += value

  def series(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  /** Time one operation into `series` (in ms). None when it threw. */
  def attempt[A](series: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      add(series, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 5) errors += s"$series: $e"
        System.err.println(s"operation failed ($series): $e")
        None
    }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    mismatches += what
    System.err.println(s"MISMATCH: $what")
  }

  def errorSamples: Seq[String] = errors.toSeq
}

/** One measured figure, printed by name with its unit. */
final case class Figure(name: String, value: Double, unit: String, note: String = "")

/** What a workload hands back to [[Main]]. */
final case class Outcome(
    log: OpLog,
    /** seconds of each fixture build in the run */
    fixtureSeconds: Seq[Double],
    /** latencies (ms) of the workload's unit operation, untraced */
    opMs: Seq[Double],
    /** the same for operations run with tracing on */
    tracedOpMs: Seq[Double],
    /** work units per second */
    throughput: Double,
    /** what one work unit is, e.g. `files/s` */
    throughputUnit: String,
    /** the workload's own end-to-end figures, printed only */
    figures: Seq[Figure],
    /** per-layer figures (traced run) */
    layers: Map[String, Double])

object Fs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Bytes of all regular files under `dir` (0 when absent). */
  def bytesUnder(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(bytesUnder).sum

  def copyTree(from: JPath, to: JPath): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally s.close()
  }
}

/**
 * Seeded synthetic `lineitem`: TPC-H's column set and value domains,
 * every value a hash of (row id, seed), so a row range regenerates
 * identically in any run with the same seed. Row `i` is order
 * `i / 4 + 1`, line `i % 4 + 1`.
 */
object Lineitem {
  val ShipModes: Seq[String] = Seq("AIR", "FOB", "MAIL", "RAIL", "REGAIR", "SHIP", "TRUCK")
  val FirstShipDate: java.time.LocalDate = java.time.LocalDate.parse("1992-01-02")
  val ShipDays = 2526

  def rows(spark: SparkSession, seed: Long, from: Long, n: Long, partitions: Int): DataFrame = {
    def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
    def pick(values: Seq[String], salt: Int): Column =
      element_at(array(values.map(lit): _*), (pmod(h(salt), lit(values.size.toLong)) + 1).cast("int"))
    def money(c: Column): Column = c.cast(DecimalType(15, 2))
    spark.range(from, from + n, 1, partitions).select(
      (col("id") / 4).cast("long").plus(1).as("l_orderkey"),
      (pmod(h(1), lit(200000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(10000L)) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      money(pmod(h(3), lit(50L)) + 1).as("l_quantity"),
      money(pmod(h(4), lit(10000000L)) / 100 + 900).as("l_extendedprice"),
      money(pmod(h(5), lit(11L)) / 100).as("l_discount"),
      money(pmod(h(6), lit(9L)) / 100).as("l_tax"),
      pick(Seq("A", "N", "R"), 7).as("l_returnflag"),
      pick(Seq("F", "O"), 8).as("l_linestatus"),
      date_add(lit(FirstShipDate), pmod(h(9), lit(ShipDays.toLong)).cast("int")).as("l_shipdate"),
      date_add(lit(FirstShipDate), (pmod(h(9), lit(ShipDays.toLong)) + pmod(h(10), lit(61L)) - 30)
        .cast("int")).as("l_commitdate"),
      date_add(lit(FirstShipDate), (pmod(h(9), lit(ShipDays.toLong)) + pmod(h(11), lit(30L)) + 1)
        .cast("int")).as("l_receiptdate"),
      pick(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"), 12).as("l_shipinstruct"),
      pick(ShipModes, 13).as("l_shipmode"),
      concat(lit("c"), hex(h(14))).as("l_comment"))
  }

  val Columns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "l_commitdate", "l_receiptdate", "l_shipinstruct", "l_shipmode", "l_comment")

  /** Order-independent content hash: row count plus the exact sum of
    * every row's 64-bit hash over all columns in a fixed order. Equal
    * multisets of rows give equal values, whatever the column order or
    * file layout of the table that produced them. */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(Columns.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

/** Aggregation over the finished spans of a traced run. */
final class Layers(records: Seq[SpanRecord]) {
  private val byName = records.filterNot(_.span.failed).groupBy(_.span.name)

  def calls(name: String): Int = byName.get(name).map(_.size).getOrElse(0)

  private def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n

  /** Mean wall ms per call of span `name`. */
  def meanMs(name: String): Double =
    per(byName.getOrElse(name, Nil).map(_.span.durNs / 1e6).sum, calls(name))

  /** Mean self ms per call of span `name`. */
  def meanSelfMs(name: String): Double =
    per(byName.getOrElse(name, Nil).map(_.selfNs / 1e6).sum, calls(name))

  /** Spark counts summed over every span whose name satisfies `p`. */
  def spark(p: String => Boolean): SparkCounts =
    byName.filter { case (n, _) => p(n) }.values.flatten.map(_.spark)
      .foldLeft(SparkCounts.Zero)(_ + _)

  /** Mean Spark counts per call of span `name`. */
  def sparkPer(name: String, of: SparkCounts => Long): Double =
    per(of(spark(_ == name)).toDouble, calls(name))
}

/** A fixed pure-Spark job with no graft code: host speed, for reading
  * other numbers against. Printed with every run, never gated. */
object Calibration {
  def seconds(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 40000000L, 1, 4).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq(once(), once()).min
  }
}

object Rows {
  /** Render an aggregate row for comparison and printing. */
  def key(r: Row): String = r.toSeq.map {
    case d: java.math.BigDecimal => d.stripTrailingZeros().toPlainString
    case null => "null"
    case v => v.toString
  }.mkString("|")
}
