package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // One warm-up action so JVM/codegen startup isn't billed to the
    // first query.
    spark.range(1000).count()
    // Calibration probe: a FIXED pure-Spark workload — zero graft code,
    // zero I/O — so round-over-round comparisons can separate host
    // speed from plan creep (idle-bench drift was attributed to a busy
    // box two rounds running with no way to prove it; per-query trends
    // normalize by this). Best-of-2 like the queries.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(500000000L).selectExpr("bit_xor(xxhash64(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calibrationSec = math.min(calibrate(), calibrate())
    // Build each suite's fixture tables OUTSIDE the timed sections:
    // fixture construction is one-time setup (table writes/conversions/
    // syncs), not the operator under measurement — previously it was
    // billed to whichever query of the suite happened to run first.
    val tFix0 = System.nanoTime()
    graft.operators.FormatQueries.fixtureDir(spark, sfDir)
    graft.operators.IcebergQueries.fixtureDir(spark, sfDir)
    graft.operators.HudiQueries.fixtureDir(spark, sfDir)
    graft.operators.SyncQueries.fixtureDir(spark, sfDir)
    // streaming fixtures primed like every other suite's (they were the
    // one set still built lazily inside the first timed st01 call, so
    // pass 1 billed the parquet staging + st03 sink/crash/replay runs
    // to st01; the cost now lands in fixture_build_sec, reported)
    graft.operators.StreamQueries.primeFixtures(spark, sfDir)
    val fixtureSec = (System.nanoTime() - tFix0) / 1e9
    // index/model builds (d05 corpus count, s03/d07 Lloyd training) are
    // reported SEPARATELY from fixture I/O: they are work the queries
    // themselves previously paid, so cross-round comparisons need the
    // number visible, not silently moved out of the timed section
    val tIdx0 = System.nanoTime()
    graft.operators.Dedup.primeCorpusSize(spark, sfDir)
    graft.operators.Dedup.primeBucketIndex(spark, sfDir)
    graft.operators.Similarity.primeKmeans(spark, sfDir)
    graft.operators.Similarity.primeCellStore(spark, sfDir)
    graft.operators.Similarity.primeMaintStore(spark, sfDir)
    val indexBuildSec = (System.nanoTime() - tIdx0) / 1e9
    // best-of-2, DECORRELATED: attempt 1 runs for every query, then
    // attempt 2 for every query. Back-to-back attempts land in the same
    // busy window on a contended box, so even min-of-2 inflated; with
    // whole passes, transient contention hits different queries per pass
    // and the min recovers the true number.
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    // a query that throws has no time: None, never the elapsed time of
    // its failure
    def onePass(): Map[String, Option[Double]] = named.map { case (name, fn) =>
      // quiesce between queries: leftover cached RDDs and pending
      // broadcast/shuffle cleanup otherwise bleed into this one's wall
      // clock (late-alphabet queries were paying for the whole run's
      // accumulated state)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          false
        }
      name -> Option.when(ok)((System.nanoTime() - t0) / 1e9)
    }.toMap
    val pass1 = onePass()
    val pass2 = onePass()
    // min is the reported time; max/min spread flags contended runs
    // (spread >> 1 on many queries ⇒ the box, not the plans, moved). A
    // query that failed in either pass is null in both renditions and
    // left out of every total.
    val results: Seq[(String, Option[(Double, Double)])] = named.map { case (name, _) =>
      name -> (for (a <- pass1(name); b <- pass2(name))
        yield (math.min(a, b), math.max(a, b) / math.max(math.min(a, b), 1e-9)))
    }
    val times = results.map { case (k, r) => k -> r.map(_._1) }
    val failed = results.collect { case (k, None) => k }
    val ok = results.collect { case (k, Some(_)) => k }
    // BENCH.json keeps the untrimmed rendition: full query names, 2dp
    // everywhere, spread outliers, per-pass totals
    val qsFile = queryMap(times, identity, num(_, 2))
    val spreads = results.collect { case (k, Some((_, s))) if s >= 1.5 => (k, s) }
      .sortBy(-_._2).take(10)
      .map { case (k, s) => "\"" + k + "\":" + num(s, 2) }
      .mkString("{", ",", "}")
    val total = times.flatMap(_._2).sum
    // per-pass totals let a reader separate box drift from plan drift at
    // a glance: both passes slow ⇒ the box was busy for the whole run;
    // one pass slow ⇒ transient contention the min already absorbed
    val p1Total = ok.map(pass1(_).get).sum
    val p2Total = ok.map(pass2(_).get).sum
    val head = s""""metric":"total","value":${num(total, 3)},"unit":"sec","sf":"$sfDir","calibration_sec":${num(calibrationSec, 3)},"fixture_build_sec":${num(fixtureSec, 3)},"index_build_sec":${num(indexBuildSec, 3)},"pass1_total":${num(p1Total, 3)},"pass2_total":${num(p2Total, 3)}"""
    val fullLine = s"""{$head,"spread_outliers":$spreads,"queries":$qsFile}"""
    val line = stdoutLine(stdoutRungs(sfDir, total, calibrationSec, fixtureSec, indexBuildSec, times))
    // the JSON is this process's FINAL stdout line: spark.stop() first,
    // so no shutdown logging can trail it and a line-oriented parser
    // (not just a regex scrape) finds it
    spark.stop()
    println(line)
    System.out.flush()
    try {
      val p = java.nio.file.Paths.get("BENCH.json")
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => () } // file drop is best-effort; stdout already has it
    if (failed.nonEmpty) {
      System.err.println(s"[bench] failed queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Whatever scrapes the bench line keeps only the LAST 2000 chars of
    * stdout. */
  private[graft] val StdoutBudget = 1990

  /** ROOT-locale fixed decimals: a comma-decimal JVM locale would emit
    * invalid JSON. */
  private[graft] def num(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  /** Stdout per-query time: 2dp under 1 s, 1dp above, trailing zeros
    * trimmed. */
  private[graft] def qnum(v: Double): String = {
    val s = if (v >= 1) num(v, 1) else num(v, 2)
    if (!s.contains('.')) s
    else {
      val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      if (t.isEmpty) "0" else t
    }
  }

  /** `{"key":time,...}` with JSON `null` for a query that failed. */
  private[graft] def queryMap(
      times: Seq[(String, Option[Double])], key: String => String, fmt: Double => String): String =
    times.map { case (k, v) => "\"" + key(k) + "\":" + v.map(fmt).getOrElse("null") }
      .mkString("{", ",", "}")

  /** Short unique stdout keys: the id prefix before the first '_';
    * colliding prefixes disambiguate with the next segment's first
    * letter (x04_hudi_to_iceberg_sync -> x04_h, x04_tri_... -> x04_t),
    * and if even that collides the full name is the safe fallback. */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    def prefix(k: String) = k.takeWhile(_ != '_')
    def twoSeg(k: String): Option[String] = k.split('_').take(2) match {
      case Array(a, b) if b.nonEmpty => Some(s"${a}_${b.head}")
      case _ => None
    }
    val prefixCounts = names.groupBy(prefix).view.mapValues(_.size)
    names.map { k =>
      val p = prefix(k)
      k -> (if (prefixCounts(p) == 1) p
      else twoSeg(k) match {
        case Some(short) if !names.exists(o => o != k && prefix(o) == p && twoSeg(o).contains(short)) =>
          short
        case _ => k
      })
    }.toMap
  }

  /** The stdout degradation ladder, best rung first: required contract
    * fields + the setup timings under short keys (cal/fix/idx) + the
    * per-query map; then without the setup extras (they stay in
    * BENCH.json); then without the per-query map. The contract fields
    * are never dropped; [[stdoutLine]] picks the rung to print. */
  private[graft] def stdoutRungs(
      sfDir: String, total: Double, calibrationSec: Double, fixtureSec: Double,
      indexBuildSec: Double, times: Seq[(String, Option[Double])]): Seq[String] = {
    val qs = queryMap(times, shortKeys(times.map(_._1)), qnum)
    val head = s""""metric":"total","value":${num(total, 2)},"unit":"sec","sf":"$sfDir""""
    val extras = s""","cal":${num(calibrationSec, 2)},"fix":${num(fixtureSec, 0)},"idx":${num(indexBuildSec, 1)}"""
    Seq(
      s"""{$head$extras,"queries":$qs}""",
      s"""{$head,"queries":$qs}""",
      s"""{$head$extras,"queries_file":"BENCH.json","query_count":${times.size}}""")
  }

  /** The first rung that fits [[StdoutBudget]], else the last. */
  private[graft] def stdoutLine(rungs: Seq[String]): String =
    rungs.find(_.length <= StdoutBudget).getOrElse(rungs.last)
}
