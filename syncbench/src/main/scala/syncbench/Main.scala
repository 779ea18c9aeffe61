package syncbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.Locale

import scala.io.Source

import org.apache.spark.syncbenchshim.ListenerBusShim

import graft.GraftSession

/**
 * Sync-and-serve benchmark entry point.
 *
 *   syncbench.Main --workload <sync_wide|sync_stream|serve_reads>
 *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * Prints each metric by name and unit, then, as the last stdout line, one
 * JSON object: `correct`, `attempted`, `failed` and `metrics` (the
 * end-to-end metrics with `--trace 0`, the per-layer metrics with
 * `--trace 1`). Exits 1 on any wrong result.
 */
object Main {
  val Workloads: Seq[String] = Seq("sync_wide", "sync_stream", "serve_reads")
  /** Spark `local[3]` on a 4-core host: one core stays free for the
    * client thread, JIT and GC, which steadies run-to-run timing. */
  val Cores = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(Workloads.contains(wl), s"unknown workload $wl (have ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace takes 0 or 1, got $trace")
    Args(wl, need("seed").toLong, need("seconds").toInt, trace == "1", new File(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Fs.deleteRecursively(args.work)
    args.work.mkdirs()
    val spark = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.TextHashes.register(spark)
    val counter = new SparkCounter
    spark.sparkContext.addSparkListener(counter)
    spark.range(1000).count()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val calibrationS = Calibration.seconds(spark)

    val tracer = new Tracer(spark.sparkContext, args.trace)
    val ctx = Ctx(spark, tracer, args.work, args.seed, args.seconds)
    val exit =
      try {
        if (args.trace) ParityCheck.run(ctx)
        val out = args.workload match {
          case "sync_wide"   => new SyncWide(ctx).run()
          case "sync_stream" => new SyncStream(ctx).run()
          case "serve_reads" => new ServeReads(ctx).run()
        }
        ListenerBusShim.drain(spark.sparkContext)
        report(args, out, sessionS, calibrationS, tracer, counter)
      } finally {
        spark.stop()
        Fs.deleteRecursively(args.work)
      }
    sys.exit(exit)
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def report(args: Args, out: Outcome, sessionS: Double, calibrationS: Double,
      tracer: Tracer, counter: SparkCounter): Int = {
    val log = out.log
    val correct = log.mismatches.isEmpty && log.attempted > 0
    val setupS = sessionS + Summary.median(out.fixtureSeconds)
    val op = Summary.dist(out.opMs)
    println(s"workload ${args.workload} seed ${args.seed} seconds ${args.seconds} trace ${if (args.trace) 1 else 0}")
    println(f"calibration_s $calibrationS%.4f s (fixed pure-Spark job, informational)")
    println(f"session_s $sessionS%.4f s; fixture builds ${out.fixtureSeconds.map(s => f"$s%.3f").mkString(", ")} s")
    println(f"failed_ratio ${Summary.failedRatio(log.attempted, log.failed)}%.4f ratio " +
      s"(${log.failed} failed of ${log.attempted} attempted)")
    log.errorSamples.foreach(e => println(s"  failure: $e"))
    log.samples.foreach { case (name, xs) =>
      println(s"  $name: ${Summary.dist(xs.toSeq).render("ms")}")
    }
    out.figures.foreach(f => println(f"${f.name} ${f.value}%.4f ${f.unit}" +
      (if (f.note.nonEmpty) s" (${f.note})" else "")))
    println(f"peak_rss_mb ${peakRssMb()}%.1f MB (VmHWM of this JVM; informational: it moves " +
      "with garbage-collector timing)")
    println(s"op latency: ${op.render("ms")}; samples in order: " +
      out.opMs.map(v => f"$v%.1f").mkString(" "))
    log.mismatches.take(20).foreach(m => println(s"MISMATCH $m"))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", op.p50, "ms"),
        ("throughput_per_s", out.throughput, "1/s"))
      else {
        val records = tracer.records(counter)
        val spansFile = new File(args.work.getParentFile, s"spans-${args.workload}-seed${args.seed}.jsonl")
        val w = new PrintWriter(spansFile)
        val origin = records.map(_.span.startNs).minOption.getOrElse(0L)
        try records.foreach(r => w.println(Tracer.jsonLine(r, origin))) finally w.close()
        println(s"spans: ${records.size} written to ${spansFile.getPath}")
        val traced = Summary.dist(out.tracedOpMs)
        val overheadPct =
          if (traced.n == 0 || op.n == 0) 0.0 else (traced.p50 / op.p50 - 1) * 100
        println(f"tracing overhead: traced ${traced.render("ms")} vs untraced ${op.render("ms")}: $overheadPct%+.2f%%")
        LayerMetrics.all(new Layers(records), tracer.counts, out) :+
          (("trace.overhead_pct", overheadPct, "%"))
      }
    // a gated metric with nothing behind it (every operation failed) must
    // fail the run, never read as 0
    val unmeasured = metrics.collect { case (n, v, _) if v.isNaN || v.isInfinite => n }
    unmeasured.foreach(n => println(s"MISMATCH $n: no completed operation to measure"))
    val ok = correct && unmeasured.isEmpty
    metrics.foreach { case (n, v, u) =>
      println(f"$n $v%.4f $u" + (if (n == "throughput_per_s") s" (${out.throughputUnit})" else ""))
    }
    val body = metrics.map { case (n, v, u) =>
      val num = if (unmeasured.contains(n)) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": ${log.attempted}, "failed": ${log.failed}, "metrics": {$body}}""")
    if (ok) 0 else 1
  }
}
