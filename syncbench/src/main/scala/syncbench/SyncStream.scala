package syncbench

import java.io.File

import scala.collection.mutable

import graft.delta.DeltaTable
import graft.sync.{SyncEngine, SyncSource, SyncTarget}

/**
 * Small commits with syncs and reads beside them, below every size fence:
 * a single writer appends seeded `lineitem` slices to a Delta source
 * partitioned on `l_shipmode`; every [[SyncStream.CompactEvery]]-th
 * commit is a `compact()` instead, so removes flow through the sync.
 * After each commit both targets (Iceberg, Hudi) catch up incrementally
 * and are read back through `spark.read.format("graft")`, which must
 * return the source's row count.
 *
 * The loop runs whole cycles of [[SyncStream.CommitsPerCycle]] commits,
 * each on fresh tables, so every cycle reaches the source's checkpoint
 * (every 10 versions) at the same point.
 */
final class SyncStream(ctx: Ctx) {
  import SyncStream._

  private val spark = ctx.spark
  private val log = new OpLog
  private val formats = Seq("iceberg", "hudi")

  private def slice(cycle: Int, k: Int) =
    Lineitem.rows(spark, ctx.seed, (cycle.toLong * (CommitsPerCycle + 1) + k) * SliceRows, SliceRows, 1)

  private def source(dir: String, traced: Boolean): SyncSource = {
    val s = SyncEngine.deltaSource(ctx.span("delta.for_path")(DeltaTable.forPath(spark, dir)))
    if (traced) new TracedSource(s, ctx.tracer) else s
  }

  private def target(fmt: String, path: String, traced: Boolean): SyncTarget = {
    val t = SyncEngine.targetFor(spark, fmt, path)
    if (traced) new TracedTarget(t, ctx.tracer) else t
  }

  private def readCount(path: String): Long = {
    val df = ctx.span("spark.load")(spark.read.format("graft").load(path))
    ctx.span("exec")(df.count())
  }

  /** Fresh source with one slice, fully synced into both targets. */
  private def buildCycle(cycle: Int): String = {
    val dir = ctx.dir(s"cycle$cycle")
    Fs.deleteRecursively(new File(dir))
    DeltaTable.create(spark, s"$dir/src", slice(cycle, 0), PartitionBy)
    formats.foreach { f =>
      val r = SyncEngine.sync(source(s"$dir/src", traced = false), target(f, s"$dir/$f", traced = false),
        SyncEngine.Full)
      log.check(r.mode == "full", s"cycle $cycle $f: initial sync mode ${r.mode}")
    }
    dir
  }

  def run(): Outcome = {
    val builds = mutable.ArrayBuffer[Double]()
    val lagMs, tracedLagMs = mutable.ArrayBuffer[Double]()
    var visibleNs = 0L
    var visibleCommits = 0L
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var cycle = 0
    var op = 0L
    while (cycle == 0 || System.nanoTime() < deadline) {
      ctx.tracer.activate(false)
      val b0 = System.nanoTime()
      val dir = buildCycle(cycle)
      builds += (System.nanoTime() - b0) / 1e9
      val appended = mutable.ArrayBuffer(0)
      (1 to CommitsPerCycle).foreach { k =>
        op += 1
        // the traced run traces even commits only: both halves hold one
        // compaction, so their medians measure the tracing overhead
        val tracedCommit = ctx.traced && k % 2 == 0
        ctx.tracer.activate(tracedCommit)
        ctx.tracer.inOp(op) {
          val compact = k % CompactEvery == 0
          val c0 = System.nanoTime()
          val committed = log.attempt(if (compact) "source_compact" else "source_append") {
            val t = ctx.span("delta.for_path")(DeltaTable.forPath(spark, s"$dir/src"))
            if (compact) ctx.span("delta.compact")(t.compact()).getOrElse(
              throw new IllegalStateException("compact found nothing to rewrite"))
            else ctx.span("delta.append")(t.append(slice(cycle, k), PartitionBy))
          }
          val c1 = System.nanoTime()
          if (!compact && committed.nonEmpty) appended += k
          val rows = appended.size.toLong * SliceRows
          committed.foreach { v =>
            val synced = log.attempt("sync_lag") {
              val src = source(s"$dir/src", ctx.tracer.isActive)
              formats.map { f =>
                val r = ctx.span("sync")(SyncEngine.sync(src,
                  target(f, s"$dir/$f", ctx.tracer.isActive), SyncEngine.Incremental))
                val n = readCount(s"$dir/$f")
                (f, r, n)
              }
            }
            val lag = (System.nanoTime() - c1) / 1e6
            synced.foreach { results =>
              results.foreach { case (f, r, n) =>
                log.check(r.mode == "incremental" && r.versionsSynced == Seq(v.toString),
                  s"cycle $cycle commit $k $f: ${r.mode} sync of ${r.versionsSynced}, expected version $v")
                log.check(n == rows, s"cycle $cycle commit $k $f: read back $n rows, source has $rows")
              }
              if (k > WarmCommits) {
                if (tracedCommit) tracedLagMs += lag
                else {
                  lagMs += lag
                  log.add("source_commit", (c1 - c0) / 1e6)
                  visibleNs += System.nanoTime() - c0
                  visibleCommits += 1
                }
              }
            }
          }
        }
      }
      ctx.tracer.activate(false)
      // untimed: every format holds exactly the rows the writer appended
      val expected = Lineitem.contentHash(appended.map(slice(cycle, _)).reduce(_ union _))
      (Seq(s"$dir/src") ++ formats.map(f => s"$dir/$f")).foreach { p =>
        val got = Lineitem.contentHash(spark.read.format("graft").load(p))
        log.check(got == expected, s"cycle $cycle: $p content hash $got, expected $expected")
      }
      Fs.deleteRecursively(new File(dir))
      cycle += 1
    }
    ctx.tracer.activate(true)
    val lag = Summary.dist(lagMs.toSeq)
    Outcome(log, builds.toSeq, lagMs.toSeq, tracedLagMs.toSeq,
      throughput = visibleCommits / (visibleNs / 1e9), throughputUnit = "commits/s",
      figures = Seq(
        Figure("source_commit_p50_ms", Summary.median(log.series("source_commit")), "ms",
          s"n=${log.series("source_commit").size}"),
        Figure("sync_lag_p50_ms", lag.p50, "ms", s"n=${lag.n}")) ++
        lag.tail.map { case (q, v) => Figure(f"sync_lag_p${q * 100}%.4g_ms", v, "ms",
          s"${Summary.beyond(lag.n, q)} samples beyond") } :+
        Figure("stream_commits_per_s", visibleCommits / (visibleNs / 1e9), "commits/s",
          s"$visibleCommits commits synced and visible in every format"),
      layers = Map.empty)
  }
}

object SyncStream {
  /** Rows per appended slice (one file per `l_shipmode` value). */
  val SliceRows = 2000
  /** Source commits per cycle after the initial one. The last one is
    * version 10, which writes the source's first checkpoint (every 10
    * versions), so its sync is the first to replay from a checkpoint. */
  val CommitsPerCycle = 10
  /** The first commits of a cycle warm up (JIT, lazy initialization):
    * checked, not measured. */
  val WarmCommits = 2
  val CompactEvery = 5
  val PartitionBy: Seq[String] = Seq("l_shipmode")
}
