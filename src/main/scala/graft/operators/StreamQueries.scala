package graft.operators

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.EventStreams

/**
 * Structured-Streaming verification queries: each runs a REAL streaming
 * query (micro-batch execution, stateful operators, memory sink drained
 * with Trigger.AvailableNow) and must agree with DuckDB's batch replay
 * over the same rows — upgrading the streaming plane from spec-verified
 * to oracle-verified. The harness is f12's proven shape: AvailableNow
 * over a static source processes deterministically, so the stateful
 * result is hash-comparable.
 */
object StreamQueries {

  private object Fixtures {
    private val built = scala.collection.mutable.Map[String, String]()

    def dir(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = synchronized {
      built.getOrElseUpdate(sfDir, {
        val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
        val root = Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_stream", name).toString
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)

        // at-least-once ingest: the raw events PLUS an exact replay of
        // every third event (same rows byte-for-byte — the retried
        // producer / redelivered batch shape st01 collapses)
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
        ev.unionAll(ev.filter(col("event_id") % 3 === 0))
          .write.parquet(s"$root/events_replay")

        // the file-stream source wants a DIRECTORY; the raw single-file
        // events table materializes once for the join's two stream reads
        ev.write.parquet(s"$root/events_dir")

        // st03: the exactly-once SINK under a crash-replay. Events
        // stream through the graft Delta sink in 4 micro-batches
        // (maxFilesPerTrigger=1 over 4 files); then the NEWEST
        // checkpoint commit marker is deleted — the classic crash
        // window (sink committed, checkpoint never advanced) — and the
        // stream restarts from the doctored checkpoint. The runtime
        // re-delivers the final batch THROUGH the real micro-batch
        // execution; the sink's atomically-committed batch-id fence
        // must skip it, or the st03 aggregate double-counts.
        val evCols = ev.select(
          col("event_id"), col("event_type"), col("user_id"), col("value"))
        evCols.repartition(4).write.parquet(s"$root/st03_events")
        def runSink(): Unit = {
          val q = spark.readStream.schema(evCols.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$root/st03_events")
            .writeStream.format("graft")
            .option("format", "delta")
            .option("checkpointLocation", s"$root/st03_ckpt")
            .trigger(Trigger.AvailableNow())
            .start(s"$root/st03_delta")
          try require(q.awaitTermination(300000), "st03 sink run did not drain")
          finally q.stop()
        }
        runSink()
        // crash-inject by deleting the newest `n` checkpoint commit
        // markers — the sink-committed / checkpoint-stale window
        def crash(n: Int): Unit = {
          val commits = new org.apache.hadoop.fs.Path(s"$root/st03_ckpt/commits")
          val cfs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val markers = cfs.listStatus(commits).map(_.getPath)
            .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
          markers.takeRight(n).foreach(m =>
            require(cfs.delete(m, false), s"st03: could not crash-inject $m"))
        }
        crash(1)
        runSink() // replays the final batch — the fence must no-op it
        // batch-id fences historically break on the SECOND replay or on
        // a crash two batches back: exercise both — delete the newest
        // TWO markers (one of them for the second time) and restart;
        // the fence must no-op both replayed batches
        crash(2)
        runSink()

        root
      })
    }
  }

  /** Pre-build the streaming fixtures (bench/Verify fixture phase) so
    * the one-time parquet staging + st03 sink/crash/replay runs land in
    * the untimed fixture section like every other suite's. */
  def primeFixtures(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    Fixtures.dir(spark, sfDir); ()
  }

  /** Drain a streaming frame into a memory sink and return the table. */
  private def drained(
      spark: org.apache.spark.sql.SparkSession,
      stream: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sink = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // Both declared drains emit EAGERLY (dedup emits each first
    // occurrence in its arrival batch; the inner interval join emits a
    // match the moment both sides are buffered), so the trailing
    // no-data micro-batch — which exists to advance the watermark and
    // evict state after the last data batch — contributes no rows here.
    // It costs a full pass of state-store commits across every state
    // partition per drain, pure fixed overhead at any scale (guide §1.2:
    // don't pay for work whose output is discarded). Scoped to this
    // drain and restored after: a watermark-gated APPEND aggregation
    // would genuinely need that batch to emit its final windows.
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    // State-store partition count (fixed at a stream's first batch from
    // spark.sql.shuffle.partitions): every stateful task pays per-store
    // fixed I/O each batch — provider init, delta-file write, commit
    // rename — so at bench-scale state (KBs), 32 partitions × 4 join
    // stores = 128 store commits of pure overhead per batch (measured:
    // the single st02 batch job is ~3.7 s, almost all in that machinery,
    // for ~10k rows of actual state). Sized from the session's
    // parallelism, not a local constant (cores/4, floor 4), and
    // env-overridable: a production stream with real state volume sets
    // SPARK_GRAFT_STREAM_SHUFFLE to its measured partition need; the
    // default keeps small-state streams from drowning in store I/O at
    // any cluster size (guide §5: fewer/larger partitions when per-task
    // fixed costs dominate).
    val partsKey = "spark.sql.shuffle.partitions"
    val streamParts = sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE",
      math.max(4, spark.sparkContext.defaultParallelism / 4).toString)
    val prev = spark.conf.getOption(key)
    val prevParts = spark.conf.getOption(partsKey)
    spark.conf.set(key, "false")
    spark.conf.set(partsKey, streamParts)
    def restoreAll(): Unit = {
      restoreConf(spark, key, prev)
      restoreConf(spark, partsKey, prevParts)
    }
    val q =
      try stream.writeStream.format("memory").queryName(sink)
        .trigger(Trigger.AvailableNow()).start()
      catch { case e: Throwable => restoreAll(); throw e }
    // a hung stream must FAIL the query, not silently hand back a
    // partially-filled sink; stop() in finally so a timed-out or thrown
    // query never leaks its execution thread; the confs are restored
    // even when stop() itself throws
    try require(q.awaitTermination(300000), s"stream $sink did not drain within 300s")
    finally {
      try q.stop() finally restoreAll()
      // batch-count × per-batch breakdown for the measurement logs
      q.recentProgress.foreach(p => System.err.println(
        s"[stream] $sink batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}"))
    }
    // spark.table resolves the plan EAGERLY (Dataset.ofRows analyzes at
    // construction), so the temp view can drop right away — repeated
    // bench passes otherwise accumulate every drained result set in the
    // catalog for the life of the session
    val out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    out
  }

  private def restoreConf(
      spark: org.apache.spark.sql.SparkSession, key: String, prev: Option[String]): Unit =
    prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }

  val defs: Seq[QueryDef] = Seq(

    // Streaming ingest dedup, END TO END: the at-least-once replay dir
    // drains through dropDuplicatesWithinWatermark (event_id keyed,
    // watermark-bounded state) and the surviving rows must equal the
    // original event set exactly — a duplicate slipping through
    // inflates cnt/sums, a lost original deflates them.
    QueryDef.sql(
      "st01_stream_dedup_ingest",
      (spark, dir) => {
        val root = Fixtures.dir(spark, dir)
        drained(spark, EventStreams.dedupe(spark, s"$root/events_replay"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("event_id")).as("id_sum"),
            sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Stream-stream interval join, END TO END: clicks join the same
    // user's purchases within the following 30 minutes, both sides
    // unbounded with watermark-bounded state; the drained matches must
    // equal DuckDB's batch interval join over the raw events.
    QueryDef.sql(
      "st02_stream_interval_join",
      (spark, dir) => {
        val root = Fixtures.dir(spark, dir)
        drained(spark, EventStreams.clickPurchaseJoin(spark, s"$root/events_dir"))
          .groupBy(date_trunc("hour", col("click_ts")).as("click_hour"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("purchase_value").cast(DecimalType(18, 2))).cast(DoubleType)
              .as("sum_purchase_value"))
          .orderBy(col("click_hour"))
      },
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id, user_id, ts AS purchase_ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT CAST(DATE_TRUNC('hour', c.click_ts) AS TIMESTAMP) AS click_hour,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_purchase_value
        |FROM c JOIN p ON p.user_id = c.user_id
        |  AND p.purchase_ts >= c.click_ts
        |  AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY click_hour""".stripMargin),

    // Exactly-once sink, END TO END: the fixture streamed events into a
    // graft Delta table in 4 micro-batches, crash-injected the window
    // between sink commit and checkpoint advance (newest commit marker
    // deleted), restarted, then crashed AGAIN two markers deep and
    // restarted once more — the runtime re-delivered the final batches
    // three times total and the sink's batch-id fence skipped every
    // replay. The table must equal DuckDB's batch view of events
    // EXACTLY: a fence failure doubles a batch, a lost batch deflates.
    // The fuzzer's `crashsink` op owns the randomized version of this
    // window (random format, crash depth, and interleaved foreign
    // commit).
    QueryDef.sql(
      "st03_stream_exactly_once_sink",
      (spark, dir) => {
        val root = Fixtures.dir(spark, dir)
        graft.delta.DeltaTable.forPath(spark, s"$root/st03_delta").toDF()
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("event_id")).as("id_sum"),
            sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
  )
}
