package graft.spark

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

/** `spark.readStream.format("graft")`: the commit log as a micro-batch
  * change feed — snapshot first, then per-commit adds, per format. */
class GraftChangeStreamSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"))

  private def drainInto(table: String, path: String): Unit = {
    val q = spark.readStream.format("graft").load(path)
      .writeStream.format("memory").queryName(table)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  test("delta change stream: snapshot batch, then per-commit adds") {
    val dir = tmpDir("stream_delta")
    val o = orders
    val t = DeltaTable.create(spark, s"$dir/t", o.filter(col("o_orderkey") % 2 === 0))
    drainInto("s_delta_0", s"$dir/t")
    assert(spark.table("s_delta_0").count() ==
      o.filter(col("o_orderkey") % 2 === 0).count())
    // new commits stream as increments on a fresh run
    t.append(o.filter(col("o_orderkey") % 2 === 1), Seq.empty)
    drainInto("s_delta_1", s"$dir/t")
    assert(spark.table("s_delta_1").count() == o.count())
    assert(spark.table("s_delta_1").select(sum(col("o_orderkey"))).head.getLong(0) ==
      o.select(sum(col("o_orderkey"))).head.getLong(0))
  }

  test("iceberg and hudi change streams drain to the full table") {
    val dir = tmpDir("stream_ih")
    val o = orders
    val ti = IcebergTable.create(spark, s"$dir/ice", o.filter(col("o_orderkey") % 2 === 0))
    ti.append(o.filter(col("o_orderkey") % 2 === 1))
    drainInto("s_ice", s"$dir/ice")
    assert(spark.table("s_ice").count() == o.count())

    val th = HudiTable.create(spark, s"$dir/hudi", o.filter(col("o_orderkey") % 2 === 0))
    th.append(o.filter(col("o_orderkey") % 2 === 1))
    drainInto("s_hudi", s"$dir/hudi")
    assert(spark.table("s_hudi").count() == o.count())
  }

  test("maxCommitsPerTrigger drains a 50-commit backlog in bounded batches") {
    val dir = tmpDir("stream_admission")
    val o = orders.limit(500)
    val t = DeltaTable.create(spark, s"$dir/t", o.limit(10))
    (1 to 50).foreach(i => t.append(o.limit(10), Seq.empty)) // 51 commits total
    val q = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", "10")
      .load(s"$dir/t")
      .writeStream.format("memory").queryName("s_admission")
      .trigger(Trigger.ProcessingTime(10))
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("s_admission").count() == 51 * 10)
    // the backlog must NOT arrive as one batch: snapshot batch covers
    // the stream-start commit, then ceil(0 remaining)/… — here all 51
    // commits exist at start, so batch 0 is the snapshot and there are
    // no tail commits; instead assert bounded TAIL draining below
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.nonEmpty)

    // now a live backlog: 30 fresh commits against a running position
    val q2 = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", "10")
      .load(s"$dir/t")
      .writeStream.format("memory").queryName("s_admission2")
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(Trigger.ProcessingTime(10))
      .start()
    q2.processAllAvailable() // snapshot lands
    (1 to 30).foreach(_ => t.append(o.limit(10), Seq.empty))
    q2.processAllAvailable() // backlog drains
    q2.stop()
    assert(spark.table("s_admission2").count() == 81 * 10)
    val tail = q2.recentProgress.filter(_.numInputRows > 0).drop(1) // skip snapshot batch
    assert(tail.length >= 3, s"30-commit backlog should take >=3 bounded batches, " +
      s"took ${tail.length}: ${tail.map(_.numInputRows).mkString(",")}")
    assert(tail.forall(_.numInputRows <= 10 * 10L),
      s"a batch exceeded the 10-commit cap: ${tail.map(_.numInputRows).mkString(",")}")
  }

  test("maxFilesPerTrigger chunks the initial snapshot by file groups") {
    val dir = tmpDir("stream_chunks")
    val o = orders.limit(400)
    DeltaTable.create(spark, s"$dir/t", o.repartition(8)) // 8 files
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "2")
      .load(s"$dir/t")
      .writeStream.format("memory").queryName("s_chunks")
      .trigger(Trigger.ProcessingTime(10))
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("s_chunks").count() == o.count())
    assert(spark.table("s_chunks").select(sum(col("o_orderkey"))).head.getLong(0) ==
      o.select(sum(col("o_orderkey"))).head.getLong(0))
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 4, // 8 files / 2 per trigger
      s"snapshot should arrive as 4 chunks, got ${batches.length}: " +
        batches.map(_.numInputRows).mkString(","))
  }

  test("chunked snapshot + checkpoint: restart resumes exactly, no re-delivery") {
    val dir = tmpDir("stream_chunk_ckpt")
    val o = orders.limit(400)
    val t = DeltaTable.create(spark, s"$dir/t", o.repartition(6).filter(col("o_orderkey") % 2 === 0))
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "2")
        .option("maxCommitsPerTrigger", "1")
        .load(s"$dir/t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(10)).start()
      q.processAllAvailable()
      q.stop()
    }
    drain()
    assert(spark.read.parquet(out).count() == o.filter(col("o_orderkey") % 2 === 0).count())
    t.append(o.filter(col("o_orderkey") % 2 === 1), Seq.empty)
    t.append(o.limit(7).withColumn("o_orderkey", col("o_orderkey") + 9000000L), Seq.empty)
    drain()
    assert(spark.read.parquet(out).count() == o.count() + 7)
  }

  test("Trigger.AvailableNow drains a commit backlog in bounded batches, then terminates") {
    val dir = tmpDir("stream_availnow")
    val o = orders.limit(300)
    val t = DeltaTable.create(spark, s"$dir/t", o.limit(10))
    (1 to 20).foreach(_ => t.append(o.limit(10), Seq.empty)) // 21 commits at start
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = spark.readStream.format("graft")
        .option("maxCommitsPerTrigger", "5")
        .load(s"$dir/t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow drain did not terminate")
      q
    }
    drain() // fresh stream: batch 0 is the snapshot
    assert(spark.read.parquet(out).count() == 21 * 10)
    // a 12-commit backlog must drain as >= 3 batches of <= 5 commits —
    // the single-batch fallback (pre-SupportsTriggerAvailableNow) would
    // deliver all 120 rows in one batch and fail both assertions
    (1 to 12).foreach(_ => t.append(o.limit(10), Seq.empty))
    val q2 = drain()
    assert(spark.read.parquet(out).count() == 33 * 10)
    val batches = q2.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, s"12-commit backlog should take >=3 bounded batches, " +
      s"took ${batches.length}: ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows <= 5 * 10L),
      s"a batch exceeded the 5-commit cap: ${batches.map(_.numInputRows).mkString(",")}")
  }

  // the same admission-control matrix as the Delta tests above —
  // chunked snapshot, capped commit spans, checkpointed restart with no
  // re-delivery — run against the other two formats under one contract
  for (fmt <- Seq("iceberg", "hudi")) {
    test(s"$fmt: admission matrix — chunked snapshot, capped commits, exact restart") {
      val dir = tmpDir(s"stream_matrix_$fmt")
      val o = orders.limit(400)
      val tp = s"$dir/t"
      val even = o.filter(col("o_orderkey") % 2 === 0).repartition(6)
      val append: org.apache.spark.sql.DataFrame => Unit = fmt match {
        case "iceberg" =>
          val t = IcebergTable.create(spark, tp, even); df => { t.append(df); () }
        case "hudi" =>
          val t = HudiTable.create(spark, tp, even); df => { t.append(df); () }
      }
      val ckpt = s"$dir/ckpt"
      val out = s"$dir/out"
      def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = spark.readStream.format("graft")
          .option("maxFilesPerTrigger", "2")
          .option("maxCommitsPerTrigger", "1")
          .load(tp)
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), s"$fmt AvailableNow drain did not terminate")
        q.exception.foreach(throw _)
        q
      }
      val q1 = drain()
      assert(spark.read.parquet(out).count() == even.count())
      // 6 snapshot files at 2 per trigger → 3 chunked batches
      val chunks = q1.recentProgress.filter(_.numInputRows > 0)
      assert(chunks.length == 3,
        s"$fmt snapshot should arrive as 3 chunks, got ${chunks.length}: " +
          chunks.map(_.numInputRows).mkString(","))
      // a 3-commit backlog drains as one batch per commit (cap 1),
      // resuming from the checkpoint with nothing re-delivered
      val odd = o.filter(col("o_orderkey") % 2 === 1)
      append(odd.limit(50))
      append(odd.filter(col("o_orderkey") > 100).limit(50))
      append(o.limit(7).withColumn("o_orderkey", col("o_orderkey") + 9000000L))
      val q2 = drain()
      val expected = even.count() + 50 + 50 + 7
      assert(spark.read.parquet(out).count() == expected,
        s"$fmt restart must deliver exactly the new commits")
      val tailBatches = q2.recentProgress.filter(_.numInputRows > 0)
      assert(tailBatches.length == 3,
        s"$fmt 3-commit backlog at cap 1 should be 3 batches, got " +
          s"${tailBatches.length}: ${tailBatches.map(_.numInputRows).mkString(",")}")
    }
  }

  test("hudi: stream resumes across an archived tail with exactly the un-emitted instants") {
    val dir = tmpDir("stream_hudi_archive")
    val o = orders
    val t = HudiTable.create(spark, s"$dir/t", o.limit(20))
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(s"$dir/t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
      q.exception.foreach(throw _)
    }
    drain() // tail = the create instant
    assert(spark.read.parquet(out).count() == 20)
    // five more commits, then archive most of the timeline — including
    // the stream's tail — off the ACTIVE timeline
    (1 to 5).foreach(i => t.append(o.limit(10)))
    assert(t.timeline.archiveIfNeeded(maxActive = 2, minActive = 2) > 0)
    drain() // resumes across the archived boundary
    assert(spark.read.parquet(out).count() == 20 + 5 * 10)
    // foreign-archival shape: the tail instant is gone from the listing
    // entirely (real Hudi folds archived instants into log files) — the
    // time-ordered fallback must resume with exactly the unseen instants
    val tail = t.instants.last
    val f = new org.apache.hadoop.fs.Path(s"$dir/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    t.append(o.limit(9)) // the one unseen commit
    Seq(s"$dir/t/.hoodie/$tail.commit", s"$dir/t/.hoodie/archived/$tail.commit")
      .map(new org.apache.hadoop.fs.Path(_))
      .foreach(p => if (f.exists(p)) f.delete(p, false))
    assert(!HudiTable.forPath(spark, s"$dir/t").instants.contains(tail))
    drain()
    assert(spark.read.parquet(out).count() == 20 + 5 * 10 + 9,
      "resume across a vanished tail must emit exactly the unseen instants")
  }

  test("schema evolution mid-stream: batches stay on the pinned start schema, no rows lost") {
    val dir = tmpDir("stream_evolve")
    val o = orders // (o_orderkey, o_totalprice)
    val t = DeltaTable.create(spark, s"$dir/t", o.filter(col("o_orderkey") % 3 === 0))
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(s"$dir/t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain() // snapshot batch pins the stream schema
    // upstream ADDS a column: later files are wider than the pinned schema
    t.append(o.filter(col("o_orderkey") % 3 === 1).withColumn("extra", lit("x")), Seq.empty)
    drain()
    // upstream DROPS o_totalprice and appends narrower files
    t.replaceSchema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType))))
    t.append(o.filter(col("o_orderkey") % 3 === 2).select("o_orderkey"), Seq.empty)
    drain()
    val got = spark.read.parquet(out)
    // schema-stable: exactly the pinned start columns, wider batches
    // trimmed, the dropped column null-filled — and nothing lost
    assert(got.columns.toSeq.sorted == Seq("o_orderkey", "o_totalprice"))
    assert(got.count() == o.count())
    assert(got.select(sum(col("o_orderkey"))).head.getLong(0) ==
      o.select(sum(col("o_orderkey"))).head.getLong(0))
    assert(got.filter(col("o_totalprice").isNull).count() ==
      o.filter(col("o_orderkey") % 3 === 2).count())
  }

  test("delta log expiry under a checkpointed stream fails with a named gap, not a silent stall") {
    val dir = tmpDir("stream_gap")
    val o = orders
    val t = DeltaTable.create(spark, s"$dir/t", o.filter(col("o_orderkey") % 2 === 0))
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(s"$dir/t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain() // stream position: version 0
    // while the stream is down: commits v1..v3, checkpoint, expire v0..v2
    (1 to 3).foreach(_ => t.append(o.limit(5), Seq.empty))
    t.log.writeCheckpoint(3L)
    t.log.expireLogBefore(3L)
    val err = intercept[Throwable] { drain() }
    val msgs = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("not replayable"), msgs)
  }

  test("running-stream tail poll detects an expired gap and names it") {
    val dir = tmpDir("stream_gap_poll")
    val o = orders
    val t = DeltaTable.create(spark, s"$dir/t", o.limit(10))
    val src = new org.apache.spark.sql.graftshim.GraftChangeSource(
      spark, graft.sync.FormatTable.Delta, s"$dir/t", metadataPath = Some(s"$dir/state"))
    assert(src.getOffset.isDefined) // position: snapshot at version 0
    // retention expires v1..v2 underneath the running stream; v3 + a
    // checkpoint remain — the poll must error, not idle forever
    (1 to 3).foreach(_ => t.append(o.limit(5), Seq.empty))
    t.log.writeCheckpoint(3L)
    t.log.expireLogBefore(3L)
    val err = intercept[IllegalStateException] { src.getOffset }
    assert(err.getMessage.contains("1..3") && err.getMessage.contains("expired"),
      err.getMessage)
  }

  test("fresh-JVM restart after upstream evolution: clear error without .schema, works with it") {
    val dir = tmpDir("stream_freshjvm")
    val o = orders // (o_orderkey, o_totalprice)
    val t = DeltaTable.create(spark, s"$dir/t", o.filter(col("o_orderkey") % 3 === 0))
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drain(schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
      val reader = spark.readStream.format("graft")
      schema.foreach(reader.schema)
      val q = reader.load(s"$dir/t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain(None) // pins (o_orderkey, o_totalprice)
    val pinnedSchema = spark.read.parquet(out).schema
    t.append(o.filter(col("o_orderkey") % 3 === 1).withColumn("extra", lit("x")), Seq.empty)
    // simulate a fresh JVM: the in-process pin registry is empty, so
    // analysis resolves the table's CURRENT (widened) schema while the
    // checkpoint pin says otherwise — must fail with the descriptive
    // error, not the engine's arity assert
    org.apache.spark.sql.graftshim.GraftChangeSource.forgetPin("delta", s"$dir/t")
    val err = intercept[Throwable] { drain(None) }
    val msgs = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("pinned start schema"), msgs)
    // the documented escape hatch: pass the pinned schema explicitly —
    // analysis and source then agree in ANY JVM
    org.apache.spark.sql.graftshim.GraftChangeSource.forgetPin("delta", s"$dir/t")
    drain(Some(pinnedSchema))
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq.sorted == Seq("o_orderkey", "o_totalprice"))
    assert(got.count() == o.filter(col("o_orderkey") % 3 === 0).count() +
      o.filter(col("o_orderkey") % 3 === 1).count())
  }

  test("a checkpointed stream resumes from its offset, not from scratch") {
    val dir = tmpDir("stream_ckpt")
    val o = orders
    val t = DeltaTable.create(spark, s"$dir/t", o.filter(col("o_orderkey") % 2 === 0))
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(s"$dir/t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    assert(spark.read.parquet(out).count() ==
      o.filter(col("o_orderkey") % 2 === 0).count())
    t.append(o.filter(col("o_orderkey") % 2 === 1), Seq.empty)
    // the resumed run appends ONLY the new commit's rows — the sink
    // ends exactly at the full table, nothing re-delivered
    drain()
    assert(spark.read.parquet(out).count() == o.count())
    assert(spark.read.parquet(out).select(sum(col("o_orderkey"))).head.getLong(0) ==
      o.select(sum(col("o_orderkey"))).head.getLong(0))
  }
}
