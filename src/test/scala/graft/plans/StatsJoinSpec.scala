package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.iceberg.IcebergTable

/** Statistics-driven join planning: the broadcast decision comes from
  * the REGISTERED Puffin/partition statistics, not from a data scan,
  * flips exactly at the thresholds, and is fenced against stale
  * estimates (freshness) and wide rows (byte budget). */
class StatsJoinSpec extends SparkTestBase {

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(walk)
  }

  private def hasBroadcastJoin(df: DataFrame): Boolean = {
    df.count() // execute so AQE finalizes the physical plan
    walk(df.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
  }

  /** Run `f` with Spark's own size-based broadcast disabled: the choice
    * under test is the STATS-driven hint, nothing else. */
  private def withoutAutoBroadcast[A](f: => A): A = {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("planned join broadcasts iff the registered stats sit under the thresholds") {
    val dir = tmpDir("stats_join")
    val dimData = spark.range(0, 2000).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("grp"))
    val factData = spark.range(0, 20000).select(
      (col("id") % 2000).as("fk"), (col("id") * 2).as("v"))
    val dim = IcebergTable.create(spark, s"$dir/dim", dimData)
    dim.writeStatistics(Seq("k"))
    val fact = factData

    withoutAutoBroadcast {
      // ndv(k) ≈ 2000, ~0.5 MB at the conservative width — under both
      // default thresholds the planner must broadcast
      val planned = StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"))
      assert(hasBroadcastJoin(planned), "stats under threshold must broadcast")
      // same stats, row threshold BELOW the estimate: no broadcast hint
      val shuffled = StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"), broadcastRowThreshold = 100)
      assert(!hasBroadcastJoin(shuffled), "stats over threshold must not broadcast")
      // results identical either way (the strategy is physical only)
      assert(planned.count() == 20000 && shuffled.count() == 20000)
      // a dim with NO registered statistics never broadcasts on a guess
      val bare = IcebergTable.create(spark, s"$dir/bare", dimData)
      val noStats = StatsJoin.joinPlanned(
        fact, bare, "k", col("fk") === col("k"))
      assert(!hasBroadcastJoin(noStats), "no stats must mean no broadcast hint")
    }
  }

  test("plannedRows prefers exact partition-stats counts over the key ndv") {
    val dir = tmpDir("stats_rows")
    val data = spark.range(0, 1000).select(
      col("id").as("k"), (col("id") % 4).cast("string").as("p"))
    val t = IcebergTable.create(spark, s"$dir/t", data, Seq("p"))
    assert(StatsJoin.plannedRows(t, "k").isEmpty, "no stats -> no estimate")
    t.writeStatistics(Seq("k"))
    val ndvOnly = StatsJoin.plannedRows(t, "k").get
    assert(math.abs(ndvOnly - 1000.0) / 1000.0 < 0.15, s"$ndvOnly")
    t.writePartitionStatistics()
    // with partition stats present the estimate is >= the EXACT count
    // (max of the two facts — the safe broadcast posture)
    val both = StatsJoin.plannedRows(t, "k").get
    assert(both >= 1000.0 && both <= math.max(1000.0, ndvOnly), s"$both")
  }

  test("a dim grown far past its ANALYZE must not broadcast on the stale estimate") {
    val dir = tmpDir("stats_stale")
    val mk = (n: Long) => spark.range(0, n).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("grp"))
    val dim = IcebergTable.create(spark, s"$dir/dim", mk(100))
    dim.writeStatistics(Seq("k")) // analyzed at 100 rows
    // the world moves: the dimension grows 200× past the ANALYZE
    dim.append(spark.range(100, 20100).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("grp")))
    // the freshness fence floors the estimate with the CURRENT
    // manifest-list row counts — the stale ndv (~100) must not win
    val size = StatsJoin.plannedSize(dim, "k").get
    assert(!size.fresh, "estimate anchored at an ancestor must be marked stale")
    assert(size.rows >= 20000.0, s"fence missed the growth: ${size.rows}")
    val fact = spark.range(0, 20000).select((col("id") % 2000).as("fk"))
    withoutAutoBroadcast {
      val j = StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"), broadcastRowThreshold = 5000)
      assert(!hasBroadcastJoin(j),
        "grown dim must not broadcast on its stale under-threshold ndv")
    }
  }

  test("a wide-row dim under the row count but over the byte budget must not broadcast") {
    val dir = tmpDir("stats_wide")
    // 500 rows but each ~3 KB of low-compressibility payload: the row
    // count sits comfortably under the row threshold while the rollup's
    // measured bytes blow a small byte budget
    val data = spark.range(0, 500).select(
      col("id").as("k"),
      (col("id") % 4).cast("string").as("p"),
      expr("concat_ws('', transform(sequence(1, 100), " +
        "i -> substr(md5(concat(cast(id as string), '-', i)), 1, 30)))").as("payload"))
    val dim = IcebergTable.create(spark, s"$dir/dim", data, Seq("p"))
    dim.writeStatistics(Seq("k"))
    dim.writePartitionStatistics()
    val size = StatsJoin.plannedSize(dim, "k").get
    assert(size.fresh, "analyzed-at-current stats must read as fresh")
    // the byte estimate comes from the rollup's measured width, not the
    // conservative default (500 × 256 B would be ~0.13 MB; the payload
    // makes the real file far larger)
    assert(size.bytes > 500 * StatsJoin.DefaultRowWidthBytes * 2, s"${size.bytes}")
    val fact = spark.range(0, 5000).select((col("id") % 500).as("fk"))
    withoutAutoBroadcast {
      val over = StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"),
        broadcastByteThreshold = (size.bytes / 2).toLong)
      assert(!hasBroadcastJoin(over),
        "rows under the count threshold but bytes over budget must not broadcast")
      val under = StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"),
        broadcastByteThreshold = (size.bytes * 2).toLong)
      assert(hasBroadcastJoin(under), "bytes under budget must broadcast")
    }
  }

  test("a predicated dim broadcasts its rollup-costed slice when the whole dim is over budget") {
    val dir = tmpDir("stats_filtered")
    // 2000 wide rows over 8 partitions: the WHOLE dim prices over a
    // quarter-size byte budget, but any single partition's slice —
    // costed from the registered rollup, zero data rows read — sits
    // well under it
    val data = spark.range(0, 2000).select(
      col("id").as("k"),
      (col("id") % 8).cast("string").as("p"),
      expr("concat_ws('', transform(sequence(1, 40), " +
        "i -> substr(md5(concat(cast(id as string), '-', i)), 1, 30)))").as("payload"))
    val dim = IcebergTable.create(spark, s"$dir/dim", data, Seq("p"))
    dim.writeStatistics(Seq("k"))
    dim.writePartitionStatistics()
    val whole = StatsJoin.plannedSize(dim, "k").get
    val budget = (whole.bytes / 4).toLong
    val fact = spark.range(0, 20000).select((col("id") % 2000).as("fk"))
    withoutAutoBroadcast {
      assert(!hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"), broadcastByteThreshold = budget)),
        "the whole dim over the byte budget must not broadcast")
      val scan = dim.scan.partitionIn("p", Set("3"))
      val filtered = StatsJoin.plannedSize(scan, "k").get
      assert(filtered.rows == 250.0, s"${filtered.rows}")
      assert(filtered.bytes < budget && filtered.bytes > 0, s"${filtered.bytes} vs $budget")
      val j = StatsJoin.joinPlanned(
        fact, scan, "k", col("fk") === col("k"), broadcastByteThreshold = budget)
      assert(hasBroadcastJoin(j), "the under-budget SLICE must broadcast")
      // the predicate shrank the joined rows too, not just the costing
      assert(j.count() == 2500, s"${j.count()}")
      // no rollup registered -> no slice estimate -> whole-dim posture
      // (and with no statistics at all, still never broadcast on a guess)
      val bare = IcebergTable.create(spark, s"$dir/bare", data, Seq("p"))
      bare.writeStatistics(Seq("k"))
      val bs = StatsJoin.plannedSize(bare.scan.partitionIn("p", Set("3")), "k").get
      assert(bs.rows > 1500.0,
        s"without a rollup the slice must cost as the whole dim: ${bs.rows}")
      val none = IcebergTable.create(spark, s"$dir/none", data, Seq("p"))
      assert(StatsJoin.plannedSize(none.scan.partitionIn("p", Set("3")), "k").isEmpty)
      assert(!hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, none.scan.partitionIn("p", Set("3")), "k", col("fk") === col("k"))))
      // a partition CREATED AFTER the analyze estimates 0 matched rows
      // from the stale rollup — that 0 is a guess (growth-scaling
      // cannot recover it), so the whole-dim posture applies and the
      // possibly-huge new partition must NOT broadcast
      dim.append(spark.range(2000, 4000).select(
        col("id").as("k"), lit("9").as("p"),
        expr("concat_ws('', transform(sequence(1, 40), " +
          "i -> substr(md5(concat(cast(id as string), '-', i)), 1, 30)))").as("payload")))
      val s9 = StatsJoin.plannedSize(dim.scan.partitionIn("p", Set("9")), "k").get
      assert(s9.rows > 1000.0,
        s"a post-analyze partition must cost as the whole dim, not 0: ${s9.rows}")
      assert(!hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim.scan.partitionIn("p", Set("9")), "k", col("fk") === col("k"),
        broadcastByteThreshold = budget)),
        "a stale rollup's 0-row estimate must never justify a broadcast")
    }
  }

  test("a Delta dim plans from its registered ANALYZE, fenced by the log's exact counts") {
    val dir = tmpDir("stats_delta")
    import graft.delta.DeltaTable
    val mk = (a: Long, b: Long) => spark.range(a, b).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("grp"))
    val fact = spark.range(0, 15000).select((col("id") % 1500).as("fk"))
    val dim = DeltaTable.create(spark, s"$dir/dim", mk(0, 1500))
    withoutAutoBroadcast {
      // no registered stats: the log's exact counts alone never justify
      // a broadcast — same no-guess posture as the Iceberg plane
      assert(StatsJoin.plannedSize(dim, "k").isEmpty)
      assert(!hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"))))
      dim.writeStatistics(Seq("k"))
      val s = StatsJoin.plannedSize(dim, "k").get
      assert(s.fresh, "analyze-at-current must read fresh")
      assert(math.abs(s.rows - 1500.0) / 1500.0 < 0.15, s"${s.rows}")
      assert(s.bytes > 0)
      assert(hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"))))
      // growth past the ANALYZE: the log's exact counts floor the stale
      // ndv, so the grown dim must not broadcast under a tight threshold
      dim.append(mk(1500, 21500), Seq.empty)
      val s2 = StatsJoin.plannedSize(dim, "k").get
      assert(!s2.fresh && s2.rows >= 21000.0, s"$s2")
      assert(!hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"), broadcastRowThreshold = 5000)))
    }
  }

  test("a Hudi dim plans from its registered ANALYZE, fenced by exact slice counts") {
    val dir = tmpDir("stats_hudi")
    import graft.hudi.HudiTable
    val mk = (a: Long, b: Long) => spark.range(a, b).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("grp"))
    val fact = spark.range(0, 10000).select((col("id") % 1000).as("fk"))
    val dim = HudiTable.create(spark, s"$dir/dim", mk(0, 1000))
    withoutAutoBroadcast {
      assert(StatsJoin.plannedSize(dim, "k").isEmpty, "no stats -> no estimate")
      assert(!hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"))))
      dim.writeStatistics(Seq("k"))
      val s = StatsJoin.plannedSize(dim, "k").get
      assert(s.fresh && math.abs(s.rows - 1000.0) / 1000.0 < 0.15, s"$s")
      assert(hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"))))
      dim.append(mk(1000, 21000))
      val s2 = StatsJoin.plannedSize(dim, "k").get
      assert(!s2.fresh && s2.rows >= 20000.0, s"$s2")
      assert(!hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, dim, "k", col("fk") === col("k"), broadcastRowThreshold = 5000)))
    }
  }

  test("sync carries statistics onto a Delta target; the adopted copy feeds the planner") {
    import graft.sync.SyncEngine
    val dir = tmpDir("stats_delta_sync")
    val srcData = spark.range(0, 800).select(
      col("id").as("k"), (col("id") % 7).cast("string").as("s"))
    val src = IcebergTable.create(spark, s"$dir/src", srcData)
    val e = src.writeStatistics(Seq("k"))
    val srcRegs = src.statisticsRegisters("k")
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.targetFor(spark, "delta", s"$dir/tgt"))
    val tgt = graft.delta.DeltaTable.forPath(spark, s"$dir/tgt")
    // the carried pointer resolves to the target's ADOPTED copy
    val carriedPath = tgt.log.snapshot().metadata.configuration(
      graft.model.SyncCas.StatsPathProp)
    assert(carriedPath != e.path && carriedPath.contains("/tgt/"), carriedPath)
    assert(tgt.statisticsRegisters("k") == srcRegs)
    // the source re-analyzing + expiring (deleting ITS file) cannot
    // dangle the target's statistics
    src.append(srcData.limit(0))
    src.writeStatistics(Seq("k"))
    assert(src.expireSnapshots(System.currentTimeMillis() + 1000) == 1)
    val fs = new Path(e.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(e.path)), "source expiry should delete its own file")
    assert(tgt.statisticsRegisters("k") == srcRegs,
      "adopted Delta-side stats must survive the source deleting the original")
    // and the planner consumes the carried sketch on the Delta dim
    withoutAutoBroadcast {
      val fact = spark.range(0, 8000).select((col("id") % 800).as("fk"))
      assert(hasBroadcastJoin(StatsJoin.joinPlanned(
        fact, tgt, "k", col("fk") === col("k"))))
    }
    // a RE-sync after the source re-analyzed REPOINTS the key and
    // deletes the superseded adopted copy — no orphan per analyze cycle
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.targetFor(spark, "delta", s"$dir/tgt"))
    val tgt2 = graft.delta.DeltaTable.forPath(spark, s"$dir/tgt")
    val carried2 = tgt2.log.snapshot().metadata.configuration(
      graft.model.SyncCas.StatsPathProp)
    assert(carried2 != carriedPath && carried2.contains("/tgt/"), carried2)
    assert(!fs.exists(new Path(carriedPath)),
      "superseded adopted copy must be deleted when the re-sync repoints")
    assert(tgt2.statisticsRegisters("k")._1.nonEmpty)
  }

  test("a Hudi sync target adopts carried stats and cleans superseded copies on re-sync") {
    import graft.sync.SyncEngine
    import graft.hudi.HudiTable
    val dir = tmpDir("stats_hudi_sync")
    val srcData = spark.range(0, 400).select(
      col("id").as("k"), (col("id") % 6).cast("string").as("s"))
    val src = IcebergTable.create(spark, s"$dir/src", srcData)
    src.writeStatistics(Seq("k"))
    val srcRegs = src.statisticsRegisters("k")
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.targetFor(spark, "hudi", s"$dir/tgt"))
    val tgt = HudiTable.forPath(spark, s"$dir/tgt")
    val p1 = tgt.lastCommitProp(graft.model.SyncCas.StatsPathProp).get
    assert(p1.contains("/tgt/"), p1)
    assert(tgt.statisticsRegisters("k") == srcRegs)
    // source grows + re-analyzes; the re-sync repoints and cleans up
    src.append(srcData.limit(1))
    src.writeStatistics(Seq("k"))
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.targetFor(spark, "hudi", s"$dir/tgt"))
    val fs = new Path(p1).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p2 = HudiTable.forPath(spark, s"$dir/tgt")
      .lastCommitProp(graft.model.SyncCas.StatsPathProp).get
    assert(p2 != p1 && p2.contains("/tgt/"), p2)
    assert(!fs.exists(new Path(p1)),
      "superseded adopted copy must be deleted when the re-sync repoints")
    assert(HudiTable.forPath(spark, s"$dir/tgt").statisticsRegisters("k")._1.nonEmpty)
  }

  test("carried stats adopted at the sync commit must not read FRESH on an Iceberg target") {
    // pinned from the fuzzer's planner audit (seeds 1/6/7 of the first
    // audited batch): the adoption commit re-anchors the carried
    // column-stats AND rollup entries at the target's CURRENT snapshot,
    // so anchoring alone would launder the source's stale sketch into a
    // fresh fact and skip the exact-count floor — an analyze-then-grow
    // source synced once gave the target a fresh-looking estimate of
    // the OLD row count. The `carried-` adoption marker forces stale.
    import graft.sync.SyncEngine
    val dir = tmpDir("stats_carried_fresh")
    def rows(a: Long, b: Long) = spark.range(a, b).select(
      col("id").as("k"), (col("id") % 4).cast("string").as("p"))
    val src = IcebergTable.create(spark, s"$dir/src", rows(0, 400), Seq("p"))
    src.writeStatistics(Seq("k"))
    src.writePartitionStatistics()
    // the sketch describes 400 rows; the source grows 4x past it
    src.append(rows(400, 1600))
    SyncEngine.sync(SyncEngine.icebergSource(src),
      SyncEngine.targetFor(spark, "iceberg", s"$dir/tgt"))
    val tgt = IcebergTable.forPath(spark, s"$dir/tgt")
    val s = StatsJoin.plannedSize(tgt, "k").get
    assert(!s.fresh, s"carried stats must read STALE on the target: $s")
    assert(s.rows >= 1600,
      s"stale carried estimate must be floored by the exact current counts: $s")
  }

  test("unreadable statistics degrade to the no-broadcast plain join, never an error") {
    val dir = tmpDir("stats_gone")
    val data = spark.range(0, 200).select(
      col("id").as("k"), (col("id") % 4).cast("string").as("p"))
    val dim = IcebergTable.create(spark, s"$dir/dim", data, Seq("p"))
    val e = dim.writeStatistics(Seq("k"))
    val pe = dim.writePartitionStatistics()
    // simulate the dangling-carried-pointer failure mode: the files
    // vanish out from under the registered entries
    val fs = new Path(e.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(e.path), false) && fs.delete(new Path(pe.path), false))
    assert(StatsJoin.plannedSize(dim, "k").isEmpty,
      "missing stats files must read as no-stats, not throw")
    val fact = spark.range(0, 1000).select((col("id") % 200).as("fk"))
    withoutAutoBroadcast {
      val j = StatsJoin.joinPlanned(fact, dim, "k", col("fk") === col("k"))
      assert(!hasBroadcastJoin(j), "unreadable stats must mean no broadcast")
      assert(j.count() == 1000)
    }
  }
}
