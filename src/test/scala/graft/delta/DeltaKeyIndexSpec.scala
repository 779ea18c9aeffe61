package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * Record-key index for exact Delta MERGE routing (DeltaKeyIndex): build
 * scan, exact routing proven constructively (victim files physically
 * removed — a routed MERGE never opens them, while range pruning
 * provably would), write-path maintenance, the coverage fence with its
 * range fallback, and the fence memo.
 */
class DeltaKeyIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Live data-file paths of the table (absolute). */
  private def liveFiles(t: DeltaTable, dir: String): Seq[String] =
    t.log.snapshot().files.map(a => new Path(s"$dir/${a.path}").toString)

  /** Interleave keys across files: residue class by key so every file's
    * [min,max] spans the whole domain — range pruning keeps ALL files
    * for any key set, the index keeps only true holders. */
  private def interleaved = orders.repartition(4, pmod(col("o_orderkey"), lit(4)))

  test("routed MERGE opens only true hit files; range pruning provably would crash") {
    val dir = tmpDir("ki_route")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    val files = liveFiles(t, s"$dir/t")
    assert(files.size >= 2, s"need interleaved files, got ${files.size}")
    // incoming keys: every key of ONE file
    val hitFile = files.head
    val incoming = spark.read.parquet(hitFile)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("o_totalprice", col("o_totalprice") + 50000.0)
      .localCheckpoint()
    val incomingKeys = incoming.select("o_orderkey").as[Long].collect().toSet
    // victims: live files holding NONE of the incoming keys — but whose
    // key RANGE overlaps them (so range pruning provably keeps them)
    val victims = files.tail.filter { f =>
      val ks = spark.read.parquet(f).select("o_orderkey").as[Long].collect()
      ks.toSet.intersect(incomingKeys).isEmpty &&
        ks.min <= incomingKeys.max && ks.max >= incomingKeys.min
    }
    assert(victims.nonEmpty, "fixture must produce range-overlapping non-hit files")
    // physically hide the victims: any scan that touches them crashes
    val aside = victims.map { v =>
      val p = new Path(v); val a = new Path(v + ".aside")
      require(fs.rename(p, a)); (a, p)
    }
    try {
      t.upsert(incoming, Seq("o_orderkey")) // index-routed: never opens victims
    } finally aside.foreach { case (a, p) => fs.rename(a, p) }
    val got = t.toDF()
    assert(got.count() == orders.count())
    val bumped = got.filter(col("o_totalprice") >= 50000.0 + 900.0).count()
    assert(got.join(incoming.select(col("o_orderkey"), col("o_totalprice").as("want")),
      Seq("o_orderkey")).filter(col("o_totalprice") =!= col("want")).count() == 0,
      s"updated rows must carry the merged price (bumped=$bumped)")
    // the same MERGE without the index provably touches the victims:
    // break the fence (drop a batch) and watch the range path crash on
    // the hidden files
    aside.foreach { case (a, p) => require(fs.rename(p, a)) }
    try {
      t.dropKeyIndex()
      intercept[Exception](t.upsert(incoming, Seq("o_orderkey")))
    } finally aside.foreach { case (a, p) => fs.rename(a, p) }
    // nothing committed by the crashed attempt; fallback works with the
    // files back in place
    assert(t.toDF().count() == orders.count())
    t.upsert(incoming, Seq("o_orderkey"))
    assert(t.toDF().count() == orders.count())
  }

  test("maintenance covers appends, deletes, purges, restores; routing stays exact") {
    val dir = tmpDir("ki_maint")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    val conf = spark.sparkContext.hadoopConfiguration
    // append: new file read back into a batch; new keys route to it
    t.append(orders.limit(10).withColumn("o_orderkey", col("o_orderkey") + 5000000L), Seq.empty)
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion), "append must stay covered")
    // DV delete: no keys move — coverage marker, fence holds
    t.deleteMatching(Seq(5000001L).toDF("o_orderkey"), Seq("o_orderkey"))
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion), "DV delete must stay covered")
    // purge rewrites files — read back, still covered
    t.purgeDeletes()
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion), "purge must stay covered")
    val vBefore = t.latestVersion
    t.append(orders.limit(5).withColumn("o_orderkey", col("o_orderkey") + 6000000L), Seq.empty)
    t.restoreTo(vBefore)
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion), "restore must stay covered")
    // routing after the churn: keys of one file only, victims hidden
    val files = liveFiles(t, s"$dir/t")
    val hitFile = files.head
    val incoming = spark.read.parquet(hitFile)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").limit(50)
      .withColumn("o_totalprice", lit(1.25)).localCheckpoint()
    val incomingKeys = incoming.select("o_orderkey").as[Long].collect().toSet
    val victims = files.tail.filter { f =>
      spark.read.parquet(f).select("o_orderkey").as[Long].collect()
        .toSet.intersect(incomingKeys).isEmpty
    }
    val aside = victims.map { v =>
      val p = new Path(v); val a = new Path(v + ".aside")
      require(fs.rename(p, a)); (a, p)
    }
    try t.upsert(incoming, Seq("o_orderkey"))
    finally aside.foreach { case (a, p) => fs.rename(a, p) }
    assert(t.toDF().filter(col("o_totalprice") === 1.25).count() == incomingKeys.size)
  }

  test("fence: an uncovered add-bearing version falls back to ranges, stays correct") {
    val dir = tmpDir("ki_fence")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    t.append(orders.limit(10).withColumn("o_orderkey", col("o_orderkey") + 7000000L), Seq.empty)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion))
    // simulate a writer that bypassed maintenance: delete the append's
    // batch dir — the add-bearing version is now uncovered
    val batches = fs.listStatus(new Path(s"$dir/t/_graft/index/batches")).map(_.getPath)
    val appendBatch = batches.filter(_.getName.stripPrefix("v").takeWhile(_.isDigit).toLong > 0)
    appendBatch.foreach(p => fs.delete(p, true))
    DeltaKeyIndex.invalidate(s"$dir/t")
    assert(!DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion),
      "uncovered add-bearing version must fail the fence")
    // MERGE still answers correctly through the range fallback
    val upd = orders.limit(20).withColumn("o_totalprice", lit(9.75))
    t.upsert(upd, Seq("o_orderkey"))
    assert(t.toDF().filter(col("o_totalprice") === 9.75).count() == 20)
    // rebuild restores exact routing
    t.buildKeyIndex("o_orderkey")
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion))
  }

  test("null incoming keys bypass the index (null-safe matching is the range path's)") {
    val dir = tmpDir("ki_null")
    val withNull = interleaved.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], "N", 1.0)).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
        .select(col("o_orderkey").cast("long"), col("o_orderstatus"), col("o_totalprice")))
    val dirT = s"$dir/t"
    val t = DeltaTable.create(spark, dirT, withNull)
    t.buildKeyIndex("o_orderkey")
    // a null incoming key must reach the null-key row (null-safe match)
    t.deleteMatching(Seq(null.asInstanceOf[java.lang.Long]).toDF("o_orderkey"), Seq("o_orderkey"))
    assert(t.toDF().filter(col("o_orderkey").isNull).count() == 0)
    assert(t.toDF().count() == orders.count())
  }

  test("compaction folds batches into one; routing stays exact; maintenance resumes") {
    val dir = tmpDir("ki_compact")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    (1 to 4).foreach(i => t.append(
      orders.limit(6).withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000L)), Seq.empty))
    t.upsert(orders.limit(10).withColumn("o_totalprice", lit(2.5)), Seq("o_orderkey"))
    val batchesDir = new Path(s"$dir/t/_graft/index/batches")
    assert(fs.listStatus(batchesDir).length >= 6, "per-commit batches must accumulate")
    t.compactKeyIndex()
    assert(fs.listStatus(batchesDir).length == 1, "compaction must fold to one batch")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion))
    // compacted index still routes exactly: victims hidden, MERGE lands
    val files = liveFiles(t, s"$dir/t")
    val hitFile = files.head
    val incoming = spark.read.parquet(hitFile)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").limit(40)
      .withColumn("o_totalprice", lit(4.75)).localCheckpoint()
    val incomingKeys = incoming.select("o_orderkey").as[Long].collect().toSet
    val victims = files.tail.filter(f =>
      spark.read.parquet(f).select("o_orderkey").as[Long].collect()
        .toSet.intersect(incomingKeys).isEmpty)
    assert(victims.nonEmpty)
    val aside = victims.map { v =>
      val p = new Path(v); val a = new Path(v + ".aside")
      require(fs.rename(p, a)); (a, p)
    }
    try t.upsert(incoming, Seq("o_orderkey"))
    finally aside.foreach { case (a, p) => fs.rename(a, p) }
    assert(t.toDF().filter(col("o_totalprice") === 4.75).count() == incomingKeys.size)
    // maintenance keeps covering commits after the compaction
    t.append(orders.limit(3).withColumn("o_orderkey", col("o_orderkey") + 9100000L), Seq.empty)
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion))
  }

  test("scale: routing over 200 batch dirs x 5k entries; compaction folds to one") {
    assume(sys.env.contains("GRAFT_SCALE_TESTS"),
      "scale harness — set GRAFT_SCALE_TESTS=1 to run")
    // 1M fabricated entries across 200 per-commit batch dirs — the
    // 100-TB shape (thousands of commits) without table data: synthetic
    // batches ride at version 0 (below the build, so the fence ignores
    // them; their fabricated files aren't live, so over-approximation
    // keeps routing exact)
    val dir = tmpDir("ki_scale")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    (1 to 200).foreach { b =>
      DeltaKeyIndex.writeBatch(s"$dir/t", 0L,
        spark.range(b * 100000L, b * 100000L + 5000L)
          .select(col("id").cast("string").as("key"),
            concat(lit(s"$dir/t/fake_"), col("id") % 50).as("file")))
    }
    val batchesDir = new Path(s"$dir/t/_graft/index/batches")
    assert(fs.listStatus(batchesDir).length >= 201)
    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      info(f"$what took ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      r
    }
    val incoming = spark.read.parquet(liveFiles(t, s"$dir/t").head)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").limit(100)
      .withColumn("o_totalprice", lit(6.5)).localCheckpoint()
    timed("routed MERGE over 201 batch dirs")(t.upsert(incoming, Seq("o_orderkey")))
    assert(t.toDF().filter(col("o_totalprice") === 6.5).count() == 100)
    timed("metadata-only compaction of 1M entries")(t.compactKeyIndex())
    assert(fs.listStatus(batchesDir).length == 1)
    // fabricated entries (files never live) are gone; routing unchanged
    val incoming2 = incoming.withColumn("o_totalprice", lit(7.5))
    timed("routed MERGE after compaction")(t.upsert(incoming2, Seq("o_orderkey")))
    assert(t.toDF().filter(col("o_totalprice") === 7.5).count() == 100)
  }

  test("column mapping: index reads physical names, key renames route correctly") {
    val dir = tmpDir("ki_mapped")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.enableColumnMapping()
    t.renameColumn("o_totalprice", "amount") // files still carry o_totalprice
    t.buildKeyIndex("o_orderkey")
    def routedUpsert(keyCol: String, price: Double): Long = {
      val files = liveFiles(t, s"$dir/t")
      val hitFile = files.head
      val incoming = spark.read.parquet(hitFile)
        .select(col("o_orderkey").as(keyCol), col("o_orderstatus"),
          col("o_totalprice").as("amount")).limit(30)
        .withColumn("amount", lit(price)).localCheckpoint()
      val ks = incoming.select(keyCol).as[Long].collect().toSet
      val victims = files.tail.filter(f =>
        spark.read.parquet(f).select("o_orderkey").as[Long].collect()
          .toSet.intersect(ks).isEmpty)
      assert(victims.nonEmpty)
      val aside = victims.map { v =>
        val p = new Path(v); val a = new Path(v + ".aside")
        require(fs.rename(p, a)); (a, p)
      }
      try t.upsert(incoming, Seq(keyCol))
      finally aside.foreach { case (a, p) => fs.rename(a, p) }
      ks.size.toLong
    }
    // mapped table, pre-mapping files: physical name == logical here
    val n1 = routedUpsert("o_orderkey", 3.25)
    assert(t.toDF().filter(col("amount") === 3.25).count() == n1)
    // rename the KEY column itself: the stale config no longer answers
    // (fallback, correct), then a rebuild under the new logical name
    // still reads the files' PHYSICAL o_orderkey column
    t.renameColumn("o_orderkey", "id")
    t.upsert(t.toDF().limit(10).withColumn("amount", lit(4.5)).localCheckpoint(), Seq("id"))
    assert(t.toDF().filter(col("amount") === 4.5).count() == 10)
    t.buildKeyIndex("id")
    val n2 = routedUpsert("id", 5.75)
    assert(t.toDF().filter(col("amount") === 5.75).count() == n2)
  }

  test("timestamp key: routing refuses under a foreign session zone; maintenance fences") {
    // the stored entry strings are casts of table-typed values, and a
    // TimestampType key formats through spark.sql.session.timeZone —
    // build in one zone, probe in another, and the strings differ.
    // The config persists the build zone; routing/maintenance refuse on
    // a mismatch instead of silently under-approximating.
    val dir = tmpDir("ki_zone")
    val t = DeltaTable.create(spark, s"$dir/t",
      orders.withColumn("ts", timestamp_seconds(col("o_orderkey")))
        .repartition(4, pmod(col("o_orderkey"), lit(4))))
    t.buildKeyIndex("ts")
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    val other = if (zone0 == "America/New_York") "UTC" else "America/New_York"
    val probe = t.toDF().select("ts").limit(20).localCheckpoint()
    val conf = spark.sparkContext.hadoopConfiguration
    assert(t.keyIndexRouteFiles(t.log.snapshot(), Seq("ts"), probe).isDefined,
      "in the build zone the index must answer")
    try {
      spark.conf.set("spark.sql.session.timeZone", other)
      assert(t.keyIndexRouteFiles(t.log.snapshot(), Seq("ts"), probe).isEmpty,
        "a foreign session zone re-formats timestamp probes — the index must refuse")
      // a MERGE in the foreign zone lands correctly through the fallback
      val upd = t.toDF().limit(15).withColumn("o_totalprice", lit(8.25)).localCheckpoint()
      t.upsert(upd, Seq("ts"))
      assert(t.toDF().filter(col("o_totalprice") === 8.25).count() == 15)
      // …but its add-bearing commit cannot be indexed in this zone: the
      // maintenance batch is skipped and the fence fails (safe), rather
      // than mixing string formats inside one index
      assert(!DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion),
        "a foreign-zone write must fail the fence, not poison the index")
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
    // back in the build zone the uncovered version keeps the fence
    // failed (safe); a rebuild restores exact routing
    t.buildKeyIndex("ts")
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion))
    assert(t.keyIndexRouteFiles(t.log.snapshot(), Seq("ts"), probe).isDefined)
  }

  test("metadata-only key type change: routing refuses though the fence is covered") {
    // replaceSchema long→double ships NO AddFile, so the coverage fence
    // cannot catch it — but the stored strings are long-formatted ("1")
    // while double probes format as "1.0". The persisted build-time
    // keyType is the guard.
    val dir = tmpDir("ki_type")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    val probe = Seq(1L, 2L, 3L).toDF("o_orderkey")
    assert(t.keyIndexRouteFiles(t.log.snapshot(), Seq("o_orderkey"), probe).isDefined)
    val widened = org.apache.spark.sql.types.StructType(t.toDF().schema.fields.map(f =>
      if (f.name == "o_orderkey") f.copy(dataType = org.apache.spark.sql.types.DoubleType)
      else f))
    t.replaceSchema(widened)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion),
      "the metadata-only commit carries no adds — the fence alone stays covered")
    assert(t.keyIndexRouteFiles(t.log.snapshot(), Seq("o_orderkey"), probe).isEmpty,
      "stored strings are bigint-formatted; a double-typed key must refuse")
    // an add under the changed type skips maintenance → fence fails
    t.append(orders.limit(3)
      .withColumn("o_orderkey", (col("o_orderkey") + 9500000L).cast("double")), Seq.empty)
    assert(!DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion),
      "an add-bearing commit under a changed key type must fail the fence")
  }

  test("deleteMatching routes through the index: non-hit files never opened") {
    val dir = tmpDir("ki_delroute")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    val files = liveFiles(t, s"$dir/t")
    val delKeys = spark.read.parquet(files.head)
      .select("o_orderkey").limit(50).localCheckpoint()
    val ks = delKeys.as[Long].collect().toSet
    // victims: range-overlapping files holding NONE of the delete keys —
    // range pruning provably keeps them, exact routing provably skips
    val victims = files.tail.filter { f =>
      val kk = spark.read.parquet(f).select("o_orderkey").as[Long].collect()
      kk.toSet.intersect(ks).isEmpty && kk.min <= ks.max && kk.max >= ks.min
    }
    assert(victims.nonEmpty, "fixture must produce range-overlapping non-hit files")
    val aside = victims.map { v =>
      val p = new Path(v); val a = new Path(v + ".aside")
      require(fs.rename(p, a)); (a, p)
    }
    try t.deleteMatching(delKeys, Seq("o_orderkey"))
    finally aside.foreach { case (a, p) => fs.rename(a, p) }
    assert(t.toDF().count() == orders.count() - ks.size)
    assert(t.toDF().join(delKeys, Seq("o_orderkey"), "left_semi").count() == 0,
      "every keyed row must be gone")
  }

  test("legacy config (no keyType): routing stays usable; first maintenance backfills") {
    // configs written before the build-format fence carry no
    // keyType/timeZone. They must be legacy-COMPATIBLE — route now,
    // backfill the build format on the first maintenance pass — not
    // silently degrade to range pruning forever (the old formatStable
    // check failed on None and every add-bearing commit skipped its
    // batch, permanently failing the fence)
    val dir = tmpDir("ki_legacy")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    val conf = spark.sparkContext.hadoopConfiguration
    val built = DeltaKeyIndex.readConfig(conf, s"$dir/t").get
    assert(built.keyType.nonEmpty)
    // rewrite the config in the pre-fence shape
    val cfgPath = new Path(s"$dir/t/_graft/index/config.json")
    val out = fs.create(cfgPath, true)
    out.write(s"""{"keyCol":"o_orderkey","buildVersion":${built.buildVersion}}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(DeltaKeyIndex.readConfig(conf, s"$dir/t").get.keyType.isEmpty)
    val probe = Seq(1L, 2L, 3L).toDF("o_orderkey")
    assert(t.keyIndexRouteFiles(t.log.snapshot(), Seq("o_orderkey"), probe).isDefined,
      "a legacy config must route, not refuse")
    // an add-bearing commit: maintenance must index it AND backfill
    val extra = orders.limit(3)
      .withColumn("o_orderkey", col("o_orderkey") + 7000000L).localCheckpoint()
    t.append(extra, Seq.empty)
    val healed = DeltaKeyIndex.readConfig(conf, s"$dir/t").get
    assert(healed.keyType.contains("bigint"), s"backfill must persist the key type: $healed")
    assert(healed.timeZone.nonEmpty)
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion),
      "the post-upgrade commit must carry its batch — fence covered")
    // exactness is intact: the new keys route to their file
    val hits = t.keyIndexRouteFiles(t.log.snapshot(), Seq("o_orderkey"), extra.select("o_orderkey"))
    assert(hits.isDefined && hits.get.nonEmpty)
  }

  test("fence memo: one evaluation per version, shared across handles") {
    val dir = tmpDir("ki_memo")
    val t = DeltaTable.create(spark, s"$dir/t", interleaved)
    t.buildKeyIndex("o_orderkey")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion))
    val n0 = DeltaKeyIndex.fenceEvaluations.get()
    (1 to 5).foreach(_ =>
      assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion)))
    assert(DeltaKeyIndex.fenceEvaluations.get() == n0,
      "unchanged version must not re-audit the log")
    t.append(orders.limit(3).withColumn("o_orderkey", col("o_orderkey") + 8000000L), Seq.empty)
    (1 to 3).foreach(_ =>
      assert(DeltaKeyIndex.usable(t.log, conf, s"$dir/t", t.latestVersion)))
    assert(DeltaKeyIndex.fenceEvaluations.get() == n0 + 1,
      "a new version must cost exactly one re-audit")
  }
}
