package graft.sync

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable
import graft.model.{ConcurrentSyncException, InternalDataFile, SyncCas}

/**
 * The sync watermark CAS, deterministically: two schedulers running one
 * pipeline plan against target state, and the loser's plan goes stale
 * between planning and commit. Without the CAS a stale plan stacks its
 * diff on top of the winner's — duplicate adds double-count rows on an
 * Iceberg target, and the watermark regresses so the winner's commits
 * replay AGAIN next sync. With it the stale commit throws
 * [[ConcurrentSyncException]] inside the same state read that fixes the
 * commit's version slot, and [[SyncEngine.sync]] re-plans from fresh
 * state. (The stochastic cross-process version is SyncCrossProcessSpec;
 * this spec pins the exact interleaving.)
 */
class SyncCasSpec extends SparkTestBase {

  private def orders = spark.read.parquet(s"$sf0001/orders.parquet")
    .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))

  private def checksum(df: org.apache.spark.sql.DataFrame): Long =
    df.select(sum(hash(df.columns.map(col): _*)).cast("long")).collect()(0).getLong(0)

  private def targetFor(fmt: String, path: String): SyncTarget =
    SyncEngine.targetFor(spark, fmt, path)

  private def readTarget(fmt: String, path: String): org.apache.spark.sql.DataFrame = fmt match {
    case "delta" => DeltaTable.forPath(spark, path).toDF()
    case "iceberg" => IcebergTable.forPath(spark, path).toDF()
    case "hudi" => HudiTable.forPath(spark, path).toDF()
  }

  private def livePaths(fmt: String, path: String): Seq[String] = fmt match {
    case "delta" => DeltaTable.forPath(spark, path).snapshotDataFiles().map(_.physicalPath)
    case "iceberg" => IcebergTable.forPath(spark, path).snapshotDataFiles().map(_.physicalPath)
    case "hudi" => HudiTable.forPath(spark, path).snapshotDataFiles().map(_.physicalPath)
  }

  /** A target decorator that injects a competing sync (same source,
    * same underlying target) immediately before delegating the Nth
    * commit — the planning→commit interleaving, made deterministic. */
  private final class InterleavingTarget(
      inner: SyncTarget, injectBefore: Int, competing: () => Unit) extends SyncTarget {
    var commits = 0
    var injected = false
    def format: String = inner.format
    def targetPath: String = inner.targetPath
    def syncState(): Map[String, String] = inner.syncState()
    def livePaths(): Set[String] = inner.livePaths()
    override def beginBatch(): Unit = inner.beginBatch()
    override def endBatch(): Unit = inner.endBatch()
    def commit(
        schema: StructType, partitionColumns: Seq[String], sourceDataRoot: String,
        adds: Seq[InternalDataFile], removePaths: Seq[String],
        watermark: Map[String, String], physicalNames: Map[String, String],
        cas: Option[SyncCas]): Unit = {
      commits += 1
      if (commits == injectBefore && !injected) { injected = true; competing() }
      inner.commit(schema, partitionColumns, sourceDataRoot, adds, removePaths,
        watermark, physicalNames, cas)
    }
  }

  for (fmt <- Seq("delta", "iceberg", "hudi")) {
    test(s"$fmt target: a stale-watermark commit is refused with a named error") {
      val dir = tmpDir(s"cas_stale_$fmt")
      val src = DeltaTable.create(spark, s"$dir/src", orders.limit(20))
      val source = SyncEngine.deltaSource(src)
      SyncEngine.sync(source, targetFor(fmt, s"$dir/tgt"))
      // a plan that observed NO watermark (pre-first-sync state) is now
      // stale — committing it must throw, not stack
      val e = intercept[ConcurrentSyncException] {
        targetFor(fmt, s"$dir/tgt").commit(
          source.schema, Seq.empty, source.dataRoot,
          source.snapshotFiles(), Seq.empty,
          Map(SyncEngine.SourceIdProp -> source.sourceId, SyncEngine.VersionProp -> "0"),
          Map.empty, Some(SyncCas(source.sourceId, None)))
      }
      assert(e.getMessage.contains("concurrent sync detected"))
      // the refused commit left nothing: content still matches source
      assert(checksum(readTarget(fmt, s"$dir/tgt")) == checksum(src.toDF()))
      assert(livePaths(fmt, s"$dir/tgt").distinct.size == livePaths(fmt, s"$dir/tgt").size)
    }

    test(s"$fmt target: competing sync between planning and commit — loser re-plans, no duplicates") {
      val dir = tmpDir(s"cas_interleave_$fmt")
      val src = DeltaTable.create(spark, s"$dir/src",
        orders.filter(col("o_orderkey") % 3 === 0))
      src.append(orders.filter(col("o_orderkey") % 3 === 1), Seq.empty)
      src.append(orders.filter(col("o_orderkey") % 3 === 2), Seq.empty)
      val source = SyncEngine.deltaSource(src)
      // competing scheduler: syncs the SAME target fully before our
      // first commit publishes — our full-sync plan (built when the
      // target was empty, adds = every file) is now a duplicate stack
      val t = new InterleavingTarget(
        targetFor(fmt, s"$dir/tgt"), injectBefore = 1,
        () => SyncEngine.sync(source, targetFor(fmt, s"$dir/tgt")))
      val res = SyncEngine.sync(source, t)
      assert(t.injected, "the competing sync never ran")
      // retry re-planned from fresh state: target caught up, so the
      // re-plan is a no-op diff — and NEVER a duplicate add
      assert(res.filesAdded == 0, s"stale plan re-applied adds: $res")
      val paths = livePaths(fmt, s"$dir/tgt")
      assert(paths.distinct.size == paths.size,
        s"duplicate live files on $fmt target:\n${paths.sorted.mkString("\n")}")
      assert(readTarget(fmt, s"$dir/tgt").count() == src.toDF().count(),
        "row count diverged — duplicate adds double-count")
      assert(checksum(readTarget(fmt, s"$dir/tgt")) == checksum(src.toDF()))
    }

    test(s"$fmt target: mid-batch interleave during incremental replay re-plans the tail") {
      val dir = tmpDir(s"cas_midbatch_$fmt")
      val src = DeltaTable.create(spark, s"$dir/src",
        orders.filter(col("o_orderkey") % 3 === 0))
      val source = SyncEngine.deltaSource(src)
      SyncEngine.sync(source, targetFor(fmt, s"$dir/tgt"))
      src.append(orders.filter(col("o_orderkey") % 3 === 1), Seq.empty)
      src.append(orders.filter(col("o_orderkey") % 3 === 2), Seq.empty)
      // our incremental replay has 2 pending commits; the competing
      // scheduler lands BOTH while we're between commit 1 and commit 2
      val t = new InterleavingTarget(
        targetFor(fmt, s"$dir/tgt"), injectBefore = 2,
        () => SyncEngine.sync(source, targetFor(fmt, s"$dir/tgt")))
      SyncEngine.sync(source, t)
      assert(t.injected, "the competing sync never ran")
      val paths = livePaths(fmt, s"$dir/tgt")
      assert(paths.distinct.size == paths.size,
        s"duplicate live files on $fmt target:\n${paths.sorted.mkString("\n")}")
      assert(readTarget(fmt, s"$dir/tgt").count() == src.toDF().count(),
        "row count diverged — a replayed commit applied twice")
      assert(checksum(readTarget(fmt, s"$dir/tgt")) == checksum(src.toDF()))
      // the watermark never regressed below the competing sync's
      assert(targetFor(fmt, s"$dir/tgt").watermarkFor(source.sourceId)
        .contains(src.latestVersion.toString))
    }
  }

  test("hudi target bootstrap window: timeline created, nothing completed — reads empty, sync succeeds") {
    val dir = tmpDir("cas_bootstrap_hudi")
    val src = DeltaTable.create(spark, s"$dir/src", orders.limit(10))
    // simulate a concurrent writer that has created the timeline
    // (hoodie.properties) but not yet COMPLETED its first commit — the
    // exact window the stochastic test kept hitting: exists=true,
    // completed instants=∅
    val half = HudiTable.forPath(spark, s"$dir/tgt")
    half.timeline.writeProperties(Map(
      "hoodie.table.name" -> "tgt",
      "hoodie.table.type" -> "COPY_ON_WRITE",
      "hoodie.table.version" -> "6"))
    assert(half.timeline.exists)
    // a racing reader sees an EMPTY table, not `no instants selected`
    assert(half.snapshotDataFiles().isEmpty)
    assert(targetFor("hudi", s"$dir/tgt").livePaths().isEmpty)
    // and a racing scheduler's sync completes as a plain full sync
    val source = SyncEngine.deltaSource(src)
    SyncEngine.sync(source, targetFor("hudi", s"$dir/tgt"))
    assert(checksum(readTarget("hudi", s"$dir/tgt")) == checksum(src.toDF()))
    assert(targetFor("hudi", s"$dir/tgt").watermarkFor(source.sourceId)
      .contains(src.latestVersion.toString))
  }

  test("full sync observing NO sync state refuses when another SOURCE synced the target in between") {
    val dir = tmpDir("cas_foreign_source")
    import spark.implicits._
    val srcA = DeltaTable.create(spark, s"$dir/srcA", Seq((1L, "a")).toDF("id", "tag"))
    val srcB = DeltaTable.create(spark, s"$dir/srcB", Seq((2L, "b")).toDF("id", "tag"))
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      val tgt = s"$dir/tgt_$fmt"
      // scheduler A plans a full sync against the FRESH target, but
      // source B's sync lands before A's commit: A's observed state
      // (None) no longer matches — even though A's own watermark slice
      // is None both before and after (the round-9 blind spot)
      val t = new InterleavingTarget(
        targetFor(fmt, tgt), injectBefore = 1,
        () => SyncEngine.sync(SyncEngine.deltaSource(srcB), targetFor(fmt, tgt)))
      SyncEngine.sync(SyncEngine.deltaSource(srcA), t)
      assert(t.injected)
      // the retried plan observed B's pair, so the final state is a
      // clean A-sync: exactly srcA's content, no stacked duplicates
      val paths = livePaths(fmt, tgt)
      assert(paths.distinct.size == paths.size,
        s"duplicate live files on $fmt target:\n${paths.sorted.mkString("\n")}")
      assert(checksum(readTarget(fmt, tgt)) == checksum(srcA.toDF()),
        s"$fmt target content is not srcA's after the re-planned sync")
    }
  }

  test("full sync re-takes the snapshot when the source advances during planning") {
    // the race: an append lands AFTER snapshotFiles() but BEFORE the
    // version stamp — an unstabilized plan would commit a watermark
    // PAST the append while its files are missing from the diff, and
    // every later incremental sync would skip them (silent row loss)
    val dir = tmpDir("cas_moving_src")
    import spark.implicits._
    val src = DeltaTable.create(spark, s"$dir/src", Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val inner = SyncEngine.deltaSource(src)
    var nextLate = 3L
    var injected = true
    val moving: SyncSource = new SyncSource {
      def format = inner.format
      def sourceId = inner.sourceId
      def dataRoot = inner.dataRoot
      def schema = inner.schema
      def partitionColumns = inner.partitionColumns
      def currentVersion = inner.currentVersion
      def versionExists(v: String) = inner.versionExists(v)
      override def isCompleted(v: String) = inner.isCompleted(v)
      def versionsAfter(v: String) = inner.versionsAfter(v)
      override def schemaAtVersion(v: String) = inner.schemaAtVersion(v)
      def snapshotFiles() = {
        val files = inner.snapshotFiles()
        if (!injected) {
          injected = true
          DeltaTable.forPath(spark, s"$dir/src")
            .append(Seq((nextLate, "late")).toDF("id", "tag"), Seq.empty)
          nextLate += 1
        }
        files
      }
      def changes(v: String) = inner.changes(v)
      override def inflightVersions = inner.inflightVersions
      override def recordKeyFields = inner.recordKeyFields
      override def physicalNames = inner.physicalNames
      override def laterOf(a: String, b: String) = inner.laterOf(a, b)
    }
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      injected = false // arm one mid-planning append for this target
      SyncEngine.sync(moving, targetFor(fmt, s"$dir/tgt_$fmt"), mode = SyncEngine.Full)
      assert(injected, s"$fmt sync never listed the source")
      // the settled plan includes the late append, and the watermark
      // matches the version whose files were actually listed
      assert(checksum(readTarget(fmt, s"$dir/tgt_$fmt")) == checksum(src.toDF()),
        s"$fmt target is missing the mid-planning append")
      assert(targetFor(fmt, s"$dir/tgt_$fmt").watermarkFor(inner.sourceId)
        .contains(inner.currentVersion), s"$fmt watermark off the settled version")
    }
  }

  /** A Hudi source whose `inflightVersions` (the first member an attempt
    * reads) and `snapshotFiles` run a hook after the real call, counting
    * both calls. */
  private final class HookedSource(inner: SyncSource,
      afterInflight: () => Unit = () => (), afterSnapshot: () => Unit = () => ())
      extends SyncSource {
    var inflightCalls, snapshotCalls = 0
    def format = inner.format
    def sourceId = inner.sourceId
    def dataRoot = inner.dataRoot
    def schema = inner.schema
    def partitionColumns = inner.partitionColumns
    def currentVersion = inner.currentVersion
    def versionExists(v: String) = inner.versionExists(v)
    override def isCompleted(v: String) = inner.isCompleted(v)
    def versionsAfter(v: String) = inner.versionsAfter(v)
    override def schemaAtVersion(v: String) = inner.schemaAtVersion(v)
    def snapshotFiles() = {
      val files = inner.snapshotFiles()
      snapshotCalls += 1
      afterSnapshot()
      files
    }
    def changes(v: String) = inner.changes(v)
    override def inflightVersions = {
      val vs = inner.inflightVersions
      inflightCalls += 1
      afterInflight()
      vs
    }
    override def recordKeyFields = inner.recordKeyFields
    override def physicalNames = inner.physicalNames
    override def laterOf(a: String, b: String) = inner.laterOf(a, b)
    override def statisticsProps(v: String) = inner.statisticsProps(v)
  }

  private def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath

  test("hudi source: a commit landing mid-attempt is left to the next sync, which replays exactly it") {
    // the Hudi twin of the case above: the attempt reads one pinned view
    // of the source, so the append is invisible to it — the full sync
    // settles at once on the version it listed, and the append stays
    // ahead of the watermark for the next incremental sync
    val dir = tmpDir("cas_moving_hudi_src")
    import spark.implicits._
    HudiTable.create(spark, s"$dir/src", Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val inner = SyncEngine.hudiSource(HudiTable.forPath(spark, s"$dir/src"))
    var nextLate = 3L
    for (fmt <- Seq("delta", "iceberg", "hudi")) {
      var late: Option[String] = None
      val moving = new HookedSource(inner, afterSnapshot = () => if (late.isEmpty) {
        late = Some(HudiTable.forPath(spark, s"$dir/src")
          .append(Seq((nextLate, "late")).toDF("id", "tag")))
        nextLate += 1
      })
      val listed = inner.currentVersion
      val listedFiles = inner.snapshotFiles().map(f => norm(f.physicalPath)).toSet
      val tgt = s"$dir/tgt_$fmt"
      val full = SyncEngine.sync(moving, targetFor(fmt, tgt), mode = SyncEngine.Full)
      assert(late.nonEmpty, s"$fmt sync never listed the source")
      assert(moving.inflightCalls == 1 && moving.snapshotCalls == 1,
        s"$fmt full sync took ${moving.inflightCalls} attempts and " +
          s"${moving.snapshotCalls} snapshot listings, expected one of each")
      assert(full.versionsSynced == Seq(listed))
      assert(targetFor(fmt, tgt).watermarkFor(inner.sourceId).contains(listed))
      assert(targetFor(fmt, tgt).livePaths().map(norm) == listedFiles,
        s"$fmt target files are not those of the listed version $listed")
      val incr = SyncEngine.sync(inner, targetFor(fmt, tgt), mode = SyncEngine.Incremental)
      assert(incr.versionsSynced == late.toSeq, s"$fmt incremental sync replayed " +
        s"${incr.versionsSynced}, expected exactly the mid-attempt commit $late")
      assert(checksum(readTarget(fmt, tgt)) == checksum(HudiTable.forPath(spark, s"$dir/src").toDF()),
        s"$fmt target differs from the source after the catch-up")
    }
  }

  test("hudi source: an instant listed by the attempt but gone when read re-plans once") {
    val dir = tmpDir("cas_vanishing_hudi_instant")
    import spark.implicits._
    HudiTable.create(spark, s"$dir/src", Seq((1L, "a")).toDF("id", "tag"))
    (2L to 4L).foreach(i =>
      HudiTable.forPath(spark, s"$dir/src").append(Seq((i, s"t$i")).toDF("id", "tag")))
    val timeline = HudiTable.forPath(spark, s"$dir/src").timeline
    val victim = timeline.completedInstants()(1)
    val vanishing = new HookedSource(SyncEngine.hudiSource(HudiTable.forPath(spark, s"$dir/src")),
      afterInflight = () => if (timeline.completedInstants().contains(victim))
        timeline.deleteInstant(victim))
    val r = SyncEngine.sync(vanishing, targetFor("delta", s"$dir/tgt"), mode = SyncEngine.Full)
    assert(vanishing.inflightCalls == 2, s"expected one re-plan, got ${vanishing.inflightCalls} attempts")
    assert(r.versionsSynced == Seq(timeline.completedInstants().last.time))
    assert(checksum(readTarget("delta", s"$dir/tgt")) ==
      checksum(HudiTable.forPath(spark, s"$dir/src").toDF()))
    assert(readTarget("delta", s"$dir/tgt").count() == 3)
  }

  test("a pinned hudi view reads one state of the table and refuses every write") {
    val dir = tmpDir("hudi_pinned_view")
    import spark.implicits._
    val t = HudiTable.create(spark, s"$dir/t", Seq((1L, "a")).toDF("id", "tag"))
    val view = t.pinned
    val seen = view.instants
    t.append(Seq((2L, "b")).toDF("id", "tag"))
    assert(view.instants == seen && t.instants.size == seen.size + 1)
    assert(view.toDF().count() == 1)
    val tl = view.timeline
    val i = tl.completedInstants().head
    val refused = Seq[(String, () => Any)](
      "writeProperties" -> (() => tl.writeProperties(view.properties)),
      "commitJson" -> (() => tl.commitJson(graft.hudi.HudiInstant(tl.nextInstantTime(), "clean"), "{}")),
      "deleteInstant" -> (() => tl.deleteInstant(i)),
      "archiveIfNeeded" -> (() => tl.archiveIfNeeded(1, 1)))
    refused.foreach { case (op, write) =>
      val e = intercept[IllegalStateException](write())
      // a refused write is a misuse, not a race the engine would retry
      assert(!e.isInstanceOf[ConcurrentSyncException], op)
      assert(e.getMessage.contains(op), e.getMessage)
    }
    assert(t.instants.size == seen.size + 1 && t.timeline.pendingInstants().isEmpty)
  }

  test("stochastic: 4 threads append+sync one source into shared tri-format targets — convergence, exactly-once files") {
    val dir = tmpDir("cas_threads")
    import spark.implicits._
    DeltaTable.create(spark, s"$dir/src", Seq((-1L, "seed")).toDF("id", "tag"))
    val fmts = Seq("delta", "iceberg", "hudi")
    val threads = 4
    val rounds = 2
    // a real scheduler re-runs a sync round that lost its bounded
    // internal retries to sustained contention
    def syncRetry(fmt: String): Unit = {
      var n = 0
      var done = false
      while (!done) {
        try {
          SyncEngine.sync(
            SyncEngine.deltaSource(DeltaTable.forPath(spark, s"$dir/src")),
            targetFor(fmt, s"$dir/tgt_$fmt"))
          done = true
        } catch {
          case e: Exception if n < 20 &&
              Option(e.getMessage).exists(_.contains("concurrent")) =>
            n += 1
        }
      }
    }
    val barrier = new java.util.concurrent.CyclicBarrier(threads)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        try {
          barrier.await()
          for (r <- 0 until rounds) {
            DeltaTable.forPath(spark, s"$dir/src").append(
              Seq((100L * i + r, s"t$i-r$r")).toDF("id", "tag"), Seq.empty)
            fmts.foreach(syncRetry)
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racing scheduler failed: ${Option(errs.peek()).map(_.toString)}")
    // quiescent catch-up, then every target must hold exactly the source
    val src = DeltaTable.forPath(spark, s"$dir/src")
    fmts.foreach(syncRetry)
    val expect = src.toDF().select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(expect.size == 1 + threads * rounds)
    for (fmt <- fmts) {
      val paths = livePaths(fmt, s"$dir/tgt_$fmt")
      assert(paths.distinct.size == paths.size,
        s"duplicate live files on $fmt target:\n${paths.sorted.mkString("\n")}")
      val got = readTarget(fmt, s"$dir/tgt_$fmt").select("id", "tag").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expect,
        s"$fmt target diverged: missing=${expect -- got} extra=${got -- expect}")
      assert(targetFor(fmt, s"$dir/tgt_$fmt")
        .watermarkFor(s"delta:${src.tablePath}")
        .contains(src.latestVersion.toString), s"$fmt watermark off the source head")
    }
  }
}
