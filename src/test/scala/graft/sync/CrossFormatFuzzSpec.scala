package graft.sync

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.delta.DeltaTable
import graft.hudi.HudiTable
import graft.iceberg.IcebergTable

/**
 * Randomized cross-format differential fuzzer — the reference's scenario
 * matrix (ref `core/src/test/java/io/onetable/ITOneTableClient.java:
 * 177-262`) generalized into seeded random op sequences: a random source
 * format takes 8-12 random operations (append / upsert / delete /
 * overwrite / compact / add-column / rename-column / type-widen /
 * partition-spec evolution / branch write-audit-publish, with hostile
 * partition values mixed in), syncing through a random topology (fan-out
 * or chain) after EVERY op and asserting the three formats answer
 * identically each time.
 *
 * The default run covers `GRAFT_FUZZ_N` (default 8) seeded sequences;
 * CI-tagged full runs set GRAFT_FUZZ_N=100+. Failures print the seed and
 * the full op trace so a failing sequence can be replayed and shrunk;
 * shrunken cases get pinned as named tests below.
 */
class CrossFormatFuzzSpec extends SparkTestBase {

  // ------------------------------------------------------------- pool

  /** Row universe: orders keyed by k, with a hostile-valued partition
    * column (spaces, '=', pre-encoded-looking '%25', dots and colons —
    * the x11 class; ASCII only, the forked JVM cannot OS-encode more). */
  private lazy val pool: DataFrame = {
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    o.select(
      col("o_orderkey").as("k"),
      col("o_totalprice").as("price"),
      col("o_orderstatus").as("status"),
      (col("o_orderkey") % 97).cast("int").as("qty"),
      element_at(
        map(
          lit("1-URGENT"), lit("urgent"),
          lit("2-HIGH"), lit("a b"),
          lit("3-MEDIUM"), lit("x=y"),
          lit("4-NOT SPECIFIED"), lit("pct%25"),
          lit("5-LOW"), lit("dot.:colon")),
        col("o_orderpriority")).as("part"))
      .localCheckpoint()
  }

  private def slice(rng: Random, dense: Boolean = false): DataFrame = {
    val m = if (dense) 2 + rng.nextInt(3) else 3 + rng.nextInt(5)
    val r = rng.nextInt(m)
    pool.filter(col("k") % m === r)
  }

  // ------------------------------------------------------- adapters

  /** Uniform mutation surface over the three native writers. A None
    * return from an op means the format cannot express it (never chosen
    * for that source). */
  private abstract class Src(val fmt: String, val path: String,
      val partCols: Seq[String]) {
    var cols: Seq[String] = Seq("k", "price", "status", "qty", "part")
    /** Whether qty is CURRENTLY declared long — probed from the table,
      * never tracked adapter-side: a restore across the widen narrows
      * Delta (metadata rolls back) and Hudi (the ALTER_SCHEMA instant
      * is revoked) but NOT Iceberg (the spec has no narrowing
      * promotion; schema evolution survives rollback), so only the
      * table itself knows (100-seed gate, seed 74). */
    def qtyWide: Boolean =
      df.schema.fields.find(_.name == "qty").exists(_.dataType == LongType)
    /** Shape a pool batch to the CURRENT table schema: materialize the
      * evolved `extra` column and follow renames before selecting. */
    def align(df: DataFrame): DataFrame = {
      var b = df
      if (cols.contains("extra") && !b.columns.contains("extra"))
        b = b.withColumn("extra", col("k") * 2)
      if (cols.contains("price2") && b.columns.contains("price"))
        b = b.withColumnRenamed("price", "price2")
      b.select(cols.map(c => col(s"`$c`")): _*)
    }
    def append(df: DataFrame): Unit
    /** metadata-only int→long widen of the qty column */
    def widen(): Unit
    def upsert(df: DataFrame): Unit
    def delete(keys: DataFrame): Unit
    def overwrite(df: DataFrame): Unit
    def compact(): Unit
    /** add nullable long column `extra`; df carries it */
    def addColumn(df: DataFrame): Unit = sys.error(s"$fmt: no addColumn")
    def renameColumn(from: String, to: String): Unit = sys.error(s"$fmt: no rename")
    def evolveSpec(to: Seq[String], rows: DataFrame): Unit = sys.error(s"$fmt: no spec evolve")
    def branchPublish(df: DataFrame): Unit = sys.error(s"$fmt: no branches")
    /** opaque marker of the CURRENT committed state */
    def version: String
    /** read the table as of a recorded marker */
    def dfAsOf(v: String): DataFrame
    /** roll the table back to marker v (delta RESTORE / iceberg
      * rollbackTo / hudi rollback-of-last) */
    def restoreTo(v: String): Unit = sys.error(s"$fmt: no restore")
    /** retention maintenance: iceberg expireSnapshots / delta VACUUM /
      * hudi timeline archival */
    def retire(): Unit = sys.error(s"$fmt: no retire")
    /** build/refresh a record-key index (Delta key index / Hudi
      * record_index) — subsequent keyed mutations route through it, and
      * restores/rollbacks exercise its coverage fence */
    def index(): Unit = sys.error(s"$fmt: no index")
    /** adapter-side schema state snapshotted per marker so a restore op
      * can roll the ADAPTER back alongside the table (lets restore fuzz
      * across addcol/rename instead of only pre-evolution states) */
    def schemaState: AnyRef = cols
    def restoreSchemaState(s: AnyRef): Unit = { cols = s.asInstanceOf[Seq[String]] }
    /** recorded markers still time-travelable after retire() */
    def surviving(ms: Seq[String]): Seq[String] = ms
    def caps: Set[String]
    def source: SyncSource
    def df: DataFrame
  }

  private final class DeltaSrc(spark: SparkSession, path: String, init: DataFrame,
      partCols: Seq[String], renameOk: Boolean) extends Src("delta", path, partCols) {
    val t = DeltaTable.create(spark, path, init, partCols)
    private var liveParts = partCols
    def append(df: DataFrame): Unit = t.append(align(df), liveParts)
    def widen(): Unit = t.widenColumn("qty", LongType)
    // deletion-vector-carrying commits refuse metadata sync by design
    // (DeltaTable.scala "carries a deletion vector"), so mutation ops
    // purge to rewritten files before the next sync point
    def upsert(df: DataFrame): Unit = { t.upsert(align(df), Seq("k")); t.purgeDeletes() }
    def delete(keys: DataFrame): Unit = { t.deleteMatching(keys, Seq("k")); t.purgeDeletes() }
    def overwrite(df: DataFrame): Unit = t.overwrite(align(df), liveParts)
    def compact(): Unit = t.compact(smallFileBytes = 256L << 20)
    // key-index lifecycle under random op mixes: build (or rebuild)
    // routes subsequent upserts/deletes exactly; restores/retires then
    // exercise the coverage fence and its range fallback
    override def index(): Unit =
      if (!cols.contains("k")) () // renamed away — nothing to index
      else t.buildKeyIndex("k")
    override def addColumn(df: DataFrame): Unit = {
      t.addColumn(StructField("extra", LongType))
      cols = cols :+ "extra"
      t.append(align(df), liveParts)
    }
    private var mapped = false
    override def renameColumn(from: String, to: String): Unit = {
      if (!mapped) { t.enableColumnMapping(); mapped = true }
      t.renameColumn(from, to)
      cols = cols.map(c => if (c == from) to else c)
      liveParts = liveParts.map(c => if (c == from) to else c)
    }
    // column-mapped sources are refused by Delta and Hudi targets
    // (physical names need an Iceberg name mapping), so rename only
    // fuzzes the iceberg-only bi topology
    def caps = Set("append", "upsert", "delete", "overwrite", "compact",
      "addcol", "retire", "index") ++ (if (renameOk) Set("rename") else Set.empty)
    // restore reverts Delta metadata too (schema, column-mapping mode),
    // so liveParts and the mapped flag roll back with the marker
    override def schemaState: AnyRef = (cols, liveParts, mapped)
    override def restoreSchemaState(s: AnyRef): Unit = {
      val (c, lp, m) = s.asInstanceOf[(Seq[String], Seq[String], Boolean)]
      cols = c; liveParts = lp; mapped = m
    }
    def version: String = t.latestVersion.toString
    def dfAsOf(v: String): DataFrame = t.toDF(versionAsOf = Some(v.toLong))
    override def restoreTo(v: String): Unit = t.restoreTo(v.toLong)
    override def retire(): Unit = t.vacuum(0)
    // zero-retention vacuum strips every non-current file: only the
    // latest state stays readable
    override def surviving(ms: Seq[String]): Seq[String] = ms.takeRight(1)
    def source: SyncSource = SyncEngine.deltaSource(t)
    def df: DataFrame = t.toDF()
  }

  private final class IcebergSrc(spark: SparkSession, path: String, init: DataFrame,
      partCols: Seq[String]) extends Src("iceberg", path, partCols) {
    val t = IcebergTable.create(spark, path, init, partCols)
    def append(df: DataFrame): Unit = t.append(align(df))
    def widen(): Unit = t.widenColumn("qty", LongType)
    // v2 delete files cannot be expressed in other formats; the sync
    // refuses them by design, so mutation ops purge before a sync point
    def upsert(df: DataFrame): Unit = { t.upsert(align(df), Seq("k")); t.purgeDeletes() }
    def delete(keys: DataFrame): Unit = { t.deleteByEquality(keys); t.purgeDeletes() }
    def overwrite(df: DataFrame): Unit = t.overwrite(align(df))
    def compact(): Unit = t.compact(smallFileBytes = 256L << 20)
    override def addColumn(df: DataFrame): Unit = {
      cols = cols :+ "extra"
      t.append(align(df)) // iceberg appends evolve the schema in place
    }
    override def evolveSpec(to: Seq[String], rows: DataFrame): Unit = {
      t.evolvePartitionSpec(to)
      // rewrite everything onto the new spec: sync refuses mixed-spec
      // file sets by design (SyncEngine.guardSingleSpec)
      t.overwrite(align(rows))
    }
    override def branchPublish(df: DataFrame): Unit = {
      t.appendToBranch(align(df), "wap")
      t.fastForward("wap")
      t.dropRef("wap")
    }
    def caps = Set("append", "upsert", "delete", "overwrite", "compact",
      "addcol", "branch", "retire") ++
      (if (partCols.nonEmpty) Set("specevolve") else Set.empty)
    def version: String = t.currentMetadata.currentSnapshotId.get.toString
    def dfAsOf(v: String): DataFrame = t.toDF(snapshotAsOf = Some(v.toLong))
    override def restoreTo(v: String): Unit = t.rollbackTo(v.toLong)
    override def retire(): Unit = t.expireSnapshots(System.currentTimeMillis() + 60000)
    override def surviving(ms: Seq[String]): Seq[String] = {
      val live = t.currentMetadata.snapshots.map(_.snapshotId.toString).toSet
      ms.filter(live)
    }
    def source: SyncSource = SyncEngine.icebergSource(t)
    def df: DataFrame = t.toDF()
  }

  private final class HudiSrc(spark: SparkSession, path: String, init: DataFrame,
      partCols: Seq[String]) extends Src("hudi", path, partCols) {
    // COW: a MOR source's log-block instants refuse metadata sync by
    // design (even when a later compaction covers them, the instant
    // itself stays in the incremental feed), so the Hudi fuzz surface is
    // the COW op set the sync engine actually supports
    val t = HudiTable.create(spark, path, init, partCols)
    def append(df: DataFrame): Unit = t.append(align(df), partCols)
    def widen(): Unit = t.widenColumn("qty", LongType)
    def upsert(df: DataFrame): Unit = sys.error("hudi COW: no upsert")
    def delete(keys: DataFrame): Unit = sys.error("hudi COW: no delete")
    def overwrite(df: DataFrame): Unit = t.overwrite(align(df), partCols)
    def compact(): Unit = t.compact(smallFileBytes = 256L << 20)
    def caps = Set("append", "overwrite", "compact", "retire")
    def version: String = t.latestInstant
    def dfAsOf(v: String): DataFrame = t.toDF(asOf = Some(v))
    override def retire(): Unit = t.archiveTimeline()
    override def restoreTo(v: String): Unit = {
      // hudi rolls back one completed instant at a time
      while (t.latestInstant != v) t.rollback()
    }
    def source: SyncSource = SyncEngine.hudiSource(t)
    def df: DataFrame = t.toDF()
  }

  /** Keyed MERGE_ON_READ Hudi source: the row-mutation plane (upsert /
    * deleteKeys via log blocks) that the COW adapter can't express.
    * Sync rides the READ-OPTIMIZED incremental feed with a compactMor()
    * before every sync point, so the RO view == the snapshot at each
    * compare and the log-writing deltacommits replay incrementally
    * (their log stats drop from the RO feed; the compaction
    * replacecommit carries the merged result). */
  private final class HudiMorSrc(spark: SparkSession, path: String, init: DataFrame,
      partCols: Seq[String]) extends Src("hudi-mor", path, partCols) {
    val t = HudiTable.createMor(spark, path, init, "k", partCols)
    def append(df: DataFrame): Unit = t.append(align(df), partCols)
    def widen(): Unit = t.widenColumn("qty", LongType)
    def upsert(df: DataFrame): Unit = t.upsert(align(df))
    def delete(keys: DataFrame): Unit = t.deleteKeys(keys)
    def overwrite(df: DataFrame): Unit = t.overwrite(align(df), partCols)
    def compact(): Unit = { t.compactMor(); t.compact(smallFileBytes = 256L << 20) }
    override def index(): Unit = t.buildRecordIndex()
    def caps = Set("append", "upsert", "delete", "overwrite", "compact", "retire", "index")
    def version: String = t.latestInstant
    def dfAsOf(v: String): DataFrame = t.toDF(asOf = Some(v))
    override def retire(): Unit = t.archiveTimeline()
    override def restoreTo(v: String): Unit = {
      while (t.latestInstant != v) t.rollback()
    }
    def source: SyncSource = {
      t.compactMor() // RO view == snapshot at every sync point
      SyncEngine.hudiSource(t, readOptimized = true)
    }
    def df: DataFrame = t.toDF()
  }

  // ------------------------------------------------------ harness

  private def readAs(fmt: String, path: String): DataFrame = fmt match {
    case "delta" => DeltaTable.forPath(spark, path).toDF()
    case "iceberg" => IcebergTable.forPath(spark, path).toDF()
    case "hudi" => HudiTable.forPath(spark, path).toDF()
  }

  /** Opaque current-version marker of a TARGET table (idempotency op). */
  private def versionOf(fmt: String, path: String): String = fmt match {
    case "delta" => DeltaTable.forPath(spark, path).latestVersion.toString
    case "iceberg" =>
      IcebergTable.forPath(spark, path).currentMetadata.currentSnapshotId
        .map(_.toString).getOrElse("")
    case "hudi" => HudiTable.forPath(spark, path).latestInstant
  }

  /** Width-canonical projection: integer widths → long, float → double.
    * A restore ACROSS a type widen legitimately leaves an Iceberg target
    * WIDER than its re-narrowed source — the spec has no narrowing
    * promotion, and the mirrored files (all narrow again) still read
    * exactly — so value equality, not declared width, is the
    * cross-format invariant the hash compares. */
  private def wide(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      (f.dataType match {
        case ByteType | ShortType | IntegerType => col(s"`${f.name}`").cast("long")
        case FloatType => col(s"`${f.name}`").cast("double")
        case _ => col(s"`${f.name}`")
      }).as(f.name)
    }.toIndexedSeq: _*)

  private def snap(df0: DataFrame): (Long, Long, Seq[String]) = {
    val df = wide(df0)
    val cs = df.columns.sorted.toSeq
    val n = df.count()
    val h = if (n == 0) 0L
      else df.select(sum(hash(cs.map(c => col(s"`$c`")): _*)).cast("long")).head.getLong(0)
    (n, h, cs)
  }

  private def runSequence(seed: Long): Unit = {
    // SplitMix64 scramble: java.util.Random's FIRST draw with a
    // power-of-2 bound is degenerate for small sequential seeds (seeds
    // 1..100 all yielded the same nextInt(4)), which silently pinned
    // every sequence to one source format — scrambling restores an even
    // first-draw distribution while keeping seed → sequence determinism
    val rng = {
      var z = seed * -7046029254386353131L
      z = (z ^ (z >>> 30)) * -4658895280553007687L
      z = (z ^ (z >>> 27)) * -7723592293110705685L
      new Random(z ^ (z >>> 31))
    }
    val dir = tmpDir(s"fuzz_s$seed")
    val fmts = Seq("delta", "iceberg", "hudi")
    // hudi-mor is a 4th SOURCE kind (the keyed row-mutation plane);
    // targets are always the three file formats
    val srcFmt = (fmts :+ "hudi-mor")(rng.nextInt(4))
    val partitioned = rng.nextBoolean()
    val partCols = if (partitioned) Seq("part") else Seq.empty
    val Seq(fmtA, fmtB) = rng.shuffle(
      fmts.filterNot(_ == (if (srcFmt == "hudi-mor") "hudi" else srcFmt)))
    // topologies: fan-out src->{A,B}, chain src->A->B, or bi src->iceberg
    // (the only shape where a column-mapped delta source is legal)
    val topo = rng.nextInt(4) match {
      case 0 => "chain"
      case 1 if srcFmt == "delta" => "bi"
      case 1 => "fanout"
      case _ => "fanout"
    }
    val biTgt = "iceberg"
    val trace = new StringBuilder(s"seed=$seed src=$srcFmt parts=$partCols topo=" + (topo match {
      case "chain" => s"$srcFmt->$fmtA->$fmtB"
      case "bi" => s"$srcFmt->$biTgt"
      case _ => s"$srcFmt->{$fmtA,$fmtB}"
    }))
    val init = slice(rng, dense = true)
    val src: Src = srcFmt match {
      case "delta" => new DeltaSrc(spark, s"$dir/src", init, partCols,
        renameOk = topo == "bi")
      case "iceberg" => new IcebergSrc(spark, s"$dir/src", init, partCols)
      case "hudi" => new HudiSrc(spark, s"$dir/src", init, partCols)
      case "hudi-mor" => new HudiMorSrc(spark, s"$dir/src", init, partCols)
    }
    val pathA = s"$dir/tgt_a"
    val pathB = s"$dir/tgt_b"

    def syncAll(): Unit = topo match {
      case "bi" =>
        SyncEngine.sync(src.source, SyncEngine.targetFor(spark, biTgt, pathA))
      case "chain" =>
        SyncEngine.sync(src.source, SyncEngine.targetFor(spark, fmtA, pathA))
        SyncEngine.sync(
          SyncEngine.sourceFor(spark, fmtA, pathA),
          SyncEngine.targetFor(spark, fmtB, pathB))
      case _ =>
        SyncEngine.sync(src.source, SyncEngine.targetFor(spark, fmtA, pathA))
        SyncEngine.sync(src.source, SyncEngine.targetFor(spark, fmtB, pathB))
    }

    def compare(step: String): Unit = {
      val s0 = snap(src.df)
      val sA = snap(readAs(if (topo == "bi") biTgt else fmtA, pathA))
      val sB = if (topo == "bi") sA else snap(readAs(fmtB, pathB))
      if (s0 != sA || s0 != sB) {
        val bad = wide(if (s0 != sA) readAs(if (topo == "bi") biTgt else fmtA, pathA)
          else readAs(fmtB, pathB))
        val good = wide(src.df)
        val cs = good.columns.sorted.toSeq.map(c => col(s"`$c`"))
        val missing = good.select(cs: _*).exceptAll(bad.select(cs: _*)).limit(5).collect()
        val extra = bad.select(cs: _*).exceptAll(good.select(cs: _*)).limit(5).collect()
        fail(s"cross-format divergence after [$step]\n$trace\n  src=$s0\n  a=$sA\n  b=$sB\n" +
          s"  src-only rows: ${missing.mkString(" | ")}\n  tgt-only rows: ${extra.mkString(" | ")}")
      }
    }

    // an op mix can legitimately reach a state the engine REFUSES to
    // sync (mixed partition layouts after a cross-spec restore, a
    // column-mapped source against a path-based target): the loud,
    // documented refusal IS correct behavior, and the sequence ends there
    val documentedRefusals = Seq(
      "multiple partition specs", "partition-field change",
      "cannot sync a column-mapped")
    try runOps() catch {
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: IllegalArgumentException
          if documentedRefusals.exists(m => Option(e.getMessage).exists(_.contains(m))) =>
        info(s"sequence ended by documented refusal: $trace — ${e.getMessage.take(120)}")
      case e: Throwable =>
        fail(s"sequence blew up: $trace\n  ${e.getClass.getSimpleName}: ${e.getMessage}", e)
    }
    // Statistics invariants, checked after EVERY op on ALL THREE format
    // channels — source AND targets (metadata-only, cheap): no
    // registered pointer may dangle (expiry / restore / rollback /
    // re-analyze / lost sync CAS must clean up or degrade to
    // analyzed-never), the resolvable "k" sketch must replay (its ndv
    // property equal to the shared estimator over its own registers —
    // name-keyed, so it reads identically on every format), no
    // unreferenced file may sit in a stats dir (the orphan-leak shape:
    // racing registrations, lost adoptions, analyze+restore cycles,
    // analyze→sync→re-analyze→re-sync loops), and a target's carried
    // pointer must resolve to its own ADOPTED copy under its own root.
    def hconf = spark.sparkContext.hadoopConfiguration
    // null-vs-empty URI authority renders differently ("file:/x" vs
    // "file:///x") depending on which API qualified the path — compare
    // with the authority normalized
    def qual(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val u = hp.getFileSystem(hconf).makeQualified(hp).toUri
      s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
    }
    def statsInvariant(tag: String): Unit = {
      def exists(p: String): Boolean = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).exists(hp)
      }
      def replay(path: String, what: String): Unit = {
        val (regs, ndv) = graft.util.StatsFiles.readRegisters(hconf, path, "k")
        assert(ndv == graft.functions.PortableHll.estimateLocal(regs),
          s"$what ndv does not replay from registers after [$tag]\n$trace")
      }
      def underRoot(p: String, root: String): Boolean =
        qual(p).startsWith(qual(root).stripSuffix("/") + "/")
      // every statistics-shaped file in `dir0` must be referenced —
      // dotfiles (transient adopt/pstats staging) excluded
      def noOrphans(dir0: String, referenced: Seq[String], what: String,
          nameFilter: String => Boolean = _ => true): Unit = {
        val d = new org.apache.hadoop.fs.Path(dir0)
        val dfs = d.getFileSystem(hconf)
        if (dfs.exists(d)) {
          val refs = referenced.map(qual).toSet
          val orphans = dfs.listStatus(d).map(_.getPath)
            .filter(p => !p.getName.startsWith(".") && nameFilter(p.getName))
            .map(p => qual(p.toString)).filterNot(refs)
          assert(orphans.isEmpty,
            s"$what stats dir holds unreferenced files after [$tag]: " +
              s"${orphans.mkString(", ")} (referenced: ${refs.mkString(", ")})\n$trace")
        }
      }
      val carriedKeys = Seq(
        graft.model.SyncCas.StatsPathProp, graft.model.SyncCas.PartitionStatsPathProp)
      def checkIceberg(path: String, isTarget: Boolean): Unit = {
        val t = IcebergTable.forPath(spark, path)
        val meta = t.currentMetadata
        val ids = meta.snapshots.map(_.snapshotId).toSet
        (meta.statistics.map(e => (e.snapshotId, e.path)) ++
          meta.partitionStatistics.map(e => (e.snapshotId, e.path))).foreach {
          case (sid, p) =>
            assert(ids(sid),
              s"iceberg stats entry dangles on expired snapshot $sid after [$tag]\n$trace")
            assert(exists(p),
              s"registered iceberg stats file $p missing after [$tag]\n$trace")
            if (isTarget) assert(underRoot(p, path),
              s"target stats entry $p not ADOPTED under $path after [$tag]\n$trace")
        }
        t.statisticsFor().foreach(e => replay(e.path, "iceberg"))
        noOrphans(s"$path/metadata",
          (meta.statistics.map(_.path) ++ meta.partitionStatistics.map(_.path)),
          "iceberg", n => n.endsWith(".stats") || n.endsWith("-partition-stats.parquet") ||
            n.startsWith("carried-"))
      }
      def checkDelta(path: String, isTarget: Boolean): Unit = {
        val t = DeltaTable.forPath(spark, path)
        val conf = t.log.snapshot().metadata.configuration
        val ptrs = (DeltaTable.StatsPathKey +: carriedKeys).flatMap(conf.get)
        ptrs.foreach { p =>
          assert(exists(p), s"delta stats pointer dangles at $p after [$tag]\n$trace")
          if (isTarget) assert(underRoot(p, path),
            s"delta target pointer $p not ADOPTED under $path after [$tag]\n$trace")
        }
        conf.get(DeltaTable.StatsPathKey)
          .orElse(conf.get(graft.model.SyncCas.StatsPathProp))
          .foreach(p => replay(p, "delta"))
        noOrphans(s"$path/_graft_stats", ptrs, "delta")
      }
      def checkHudi(path: String, isTarget: Boolean): Unit = {
        val t = HudiTable.forPath(spark, path)
        // hudi resolution SKIPS dangling pointers (immutable history can
        // resurface a superseded registration on rollback/restore, and
        // re-analyze deleted its file) — the invariant is on the
        // RESOLVED registration per key channel
        def resolvedPtr(keys: Seq[String]): Option[String] =
          t.timeline.completedInstants()
            .filter(i => Set("commit", "replacecommit", "deltacommit").contains(i.action))
            .reverseIterator
            .flatMap { i =>
              val em = t.timeline.readCommitMetadata(i).extraMetadata
              keys.flatMap(em.get).headOption
            }
            .find(exists)
        val puffin = resolvedPtr(Seq(
          HudiTable.StatsPathKey, graft.model.SyncCas.StatsPathProp))
        val pstats = resolvedPtr(Seq(graft.model.SyncCas.PartitionStatsPathProp))
        val ptrs = puffin.toSeq ++ pstats.toSeq
        if (isTarget) ptrs.foreach(p => assert(underRoot(p, path),
          s"hudi target pointer $p not ADOPTED under $path after [$tag]\n$trace"))
        puffin.foreach(p => replay(p, "hudi"))
        // statisticsRegisters must agree with the resolution: resolve
        // exactly when a non-dangling registration exists, or throw the
        // documented analyzed-never state — never a read error
        val reads = try { t.statisticsRegisters("k"); true }
          catch { case _: IllegalStateException => false }
        assert(reads == puffin.isDefined,
          s"hudi stats resolution (${puffin.isDefined}) and read ($reads) disagree after [$tag]\n$trace")
        noOrphans(s"$path/.hoodie/.graft_stats", ptrs, "hudi")
      }
      def check(fmt: String, path: String, isTarget: Boolean): Unit = fmt match {
        case "iceberg" => checkIceberg(path, isTarget)
        case "delta" => checkDelta(path, isTarget)
        case _ => checkHudi(path, isTarget) // hudi + hudi-mor
      }
      check(srcFmt, s"$dir/src", isTarget = false)
      (if (topo == "bi") Seq(biTgt -> pathA)
       else Seq(fmtA -> pathA, fmtB -> pathB))
        .foreach { case (f, p) => check(f, p, isTarget = true) }
    }

    // Planner-DECISION audit, once per sequence after the op mix: the
    // statsInvariant above proves the registered facts are well-formed;
    // this proves the PLANNER consumes them safely on whatever state the
    // random sequence produced. On every channel whose statistics
    // resolve: (a) the estimate must never UNDER-cost the live table —
    // the melt-the-driver direction. When stale, the freshness fence
    // floors it with the format's exact physical counts, so the floor is
    // the full live count; when fresh, the estimate may legitimately be
    // the key-column ndv (physical duplicates of one key collapse), so
    // the floor is the live DISTINCT key count — both with slack for the
    // ~6.5%-error HLL registers. (b) joinPlanned must turn the estimate
    // into a physical plan that agrees with the row/byte budgets in BOTH
    // directions, with Spark's own size-based broadcast disabled so the
    // choice under test is the stats hint and nothing else.
    // plan-shape check WITHOUT executing the join: the stats hint fixes
    // the initial physical plan (broadcast() ⇒ BroadcastHashJoinExec;
    // no hint + auto-broadcast disabled ⇒ a shuffle join), so walking
    // the un-executed AQE plan decides both directions for free
    def hasBroadcast(df: DataFrame): Boolean = {
      def walk(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case _ => p.children
        }
        p +: kids.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    }
    def plannerAudit(): Unit = {
      import graft.plans.StatsJoin
      def auditOne(fmt: String, path: String, live: () => DataFrame): Unit = {
        val (sizeOpt, dim) = fmt match {
          case "iceberg" =>
            val t = IcebergTable.forPath(spark, path)
            (StatsJoin.plannedSize(t, "k"), StatsJoin.StatsDim.ofIceberg(t))
          case "delta" =>
            val t = DeltaTable.forPath(spark, path)
            (StatsJoin.plannedSize(t, "k"), StatsJoin.StatsDim.ofDelta(t))
          case _ => // hudi + hudi-mor
            val t = HudiTable.forPath(spark, path)
            (StatsJoin.plannedSize(t, "k"), StatsJoin.StatsDim.ofHudi(t))
        }
        sizeOpt.foreach { s =>
          val df = live()
          val actual = df.count()
          val floor = if (s.fresh) df.select("k").distinct().count() else actual
          assert(s.rows >= 0.75 * floor - 2,
            s"planner UNDER-costs the $fmt dim after the op mix: estimate $s " +
              s"vs live rows=$actual distinct-k floor=$floor\n$trace")
          if (actual > 0 && s.rows > 0) {
            // AQE's empty-relation propagation erases the join on an
            // empty side, so the plan-shape check needs a live dim
            val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try {
              val fact = df.select(col("k").as("fk")).limit(8)
              def planBroadcasts(rowTh: Double, byteTh: Long): Boolean =
                hasBroadcast(StatsJoin.joinPlanned(fact, dim, "k",
                  col("fk") === col("k"), broadcastRowThreshold = rowTh,
                  broadcastByteThreshold = byteTh))
              assert(planBroadcasts(s.rows + 1, s.bytes.toLong + 1024),
                s"$fmt estimate $s under both budgets must broadcast\n$trace")
              assert(!planBroadcasts(s.rows - 1, Long.MaxValue),
                s"$fmt row budget under estimate $s must NOT broadcast\n$trace")
            } finally
              spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
          }
        }
      }
      auditOne(srcFmt, s"$dir/src", () => src.df)
      (if (topo == "bi") Seq(biTgt -> pathA)
       else Seq(fmtA -> pathA, fmtB -> pathB))
        .foreach { case (f, p) => auditOne(f, p, () => readAs(f, p)) }
    }

    // format-routed ANALYZE of the source: always "k" (the invariant's
    // replay column), plus the current price column when present
    def analyzeSrc(): Unit = {
      val cols = Seq("k") ++ src.cols.find(c => c == "price" || c == "price2")
      srcFmt match {
        case "iceberg" =>
          val t = IcebergTable.forPath(spark, s"$dir/src")
          t.writeStatistics(cols)
          // partitioned tables also get the partition-stats sibling
          if (t.currentMetadata.partitionSpec.nonEmpty)
            t.writePartitionStatistics()
        case "delta" =>
          DeltaTable.forPath(spark, s"$dir/src").writeStatistics(cols)
        case _ => // hudi + hudi-mor share the extraMetadata channel
          HudiTable.forPath(spark, s"$dir/src").writeStatistics(cols)
      }
    }

    def runOps(): Unit = {
    // (marker, expected snapshot, adapter schema state) per committed
    // state — the time-travel audit at the end replays every surviving
    // marker, and restore rolls the adapter state back with the table
    val history =
      scala.collection.mutable.ArrayBuffer[(String, (Long, Long, Seq[String]), AnyRef)]()
    def record(): Unit = {
      val v = src.version
      if (!history.lastOption.exists(_._1 == v))
        history += ((v, snap(src.df), src.schemaState))
    }
    // a unique key outside the pool's o_orderkey range per injected row
    var injectKey = -1L
    syncAll(); compare("init"); record()
    val nOps = 8 + rng.nextInt(5)
    for (i <- 1 to nOps) {
      val op = {
        val restorable = history.size >= 2
        val c = (src.caps ++ Set("nullrow", "emptybatch", "resync", "racesync", "racemut",
          "widen", "analyze", "crashsink") ++
          (if (restorable) Set("restore") else Set.empty)).toSeq.sorted
        c(rng.nextInt(c.size))
      }
      trace.append(s" $i:$op")
      op match {
        case "append" => src.append(slice(rng))
        case "index" => src.index()
        case "nullrow" =>
          // null-value injection: nulls in every non-key column,
          // INCLUDING the partition column (default-partition path) —
          // rides append so all three formats take it; k stays unique
          // and non-null (a null k is legal data for these un-keyed
          // sources but would collide across injections)
          val row = pool.limit(1).select(
            lit(injectKey).as("k"),
            lit(null).cast("double").as("price"),
            lit(null).cast("string").as("status"),
            lit(null).cast("int").as("qty"),
            lit(null).cast("string").as("part"))
          injectKey -= 1
          src.append(row)
        case "emptybatch" =>
          // zero-row batches through each mutating verb the source has
          val empty = pool.limit(0)
          rng.shuffle(Seq("append", "upsert", "delete", "overwrite")
            .filter(src.caps)).headOption.getOrElse("append") match {
            case "append" => src.append(empty)
            case "upsert" => src.upsert(empty)
            case "delete" => src.delete(empty.select("k"))
            case "overwrite" => src.append(empty) // empty OVERWRITE would empty the table; append keeps the invariant
          }
        case "resync" =>
          // idempotency fence: every target is already caught up (the
          // loop syncs after every op), so THIS sync must move no
          // target version — zero pending commits, no empty commit, no
          // compaction churn from the MOR source's pre-sync compactMor
          val tgts =
            if (topo == "bi") Seq(biTgt -> pathA)
            else Seq(fmtA -> pathA, fmtB -> pathB)
          val before = tgts.map { case (f, p) => versionOf(f, p) }
          syncAll()
          val after = tgts.map { case (f, p) => versionOf(f, p) }
          assert(before == after,
            s"no-op resync advanced a target: $before -> $after\n$trace")
        case "racesync" =>
          // mid-sequence MULTI-WRITER: an append lands, then a competing
          // scheduler syncs the SAME source into the SAME target while
          // this sequence's own sync runs — arbitration is entirely
          // on-disk (version slots; the Hudi file lock), retries are
          // typed-only, and the raced target must converge exactly-once.
          // Occasionally the competitor is a forked OS PROCESS, so the
          // cross-process validate→publish window runs against random
          // mid-sequence table states, not just the choreographies of
          // the dedicated race specs.
          src.append(slice(rng))
          val (tFmt, tPath) = if (topo == "bi") (biTgt, pathA) else (fmtA, pathA)
          val shared = src.source // one instance: MOR pre-compaction must not race itself
          def syncRetry(f: => Unit): Unit = {
            var n = 0
            var done = false
            while (!done) {
              try { f; done = true } catch {
                case _: graft.model.ConcurrentSyncException if n < 30 =>
                  n += 1; Thread.sleep(25L * n)
              }
            }
          }
          val forked = srcFmt != "hudi-mor" && rng.nextInt(6) == 0
          if (forked) {
            trace.append("(fork)")
            val javaBin = s"${System.getProperty("java.home")}/bin/java"
            val cp = System.getProperty("java.class.path")
            val addOpens = Seq(
              "java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio",
              "java.base/java.util", "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs",
              "java.base/sun.security.action", "java.base/sun.util.calendar"
            ).flatMap(x => Seq("--add-opens", s"$x=ALL-UNNAMED"))
            val cmd = Seq(javaBin) ++ addOpens ++ Seq(
              "-Xmx2g", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.sync.FuzzRaceSyncMain",
              srcFmt, s"$dir/src", tFmt, tPath)
            import scala.jdk.CollectionConverters._
            val p = new ProcessBuilder(cmd.asJava)
              .redirectErrorStream(true)
              .redirectOutput(ProcessBuilder.Redirect.to(
                new java.io.File(s"$dir/racesync-$i.log")))
              .start()
            syncRetry(SyncEngine.sync(shared, SyncEngine.targetFor(spark, tFmt, tPath)))
            assert(p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES),
              s"racesync fork did not finish\n$trace")
            val log = scala.io.Source.fromFile(s"$dir/racesync-$i.log").mkString
            assert(p.exitValue == 0 && log.contains("RACE-DONE"),
              s"racesync fork failed\n$trace\n${log.takeRight(3000)}")
          } else {
            val racerErr =
              new java.util.concurrent.atomic.AtomicReference[Throwable](null)
            val racer = new Thread(() =>
              try syncRetry(
                SyncEngine.sync(shared, SyncEngine.targetFor(spark, tFmt, tPath)))
              catch { case e: Throwable => racerErr.set(e) })
            racer.start()
            syncRetry(SyncEngine.sync(shared, SyncEngine.targetFor(spark, tFmt, tPath)))
            racer.join()
            if (racerErr.get != null)
              fail(s"racesync competitor blew up\n$trace", racerErr.get)
          }
          // exactly-once files: a stale plan that slipped the CAS would
          // register a source file twice and double-count its rows
          val paths = tFmt match {
            case "delta" => DeltaTable.forPath(spark, tPath).snapshotDataFiles().map(_.physicalPath)
            case "iceberg" => IcebergTable.forPath(spark, tPath).snapshotDataFiles().map(_.physicalPath)
            case "hudi" => HudiTable.forPath(spark, tPath).snapshotDataFiles().map(_.physicalPath)
          }
          assert(paths.distinct.size == paths.size,
            s"duplicate live files on raced $tFmt target\n$trace\n${paths.sorted.mkString("\n")}")
        case "racemut" =>
          // DIRECT-mutation race: two writers hit the SOURCE table at
          // once — this thread appends while a racer runs a single-shot
          // mutation (upsert / delete / widen, whatever the format
          // has). Both retry loops catch ONLY ConcurrentSyncException:
          // the round-13 contract is that EVERY commit CAS loss —
          // single-shot DDL/mutation entry points included, not just
          // the sync plane — signals with the one structural type, so
          // an untyped IllegalArgument/IllegalState from a lost race
          // fails the seed here.
          def mutRetry(f: => Unit): Unit = {
            var n = 0
            var done = false
            while (!done) {
              try { f; done = true } catch {
                case _: graft.model.ConcurrentSyncException if n < 30 =>
                  n += 1; Thread.sleep(25L * n)
              }
            }
          }
          val choices = Seq("upsert", "delete", "widen", "analyze").filter {
            case "widen" => src.cols.contains("qty") && !src.qtyWide
            case "analyze" => true // racing REGISTRATIONS vs appends
            case m => src.caps(m)
          }
          val mut = if (choices.isEmpty) "append"
            else choices(rng.nextInt(choices.size))
          trace.append(s"($mut)")
          val mutDf = mut match {
            case "upsert" => slice(rng).withColumn("price", col("price") + 500.0)
              .localCheckpoint() // plan built on THIS thread; racer only executes
            case "delete" =>
              val m = 19 + rng.nextInt(5)
              pool.filter(col("k") % m === rng.nextInt(m)).select("k").localCheckpoint()
            case _ => slice(rng).localCheckpoint()
          }
          val mutErr = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
          val mutator = new Thread(() =>
            try mutRetry(mut match {
              case "upsert" => src.upsert(mutDf)
              case "delete" => src.delete(mutDf)
              case "widen" => src.widen()
              case "analyze" => analyzeSrc()
              case _ => src.append(mutDf)
            })
            catch { case e: Throwable => mutErr.set(e) })
          mutator.start()
          mutRetry(src.append(slice(rng)))
          mutator.join()
          if (mutErr.get != null)
            fail(s"racemut $mut aborted untyped (CAS losses must throw " +
              s"ConcurrentSyncException)\n$trace", mutErr.get)
        case "widen" =>
          // metadata-only int→long widen of the qty column, riding the
          // canonical schema through every sync topology; once wide it
          // degrades to a plain append so the op stays total. The
          // follow-up row carries a value beyond int range, proving the
          // widened width reaches every target losslessly.
          if (src.qtyWide || !src.cols.contains("qty")) src.append(slice(rng))
          else {
            src.widen()
            val row = pool.limit(1).select(
              lit(injectKey).as("k"),
              lit(null).cast("double").as("price"),
              lit("wide").as("status"),
              lit(4000000000L).as("qty"),
              lit("urgent").as("part"))
            injectKey -= 1
            src.append(row)
          }
        case "crashsink" =>
          // exactly-once SINK under a RANDOMIZED crash window (st03's
          // fixture pins the choreographed version): stream a slice
          // into a throwaway table of a random format in single-file
          // micro-batches, crash by deleting the newest 1-2 checkpoint
          // commit markers (the sink-committed / checkpoint-stale
          // window), sometimes land a DIRECT append in the gap (the
          // fence must resolve through foreign commits), restart — the
          // replayed batches must no-op or the count inflates.
          val sinkFmt = fmts(rng.nextInt(3))
          val sdir = s"$dir/crashsink-$i"
          val batch = slice(rng).localCheckpoint()
          val nb = batch.count()
          batch.repartition(2 + rng.nextInt(3)).write.parquet(s"$sdir/in")
          def runSink(): Unit = {
            val q = spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(s"$sdir/in")
              .writeStream.format("graft").option("format", sinkFmt)
              .option("checkpointLocation", s"$sdir/ckpt")
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start(s"$sdir/t")
            try require(q.awaitTermination(300000), s"crashsink stream hung\n$trace")
            finally q.stop()
          }
          runSink()
          val commits = new org.apache.hadoop.fs.Path(s"$sdir/ckpt/commits")
          val cfs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val markers = cfs.listStatus(commits).map(_.getPath)
            .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
          val depth = 1 + rng.nextInt(math.min(2, markers.length))
          markers.takeRight(depth).foreach(m => require(cfs.delete(m, false)))
          val interleaved = rng.nextBoolean()
          var extra = 0L
          if (interleaved) {
            val add = slice(rng).localCheckpoint()
            extra = add.count()
            sinkFmt match {
              case "delta" => DeltaTable.forPath(spark, s"$sdir/t").append(add, Seq.empty)
              case "iceberg" => IcebergTable.forPath(spark, s"$sdir/t").append(add)
              case _ => HudiTable.forPath(spark, s"$sdir/t").append(add)
            }
          }
          runSink()
          val got = readAs(sinkFmt, s"$sdir/t").count()
          assert(got == nb + extra,
            s"crashsink fence failed: expected ${nb + extra} rows, got $got " +
              s"(fmt=$sinkFmt depth=$depth interleaved=$interleaved)\n$trace")
          trace.append(s"($sinkFmt,d$depth${if (interleaved) ",ix" else ""})")
        case "analyze" =>
          // ANALYZE riding the mix on EVERY source format: Iceberg
          // lands Puffin entries in table metadata, Delta registers
          // through a props commit, Hudi through a zero-write commit's
          // extraMetadata — all carried to every target by the NEXT
          // sync (adoption), and the per-op invariant must hold
          // through every later restore / rollback / expiry / rename /
          // race / re-sync. Besides "k", the current price column
          // rides along so renames cross analyzed columns.
          analyzeSrc()
        case "upsert" => src.upsert(slice(rng).withColumn("price", col("price") + 1000.0))
        case "delete" =>
          // never empty the table: delete a sparse key set
          val m = 17 + rng.nextInt(7)
          src.delete(pool.filter(col("k") % m === rng.nextInt(m)).select("k"))
        case "overwrite" => src.overwrite(slice(rng, dense = true))
        case "compact" => src.compact()
        case "addcol" =>
          if (src.cols.contains("extra")) src.append(slice(rng))
          else src.addColumn(slice(rng).withColumn("extra", col("k") * 2))
        case "rename" =>
          val from = if (src.cols.contains("price")) "price" else "price2"
          val to = if (from == "price") "price2" else "price"
          src.renameColumn(from, to)
        case "specevolve" =>
          val cur = src.df
          val to = if (rng.nextBoolean()) Seq("status") else Seq("part")
          src.evolveSpec(to, cur.localCheckpoint())
        case "branch" => src.branchPublish(slice(rng))
        case "retire" =>
          src.retire()
          val keep = src.surviving(history.map(_._1).toSeq).toSet
          history.filterInPlace(h => keep(h._1))
        case "restore" =>
          // roll back to a random earlier recorded state — including
          // across addcol/rename/spec-evolve: the adapter's schema
          // state recorded at the marker rolls back with it. Markers
          // after it leave the travelable history (iceberg truncates
          // its snapshot log; hudi revokes the instants; delta RESTORE
          // is a new version so prior versions all stay readable)
          val targetIdx = rng.nextInt(history.size - 1)
          val target = history(targetIdx)._1
          trace.append(s"->$target")
          src.restoreTo(target)
          src.restoreSchemaState(history(targetIdx)._3)
          if (srcFmt != "delta") history.takeInPlace(targetIdx + 1)
      }
      syncAll()
      compare(s"$i:$op")
      statsInvariant(s"$i:$op")
      record()
    }
    // time-travel audit: every surviving marker still answers exactly
    // what it answered when it was current
    history.foreach { case (v, expected, _) =>
      assert(snap(src.dfAsOf(v)) == expected,
        s"time travel to $v drifted after the op mix\n$trace")
    }
    plannerAudit()
    }
  }

  private val fuzzN = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(8)
  /** Seed-range offset: `GRAFT_FUZZ_OFFSET=100 GRAFT_FUZZ_N=100` runs
    * seeds 101-200 — a second gate batch explores genuinely NEW
    * sequences instead of re-proving the standard 1-100 range
    * (SplitMix64 scrambling keeps any range well-distributed). */
  private val fuzzOffset = sys.env.get("GRAFT_FUZZ_OFFSET").map(_.toInt).getOrElse(0)

  (fuzzOffset + 1 to fuzzOffset + fuzzN).foreach { seed =>
    test(s"fuzz sequence seed=$seed") { runSequence(seed.toLong) }
  }

  test("null-key injection into a keyed hudi table refuses; table stays syncable") {
    // the injection the un-keyed fuzz sources can't express: a keyed
    // MOR table must REFUSE a null record key at every write (the
    // routing join and merged-read window both silently corrupt on
    // null keys otherwise) — and the refused write must leave no
    // commit behind, so the table still syncs cleanly afterwards
    val dir = tmpDir("fuzz_nullkey")
    val base = pool.filter(col("k") % 3 === 0)
    val t = HudiTable.createMor(spark, s"$dir/src", base, "k")
    val poisoned = base.limit(3).select(
      lit(null).cast("long").as("k"), col("price"), col("status"), col("qty"), col("part"))
    val e = intercept[Throwable](t.upsert(base.limit(2).unionByName(poisoned)))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("null record key"), msgs)
    val e2 = intercept[Throwable](t.append(poisoned))
    val msgs2 = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs2.contains("null record key"), msgs2)
    // nothing committed by the refused writes; the table still syncs
    SyncEngine.sync(SyncEngine.hudiSource(t), SyncEngine.icebergTarget(spark, s"$dir/tgt"))
    val got = graft.iceberg.IcebergTable.forPath(spark, s"$dir/tgt").toDF()
    assert(got.count() == base.count())
  }

  test("mixed-spec iceberg source refuses sync until rewritten onto one spec") {
    val dir = tmpDir("fuzz_mixedspec")
    val t = IcebergTable.create(spark, s"$dir/src",
      pool.filter(col("k") % 3 === 0), Seq("part"))
    t.evolvePartitionSpec(Seq("status"))
    t.append(pool.filter(col("k") % 3 === 1))
    val e = intercept[IllegalArgumentException] {
      SyncEngine.sync(
        SyncEngine.icebergSource(t), SyncEngine.deltaTarget(spark, s"$dir/tgt"))
    }
    assert(e.getMessage.contains("multiple partition specs"))
  }
}
