package graft.delta

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Per-table record-key index for EXACT Delta MERGE routing — the Delta
 * twin of the Hudi record-level index (same sharded-log shape as Hudi
 * RFC-37, re-expressed as plain parquet batches under
 * `_graft/index/`). Range pruning over per-file key min/max is a sound
 * but loose over-approximation: on a 100-TB table whose file key
 * ranges interleave, every file stays a MERGE candidate. The index
 * routes by exact membership instead.
 *
 * ## Contract: over-approximation by construction
 *
 * Entries are `(key, file)` pairs: "file MAY hold key". Routing
 * intersects index hits with the CURRENT snapshot's live file set, so
 * removed/rewritten files drop out with no tombstone bookkeeping, and
 * a stale entry can only ever ADD a candidate, never hide one. The
 * exactness guarantee ("a live file not hit by any incoming key holds
 * none of them") needs every live file's keys present — enforced by
 * the coverage fence: every table version after the build whose commit
 * ADDS data files must carry an index batch (written by the post-commit
 * maintenance read-back). A version that slipped past maintenance — a
 * crash between commit and batch write, an external writer, an expired
 * log segment that can no longer be audited — fails the fence and
 * MERGE falls back to range pruning. Fallback is always correct; the
 * index is an accelerator, never a correctness dependency.
 *
 * Layout:
 * {{{
 *   _graft/index/config.json            # {"keyCol":…,"buildVersion":N}
 *   _graft/index/batches/v<ver>_<uuid>/ # parquet: (key string, file string)
 * }}}
 */
object DeltaKeyIndex {

  final case class Config(
      keyCol: String,
      buildVersion: Long,
      /** Catalog string of the key column's type AT BUILD TIME. The
        * stored entry strings are casts of table-typed values, so a
        * metadata-only type change (replaceSchema long→double) changes
        * probe formatting ("1" vs "1.0") without any AddFile the fence
        * could catch — routing refuses when the current type differs. */
      keyType: Option[String] = None,
      /** spark.sql.session.timeZone at build time: a TimestampType key
        * formats through it, so probes from a session in another zone
        * would silently miss stored strings. */
      timeZone: Option[String] = None)

  private def indexDir(tablePath: String) = new Path(tablePath, "_graft/index")
  private def configPath(tablePath: String) = new Path(indexDir(tablePath), "config.json")
  private def batchesDir(tablePath: String) = new Path(indexDir(tablePath), "batches")

  def readConfig(conf: Configuration, tablePath: String): Option[Config] = {
    val p = configPath(tablePath)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val s = graft.util.MetaFiles.readUtf8(fs, p)
    def field(k: String): Option[String] =
      s""""$k"\\s*:\\s*("([^"]*)"|(\\d+))""".r.findFirstMatchIn(s)
        .map(m => Option(m.group(2)).getOrElse(m.group(3)))
    for { k <- field("keyCol"); v <- field("buildVersion") }
      yield Config(k, v.toLong, field("keyType"), field("timeZone"))
  }

  /** Legacy-config repair: a config written before the build-format
    * fence existed carries `keyType=None`, which would otherwise fail
    * `formatStable` FOREVER — every add-bearing commit skips
    * maintenance, the fence fails, and routing permanently degrades to
    * range pruning with no signal. The table's key type (and session
    * zone) at the first post-upgrade maintenance pass IS the build type
    * for any index the coverage fence still vouches for (a type change
    * since the build would have come with commits the fence audits), so
    * backfill it once and persist. */
  private[delta] def backfillFormat(
      conf: Configuration, tablePath: String, cfg: Config,
      keyType: String, timeZone: String): Config = {
    if (cfg.keyType.nonEmpty) return cfg
    val filled = cfg.copy(keyType = Some(keyType), timeZone = Some(timeZone))
    writeConfig(configPath(tablePath).getFileSystem(conf), tablePath, filled)
    filled
  }

  private def writeConfig(fs: FileSystem, tablePath: String, cfg: Config): Unit = {
    val extras = cfg.keyType.map(t => s""","keyType":"$t"""").getOrElse("") +
      cfg.timeZone.map(z => s""","timeZone":"$z"""").getOrElse("")
    graft.util.MetaFiles.replace(fs, configPath(tablePath),
      s"""{"keyCol":"${cfg.keyCol}","buildVersion":${cfg.buildVersion}$extras}"""
        .getBytes(StandardCharsets.UTF_8))
  }

  /** (version, batch dir) for every committed batch, version-sorted. */
  private def listBatches(fs: FileSystem, tablePath: String): Seq[(Long, Path)] = {
    val dir = batchesDir(tablePath)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("v")) scala.util.Try(
        n.stripPrefix("v").takeWhile(_.isDigit).toLong).toOption.map(_ -> st.getPath)
      else None
    }.sortBy(_._1)
  }

  def coveredVersions(conf: Configuration, tablePath: String): Set[Long] = {
    val fs = indexDir(tablePath).getFileSystem(conf)
    listBatches(fs, tablePath).map(_._1).toSet
  }

  /** Union of every batch's `(key, file)` entries — a distributed
    * parquet scan, metadata-scale per ROW but potentially table-scale
    * in row COUNT: always joined, never collected. Coverage-marker
    * batches (versions that moved no keys) hold no parquet and are
    * skipped. */
  def entriesDF(spark: SparkSession, tablePath: String): DataFrame = {
    val fs = indexDir(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = listBatches(fs, tablePath).map(_._2)
      .filter(d => fs.listStatus(d).exists(_.getPath.getName.endsWith(".parquet")))
      .map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("key", StringType), StructField("file", StringType))))
    else spark.read.parquet(dirs: _*).select(col("key"), col("file"))
  }

  /** Write one batch of `(key string, file string)` entries for the
    * given table version. Executor-parallel parquet write; the batch
    * dir name carries the version for the coverage fence. */
  def writeBatch(tablePath: String, version: Long, entries: DataFrame): Unit = {
    val dir = new Path(batchesDir(tablePath),
      f"v$version%020d_${java.util.UUID.randomUUID().toString.take(8)}")
    entries.select(col("key").cast(StringType).as("key"), col("file").cast(StringType).as("file"))
      .write.mode("overwrite").parquet(dir.toString)
  }

  /** Mark a version covered WITHOUT entries — for commits that move no
    * keys (DV-only deletes re-add the same paths; empty appends): an
    * empty batch dir satisfies the fence, contributes nothing to the
    * entry scan. */
  def markCovered(conf: Configuration, tablePath: String, version: Long): Unit = {
    val dir = new Path(batchesDir(tablePath),
      f"v$version%020d_${java.util.UUID.randomUUID().toString.take(8)}")
    dir.getFileSystem(conf).mkdirs(dir)
  }

  /** Wipe any previous index and install a fresh config + build batch. */
  def replaceAll(
      spark: SparkSession, tablePath: String, cfg: Config, entries: DataFrame): Unit = {
    val dir = indexDir(tablePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(batchesDir(tablePath))
    writeBatch(tablePath, cfg.buildVersion, entries)
    // config is written LAST: a crash mid-build leaves batches without a
    // config — an absent index, not a half-trusted one
    writeConfig(fs, tablePath, cfg)
  }

  def drop(conf: Configuration, tablePath: String): Unit = {
    val dir = indexDir(tablePath)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /**
   * Fold every batch into one, installed as a fresh build at `version`
   * — METADATA-ONLY (the table's data files are never re-read; the
   * entries themselves are scanned, semi-joined to the live file set to
   * shed long-dead files, and rewritten). Ordering is crash-safe by
   * over-approximation: the compacted batch lands FIRST (readers
   * briefly see duplicates — harmless), old batches drop, config moves
   * last; a crash anywhere leaves either extra entries or a failed
   * fence, never a hidden key. Assumes a single index maintainer: a
   * concurrent writer's fresh batch could be swept with the old ones,
   * which FAILS the fence (safe) rather than lying.
   */
  def compactInto(
      spark: SparkSession, tablePath: String, cfg: Config, version: Long,
      liveFiles: DataFrame): Unit = {
    val fs = indexDir(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = listBatches(fs, tablePath).map(_._2).toSet
    val compacted = entriesDF(spark, tablePath)
      .join(liveFiles.select(col("file")), Seq("file"), "left_semi")
    writeBatch(tablePath, version, compacted)
    before.foreach(p => fs.delete(p, true))
    // the build-time key type/zone carry over: compaction rewrites the
    // same strings, it never re-formats them
    writeConfig(fs, tablePath, cfg.copy(buildVersion = version))
  }

  // ------------------------------------------------------------ fence

  /** usable-verdict memo, keyed by (table, latest version): one commit
    * audit per new version, not one per routed MERGE (same shape as the
    * Hudi record-index fence memo). */
  private val fenceCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]()
  /** observable so a spec can prove the memo holds */
  private[graft] val fenceEvaluations = new java.util.concurrent.atomic.AtomicLong(0)

  private[delta] def invalidate(tablePath: String): Unit =
    fenceCache.keySet.removeIf(_._1 == tablePath)

  /**
   * The coverage fence: the index is usable iff a config exists, its
   * build batch exists, and every version in (build, latest] that adds
   * data files carries a batch. A version whose commit JSON is gone
   * (expired log) and that has no batch cannot be audited — unusable,
   * conservatively.
   */
  def usable(log: DeltaLog, conf: Configuration, tablePath: String, latest: Long): Boolean = {
    val key = (tablePath, latest)
    val cached = fenceCache.get(key)
    if (cached != null) return cached
    if (fenceCache.size > 1024) fenceCache.clear()
    val v = evalFence(log, conf, tablePath, latest)
    fenceCache.put(key, v)
    v
  }

  private def evalFence(
      log: DeltaLog, conf: Configuration, tablePath: String, latest: Long): Boolean = {
    fenceEvaluations.incrementAndGet()
    readConfig(conf, tablePath) match {
      case None => false
      case Some(cfg) =>
        val covered = coveredVersions(conf, tablePath)
        covered.contains(cfg.buildVersion) &&
          ((cfg.buildVersion + 1) to latest).forall { v =>
            covered.contains(v) ||
              scala.util.Try(log.readActions(v)).toOption
                .exists(!_.exists(_.isInstanceOf[AddFile]))
          }
    }
  }
}
