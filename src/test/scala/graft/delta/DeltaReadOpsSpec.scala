package graft.delta

import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.util.CountedLocalFileSystem

/** One Delta read operation resolves one snapshot: it lists `_delta_log`
  * at most once and opens each JSON commit at most once, and each
  * checkpoint part at most twice (once for the metaData/protocol header,
  * once for the adds). Measured on a 9-commit table read through the
  * `counted` scheme, JSON-only and behind a classic, multi-part and V2
  * checkpoint. Plans are built, not executed: data files are not opened
  * while planning. */
class DeltaReadOpsSpec extends SparkTestBase {

  /** Checkpoint layouts: how to checkpoint the table after commit 5. */
  private val layouts: Seq[(String, Option[DeltaTable => Unit])] = Seq(
    "JSON-only" -> None,
    "classic checkpoint" -> Some(_.checkpoint()),
    "multi-part checkpoint" -> Some(_.checkpoint(parts = 2)),
    "V2 checkpoint" -> Some(_.checkpointV2()))

  /** Versions 0..8, ten rows each, with `layout` applied after v5 (the
    * V2 upgrade takes v6 itself). Returns the counted table path. */
  private def nineCommits(layout: Option[DeltaTable => Unit]): String = {
    val local = s"${tmpDir("delta_read_ops")}/t"
    def rows(i: Int) = spark.range(i * 10L, i * 10L + 10).withColumn("k", col("id") % 3)
    val t = DeltaTable.create(spark, local, rows(0))
    (1 to 5).foreach(i => t.append(rows(i), Seq.empty))
    layout.foreach(_(t))
    while (t.latestVersion < 8) t.append(rows(t.latestVersion.toInt + 1), Seq.empty)
    assert(t.log.lastCheckpoint().isDefined == layout.isDefined)
    CountedLocalFileSystem.path(spark.sparkContext.hadoopConfiguration, local)
  }

  private def ops(path: String): Seq[(String, () => Any)] = {
    def t = DeltaTable.forPath(spark, path)
    Seq(
      "toDF()" -> (() => t.toDF()),
      "toDF(Some(3))" -> (() => t.toDF(Some(3))),
      "scan.range(...).toDF()" -> (() => t.scan.range("id", Some(20), Some(45)).toDF()),
      "format(\"graft\") plan" -> (() =>
        spark.read.format("graft").load(path).filter(col("id") > 30).queryExecution.analyzed),
      "snapshotDataFiles()" -> (() => t.snapshotDataFiles()),
      "changesAsDF(5, 8)" -> (() => t.changesAsDF(5, 8)),
      "detail()" -> (() => t.detail()))
  }

  layouts.foreach { case (label, layout) =>
    test(s"delta read ops list the log once and open each metadata file once: $label") {
      val path = nineCommits(layout)
      val log = s"${new org.apache.hadoop.fs.Path(path).toUri.getPath}/_delta_log"
      val broken = ops(path).flatMap { case (name, op) =>
        val (_, calls) = CountedLocalFileSystem.calls(op())
        val listings = calls.count(c => c._1 == "list" && c._2 == log)
        val opens = calls.collect { case ("open", p) if p.startsWith(log) => p }
          .groupBy(identity).map { case (p, n) => p.stripPrefix(s"$log/") -> n.size }
        info(s"$name: $listings listing(s), opens ${opens.toSeq.sorted.mkString(", ")}")
        val commitsOpened = opens.filter(_._1.matches("\\d{20}\\.json"))
        val partsOpened =
          opens.filter(o => o._1.contains(".checkpoint.") || o._1.startsWith("_sidecars/"))
        Seq(
          (listings > 1) -> s"listed _delta_log $listings times",
          commitsOpened.exists(_._2 > 1) -> s"opened a JSON commit more than once: $commitsOpened",
          partsOpened.exists(_._2 > 2) -> s"opened a checkpoint part more than twice: $partsOpened",
          (layout.isDefined && name != "toDF(Some(3))" &&
            commitsOpened.keys.exists(_ < f"${5L}%020d.json")) ->
            s"read a commit the checkpoint covers: $commitsOpened"
        ).collect { case (true, why) => s"$name $why" }
      }
      assert(broken.isEmpty, s"($label)\n${broken.mkString("\n")}")
    }
  }
}
