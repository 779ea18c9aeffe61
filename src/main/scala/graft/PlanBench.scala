package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Optimization-round measurement harness (guide §1): times individual
  * declared queries with EXACTLY the Bench methodology (fixtures primed
  * outside the timed region, quiesce between queries, best-of-2 across
  * whole passes, `.count()` as the timed action) and dumps each query's
  * `explain("formatted")` to a plans directory so plan claims are
  * checkable offline. Never run by the driver — Bench stays the
  * contract; this exists so before/after evidence for single queries
  * doesn't cost a full 169-query run.
  *
  * Usage: sbt "runMain graft.PlanBench q36 t06 d07"   (or "all")
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, PLAN_TAG (suffix for the
  * explain files, default "before"), PLAN_DIR (default plans/r16),
  * PLAN_PASSES (default 2).
  */
object PlanBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val tag = sys.env.getOrElse("PLAN_TAG", "before")
    val outDir = sys.env.getOrElse("PLAN_DIR", "plans/r16")
    val passes = sys.env.getOrElse("PLAN_PASSES", "2").toInt
    val all = SparkEntry.queries
    val names =
      if (args.isEmpty || args.sameElements(Array("all"))) all.keys.toSeq.sorted
      else all.keys.toSeq.sorted.filter(n => args.exists(a => n.startsWith(a)))
    require(names.nonEmpty, s"no queries match ${args.mkString(",")}")
    // PLAN_PRIME=core skips the format-plane fixture builds (for runs
    // that only measure relational/dedup/similarity/text queries, e.g.
    // the replicated-SF scaling runs, where rebuilding every format
    // fixture at 5x size would dwarf the measurement)
    val primeAll = sys.env.getOrElse("PLAN_PRIME", "all") != "core"
    val spark = GraftSession.local(cpus)
    spark.range(1000).count()
    if (primeAll) {
      graft.operators.FormatQueries.fixtureDir(spark, sfDir)
      graft.operators.IcebergQueries.fixtureDir(spark, sfDir)
      graft.operators.HudiQueries.fixtureDir(spark, sfDir)
      graft.operators.SyncQueries.fixtureDir(spark, sfDir)
    }
    graft.operators.Dedup.primeCorpusSize(spark, sfDir)
    graft.operators.Dedup.primeBucketIndex(spark, sfDir)
    graft.operators.Similarity.primeKmeans(spark, sfDir)
    graft.operators.Similarity.primeCellStore(spark, sfDir)
    graft.operators.Similarity.primeMaintStore(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    def onePass(): Map[String, Double] = names.map { name =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"planbench: $name")
      val t0 = System.nanoTime()
      // a crashed query must NOT masquerade as a (fast) valid timing:
      // record NaN and log; the emitted JSON carries "err" for it
      val elapsed =
        try { all(name)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[planbench] $name FAILED: ${e.getMessage}")
          Double.NaN
        }
      name -> elapsed
    }.toMap
    val ps = (1 to passes).map(_ => onePass())
    // plans AFTER timing so explain's analysis work isn't billed
    names.foreach { name =>
      try {
        val df = all(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_$tag.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[planbench] explain $name failed: ${e.getMessage}")
      }
    }
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val line = names.map { n =>
      val vals = ps.map(_(n)).filterNot(_.isNaN)
      if (vals.isEmpty) s""""$n":null"""
      else s""""$n":${num(vals.min)}"""
    }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"planbench":$line,"tag":"$tag"}""")
  }
}
