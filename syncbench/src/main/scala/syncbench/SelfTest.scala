package syncbench

import java.io.File

/**
 * Self-test of the benchmark's own summary code, then the decorator
 * parity check on a small synthetic table:
 *
 *   syncbench.SelfTest --work <dir>
 *
 * Exits 1 on the first failed assertion.
 */
object SelfTest {
  private var checks = 0

  private def expect(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) throw new AssertionError(s"self-test failed: $what")
  }

  def summary(): Unit = {
    import Summary._
    val hundred = (1 to 100).map(_.toDouble)
    // nearest rank: p50 of 1..100 is 50, p90 is 90
    expect(percentile(hundred, 0.5) == 50.0, "p50 of 1..100 is 50")
    expect(percentile(hundred, 0.9) == 90.0, "p90 of 1..100 is 90")
    expect(percentile(IndexedSeq(7.0), 0.99) == 7.0, "any percentile of one sample is that sample")
    // the tail rule: the highest percentile with at least 10 samples beyond
    expect(beyond(100, 0.9) == 10, "10 samples lie beyond p90 of 100")
    expect(tail(hundred) == Some(0.9 -> 90.0), "100 samples report p90")
    expect(tail((1 to 99).map(_.toDouble)).isEmpty, "99 samples report no tail")
    val thousand = (1 to 1000).map(_.toDouble)
    expect(tail(thousand) == Some(0.99 -> 990.0), "1000 samples report p99, not p90")
    expect(tail((1 to 10000).map(_.toDouble)) == Some(0.999 -> 9990.0), "10000 samples report p99.9")
    // sample counts travel with the distribution
    val d = dist(Seq(3.0, 1.0, 2.0))
    expect(d.n == 3 && d.p50 == 2.0 && d.tail.isEmpty, "dist of three samples: n=3, p50=2, no tail")
    expect(d.render("ms").contains("(n=3)"), "rendered distribution shows its sample count")
    // failures count against attempts, not completions
    expect(failedRatio(attempted = 10, failed = 1) == 0.1, "1 failed of 10 attempted is 0.1")
    expect(failedRatio(attempted = 4, failed = 4) == 1.0, "all failed is 1.0")
    expect(scala.util.Try(failedRatio(0, 0)).isFailure, "no attempts has no ratio")
    // self time: duration minus the union of the children, clipped
    expect(selfTime(0, 100, Nil) == 100, "a leaf's self time is its duration")
    expect(selfTime(0, 100, Seq((10, 20), (30, 50))) == 70, "disjoint children subtract")
    expect(selfTime(0, 100, Seq((10, 40), (30, 50))) == 60, "overlapping children count once")
    expect(selfTime(0, 100, Seq((-10, 20), (90, 130))) == 70, "children clip to the span")
    expect(selfTime(0, 100, Seq((0, 100))) == 0, "a fully covered span has no self time")
    // an operation that throws is counted and its time dropped
    val log = new OpLog
    log.attempt("x")(1)
    log.attempt("x")(throw new RuntimeException("boom"))
    expect(log.attempted == 2 && log.failed == 1 && log.series("x").size == 1,
      "a thrown operation counts as attempted and failed, with no latency sample")
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val work = new File(argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work")))
    summary()
    println(s"summary self-test: $checks checks passed")
    Fs.deleteRecursively(work)
    work.mkdirs()
    val spark = graft.GraftSession.builder(s"local[${Main.Cores}]", Main.Cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try ParityCheck.run(Ctx(spark, new Tracer(spark.sparkContext, true), work, 1L, 1))
    finally { spark.stop(); Fs.deleteRecursively(work) }
  }
}
