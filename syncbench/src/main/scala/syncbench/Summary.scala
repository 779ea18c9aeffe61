package syncbench

/** The benchmark's summary arithmetic, kept free of Spark so the
  * self-test can pin it down exactly. */
object Summary {

  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Double] = Seq(0.999, 0.99, 0.9)

  /** A tail is reported only when at least this many samples lie beyond it. */
  val MinBeyond = 10

  /** Nearest-rank percentile: the smallest sample with at least a `q`
    * share of the samples at or below it. */
  def percentile(sorted: IndexedSeq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(rank(sorted.size, q) - 1)
  }

  /** 1-based nearest rank of percentile `q` among `n` samples. */
  def rank(n: Int, q: Double): Int =
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))

  /** Samples strictly beyond the nearest rank of `q`. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** The highest candidate percentile with at least [[MinBeyond]]
    * samples beyond it, with its value. */
  def tail(sorted: IndexedSeq[Double]): Option[(Double, Double)] =
    TailCandidates.find(q => beyond(sorted.size, q) >= MinBeyond)
      .map(q => q -> percentile(sorted, q))

  final case class Dist(n: Int, p50: Double, tail: Option[(Double, Double)]) {
    /** `p50 12.3 ms (n=40), p90 20.1 ms (4 beyond)` style rendering. */
    def render(unit: String): String = {
      val t = tail.map { case (q, v) =>
        f", p${q * 100}%.4g $v%.3f $unit (${beyond(n, q)} beyond)"
      }.getOrElse(", no tail (fewer than 10 samples beyond p90)")
      f"p50 $p50%.3f $unit (n=$n)$t"
    }
  }

  def dist(samples: Seq[Double]): Dist = {
    val s = samples.toIndexedSeq.sorted
    Dist(s.size, if (s.isEmpty) Double.NaN else percentile(s, 0.5), tail(s))
  }

  def median(samples: Seq[Double]): Double = dist(samples).p50

  /** Failures as a share of ATTEMPTED operations (a failed operation is
    * attempted, never completed). */
  def failedRatio(attempted: Long, failed: Long): Double = {
    require(attempted > 0, "no operation attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted attempted")
    failed.toDouble / attempted
  }

  /** Self time of a span over `[start, end)`: its duration minus the part
    * of that interval its children cover (overlapping children count
    * once; parts of a child outside the span count not at all). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
