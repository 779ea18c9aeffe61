package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout rendition: failed queries render as JSON null,
  * and the degradation ladder drops the setup extras before the
  * per-query map as the query count grows. */
class BenchSpec extends AnyFunSuite {

  private def fakeTimes(n: Int): Seq[(String, Option[Double])] =
    (1 to n).map(i => f"q$i%03d_fake_query" -> Some(0.05 + i * 0.37))

  private def rungs(times: Seq[(String, Option[Double])]) =
    Bench.stdoutRungs("/data/sf0.1", 123.456, 0.31, 41.0, 7.25, times)

  test("stdout ladder over 200 fake queries: first rung that fits, in order") {
    val picked = (1 to 200).map { n =>
      val rs = rungs(fakeTimes(n))
      assert(rs.size == 3)
      val rung = rs.indexOf(Bench.stdoutLine(rs))
      assert(rs(rung).length <= Bench.StdoutBudget, s"$n queries overflow the budget")
      // no better rung would have fit
      assert(rs.take(rung).forall(_.length > Bench.StdoutBudget))
      rung
    }
    // rungs only ever degrade as queries are added, and each one is used
    assert(picked == picked.sorted, s"ladder went back up: $picked")
    assert(picked.distinct == Seq(0, 1, 2))
    val last = rungs(fakeTimes(200))(2)
    assert(last.startsWith("""{"metric":"total","value":123.46,"unit":"sec","sf":"/data/sf0.1""""))
    assert(last.contains(""","cal":0.31,"fix":41,"idx":7.3,"""))
    assert(last.endsWith(""""queries_file":"BENCH.json","query_count":200}"""))
    // the middle rung drops only the setup extras
    val mid = rungs(fakeTimes(120))
    assert(mid(1) == mid(0).replaceFirst(""","cal":[^,]*,"fix":[^,]*,"idx":[^,]*""", ""))
  }

  test("a failed query is null in the query map") {
    val times = Seq("a01_x" -> Some(0.5), "b02_y" -> None, "c03_z" -> Some(1.25))
    assert(Bench.queryMap(times, identity, Bench.num(_, 2)) ==
      """{"a01_x":0.50,"b02_y":null,"c03_z":1.25}""")
    assert(rungs(times).head.endsWith(""""queries":{"a01":0.5,"b02":null,"c03":1.3}}"""))
  }

  test("short keys are unique; colliding prefixes take the next segment's letter") {
    val names = Seq("x04_hudi_to_iceberg_sync", "x04_tri_format_equality", "d01_exact_dedup",
      "s01_ab", "s01_ac")
    val keys = Bench.shortKeys(names)
    assert(keys == Map(
      "x04_hudi_to_iceberg_sync" -> "x04_h", "x04_tri_format_equality" -> "x04_t",
      "d01_exact_dedup" -> "d01", "s01_ab" -> "s01_ab", "s01_ac" -> "s01_ac"))
  }
}
