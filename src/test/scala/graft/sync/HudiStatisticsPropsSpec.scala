package graft.sync

import java.time.Instant

import graft.SparkTestBase
import graft.hudi.{HudiCommitMetadata, HudiInstant, HudiTable, HudiTimeline}

/** Differential spec for the Hudi source's statistics pointers: the
  * one-walk resolution that keeps what it proved between calls must
  * answer every version exactly as three independent newest-first walks
  * do (the rule it replaced, inlined here as the oracle). */
class HudiStatisticsPropsSpec extends SparkTestBase {

  private val Native = HudiTable.StatsPathKey
  private val Carried = SyncEngine.StatsPathProp
  private val Partition = SyncEngine.PartitionStatsPathProp

  /** Per key, the newest completed data instant at or below `version`
    * carrying it; a native pointer anywhere beats a carried one. */
  private def oracle(t: HudiTable, version: String): Map[String, String] = {
    def at(key: String): Option[String] =
      t.timeline.completedInstants()
        .filter(i => Set("commit", "replacecommit", "deltacommit").contains(i.action))
        .filter(_.time <= version)
        .reverseIterator
        .flatMap(i => t.timeline.readCommitMetadata(i).extraMetadata.get(key))
        .nextOption()
    at(Native).orElse(at(Carried))
      .map(p => Map(Carried -> p)).getOrElse(Map.empty) ++
      at(Partition).map(p => Map(Partition -> p)).getOrElse(Map.empty)
  }

  private val base = Instant.parse("2024-05-01T00:00:00Z")
  private def time(s: Int): String = HudiTimeline.formatInstant(base.plusSeconds(s.toLong))

  private def commit(t: HudiTable, at: Int, extra: (String, String)*): Unit =
    assert(t.timeline.commit(HudiInstant(time(at), "commit"),
      HudiCommitMetadata(Map.empty, Map.empty, extra.toMap, "INSERT")))

  test("statisticsProps answers every version as the three-walk rule does") {
    val t = HudiTable.forPath(spark, s"${tmpDir("hudi_stats_props")}/t")
    t.timeline.writeProperties(Map("hoodie.table.name" -> "t"))
    // seconds 10..100: none, partition only, carried only, then a native
    // registration OLDER than a carried one, and registrations after
    // the early versions
    commit(t, 10)
    commit(t, 20, Partition -> "p20")
    commit(t, 30, Carried -> "c30")
    commit(t, 40)
    commit(t, 50, Native -> "n50")
    commit(t, 60, Carried -> "c60")
    commit(t, 70, Partition -> "p70")
    commit(t, 80)
    commit(t, 90, Native -> "n90", Partition -> "p90")
    commit(t, 100, Carried -> "c100")
    val source = SyncEngine.hudiSource(t)
    def check(version: String): Unit =
      assert(source.statisticsProps(version) == oracle(t, version), s"at version $version")

    // ascending, one instant at a time and between instants
    Seq(5, 10, 20, 25, 30, 40, 50, 60, 70, 80, 90, 100, 110).foreach(s => check(time(s)))
    // below the last version, then ascending again from there
    Seq(45, 65, 95, 30, 100).foreach(s => check(time(s)))

    // a commit completing late, below the last answered version, and a
    // new registration after it
    check(time(100))
    commit(t, 75, Partition -> "p75")
    commit(t, 120, Native -> "n120")
    Seq(100, 110, 120, 130).foreach(s => check(time(s)))

    // rolling back the instant a kept answer came from
    t.timeline.deleteInstant(HudiInstant(time(120), "commit"))
    Seq(130, 140).foreach(s => check(time(s)))
    t.timeline.deleteInstant(HudiInstant(time(90), "commit"))
    check(time(140))
    assert(oracle(t, time(140)) == Map(Carried -> "n50", Partition -> "p75"))
  }
}
