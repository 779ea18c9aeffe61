package graft.delta

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/**
 * Row-level mutations on tables whose partition VALUES need hive
 * escaping ('=', '%', ':', ' ') — the path family the fuzzer broke:
 * deleteWhere's metadata-driven scan fed URI-re-encoded paths to the
 * file index, so the executors looked for `part=x%253Dy` instead of
 * `part=x%3Dy` (pinned from CrossFormatFuzzSpec seed 11, round 8).
 */
class DeltaEscapedPartitionMutationSpec extends SparkTestBase {

  private def mk(dir: String): DeltaTable = {
    import spark.implicits._
    val df = Seq(
      (1L, "x=y", 10.0), (2L, "x=y", 20.0),
      (3L, "a b", 30.0), (4L, "pct%25", 40.0),
      (5L, "dot.:colon", 50.0), (6L, "plain", 60.0)).toDF("k", "part", "price")
    DeltaTable.create(spark, s"$dir/t", df, Seq("part"))
  }

  test("DV delete, upsert, and purge work on escapable partition values") {
    val dir = tmpDir("esc_mut")
    val t = mk(dir)
    assert(t.toDF().count() == 6)
    // predicate delete marks rows via the metadata-driven position scan
    t.delete(col("k") === 1L || col("k") === 4L)
    assert(t.toDF().select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L, 5L, 6L))
    // upsert: matched keys in hostile partitions replaced, inserts land
    import spark.implicits._
    t.upsert(Seq((2L, "x=y", 99.0), (7L, "x=y", 70.0)).toDF("k", "part", "price"), Seq("k"))
    val back = t.toDF().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(back == Map(2L -> 99.0, 3L -> 30.0, 5L -> 50.0, 6L -> 60.0, 7L -> 70.0), s"got $back")
    // purge rewrites DV-carrying files; reads stay identical
    t.purgeDeletes()
    val purged = t.toDF().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(purged == back, s"purge changed results: $purged")
    assert(t.scan.files().count(_.deletionVector.isDefined) == 0)
  }

  test("CDF on escapable partitions records change rows readably") {
    val dir = tmpDir("esc_cdf")
    import spark.implicits._
    val t = DeltaTable.create(spark, s"$dir/t",
      Seq((1L, "x=y"), (2L, "a b")).toDF("k", "part"), Seq("part"))
    t.setProperties(Map("delta.enableChangeDataFeed" -> "true"))
    val v0 = t.latestVersion
    t.delete(col("k") === 1L)
    val feed = t.changeFeed(v0, t.latestVersion)
    assert(feed.filter(col("_change_type") === "delete").count() == 1)
  }
}
