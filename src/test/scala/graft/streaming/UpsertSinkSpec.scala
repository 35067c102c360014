package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  test("multi-batch upsert converges to batch keep-latest, versions persist") {
    val work = graft.io.TempDirs.create("upsert_spec").toString
    val rows = Seq(
      (1L, "a", ts("2024-01-01 00:00:00"), 1L),
      (1L, "b", ts("2024-01-02 00:00:00"), 2L), // later — must win
      (2L, "x", ts("2024-01-05 00:00:00"), 3L),
      (2L, "y", ts("2024-01-05 00:00:00"), 4L), // same ts — id breaks tie
      (3L, "z", ts("2024-01-01 00:00:00"), 5L))
      .toDF("user_id", "event_type", "ts", "event_id")
    // one file per row => 5 micro-batches; rows scattered so "latest"
    // arrives in assorted batch positions
    rows.repartition(5).write.parquet(s"$work/in")
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
    val got = UpsertSink.runLatestPerKey(spark, stream,
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        stateBase = s"$work/state")
      .select($"user_id", $"event_type")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "b"), (2L, "y"), (3L, "z")))
    // copy-on-write versions exist but history is PRUNED to the
    // retention cap (init + 5 batches would otherwise leave 6 dirs)
    val versions = new java.io.File(s"$work/state").list()
      .count(_.matches("v\\d+"))
    assert(versions == 2, s"expected exactly keepVersions=2 dirs, saw $versions")
  }

  test("single-key stream of updates keeps only the newest row") {
    val work = graft.io.TempDirs.create("upsert_spec2").toString
    val rows = (1L to 8L).map(i =>
        (42L, s"v$i", ts(f"2024-01-0${i}%d 00:00:00"), i))
      .toDF("user_id", "event_type", "ts", "event_id")
    rows.repartition(4).write.parquet(s"$work/in")
    val stream = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
    val got = UpsertSink.runLatestPerKey(spark, stream,
        keys = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        stateBase = s"$work/state")
      .as[(Long, String, java.sql.Timestamp, Long)].collect().toSeq
    assert(got == Seq((42L, "v8", ts("2024-01-08 00:00:00"), 8L)))
  }
}
