package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamingJoinSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("stream-stream interval join matches the batch interval join") {
    val events = graft.Tables.eventsStream(spark, sfDir)
    val clicks = events.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("cts"))
      .withWatermark("cts", "1 hour")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user_id"),
              $"ts".as("pts"))
      .withWatermark("pts", "1 hour")
    val joined = StreamingFlows.intervalJoin(clicks, purchases,
        "user_id", "p_user_id", "cts", "pts", "1 HOUR")
      .select($"click_id", $"purchase_id")
    val got = StreamingFlows.runAvailableNow(spark, joined, "sj_test")
      .as[(Long, Long)].collect().toSet

    val ev = graft.Tables.events(spark, sfDir)
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("cts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user_id"),
              $"ts".as("pts"))
    val expected = c.join(p,
        $"user_id" === $"p_user_id" &&
          $"pts" >= $"cts" - expr("INTERVAL 1 HOUR") && $"pts" <= $"cts")
      .select($"click_id", $"purchase_id")
      .as[(Long, Long)].collect().toSet

    assert(got == expected)
    assert(got.nonEmpty)
  }
}
