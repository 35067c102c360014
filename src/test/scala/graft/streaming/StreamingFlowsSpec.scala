package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

class StreamingFlowsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming daily agg over the events drop-dir matches the batch result") {
    val stream = graft.Tables.eventsStream(spark, sfDir)
    val agg = StreamingFlows.dailyFlowAgg(stream, "ts", "event_type", "value")
    val got = StreamingFlows.runAvailableNow(spark, agg, "daily_stream")
      .select($"day", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet

    // Append mode emits only windows FINALIZED by the watermark: a day
    // window emits once watermark (= max ts - 1 day) passes its end, so
    // the final two days are legitimately withheld at end-of-stream.
    val maxTs = graft.Tables.events(spark, sfDir)
      .agg(max($"ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(
      maxTs.toInstant.minus(java.time.Duration.ofDays(1)))
    val expected = graft.Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .filter(date_add($"day", 1).cast("timestamp") <= lit(cutoff))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streaming daily quantiles equal exact order statistics per finalized window") {
    val stream = graft.Tables.eventsStream(spark, sfDir)
      .withColumn("value", $"value".cast("double"))
    val agg = StreamingFlows.dailyQuantiles(stream, "ts", "event_type", "value")
    val got = StreamingFlows.runAvailableNow(spark, agg, "quant_stream")
      .as[(java.sql.Timestamp, String, Double, Double, Double, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got.nonEmpty)
    // reference: exact ceil(p·n)-th order statistics computed in batch
    val maxTs = graft.Tables.events(spark, sfDir)
      .agg(max($"ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(
      maxTs.toInstant.minus(java.time.Duration.ofDays(1)))
    val rows = graft.Tables.events(spark, sfDir)
      .select(date_trunc("day", $"ts").as("day"), $"event_type",
        $"value".cast("double").as("v"))
      .filter(date_add($"day", 1).cast("timestamp") <= lit(cutoff))
      .as[(java.sql.Timestamp, String, Double)].collect()
    rows.groupBy(r => (r._1, r._2)).foreach { case (key, grp) =>
      val sorted = grp.map(_._3).sorted
      def pick(p: Double) = sorted(math.ceil(p * sorted.length).toInt - 1)
      val g = got(key)
      assert(g._3 == pick(0.5) && g._4 == pick(0.95) && g._5 == pick(0.99),
        s"$key: $g vs (${pick(0.5)}, ${pick(0.95)}, ${pick(0.99)})")
      assert(g._6 == sorted.length.toLong)
    }
    assert(got.keySet == rows.map(r => (r._1, r._2)).toSet)
  }

  test("stream-static enrichment agg matches the batch join result " +
       "minus unfinalized windows") {
    val stream = graft.Tables.eventsStream(spark, sfDir)
      .withColumn("value", $"value".cast("decimal(18,2)"))
    val dim = graft.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_mktsegment")
    val agg = StreamingFlows
      .enrichWithDim(stream.withWatermark("ts", "1 day"), dim,
        "user_id", "c_custkey")
      .groupBy(window($"ts", "1 day").as("w"), $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("day"), $"c_mktsegment", $"n")
    val got = StreamingFlows.runAvailableNow(spark, agg, "enrich_stream")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet

    val events = graft.Tables.events(spark, sfDir)
    val maxTs = events.agg(max($"ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(
      maxTs.toInstant.minus(java.time.Duration.ofDays(1)))
    val expected = events
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy(date_trunc("day", $"ts").as("day"), $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .filter(date_add($"day", 1).cast("timestamp") <= lit(cutoff))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val stream = graft.Tables.eventsStream(spark, sfDir)
    val dedup = StreamingFlows.streamingDedup(stream, "ts", "1 day", Seq("user_id"))
    val got = StreamingFlows.runAvailableNow(spark, dedup, "dedup_stream")
    val users = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().count()
    assert(got.count() == users) // one survivor per user
  }

  test("streaming session windows emit exactly the watermark-finalized " +
       "batch sessions") {
    val stream = graft.Tables.eventsStream(spark, sfDir)
      .withColumn("value", $"value".cast("decimal(18,2)"))
    val sess = StreamingFlows.sessionAgg(stream, "ts", "user_id", "value",
      gap = "1 hour", watermark = "2 hours")
    val got = StreamingFlows.runAvailableNow(spark, sess, "session_stream")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet

    // batch replay: same session_window groupBy, then the append-mode
    // contract — only sessions whose end <= max(ts) - 2h are finalized
    val events = graft.Tables.events(spark, sfDir)
    val maxTs = events.agg(max($"ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(
      maxTs.toInstant.minus(java.time.Duration.ofHours(2)))
    val expected = events
      .groupBy(session_window($"ts", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start", $"session_window.end",
              $"n_events")
      .filter($"session_window.end" <= lit(cutoff))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("streaming daily HLL sketch estimates equal the batch build " +
       "per finalized window") {
    val stream = graft.Tables.eventsStream(spark, sfDir)
    val agg = StreamingFlows.dailyKeySketch(stream, "ts", "user_id")
    val got = StreamingFlows.runAvailableNow(spark, agg, "sketch_stream")
      .select($"day", hll_sketch_estimate($"sk").as("est"))
      .as[(java.sql.Date, Long)].collect().toMap
    assert(got.nonEmpty)
    val events = graft.Tables.events(spark, sfDir)
    val maxTs = events.agg(max($"ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(
      maxTs.toInstant.minus(java.time.Duration.ofDays(1)))
    val expected = graft.operators.Sketches
      .dailyKeySketches(events, "ts", "user_id")
      .select($"day", hll_sketch_estimate($"sk").as("est"))
      .filter(date_add($"day", 1).cast("timestamp") <= lit(cutoff))
      .as[(java.sql.Date, Long)].collect().toMap
    // register-max union is order-independent: stream-accreted sketches
    // must estimate IDENTICALLY to the one-shot batch build
    assert(got == expected)
    // and at this cardinality the estimates are exact distinct counts
    val exact = events
      .filter(date_add(to_date($"ts"), 1).cast("timestamp") <= lit(cutoff))
      .groupBy(to_date($"ts").as("day"))
      .agg(countDistinct($"user_id").as("n"))
      .as[(java.sql.Date, Long)].collect().toMap
    assert(got == exact)
  }

  test("statePartitions sizes only the stream's state: the caller's conf, " +
       "catalog and earlier results stay as they were") {
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key)
    assert(session != "3")
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress): Unit
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    def daily = StreamingFlows.dailyFlowAgg(
      graft.Tables.eventsStream(spark, sfDir), "ts", "event_type", "value")
    def tables = spark.catalog.listTables().collect().map(_.name).toSeq.sorted
    val tablesBefore = tables
    spark.streams.addListener(listener)
    try {
      // a foreachBatch body runs mid-stream; the caller's session it
      // reads holds its own value, not the stream's 3
      val seen = new ConcurrentLinkedQueue[String]
      val each = daily.writeStream.foreachBatch {
        (batch: DataFrame, _: Long) =>
          batch.count() // a stateful batch must be consumed in full
          seen.add(spark.conf.get(key)): Unit
      }
      StreamingFlows.run(spark, each, "spec_each", statePartitions = 3)
      assert(!seen.isEmpty && seen.asScala.forall(_ == session), seen)

      val first = StreamingFlows.runAvailableNow(spark, daily, "spec_mem",
        statePartitions = 3)
      val rows = first.collect().toSet
      assert(rows.nonEmpty)
      StreamingFlows.runAvailableNow(spark, daily, "spec_mem",
        statePartitions = 3).count()
      assert(first.collect().toSet == rows)

      Bridge.drainListeners(spark)
      val stateful = progress.asScala.toSeq.filter(_.stateOperators.nonEmpty)
      assert(stateful.nonEmpty)
      assert(stateful.forall(_.stateOperators(0).numShufflePartitions == 3),
        stateful.map(_.stateOperators(0).numShufflePartitions))
    } finally spark.streams.removeListener(listener)
    assert(spark.conf.get(key) == session)
    assert(tables == tablesBefore)
  }
}
