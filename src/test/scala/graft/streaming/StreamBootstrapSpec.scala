package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Bootstrap

/** t145's load-bearing claim: the stream's per-(window, group,
  * replicate) Poisson partial sums are associative exact longs, so
  * merging them reproduces the batch bootstrap on the same
  * (watermark-finalized) rows bit-for-bit.
  */
class StreamBootstrapSpec extends SparkSpec {
  import spark.implicits._

  test("per-window Poisson partials merge to the batch replicate sums") {
    val reps = 10
    val rows = (0 until 90).map { i =>
      val day = 1 + i % 3                       // 3 days; day 3 unfinalized
      ("g" + (i % 2), i.toLong, (10 + i % 7).toLong,
        Timestamp.valueOf(f"2024-01-0$day%d 12:00:00"))
    }
    val df = rows.toDF("g", "id", "v", "ts")
    val dir = graft.io.TempDirs.create("boot_stream").toString
    df.write.mode("overwrite").parquet(dir)

    val withReps = (frame: org.apache.spark.sql.DataFrame) => frame
      .withColumn("b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("w", Bootstrap.poissonWeight(col("id"), col("b"), "t"))
    val stream = withReps(StreamingFlows.source(spark, dir, df.schema))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("g"), col("b"))
      .agg(sum(col("w") * col("v")).as("wv"), sum(col("w")).as("wt"))
      .select(col("g"), col("b"), col("wv"), col("wt"))
    val merged = StreamingFlows.runAvailableNow(spark, stream, "boot_parts")
      .groupBy(col("g"), col("b"))
      .agg(sum(col("wv")).as("wv"), sum(col("wt")).as("wt"))
      .as[(String, Int, Long, Long)].collect().toSet

    // batch replay on the finalized rows: watermark = max ts − 1 day
    // = Jan 2 12:00, and a day-window emits only when its END is ≤
    // the watermark — so only day 1 ([Jan 1, Jan 2), end Jan 2 00:00)
    // finalizes; day 2's end (Jan 3 00:00) is past the watermark
    val finalized = df.filter(col("ts") < lit("2024-01-02 00:00:00"))
    val batch = withReps(finalized)
      .groupBy(col("g"), col("b"))
      .agg(sum(col("w") * col("v")).as("wv"), sum(col("w")).as("wt"))
      .as[(String, Int, Long, Long)].collect().toSet

    assert(merged == batch)
    assert(merged.nonEmpty && merged.size == 2 * reps)
  }
}
