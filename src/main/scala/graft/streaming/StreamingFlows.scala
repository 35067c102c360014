package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming ingest — the reference's stated-but-unbuilt
  * fourth stage (README.md:3: Bitcoin Core + BitcoinETL streaming in
  * place of BigQuery; SURVEY.md §2.10/§7.5). The batch operators in
  * graft.ops are all DataFrame→DataFrame and stateless per-row, so they
  * compose unchanged onto a readStream frame; this module adds the
  * stateful pieces: watermarked windowed aggregation and
  * within-watermark dedup.
  */
object StreamingFlows {

  /** File-based streaming source (the BitcoinETL-drop-directory shape):
    * new parquet files under `dir` become micro-batches.
    */
  def source(spark: SparkSession, dir: String, schema: StructType,
             globFilter: Option[String] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    globFilter.fold(r)(g => r.option("pathGlobFilter", g)).parquet(dir)
  }

  /** Daily flow aggregation as a streaming query: the batch
    * `groupBy(date_trunc)` becomes a watermarked 1-day window —
    * late rows beyond the watermark drop, state is bounded.
    */
  def dailyFlowAgg(stream: DataFrame, tsCol: String, typeCol: String,
                   valCol: String, watermark: String = "1 day"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day").as("day_window"), col(typeCol))
      .agg(sum(col(valCol)).as("total"), count(lit(1)).as("n"))
      .select(col("day_window.start").as("day"), col(typeCol),
              col("total"), col("n"))

  /** Streaming mergeable-sketch maintenance (the t91 daily HLL table
    * kept current by the stream itself): a watermarked 1-day window
    * whose aggregation state IS the HLL sketch — fixed ≤ ~2^lgK bytes
    * per day regardless of event volume, partial-merged across
    * micro-batches like any imperative aggregate. Because HLL union
    * is a register-wise max (commutative/associative/idempotent), the
    * accreted sketch is register-identical to a one-shot batch build
    * over the same rows — t96 enforces estimate EQUALITY, not mere
    * closeness. Downstream rolling windows read this sketch table
    * (Sketches.rollingDistinct) and never rescan history.
    */
  def dailyKeySketch(stream: DataFrame, tsCol: String, keyCol: String,
                     watermark: String = "1 day",
                     lgK: Int = 12): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day").as("day_window"))
      .agg(hll_sketch_agg(col(keyCol), lgK).as("sk"))
      .select(to_date(col("day_window.start")).as("day"), col("sk"))

  /** Watermarked windowed QUANTILES — streaming latency/size-percentile
    * monitoring (the p50/p95/p99-per-window readout every ingest
    * pipeline watches): per finalized 1-day window and key, quantiles
    * of `valCol` via `percentile_approx`, whose Greenwald–Khanna
    * sketch lives IN the streaming aggregation state — buffer size is
    * bounded by `accuracy`, never by window row count, and partials
    * merge across shuffle/micro-batches like any imperative aggregate
    * (the t71 Misra–Gries pattern, with Spark's own built-in).
    *
    * Exactness contract: GK's rank error is ≤ n/accuracy, so whenever
    * a window holds fewer than `accuracy` rows the error bound is
    * < 1 rank — the returned elements are EXACT order statistics and
    * the t86 oracle replays them as plain rank picks. At true scale
    * the same query holds `accuracy` as the state bound and the
    * result is rank-bounded approximate; the accuracy knob IS the
    * state-vs-precision trade, stated rather than hidden.
    */
  def dailyQuantiles(stream: DataFrame, tsCol: String, typeCol: String,
                     valCol: String, watermark: String = "1 day",
                     accuracy: Int = 10000): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 day").as("day_window"), col(typeCol))
      .agg(percentile_approx(col(valCol),
             array(lit(0.5), lit(0.95), lit(0.99)), lit(accuracy)).as("qs"),
           count(lit(1)).as("n"))
      .select(col("day_window.start").as("day"), col(typeCol),
              col("qs").getItem(0).as("p50"),
              col("qs").getItem(1).as("p95"),
              col("qs").getItem(2).as("p99"),
              col("n"))

  /** Watermarked session-window aggregation — the streaming form of
    * the batch gaps-and-islands sessionization (q38): events for a key
    * merge into one session while each lands within `gap` of the
    * session so far, and session end = last event + gap. Append mode
    * emits a session only once the watermark passes its end, then
    * drops its state — so state is bounded by (keys with an open
    * session) × session width, never by stream length.
    */
  def sessionAgg(stream: DataFrame, tsCol: String, keyCol: String,
                 valCol: String, gap: String = "1 hour",
                 watermark: String = "2 hours"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valCol)).as("sum_value"))
      .select(col(keyCol),
              col("sw").getField("start").as("session_start"),
              col("sw").getField("end").as("session_end"),
              col("n_events"), col("sum_value"))

  /** Streaming D1 dedup: drop duplicate keys arriving within the
    * watermark horizon (SURVEY §7.5 — `dropDuplicatesWithinWatermark`
    * is the streaming analog of keep-first).
    */
  def streamingDedup(stream: DataFrame, tsCol: String, watermark: String,
                     keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-static dimension enrichment — the streaming form of the J4
    * broadcast enrich: each micro-batch inner-joins the (small) static
    * dimension with a broadcast hash join, so the stream side never
    * shuffles for the join and NO join state accumulates across
    * batches (stream-static inner joins are stateless by
    * construction — only downstream stateful operators hold state).
    * The static plan is re-resolved per micro-batch; at cluster scale
    * keep the dimension broadcast-sized or pre-materialize a compact
    * projection of it, exactly as here.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "inner")

  /** Stream-stream interval join: `left` rows match `right` rows with
    * the same `key` whose event time falls in
    * [leftTime - before, leftTime]. Both sides carry watermarks, and
    * the two-sided time bound lets Spark expire join state on BOTH
    * sides — the configuration where stream-stream inner join state
    * stays bounded forever (an unbounded-range join would buffer one
    * side indefinitely). Callers pass pre-watermarked frames with
    * distinct column names.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   before: String): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $before") &&
        col(rightTime) <= col(leftTime),
      "inner")

  /** Run `streamed` to completion into an in-memory sink (AvailableNow:
    * everything currently available, then stop) and return its rows.
    * `name` prefixes the query name, which gets a unique suffix; the
    * sink's temp view is dropped once the returned frame has resolved
    * it, so the frame keeps the rows and the catalog does not.
    *
    * `statePartitions` > 0 sets a stateful query's state-partition
    * count (0 keeps the session's `spark.sql.shuffle.partitions`).
    * Every micro-batch commits one state-store delta per partition, so
    * size it to key cardinality / executor count, not to the
    * batch-shuffle default. The count is set on the session for
    * `start()` only: the query clones the session there and plans
    * every batch on the clone, so the caller's session and concurrent
    * work keep their own value; runner calls start one at a time, so
    * they cannot see each other's count. (Not
    * `spark.newSession()`: its own `StreamingQueryManager` would hide
    * the stream from listeners on the caller's `spark.streams`, and
    * each new manager adds a listener bus the SparkContext never
    * removes.)
    */
  def runAvailableNow(spark: SparkSession, streamed: DataFrame,
                      name: String, statePartitions: Int = 0): DataFrame = {
    val unique = uniqueName(name)
    try {
      run(spark, streamed.writeStream.format("memory"), unique,
        statePartitions)
      spark.table(unique)
    } finally spark.catalog.dropTempView(unique)
  }

  /** The foreachBatch form of [[runAvailableNow]], for sinks that merge
    * into a table: `body` gets each micro-batch's rows. Fails if the
    * stream produced no batch.
    */
  def runEachBatch(spark: SparkSession, streamed: DataFrame, name: String)(
      body: DataFrame => Unit): Unit = {
    val batches = new AtomicLong
    val writer = streamed.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) => body(batch); batches.incrementAndGet(); ()
    }
    run(spark, writer, uniqueName(name), statePartitions = 0)
    require(batches.get > 0, "stream produced no batches")
  }

  private val runs = new AtomicLong
  private def uniqueName(name: String): String =
    s"${name}_${runs.incrementAndGet()}"

  private val TimeoutMs = 120000L

  /** Start `writer` as query `name` (AvailableNow, append) and wait for
    * it; past [[TimeoutMs]] stop it and throw — a partially-filled sink
    * silently masquerading as the complete result is worse than failing.
    * Starts hold this object's lock, so no start reads or restores
    * another call's `statePartitions` swap.
    */
  private[streaming] def run(spark: SparkSession, writer: DataStreamWriter[Row],
                             name: String, statePartitions: Int): Unit = {
    require(statePartitions >= 0, s"statePartitions must be >= 0, got $statePartitions")
    val w = writer.queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow())
    val q = synchronized {
      if (statePartitions == 0) w.start() else {
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, statePartitions.toString)
        try w.start() finally spark.conf.set(key, prev)
      }
    }
    if (!q.awaitTermination(TimeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query $name did not finish within $TimeoutMs ms; " +
        "stopped, partial output discarded")
    }
  }
}
