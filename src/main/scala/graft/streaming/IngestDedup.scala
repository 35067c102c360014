package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.BloomFunctions
import graft.io.MutableTable
import graft.operators.IncrementalDedup
import graft.ops.Dedup
import org.apache.spark.sql.functions.col

/** Streaming keep-first ingest dedup — the continuous form of
  * [[graft.operators.IncrementalDedup]]: every micro-batch first
  * collapses to one row per text WITHIN the batch (min `idCol` — the
  * deterministic keep-first survivor), then drops rows whose text the
  * accumulated state already holds, and appends the remainder to the
  * state table. The state always contains exactly one document per
  * distinct text ever seen: the first arrival.
  *
  * The cross-batch membership check never rescans the state: a running
  * Bloom sketch is maintained driver-side across batches — each
  * batch's survivors aggregate to their own sketch (distributed) and
  * fold into the running one ([[BloomFunctions.merge]]), so over the
  * stream's lifetime the history is scanned zero times for
  * membership; only the bloom-positive sliver of each batch rides the
  * exact verify anti-join against the state table. Appends go through
  * the text-keyed upsert, so a replayed batch converges instead of
  * duplicating (foreachBatch's at-least-once contract).
  */
object IngestDedup {

  /** Generated-code bound for the sharded probe: the membership test is
    * a guarded chain of one bloom bit-test per shard, so code size is
    * linear in the shard count — 64 keeps the method far under JIT
    * limits while covering 64 × the per-sketch runtime clamp (256M
    * distinct texts at the default 4M-item clamp; raise the clamp confs
    * alongside `maxSketchBytes` to go further).
    */
  val MaxShards = 64

  /** Run `stream` to completion (AvailableNow), keep-first-deduping
    * into the state table under `stateBase`; returns the final state.
    * `expectedItems` sizes the sketch for the total distinct-text
    * count the state may reach.
    *
    * SKETCH SHARDING: one monolithic sketch hits Spark's runtime
    * bloom clamp (default 8 MB/4M items PER SKETCH) long before driver
    * memory is a problem, so past it the membership state shards by
    * digest hash range — [[IncrementalDedup.shardedSketchOf]] builds
    * one clamp-sized sketch per range in a single distributed
    * aggregate, and the probe routes each row to its range's sketch.
    * The shard count is the smallest n ≤ [[MaxShards]] whose per-shard
    * capacity fits the runtime clamp with the TOTAL under
    * `maxSketchBytes`.
    *
    * DRIVER-MEMORY CONTRACT, per shard count n (see
    * [[IncrementalDedup.shardedSketchBytes]]): resident =
    * n × sketchBytes(expectedItems·1.5/n) ≈ 1.5 × the monolithic
    * sketch (the 1.5 is hash-imbalance headroom), capped at
    * `maxSketchBytes`; each batch's fold transiently holds a second
    * same-size set, so the PEAK is 2× that — provision the driver for
    * twice the cap, exactly as before. n = 1 degrades to the plain
    * single-sketch path. Only when even [[MaxShards]] shards cannot
    * satisfy both bounds does the operator drop the bloom fast path
    * and run every batch through the exact verify anti-join
    * ([[IncrementalDedup.filterNewExact]]) — the identical answer at
    * per-batch join cost. Results are byte-identical on every path;
    * the sketch is an optimization, never the verdict.
    */
  def runKeepFirst(spark: SparkSession, stream: DataFrame,
                   textCol: String, idCol: String, stateBase: String,
                   expectedItems: Long, fpp: Double = 0.01,
                   maxSketchBytes: Long = 256L << 20): DataFrame = {
    val table = MutableTable.openOrInit(spark, stateBase, stream.schema)
    val nShards = pickShards(expectedItems, fpp, maxSketchBytes)
    if (nShards == 0)
      System.err.println(s"[ingest-dedup] no shard count <= $MaxShards fits " +
        s"$expectedItems items at fpp=$fpp under maxSketchBytes=" +
        s"$maxSketchBytes and the runtime bloom clamp; running " +
        "exact-verify-only (same results, no bloom fast path)")
    else if (nShards > 1)
      System.err.println(s"[ingest-dedup] sharding the sketch $nShards ways " +
        s"(${IncrementalDedup.shardedSketchBytes(expectedItems, nShards, fpp)} " +
        "total bytes; each shard under the runtime bloom clamp)")
    // resuming over surviving state: seed the sketch from it (one
    // scan) so replays of already-absorbed texts drop correctly
    @volatile var sketch: Array[Array[Byte]] =
      if (nShards > 0)
        IncrementalDedup.shardedSketchOf(table.read(), textCol,
          expectedItems, fpp, nShards)
      else null
    StreamingFlows.runEachBatch(spark, stream, "ingest_dedup") { batch =>
      val firstInBatch = Dedup.keepFirst(batch, Seq(textCol),
        Seq(col(idCol).asc))
      val survivors = (if (nShards > 0)
          IncrementalDedup.filterNewSharded(firstInBatch, table.read(),
            textCol, sketch)
        else
          IncrementalDedup.filterNewExact(firstInBatch, table.read(),
            textCol))
        .localCheckpoint()  // upsert + sketch both consume it; and it
                            // must not lazily re-read state mid-mutation
      table.upsert(survivors, Seq(textCol))
      if (nShards > 0)
        sketch = IncrementalDedup.mergeSharded(sketch,
          IncrementalDedup.shardedSketchOf(survivors, textCol,
            expectedItems, fpp, nShards))
    }
    table.read()
  }

  /** Smallest shard count in [1, MaxShards] whose per-shard sketch
    * fits the runtime bloom clamp with the total under
    * `maxSketchBytes`; 0 when none does (→ exact-verify-only). n = 1
    * is the plain single-sketch fast path, preferred when it fits.
    */
  private[streaming] def pickShards(expectedItems: Long, fpp: Double,
                                    maxSketchBytes: Long): Int =
    (1 to MaxShards).find { n =>
      val per = IncrementalDedup.perShardItems(expectedItems, n)
      BloomFunctions.fitsRuntimeCaps(per, fpp) &&
      IncrementalDedup.shardedSketchBytes(expectedItems, n, fpp) <=
        maxSketchBytes
    }.getOrElse(0)
}
