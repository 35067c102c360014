package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.MutableTable

/** foreachBatch upsert sink — the incremental-materialized-view
  * pattern: each micro-batch MERGEs into a keyed state table so the
  * sink always holds the latest row per key. The state table is a
  * [[graft.io.MutableTable]] (versioned-parquet copy-on-write with
  * bounded history) — the same DELETE/MERGE verbs are available to
  * batch callers directly; this sink is just the streaming loop around
  * `mergeLatest`.
  *
  * Correctness is ORDER-INDEPENDENT: "latest" is decided by the data
  * (`orderCols`, e.g. ts desc + id desc), not by arrival order, so any
  * batch split of the same rows converges to the same state — the
  * property that makes the sink safe under source reordering/replay.
  *
  * Scale shape: per batch, one keep-first window (the shared
  * Dedup.keepFirst operator) over state ∪ batch. State never exceeds
  * |distinct keys| rows; the window partitions by key (high
  * cardinality — no funnel). At warehouse scale the same foreachBatch
  * body targets a real MERGE-capable table format (MutableTable is the
  * integration point).
  */
object UpsertSink {

  /** Run `stream` to completion (AvailableNow), merging each batch into
    * the latest-per-key state table under `stateBase`; returns the
    * final state. `orderCols` must totally order rows within a key.
    * The state table keeps 2 copy-on-write versions, so a crash
    * mid-write never strands the stream without a readable parent
    * version.
    */
  def runLatestPerKey(spark: SparkSession, stream: DataFrame,
                      keys: Seq[String], orderCols: Seq[String],
                      stateBase: String): DataFrame = {
    // openOrInit: a rerun over a surviving state dir resumes merging
    // into it (mergeLatest is order-independent, so replayed rows
    // converge) instead of failing on the existing-table guard
    val table = MutableTable.openOrInit(spark, stateBase, stream.schema)
    StreamingFlows.runEachBatch(spark, stream, "upsert") { batch =>
      table.mergeLatest(batch, keys, orderCols)
    }
    table.read()
  }
}
