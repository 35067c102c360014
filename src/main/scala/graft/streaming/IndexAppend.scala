package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.MutableTable
import graft.operators.Pq

/** Streaming IVF-PQ index maintenance — the continuous form of
  * [[graft.operators.Pq.ivfPqIndex]]'s append contract: an embedding
  * stream arrives in micro-batches; each batch assigns + encodes under
  * a FIXED index (centroids + codebook trained once, up front, on an
  * initial corpus — the production "train once, append forever" shape)
  * and upserts its (id, cell, codes) rows into the index state table.
  * Because assignment is a pure per-row function of the vector, batch
  * boundaries can never change the result: the final state is
  * bit-identical to a one-shot batch build over everything that
  * arrived (the t84 gate pins this), and the id-keyed upsert makes a
  * replayed batch converge instead of duplicating (foreachBatch's
  * at-least-once contract).
  *
  * Scale shape: per batch, ONE scan of the batch through the two
  * kernels (both matrices are driver-bounded codegen reference
  * objects) and one id-keyed upsert into the state table — the
  * accumulated index is never rescanned, re-assigned, or re-encoded.
  * At warehouse scale the state table is the served index itself
  * (partitioned/bucketed by cell), so ingest-to-serveable latency is
  * one micro-batch.
  */
object IndexAppend {

  /** Run `stream` (idCol, vecCol, …) to completion (AvailableNow),
    * appending each micro-batch's index rows into the state table
    * under `stateBase`; returns the final (id, cell, codes) state.
    */
  def run(spark: SparkSession, stream: DataFrame, idCol: String,
          vecCol: String, stateBase: String,
          centroids: Array[Seq[Double]],
          codebook: Array[Array[Array[Double]]]): DataFrame = {
    // the state schema is the index schema for THIS stream's id type:
    // derive it from a zero-row static frame so openOrInit never
    // guesses (and a resumed run validates against the same shape)
    val indexSchema = Pq.ivfPqIndex(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        stream.schema),
      idCol, vecCol, centroids, codebook).schema
    val table = MutableTable.openOrInit(spark, stateBase, indexSchema)
    StreamingFlows.runEachBatch(spark, stream, "index_append") { batch =>
      val indexed = Pq.ivfPqIndex(batch, idCol, vecCol, centroids, codebook)
        .localCheckpoint() // must not lazily re-read state mid-mutation
      table.upsert(indexed, Seq("id"))
    }
    table.read()
  }
}
