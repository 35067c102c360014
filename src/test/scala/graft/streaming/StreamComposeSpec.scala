package graft.streaming

import graft.{Fixtures, SparkSpec}
import graft.ops.Flows

/** The batch flow operators are stateless DataFrame→DataFrame transforms
  * — this proves they compose unchanged onto a readStream frame
  * (SURVEY.md §7.5's design requirement).
  */
class StreamComposeSpec extends SparkSpec {
  import spark.implicits._

  test("Flows.simpleFlow runs identically over a stream and a batch of the same data") {
    val txDf = Fixtures.txDf(spark)
    val dir = graft.io.TempDirs.create("tx_stream").toString
    txDf.write.mode("overwrite").parquet(dir)

    val stream = StreamingFlows.source(spark, dir, txDf.schema)
    val flowStream = Flows.simpleFlow(stream) // the BATCH operator, unchanged
    val got = StreamingFlows.runAvailableNow(spark, flowStream, "flow_stream")
      .select("txid", "type", "addr", "val")
      .as[(String, String, String, Double)].collect().toSet

    val expected = Flows.simpleFlow(txDf)
      .select("txid", "type", "addr", "val")
      .as[(String, String, String, Double)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
