package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IngestQualitySpec extends SparkSpec {
  import spark.implicits._

  test("gate: quality flags + PII counters on hand-built docs") {
    val docs = Seq(
      (1L, "a clean healthy document with plenty of ordinary words here"),
      (2L, "hi"),                                        // too few tokens
      (3L, "reach me at alice@example.com or 555123456"), // PII
      (4L, "spam spam spam spam spam spam spam spam")     // repetitive
    ).toDF("doc_id", "text")
    val out = IngestQuality.gate(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("quality_ok"))
    assert(out(1L).getAs[Boolean]("pii_free"))
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("quality_ok")) // n_tokens < 5
    assert(!out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Int]("n_emails") == 1)
    assert(out(3L).getAs[Int]("n_num_runs") == 1)
    assert(!out(3L).getAs[Boolean]("pii_free"))
    assert(!out(3L).getAs[Boolean]("keep"))
    assert(!out(4L).getAs[Boolean]("quality_ok")) // dup bigrams
    // the quality columns agree with the batch battery they reuse
    val batch = graft.operators.TextAnalysis.qualityFlags(docs, "text")
      .select(col("doc_id"), col("n_tokens"), col("dup_bigram_frac"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2)))
      .toMap
    out.foreach { case (id, r) =>
      assert(r.getAs[Int]("n_tokens") == batch(id)._1)
      assert(r.getAs[Double]("dup_bigram_frac") == batch(id)._2)
    }
  }

  test("gate plans stateless on a streaming frame (append mode runs)") {
    val dir = graft.io.TempDirs.create("ingest_quality_spec")
    Seq((1L, "one plain document with enough words to pass the gate"),
        (2L, "another fine document with enough words to pass too"))
      .toDF("doc_id", "text").write.parquet(s"$dir/in")
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .parquet(s"$dir/in")
    val gated = IngestQuality.gate(stream, "text", "doc_id")
    assert(gated.isStreaming)
    val out = StreamingFlows.runAvailableNow(spark, gated,
      "ingest_quality_spec")
    assert(out.count() == 2)
    assert(out.filter(col("keep")).count() == 2)
  }
}
