package graft.streaming

import graft.SparkSpec
import graft.operators.TextDedup
import org.apache.spark.sql.functions._

class StreamDecontamSpec extends SparkSpec {
  import spark.implicits._

  private val evalText =
    "the held out benchmark question about distributed joins and shuffles"

  test("a streamed document quoting the eval set flags; clean ones don't; " +
       "the streamed result equals the batch run row-for-row") {
    val work = graft.io.TempDirs.create("decontam").toString
    // reference = one eval document's winnowing fingerprint union
    val ref = TextDedup.winnowingSets(
        Seq((0L, evalText)).toDF("doc_id", "text"), "text", "doc_id", 8, 4)
      .select(explode($"fps")).as[Long].collect()
    // two batches arriving separately: a quoting doc, clean docs, and
    // a doc whose longest shared substring (" joins ", 7 chars) is
    // BELOW the k = 8 gram size — zero shared grams by construction
    // (an earlier draft shared "distributed joins", 17 chars ≥ k+w−1,
    // and was correctly flagged — the guarantee cuts both ways)
    val b0 = Seq(
      (1L, s"intro words then $evalText and a trailing remark"),
      (2L, "a completely unrelated first document body"))
    val b1 = Seq(
      (3L, "another clean document with its own content entirely"),
      (4L, "someone mentions joins briefly in passing today"))
    b0.toDF("doc_id", "text").coalesce(1).write.parquet(s"$work/in/b=0")
    b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$work/in/b=1")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$work/in/b=*")
    val streamed = StreamingFlows.runAvailableNow(spark,
        StreamDecontam.flag(stream, "text", "doc_id", ref, 8, 4, 2),
        "decontam_spec")
      .orderBy($"doc_id").collect().toSeq
    val got = streamed.map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(got(0)._3, s"quoting doc not flagged: $got")
    assert(got(0)._2 >= 2)
    assert(!got(1)._3 && !got(2)._3 && !got(3)._3,
      s"clean doc flagged: $got")
    // stateless contract: batch run over the union = the streamed rows
    val batch = StreamDecontam.flag(
        (b0 ++ b1).toDF("doc_id", "text"), "text", "doc_id", ref, 8, 4, 2)
      .orderBy($"doc_id").collect().toSeq
    assert(batch == streamed)
  }
}
