package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class ImportanceSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // the portable t43 hash of one feature string (unigram token or
  // space-joined bigram): Σ codePoint · 1-based-index mod buckets
  private def bucket(s: String, buckets: Int = 64): Int =
    (s.codePoints.toArray.zipWithIndex
      .map { case (cp, i) => cp.toLong * (i + 1) }.sum % buckets).toInt

  test("hashed_ngram_counts: counts match the portable per-feature hash") {
    val got = Seq("ab ab", "cd", "", "  x  ")
      .toDF("text")
      .select(TextFunctions.hashed_ngram_counts($"text", 64).as("f"))
      .as[Seq[Long]].collect()
    def expect(feats: Seq[String]): Seq[Long] = {
      val c = new Array[Long](64)
      feats.foreach(f => c(bucket(f)) += 1)
      c.toSeq
    }
    assert(got(0) == expect(Seq("ab", "ab", "ab ab"))) // 2 uni + 1 bigram
    assert(got(1) == expect(Seq("cd")))
    assert(got(2) == Seq.fill(64)(0L))                 // empty text
    assert(got(3) == expect(Seq("x")))                 // padding collapses
  }

  test("hashed_ngram_counts: bigram hash equals the joined-string hash") {
    // multi-token text with varied lengths: every adjacent pair must
    // land exactly where hashing the explicit "w1 w2" string lands
    val text = "the quick brown fox"
    val got = Seq(text).toDF("text")
      .select(TextFunctions.hashed_ngram_counts($"text", 64).as("f"))
      .as[Seq[Long]].collect().head
    val toks = text.split("\\s+").toSeq
    val feats = toks ++ toks.sliding(2).map(_.mkString(" "))
    val c = new Array[Long](64)
    feats.foreach(f => c(bucket(f)) += 1)
    assert(got == c.toSeq)
  }

  test("dsirWeights: hand-computed log ratios, threshold, and keep") {
    val docs = Seq((1L, "ab ab", "en"), (2L, "cd", "de"))
      .toDF("doc_id", "text", "lang")
    val got = Importance.dsirWeights(docs, "doc_id", "text",
        target = $"lang" === "en")
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    // features: d1 → {ab ×2, "ab ab" ×1} (target), d2 → {cd} — three
    // distinct buckets; T_tgt = 3, T_all = 4, B = 64, α = 0.5
    val lrSeen2 = r6(math.log(2.5 / 35.0) - math.log(2.5 / 36.0)) // c_tgt=2,c_all=2
    val lrSeen1 = r6(math.log(1.5 / 35.0) - math.log(1.5 / 36.0)) // c_tgt=1,c_all=1
    val lrMiss1 = r6(math.log(0.5 / 35.0) - math.log(1.5 / 36.0)) // c_tgt=0,c_all=1
    val w1 = r6(2 * lrSeen2 + 1 * lrSeen1)
    val w2 = r6(1 * lrMiss1)
    // exact 0.75-quantile interpolation over {w2, w1}
    val thr = r6(w2 + 0.75 * (w1 - w2))
    assert(got(1L) == ((1L, 3L, w1, w1 >= thr)))
    assert(got(2L) == ((2L, 1L, w2, w2 >= thr)))
    assert(got(1L)._4 && !got(2L)._4) // target-looking doc wins the cut
  }

  test("dsirWeights: NULL target verdict is out-of-domain; empty docs score 0") {
    val docs = Seq((1L, "ab", "en"), (2L, "ab", null), (3L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Importance.dsirWeights(docs, "doc_id", "text",
        target = $"lang" === "en", keepQuantile = 0.5)
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    // identical text ⇒ identical weight regardless of target flag; the
    // flag only changes the MODEL: c_tgt=1 < c_all=2 proves doc 2 was
    // excluded from the target counts (else lr would use c_tgt=2)
    assert(got(1L)._3 == got(2L)._3)
    val lr = r6(math.log(1.5 / (1 + 32.0)) - math.log(2.5 / (2 + 32.0)))
    assert(got(1L)._3 == r6(1 * lr))
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0) // featureless: 0 feats, weight 0
    intercept[IllegalArgumentException] {
      Importance.dsirWeights(docs, "doc_id", "text",
        target = $"lang" === "en", keepQuantile = 1.5)
    }
  }

  test("dsirFit/saveModel/loadModel/dsirScore: a loaded model scores " +
       "bit-identically to the in-session fit; validation rejects " +
       "gapped or non-finite models") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val model = Importance.dsirFit(docs, "doc_id", "text",
      target = $"lang" === "en")
    assert(model.count() == 64)
    val dir = graft.io.TempDirs.create("dsir_model").toString
    Importance.saveModel(model, s"$dir/m")
    val lr = Importance.loadModel(spark, s"$dir/m")
    assert(lr.length == 64)
    // the loaded vector IS the model table's ratios, in bucket order
    val fromTable = model.orderBy($"b").select($"log_ratio")
      .as[Double].collect()
    assert(lr.toSeq == fromTable.toSeq)
    // score parity: loaded-model path == direct dsirWeights, row for row
    val direct = Importance.dsirWeights(docs, "doc_id", "text",
      target = $"lang" === "en").orderBy($"doc_id").collect().toSeq
    val viaModel = Importance.dsirScore(docs, "doc_id", "text", lr)
      .orderBy($"doc_id").collect().toSeq
    assert(viaModel == direct)
    // a missing bucket fails at load
    model.filter($"b" =!= 3).write.mode("overwrite").parquet(s"$dir/gap")
    intercept[IllegalArgumentException] {
      Importance.loadModel(spark, s"$dir/gap") }
    // a non-finite ratio fails at load
    model.withColumn("log_ratio",
        when($"b" === 0, lit(Double.NaN)).otherwise($"log_ratio"))
      .write.mode("overwrite").parquet(s"$dir/nan")
    intercept[IllegalArgumentException] {
      Importance.loadModel(spark, s"$dir/nan") }
  }
}
