package graft.operators

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges: hand-computed rule sequence, early exhaustion") {
    // word freqs: abab ×3, abc ×2
    // step 1: (a,b) = 3·2 + 2·1 = 8 → abab=[ab,ab], abc=[ab,c]
    // step 2: (ab,ab) = 3 beats (ab,c) = 2
    // step 3: (ab,c) = 2; then no pairs remain → stops at 3 of 10
    val docs = Seq("abab abab abc", "abab abc").toDF("text")
    val got = Bpe.learnMerges(docs, "text", numMerges = 10)
      .orderBy($"step")
      .as[(Int, String, String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1, "a", "b", "ab", 8L, 8L, 0L),
      (2, "ab", "ab", "abab", 3L, 3L, 0L),
      (3, "ab", "c", "abc", 2L, 2L, 0L)))
  }

  test("learnMerges: overlapping runs count pairs but merge non-overlapping") {
    // "aaa" has TWO (a,a) pairs but a left-to-right pass merges ONE:
    // applied < pair_count, and no (a,a) adjacency survives ([aa, a])
    val docs = Seq("aaa").toDF("text")
    val got = Bpe.learnMerges(docs, "text", numMerges = 1)
      .as[(Int, String, String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1, "a", "a", "aa", 2L, 1L, 0L)))
  }

  test("learnMerges: equal counts tie-break by (left, right) ascending") {
    val docs = Seq("xy zw").toDF("text")
    val got = Bpe.learnMerges(docs, "text", numMerges = 1)
      .as[(Int, String, String, String, Long, Long, Long)].collect().head
    assert((got._2, got._3) == (("x", "y"))) // (x,y) < (z,w)
    intercept[IllegalArgumentException] {
      Bpe.learnMerges(docs, "text", numMerges = 0)
    }
  }

  test("bpe_merge column: left-to-right non-overlapping application") {
    val got = Seq(Seq("a", "b", "a", "b", "b")).toDF("syms")
      .select(graft.functions.TextFunctions.bpe_merge($"syms", "a", "b").as("m"))
      .as[Seq[String]].collect().head
    assert(got == Seq("ab", "ab", "b"))
  }

  test("bpe_merge column: null symbols pass through unmerged") {
    val got = Seq(Seq("a", null, "a", "b")).toDF("syms")
      .select(graft.functions.TextFunctions.bpe_merge($"syms", "a", "b").as("m"))
      .as[Seq[String]].collect().head
    assert(got == Seq("a", null, "ab"))
  }

  test("encode: hand-checked merges, counts, and roundtrip") {
    val docs = Seq((1L, "abab ab"), (2L, "xyz")).toDF("doc_id", "text")
    // rules in order: (a,b) → "ab"; ("ab","ab") → "abab"
    val out = Bpe.encode(docs, "doc_id", "text",
        rules = Seq(("a", "b"), ("ab", "ab")))
      .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens",
              $"roundtrip_ok")
      .as[(Long, Int, Int, Int, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1: "abab" → a b a b → ab ab → abab (1 sym); "ab" → ab (1 sym)
    assert(out(1L) == ((2, 6, 2, true)))
    // doc 2: no rule applies → 3 char symbols
    assert(out(2L) == ((1, 3, 3, true)))
  }

  test("encode with rules learned by learnMerges roundtrips a real slice") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rules = Bpe.learnMerges(docs, "text", numMerges = 6)
      .orderBy($"step").select($"left", $"right")
      .as[(String, String)].collect().toSeq
    assert(rules.nonEmpty)
    val enc = Bpe.encode(docs, "doc_id", "text", rules)
    val bad = enc.filter(!$"roundtrip_ok" ||
      $"n_bpe_tokens" > $"n_chars" || $"n_words" > $"n_bpe_tokens").count()
    assert(bad == 0L)
    // merges actually compress: total symbols strictly under total chars
    import org.apache.spark.sql.functions.sum
    val (syms, chars) = enc.agg(sum($"n_bpe_tokens"), sum($"n_chars"))
      .as[(Long, Long)].head()
    assert(syms < chars)
  }

  test("saveRules/loadRules: parquet roundtrip returns the ordered rule " +
       "list; validation rejects truncated or edited tables") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rules = Bpe.learnMerges(docs, "text", numMerges = 5)
    val dir = graft.io.TempDirs.create("bpe_rules").toString
    Bpe.saveRules(rules, s"$dir/rules")
    val loaded = Bpe.loadRules(spark, s"$dir/rules")
    val fresh = rules.orderBy($"step").select($"left", $"right")
      .as[(String, String)].collect().toSeq
    assert(loaded == fresh)
    // encode parity: loaded rules produce bit-identical rows
    val a = Bpe.encode(docs, "doc_id", "text", fresh).collect().toSeq
    val b = Bpe.encode(docs, "doc_id", "text", loaded).collect().toSeq
    assert(a == b)
    // a gap in the step sequence fails at load, not at encode time
    rules.filter($"step" =!= 2).write.mode("overwrite")
      .parquet(s"$dir/gap")
    intercept[IllegalArgumentException] { Bpe.loadRules(spark, s"$dir/gap") }
    // a vandalized merged column fails the contract check
    rules.withColumn("merged",
        org.apache.spark.sql.functions.lit("zz"))
      .write.mode("overwrite").parquet(s"$dir/bad")
    intercept[IllegalArgumentException] { Bpe.loadRules(spark, s"$dir/bad") }
  }
}
